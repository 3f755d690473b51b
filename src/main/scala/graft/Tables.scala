package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table readers (TESTDATA.md / FIXTURES.md).
  *
  * All tables are single parquet files under the scale-factor dir. The only
  * special case is `events.ts`, whose physical parquet type has varied
  * across fixture generations — TIMESTAMP(NANOS) in early rounds, plain
  * `timestamp[us]` since round 6 — so the reader is SCHEMA-ADAPTIVE: it
  * inspects the type `ts` actually arrives as and normalizes to
  * TIMESTAMP_NTZ (µs) either way. For the nanos case Spark 4.x refuses the
  * read unless `spark.sql.legacy.parquet.nanosAsLong` is set, in which case
  * the column arrives as nanosecond `LongType` and we truncate to µs with
  * *integer* division (`DIV` — double division would lose precision at
  * 1.7e18 ns), matching DuckDB's native ns→µs truncation (SURVEY.md §7.2).
  *
  * Scale posture: each reader is a plain parquet scan, so Catalyst pushes
  * filters and prunes columns into the scan; at 100 TB these become
  * partitioned/bucketed reads with no code change here.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events` with `ts` normalized to TIMESTAMP_NTZ (µs), matching DuckDB.
    *
    * Schema-adaptive: the fixture's physical type for `ts` has changed
    * between rounds, so we branch on the type the scan actually yields:
    *   - `LongType`  → TIMESTAMP(NANOS) read under `nanosAsLong=true`;
    *     truncate ns→µs with `DIV 1000` (truncation toward zero equals
    *     floor for the fixtures' post-1970 positive-nanos domain and
    *     matches DuckDB's ns→µs truncation on the same data).
    *   - anything else (TIMESTAMP_NTZ or TIMESTAMP) → already µs; a cast
    *     to TIMESTAMP_NTZ is a no-op for NTZ and pins the type otherwise.
    *
    * `nanosAsLong` is REQUIRED at session build (`Sessions.local` sets it
    * for Verify, GenScale and the test fixture) — the reader itself never
    * mutates session conf. Against a NANOS fixture without the conf,
    * Spark's own scan error names the flag; for the current µs fixtures
    * the conf is simply unused.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz")
      case _ => col("ts").cast("timestamp_ntz")
    }
    raw.withColumn("ts", ts)
  }
}
