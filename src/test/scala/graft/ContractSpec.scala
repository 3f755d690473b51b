package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-contract guards: every registered query must be gradeable.
  * These failures are exactly the round-1 classes of loss — unregistered
  * query maps, oracle keys without queries, and comparator-hostile output
  * types (array cells crash the driver's pandas sort/hash path). */
class ContractSpec extends AnyFunSuite with SparkFixture {

  // every registered query now has a DuckDB oracle (the LCG-parity
  // hyperplane signatures made the last two ANN queries replayable)
  private val rowsOnlyAllowed = Set.empty[String]

  test("every query is either oracle-checked or a documented rows-only op") {
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled == rowsOnlyAllowed,
      s"unexpected rows-only queries: ${unoracled -- rowsOnlyAllowed}")
  }

  test("every oracle key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("all outputs are atomic-typed (comparator-safe) and non-empty-schema") {
    for ((name, fn) <- SparkEntry.queries) {
      val schema = fn(spark, sfSmall).schema
      assert(schema.nonEmpty, s"$name has an empty schema")
      val bad = schema.fields.filterNot(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType | _: BinaryType => false
        case _ => true
      })
      assert(bad.isEmpty,
        s"$name emits non-scalar columns ${bad.map(_.name).toSeq} — " +
          "the driver comparator cannot sort/hash these cells")
    }
  }

  test("every query executes and returns rows at sf0.001") {
    // similarity/near-dup pair queries may legitimately be empty at the
    // smallest SF (no planted pairs there); everything else must be non-empty
    val mayBeEmpty = Set("dedup_minhash", "dedup_simhash", "dedup_simhash_perm",
      "dedup_ngram_jaccard", "dedup_embedding_cosine", "dedup_containment")
    for ((name, fn) <- SparkEntry.queries) {
      val n = fn(spark, sfSmall).count()
      assert(n > 0 || mayBeEmpty(name), s"$name returned 0 rows at sf0.001")
    }
    // the near-dup constructors pin shared signature caches (and the CC
    // loops their final label generation) — release them so later suites
    // in the same JVM start cold (ADVICE r5)
    spark.catalog.clearCache()
    graft.Memo.clear()
  }

  test("every Spark output column name appears in its oracle SQL (alias parity)") {
    // the driver's comparator sorts columns BY NAME before hashing, so a
    // Spark alias the oracle doesn't carry (or vice versa) hash-mismatches
    // even when values are identical — the #1 historical failure class.
    // Heuristic containment check: lenient (a name may appear elsewhere in
    // the SQL), but it catches the rename-one-side drift cheaply.
    for ((name, fn) <- SparkEntry.queries; sql <- SparkEntry.oracleSql.get(name)) {
      val lower = sql.toLowerCase
      val missing = fn(spark, sfSmall).schema.fieldNames
        .filterNot(c => lower.contains(c.toLowerCase))
      assert(missing.isEmpty,
        s"$name: oracle SQL never mentions output column(s) ${missing.mkString(", ")}")
    }
    // constructing dedup_clusters/_star above ran their full iterative
    // driver loops and left label caches pinned — drop them (ADVICE r5)
    spark.catalog.clearCache()
    graft.Memo.clear()
  }

  test("fixture drift guard: events.ts normalizes and every query analyzes at every SF") {
    // Round 6 lost 56 queries to a silent fixture regeneration (events.ts
    // flipped TIMESTAMP(NANOS) → timestamp[us] between the builder's last
    // run and grading). Guard both halves: (a) the adaptive reader yields
    // TIMESTAMP_NTZ at every SF dir, (b) every registered query passes
    // ANALYSIS (schema access — no execution) against every SF dir, so a
    // DATATYPE_MISMATCH-class drift at any scale factor fails loudly here
    // instead of silently zeroing the round. Execution coverage at sf0.001
    // is the separate "every query executes" test.
    val sfBig = "/root/testdata/sf0.1"
    for (d <- Seq(sfSmall, sfMid, sfBig))
      assert(Tables.events(spark, d).schema("ts").dataType == TimestampNTZType,
        s"events.ts did not normalize to TIMESTAMP_NTZ at $d")
    for (d <- Seq(sfMid, sfBig); (name, fn) <- SparkEntry.queries) {
      try fn(spark, d).schema
      catch { case e: Throwable =>
        fail(s"$name fails analysis at $d: ${e.getMessage}")
      }
    }
    // trained-query constructors may have pinned caches — release them
    spark.catalog.clearCache()
    graft.Memo.clear()
  }

  test("events reader still handles the legacy TIMESTAMP(NANOS) encoding") {
    // the nanos fixtures are gone, so pin the LongType branch with a
    // synthetic events dir: ts as raw nanosecond longs must come back as
    // TIMESTAMP_NTZ truncated ns→µs (DIV 1000, toward zero = floor here)
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    spark.range(3)
      .select(col("id").as("user_id"),
        (lit(1700000000000000000L) + col("id") * 1500000001L).as("ts"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = Tables.events(spark, tmp)
    assert(got.schema("ts").dataType == TimestampNTZType)
    val micros = got.select(expr("unix_micros(ts::timestamp)")).as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    val want = (0 until 3)
      .map(i => (1700000000000000000L + i * 1500000001L) / 1000L).toArray
    assert(micros.sameElements(want),
      s"ns→µs truncation drifted: got ${micros.toSeq}, want ${want.toSeq}")
  }

  test("oracle SQL has no tabs/newlines that could break the driver's JSON") {
    for ((name, sql) <- SparkEntry.oracleSql)
      assert(!sql.exists(c => c == '\n' || c == '\r' || c == '\t'),
        s"$name oracle SQL contains control characters")
  }

  test("docs stay synced: SURVEY §2.11 names every query; counts match reality") {
    // the classic between-rounds drift — a new query lands, the inventory
    // and the verify-skill expectations lag. Pin them mechanically.
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val missing = SparkEntry.queries.keySet.filterNot(survey.contains)
    assert(missing.isEmpty, s"SURVEY.md does not mention: $missing")
    val n = SparkEntry.queries.size
    assert(survey.contains(s"$n registered queries"),
      s"SURVEY.md's query count is stale (actual: $n)")
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    assert(readme.contains(s"**$n registered queries**"),
      s"README.md's query count is stale (actual: $n)")
    val skill = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(".claude/skills/verify/SKILL.md")), "UTF-8")
    assert(skill.contains(s""""$n ok, 0 fail""""),
      s"verify skill's expected check count is stale (actual: $n)")
  }

  test("every engine session is built by Sessions.local") {
    // one builder keeps the conf the queries need (UTC, nanosAsLong, one
    // shuffle partition per core) from drifting between entry points
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val builders = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .contains("SparkSession.builder"))
      .map(_.getFileName.toString).toList
    finally walk.close()
    assert(builders == List("Sessions.scala"),
      s"SparkSession.builder outside Sessions.scala: $builders")
  }
}
