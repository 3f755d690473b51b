package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scaled-fixture generator: replicates the sf0.1 fixture
  * SHAPE (schemas per FIXTURES.md, value distributions measured with DuckDB
  * on 2026-08-14) at an arbitrary multiplier, so the engine's scaling
  * exponents can be measured beyond the driver-provided sf0.1 without
  * touching read-only `/root/testdata`.
  *
  * Design: every column is a pure deterministic expression of the row id
  * (`xxhash64(id, salt)` streams), so the generator is itself a
  * 100 TB-shaped Spark job — `spark.range` + codegen'd projections,
  * no driver-side data, no RNG state, identical output under any
  * partitioning. Writing 10× sf0.1 (~7.8 M rows) takes ~30 s at local[32];
  * the same job against a 1000-executor cluster would generate the real
  * 100 TB layout unchanged.
  *
  * Distribution fidelity (vs sf0.1, re-measured 2026-08-14 with DuckDB):
  *   - lineitem per-order fanout: N ~ Poisson(4) INCLUDING N = 0 —
  *     the fixture has 1.84% childless orders (= e⁻⁴) and its
  *     conditional per-order line counts match Pois(4)|N≥1 to 3
  *     decimals; drawn here by inverse-CDF over the order's hash
  *     stream (16-entry literal CDF, codegen'd filter+size).
  *   - events: ~month span (2024-01-01+), time-ordered by event_id with
  *     irregular inter-arrival, users = customers/10, value ~U(0,100),
  *     props = {"k": 0..99} JSON.
  *   - documents: 10..100 words uniform over the fixture's exact 31-word
  *     vocabulary; ~0.2% planted exact duplicates (copy of doc_id-17) and
  *     ~0.4% planted near-duplicates (copy of doc_id-23 plus one appended
  *     word of ≤ 5 chars → bigram jaccard ≥ 0.7, length diff ≤ 6 chars
  *     incl. the separator, inside FIXTURES.md's measured ≤ 8) so the
  *     dedup operators see the structure FIXTURES.md documents at sf0.1.
  *     A doc is only planted as a dup when its BASE is itself dup-free,
  *     so every planted pair's texts actually match (no transitive
  *     redirection through an already-redirected base).
  *   - embeddings: 64-dim unit-normalized Box-Muller gaussians — the
  *     fixture vectors ARE unit-norm (re-measured at all three SFs:
  *     ‖v‖ = 1.0 ± 2e-7; FIXTURES.md corrected accordingly) with no
  *     label clustering (within-label avg cosine 0.001), label ~U{0..9}.
  *
  * Skew option (`GenScale <out> <mult> skew`): plants Zipf-style heavy
  * keys — 25% of events collapse onto user_id 0 and 20% of lineitem
  * rows onto l_suppkey 0 — so AQE's skew-join split can be rehearsed on
  * a genuinely skewed shuffle at sf1 (VERDICT r8 #3). Default layout is
  * unchanged (fixture has no heavy keys: top user carries ~0.1%).
  *
  * Zipf option (`GenScale <out> <mult> zipf`, composable with skew):
  * replaces the fixture's saturated 31-word vocabulary with a
  * Heaps-law-sized (V ~ sqrt(total tokens)), Zipf(1)-distributed one,
  * so shingle pipelines can be measured in the realistic long-tail
  * regime instead of the every-bucket-full worst case (VERDICT r10 #5;
  * SCALING.md contrasts both regimes).
  *
  * Documents additionally carry newline structure in BOTH modes: ~30%
  * of base texts end with two bullet ('•') lines and ~10% with an
  * ellipsis-terminated line, a pure function of the BASE id so planted
  * duplicate pairs keep their jaccard / length-diff invariants — the
  * Gopher line-shape rules see non-trivial input at scale.
  */
object GenScale {
  /** 53-bit uniform double in [0,1), keyed by (salt, cols…). */
  private def u(salt: String, cols: Column*): Column =
    shiftrightunsigned(xxhash64((lit(salt) +: cols): _*), 11)
      .cast("double") / lit(9007199254740992.0) // 2^53

  /** Non-negative hash mod k, keyed by (salt, cols…). */
  private def hmod(salt: String, k: Long, cols: Column*): Column =
    pmod(xxhash64((lit(salt) +: cols): _*), lit(k))

  private def pick(salt: String, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*), (hmod(salt, values.size.toLong, cols: _*) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("target/sf1")
    val mult = if (args.length > 1) args(1).toInt else 10
    val modes = args.drop(2).toSet
    val skew = modes("skew")
    val zipf = modes("zipf")
    val spark = graft.Sessions.local()
    gen(spark, out, mult, skew, zipf)
    spark.stop()
  }

  def gen(spark: SparkSession, out: String, mult: Int,
      skew: Boolean = false, zipf: Boolean = false): Unit = {
    val nCust = 15000L * mult
    val nSupp = 1000L * mult
    val nPart = 20000L * mult
    val nOrders = 150000L * mult
    val nEvents = 100000L * mult
    val nUsers = nCust / 10 // sf0.1: 1500 distinct users over 15000 customers
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[genscale] wrote $name")
    }

    val id = col("id")

    write(spark.range(5).select(
      id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (id + 1).cast("int")).as("r_name")), "region")

    write(spark.range(25).select(
      id.cast("int").as("n_nationkey"),
      format_string("NATION_%d", id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), "nation")

    write(spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      hmod("cnat", 25, id).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u("cbal", id) * 11000.0, 2).as("c_acctbal"),
      pick("cseg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), id).as("c_mktsegment")), "customer")

    write(spark.range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      hmod("snat", 25, id).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u("sbal", id) * 11000.0, 2).as("s_acctbal")), "supplier")

    write(spark.range(nPart).select(
      id.as("p_partkey"),
      concat_ws(" ",
        pick("padj", Seq("large", "small", "hot", "cold", "old", "new",
          "blue", "red", "green", "dark"), id),
        pick("pnoun", Seq("ring", "bolt", "plate", "screw", "gear", "wheel",
          "pipe", "rod", "cap", "disk"), id)).as("p_name"),
      format_string("Brand#%d", hmod("pbrand", 25, id) + 1).as("p_brand"),
      pick("ptype", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD"), id).as("p_type"),
      (hmod("psize", 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + hmod("pprice", 1000, id) / lit(10.0), 2)
        .as("p_retailprice")), "part")

    // orders + lineitem share the per-order draw stream so lineitem can be
    // exploded straight off the orders projection (one scan, no join)
    val orders = spark.range(nOrders).select(
      id.as("o_orderkey"),
      hmod("ocust", nCust, id).as("o_custkey"),
      pick("ostat", Seq("F", "O", "P"), id).as("o_orderstatus"),
      round(lit(1000.0) + u("oprice", id) * 499000.0, 2).as("o_totalprice"),
      // day-aligned timestamps spanning 1995-01-01 .. 2001-07-31 (fixture
      // span); timestamp[ms] physical per FIXTURES.md is a parquet detail —
      // Spark reads either encoding as TimestampType
      to_timestamp(date_add(lit("1995-01-01").cast("date"),
        hmod("odate", 2404, id).cast("int"))).as("o_orderdate"),
      pick("oprio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), id).as("o_orderpriority"))
    write(orders, "orders")

    // Poisson(4) line count by inverse-CDF: N = #{CDF entries < u}, a
    // codegen'd filter+size over a 16-entry literal array. N = 0 orders
    // (1.83%, = e⁻⁴) get NO lineitems — exactly the fixture's 1.84%
    // childless-order rate; explode(sequence) of an empty range drops
    // the row, matching.
    val poisCdf = array(Seq(0.018315639, 0.091578194, 0.238103306,
      0.433470120, 0.628836935, 0.785130387, 0.889326022, 0.948866384,
      0.978636566, 0.991867757, 0.997160234, 0.999084771, 0.999726283,
      0.999923672, 0.999980068, 0.999995107).map(lit): _*)
    val li = orders
      .select(col("o_orderkey"), col("o_orderdate"),
        size(filter(poisCdf, c => c < u("lnl", col("o_orderkey"))))
          .as("nl"))
      .filter(col("nl") > 0)
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), col("nl"))).as("l_linenumber"))
    val lkey = Seq(col("o_orderkey"), col("l_linenumber"))
    write(li.select(
      col("o_orderkey").as("l_orderkey"),
      hmod("lpart", nPart, lkey: _*).as("l_partkey"),
      // skew option: 20% of rows collapse onto supplier 0 — a single
      // shuffle-partition hot key for the AQE skew-join rehearsal
      (if (skew) when(u("lskew", lkey: _*) < 0.20, lit(0L))
        .otherwise(hmod("lsupp", nSupp, lkey: _*))
       else hmod("lsupp", nSupp, lkey: _*)).as("l_suppkey"),
      col("l_linenumber"),
      (hmod("lqty", 50, lkey: _*) + 1).cast("double").as("l_quantity"),
      round((hmod("lqty", 50, lkey: _*) + 1).cast("double") *
        (lit(900.0) + hmod("lep", 1000, lkey: _*) / lit(10.0)), 2)
        .as("l_extendedprice"),
      (hmod("ldisc", 11, lkey: _*) / lit(100.0)).as("l_discount"),
      (hmod("ltax", 9, lkey: _*) / lit(100.0)).as("l_tax"),
      pick("lrf", Seq("A", "N", "R"), lkey: _*).as("l_returnflag"),
      pick("lls", Seq("F", "O"), lkey: _*).as("l_linestatus"),
      to_timestamp(date_add(col("o_orderdate").cast("date"),
        (hmod("lship", 120, lkey: _*) + 1).cast("int"))).as("l_shipdate")),
      "lineitem")

    // events: time-ordered by event_id, irregular inter-arrival, ~31-day
    // span regardless of mult (density scales, span doesn't — mirrors the
    // sf0.001→sf0.1 fixtures and keeps hourly/session windows meaningful)
    val spanUs = 30.9999 * 86400e6
    val originUs = lit(1704067200000000L) // 2024-01-01 00:00:00 UTC in µs
    write(spark.range(nEvents).select(
      id.as("event_id"),
      timestamp_micros((originUs +
        ((id.cast("double") + u("ets", id)) * lit(spanUs / nEvents))
          .cast("long")).cast("long")).as("ts"),
      // skew option: 25% of events collapse onto user 0 (heavy-key
      // shuffle rehearsal); default is the fixture's near-uniform users
      (if (skew) when(u("eskew", id) < 0.25, lit(0L))
        .otherwise(hmod("euser", nUsers, id))
       else hmod("euser", nUsers, id)).as("user_id"),
      pick("etype", Seq("click", "view", "purchase", "signup", "error"), id)
        .as("event_type"),
      round(u("eval", id) * 100.0, 2).as("value"),
      format_string("{\"k\": %d}", hmod("eprops", 100, id)).as("props")),
      "events")

    // documents: base text is a pure function of a BASE id, so planted
    // duplicates are expressed as base-id redirection — exact dups copy
    // doc (id-17)'s text verbatim, near-dups copy doc (id-23)'s text and
    // append one word (bigram jaccard stays ≥ 0.7 at ≥ 10 words)
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "dup", "fast", "filter", "group", "hash", "join", "key", "line",
      "merge", "order", "part", "query", "row", "scan", "slow", "small",
      "sort", "spark", "stream", "table", "the", "value", "vector", "window")
    val dupClass = hmod("ddup", 500, id) // 0 → exact dup, 1–2 → near dup
    // a doc is planted as a dup ONLY when its base is itself dup-free
    // (base's own class ≥ 3): a base that redirects would make the
    // planted pair's stored texts differ (non-transitive redirection,
    // ADVICE r8) — the guard drops ~0.6% of would-be plants instead
    val isExact = dupClass === 0 && id >= 17 && hmod("ddup", 500, id - 17) >= 3
    val isNear = dupClass.isin(1, 2) && id >= 23 &&
      hmod("ddup", 500, id - 23) >= 3
    val baseId = when(isExact, id - 17).when(isNear, id - 23).otherwise(id)
    val vocabArr = array(vocab.map(lit): _*)
    // near-dup appended word drawn from the ≤ 5-char vocabulary subset:
    // keeps the planted length diff ≤ 6 chars incl. the separator,
    // inside FIXTURES.md's measured ≤ 8 bound
    val shortVocab = vocab.filter(_.length <= 5)
    val shortArr = array(shortVocab.map(lit): _*)
    // zipf mode (VERDICT r10 #5): the fixture's 31-word vocabulary makes
    // every shingle pipeline measure the SATURATED worst-case regime
    // (every bucket over-full). A real corpus has vocabulary growing
    // ~ sqrt(token count) (Heaps' law) with Zipf-distributed frequencies;
    // draw rank = floor(V^u) — the inverse-CDF of Zipf(s=1), whose CDF is
    // ln(r)/ln(V) — so word w00001 is the most frequent and the tail is
    // long. Same pure-hash-stream discipline as every other column.
    val zipfV: Long = math.max(31L,
      math.round(math.sqrt(nDocs.toDouble * 55.0)))
    def wordAt(base: Column, i: Column): Column =
      if (zipf)
        format_string("w%05d",
          floor(pow(lit(zipfV.toDouble), u("dzw", base, i))).cast("long"))
      else element_at(vocabArr,
        (pmod(xxhash64(lit("dword"), base, i), lit(31L)) + 1).cast("int"))
    def textOf(base: Column): Column = array_join(
      transform(sequence(lit(0), hmod("dnw", 91, base).cast("int") + 9),
        i => wordAt(base, i)),
      " ")
    // line structure (VERDICT r10 #7): ~30% of BASE texts gain two
    // bullet lines and ~10% one ellipsis-terminated line, so the Gopher
    // line-shape rules see real structure at scale. The suffix is a pure
    // function of the BASE id — planted exact/near duplicates share it,
    // so the planted jaccard / length-diff properties are unchanged.
    def lw(base: Column, i: Int): Column = element_at(vocabArr,
      (pmod(xxhash64(lit("dlw"), base, lit(i)), lit(31L)) + 1).cast("int"))
    val lineClass = hmod("dlines", 10, baseId)
    val lineSuffix = when(lineClass < 3,
        concat(lit("\n• "), lw(baseId, 0), lit(" "), lw(baseId, 1),
          lit("\n• "), lw(baseId, 2), lit(" "), lw(baseId, 3)))
      .when(lineClass === 3,
        concat(lit("\n"), lw(baseId, 4), lit(" "), lw(baseId, 5), lit("...")))
      .otherwise(lit(""))
    val bodyText = concat(textOf(baseId), lineSuffix)
    val text = when(isNear,
      concat(bodyText, lit(" "),
        element_at(shortArr,
          (hmod("dextra", shortVocab.size.toLong, id) + 1).cast("int"))))
      .otherwise(bodyText)
    write(spark.range(nDocs).select(
      id.as("doc_id"),
      text.as("text"),
      // en-heavy mix matching sf0.1: en 41%, fr/es/zh 15%, de 14%
      when(hmod("dlang", 100, id) < 41, "en")
        .when(hmod("dlang", 100, id) < 56, "fr")
        .when(hmod("dlang", 100, id) < 71, "es")
        .when(hmod("dlang", 100, id) < 86, "zh").otherwise("de").as("lang"),
      format_string("src%d", hmod("dsrc", 20, id)).as("source"),
      length(text).cast("long").as("n_chars")), "documents")

    // embeddings: unit-normalized 64-dim gaussians (Box-Muller over two
    // hash-uniform streams), computed entirely inside one projection
    val dims = sequence(lit(0), lit(63))
    val raw = transform(dims, i => sqrt(lit(-2.0) *
      log(lit(1e-12) + u("bm1", id, i))) *
      cos(lit(2.0 * math.Pi) * u("bm2", id, i)))
    val nrm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    write(spark.range(nVecs).select(
      id.as("vec_id"),
      transform(raw, x => (x / nrm).cast("float")).as("embedding"),
      hmod("elabel", 10, id).cast("int").as("label")), "embeddings")
  }
}
