package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
import org.scalatest.funsuite.AnyFunSuite

/** Guards the SURVEY.md §4 optimizer obligations: these assertions pin the
  * PLAN, not the rows — a correct-but-unscalable plan fails here first. */
class PlanShapeSpec extends AnyFunSuite with SparkFixture {

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfSmall)

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** Count REAL shuffle exchanges by walking the physical tree — a string
    * count would re-count exchanges printed inside InMemoryRelation's
    * cached subtrees. Descends through AQE wrappers and query stages,
    * skips ReusedExchange, and treats InMemoryTableScan as the leaf it is
    * at runtime. */
  private def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case s: QueryStageExec => shuffles(s.plan)
      case _: ReusedExchangeExec => 0
      case e: ShuffleExchangeExec => 1 + e.children.map(shuffles).sum
      case other => other.children.map(shuffles).sum
    }
  }

  test("P1 project_filter pushes predicates into the parquet scan") {
    val plan = physical(q("project_filter"))
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(!plan.contains("PushedFilters: []"),
      "filter did not reach the scan:\n" + plan.take(2000))
  }

  test("J1 join_broadcast plans a BroadcastHashJoin") {
    assert(physical(q("join_broadcast")).contains("BroadcastHashJoin"))
  }

  test("O2 topk_global plans TakeOrderedAndProject (no global sort)") {
    assert(physical(q("topk_global")).contains("TakeOrderedAndProject"))
  }

  test("L3 similarity_knn is a broadcast map-only scan + top-k") {
    val plan = physical(q("similarity_knn"))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"))
  }

  test("no query plans an empty-partition (single-task) window") {
    for ((name, fn) <- SparkEntry.queries) {
      val windows = fn(spark, sfSmall).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(windows.isEmpty,
        s"$name has ${windows.size} global-ORDER-BY window(s) — single-task at scale")
    }
  }

  test("J8 join_asof is join-free: one user-partitioned window, no fan-out") {
    val plan = q("join_asof").queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty,
      "as-of must not materialize the event×order product")
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.size == 1 && wins.head.partitionSpec.nonEmpty)
  }

  test("J7 join_interval joins on (user, hour-bucket), not user alone") {
    val plan = physical(q("join_interval"))
    val joinLine = plan.linesIterator
      .find(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
      .getOrElse(fail("no hash/merge join planned:\n" + plan.take(1500)))
    assert(joinLine.contains("jb") && joinLine.contains("user_id"),
      "hour bucket missing from the equi key (per-user quadratic blowup): " + joinLine)
  }

  test("L7 multimodal_meta_prune never reads the text/payload bytes") {
    val plan = physical(q("multimodal_meta_prune"))
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty, plan.take(2000))
    assert(readSchemas.forall(l => !l.contains("text")),
      "blob column leaked into the scan:\n" + readSchemas.mkString("\n"))
  }

  test("curation_pii_redact is map-only: no shuffle before the final sort") {
    // the property that makes a mandatory scrub affordable at 100 TB:
    // regex work rides the scan; the ONLY exchange in the plan is the
    // presentation sort's range partitioning (and even that exists for
    // the oracle's ORDER BY, not the production pass)
    val plan = physical(q("curation_pii_redact"))
    assert(!plan.contains("Exchange hashpartitioning"),
      "PII redaction shuffled before the sort:\n" + plan.take(2000))
    assert("Exchange rangepartitioning".r.findAllIn(plan).size <= 1,
      plan.take(2000))
  }

  test("A1 agg_groupby uses two-phase (partial + final) aggregation") {
    val plan = physical(q("agg_groupby"))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("learned-quantizer assignment is map-only: broadcast codebook, no corpus shuffle") {
    // the claim behind the Lloyd-loop scale story: assigning every corpus
    // vector to its nearest cell must not shuffle the corpus — the only
    // shuffle permitted is the K-row codebook collapsing to its one-row
    // broadcast form (kilobytes at any scale). A window- or join-keyed
    // assignment would show a corpus-side hash exchange here.
    import org.apache.spark.sql.functions.col
    val corpus = spark.read.parquet(s"$sfSmall/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val assigned = graft.queries.LlmSimilarity.ivfAssigned(corpus,
      graft.queries.LlmSimilarity.ivfTrained(spark, sfSmall))
    val plan = assigned.queryExecution.executedPlan
    val n = shuffles(plan)
    assert(n <= 1, // the codebook's own collapse-to-one-row agg, nothing else
      s"quantizer assignment costs $n shuffles:\n" + plan.toString().take(2000))
    assert(plan.toString().contains("BroadcastExchange"),
      "codebook must broadcast:\n" + plan.toString().take(2000))
  }

  test("near-dup corpus spread is gated on scan splits (no shuffle when wide)") {
    // single parquet file = one input split < local[4] parallelism: the
    // gate must pay the repartition so hashing parallelizes...
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
    val narrow = graft.queries.NearDup.spreadIfNarrow(spark, docs)
    assert(physical(narrow).contains("Exchange hashpartitioning(doc_id"),
      "single-split corpus must be spread for the hashing stage")
    // ...but a pre-split copy (≥ parallelism splits — the 100 TB case,
    // where a repartition would be the pipeline's largest avoidable
    // exchange) must pass through shuffle-free.
    val dir = "target/tmp/docs-multisplit"
    docs.repartition(8).write.mode("overwrite").parquet(dir)
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // keep the tiny test files one-split-per-file so the scan is wide
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val wide = spark.read.parquet(dir)
      assert(wide.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
      val plan = physical(graft.queries.NearDup.spreadIfNarrow(spark, wide))
      assert(!plan.contains("Exchange"),
        "pre-split corpus must not be reshuffled:\n" + plan.take(1500))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
  }

  test("S6 partitioned layout gets dynamic partition pruning through a dim join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // partition the fact on the join key — at 100 TB this is the layout
    // that lets a dim-side filter skip whole partitions at file listing
    val p = "/root/repo/target/s4demo/dpp_events"
    Tables.events(spark, sfSmall)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(p)
    val fact = spark.read.parquet(p)
    // the dim must be a real scan: a local Seq would constant-fold the
    // filter away and the optimizer would see no selective predicate
    val dimPath = "/root/repo/target/s4demo/dpp_dim"
    Seq(("purchase", "monetized"), ("click", "engagement"),
      ("view", "engagement"), ("login", "auth"), ("logout", "auth"))
      .toDF("event_type", "category")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = fact.join(dim, Seq("event_type"))
      .filter(col("category") === "monetized")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val plan = physical(joined)
    assert(plan.contains("dynamicpruningexpression"),
      "fact scan lacks a dynamic partition-pruning filter:\n" + plan.take(3000))
    // and the pruned plan still computes the right answer
    val expected = Tables.events(spark, sfSmall)
      .filter(col("event_type") === "purchase").count()
    val got = joined.collect()
    assert(got.map(_.getLong(1)).sum == expected)
  }

  test("S2b scan_events_partitioned statically prunes the file listing to 7 of 30 days") {
    // the partitioned-SOURCE posture: the registered query lays events
    // out hive-style by calendar day and filters on a LITERAL date
    // window, so pruning must happen at file-listing time — the scan's
    // own numPartitions metric (populated at listing) is the proof, not
    // just a PartitionFilters string. 30 day-partitions exist at every
    // SF; the query reads exactly the first 7.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = q("scan_events_partitioned")
    // run df's OWN QueryExecution (count() would plan a separate one
    // whose scan metrics this test is not looking at), then read the
    // listing metric off the finalized adaptive plan
    df.queryExecution.toRdd.foreach(_ => ())
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val partScan = scans(df.queryExecution.executedPlan)
      .find(_.metadata.get("PartitionFilters").exists(_.contains("dt")))
      .getOrElse(fail("no scan with a dt partition filter in the plan"))
    assert(partScan.metrics.contains("numPartitions"),
      "day-partitioned scan lost its partition-count metric")
    val got = partScan.metrics("numPartitions").value
    assert(got == 7, s"expected 7 pruned day-partitions read, got $got")
    assert(q("scan_events_partitioned").count() == 7,
      "one output row per selected day")
  }

  test("curation plans: sampling/sharding map-only to one agg; contamination equi-joins") {
    // sampling and sharding must be scan → project → two-phase agg: no
    // join, no window, exactly one shuffle (the final groupBy)
    for (name <- Seq("curation_sample_stratified", "curation_shard_balance")) {
      val plan = physical(q(name))
      assert(!plan.contains("Join"), s"$name grew a join:\n" + plan.take(1500))
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$name lost partial aggregation")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        s"$name should shuffle exactly once:\n" + plan.take(1500))
    }
    // contamination must join train to eval on the gram hash — an equi
    // join, never a nested-loop/cartesian pair enumeration
    val cont = physical(q("curation_contamination"))
    assert(!cont.contains("BroadcastNestedLoopJoin") &&
      !cont.contains("CartesianProduct"),
      "contamination degenerated to a non-equi join:\n" + cont.take(2000))
  }

  test("dedup_substring_remove: equi-joins only, every window doc-keyed") {
    // the two structural hazards of the removal pipeline: (a) the
    // duplicated-gram join degrading to a non-equi pair enumeration, and
    // (b) any interval/segment window losing its doc_id partition key —
    // a corpus-global window is a single task at 100 TB
    val df = q("dedup_substring_remove")
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "substring removal degenerated to a non-equi join:\n" + plan.take(2000))
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty, "corpus-global window in removal plan")
      assert(w.partitionSpec.exists(_.toString.contains("doc_id")),
        s"window partitioned off-key: ${w.partitionSpec}")
    }
  }

  test("similarity_rrf_fusion: ONE qid shuffle feeds all three ranking windows") {
    // r11 verdict #3: rrf is among the most expensive queries and its
    // whole economy is that BOTH retrievers rank the SAME candidate set —
    // two row_numbers + the fusion rank as three consecutive Window ops
    // over ONE qid exchange. The regression this pins out is the "first
    // cut" two-pipeline form (each retriever its own scorer pipeline +
    // full-outer join): that plan re-materializes the pair fan twice and
    // shuffles qid once PER pipeline. Budget: exactly one
    // hashpartitioning(qid) exchange, exactly three Windows, no
    // outer join anywhere.
    // tree walks, not string counts: AQE's toString prints the initial
    // plan a second time, double-counting every exchange (the shuffles()
    // lesson, again)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    def count(p: SparkPlan)(pred: SparkPlan => Boolean): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)(pred)
      case s: QueryStageExec => count(s.plan)(pred)
      case _: ReusedExchangeExec => 0
      case other =>
        (if (pred(other)) 1 else 0) + other.children.map(count(_)(pred)).sum
    }
    val df = q("similarity_rrf_fusion")
    val root = df.queryExecution.executedPlan
    // exchanges hashed on exactly (qid) OUTSIDE broadcast subtrees — the
    // window shuffle of the main pipeline. Not under this budget: the
    // (qid, did) pair-score aggregate, the final ORDER BY's range
    // exchange, and the |Q|-row query-norm agg that broadcasts right
    // after (all different stages).
    def qidMain(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => qidMain(a.executedPlan)
      case s: QueryStageExec => qidMain(s.plan)
      case _: ReusedExchangeExec => 0
      case _: BroadcastExchangeExec => 0
      case e: ShuffleExchangeExec =>
        val own = e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.length == 1 && h.expressions.head.toString.contains("qid")
          case _ => false
        }
        (if (own) 1 else 0) + e.children.map(qidMain).sum
      case other => other.children.map(qidMain).sum
    }
    val qidShuffles = qidMain(root)
    assert(qidShuffles == 1,
      s"rrf must shuffle by qid exactly once (got $qidShuffles):\n" +
        physical(df).take(2000))
    val windows = count(root)(_.getClass.getSimpleName == "WindowExec")
    assert(windows == 3,
      s"rrf must rank via exactly 3 Window ops (got $windows):\n" +
        physical(df).take(2000))
    val outer = count(root)(p => p.getClass.getSimpleName.contains("Join") &&
      p.toString.contains("FullOuter"))
    assert(outer == 0,
      "rrf regressed to the two-pipeline fused-lists form:\n" +
        physical(df).take(2000))
  }

  test("no query collects to the driver inside its plan") {
    // CollectLimit at the root is fine (final presentation limit); what must
    // never appear is a LocalTableScan materialized FROM fixture data, i.e.
    // a driver-side collect-and-reparallelize. Literal dims (lexicons) are
    // the only LocalTableScans and they are bounded.
    for ((name, fn) <- SparkEntry.queries) {
      val plan = physical(fn(spark, sfSmall))
      val locals = plan.linesIterator.count(_.contains("LocalTableScan"))
      assert(locals <= 1, s"$name has $locals LocalTableScans")
    }
  }

  test("exchange budgets: lp round <= 2, tfidf 2+reuse, pipeline bounded") {
    // Shape keywords alone can't catch a refactor that keeps the right
    // operators but doubles a shuffle — pin the exchange COUNT of the
    // three most expensive plans (VERDICT r5 stretch) via the shared
    // tree-walking counter.
    // (1) the dedup_clusters round body: edges cached pre-partitioned on
    // the join key exactly as labelPropagation sets them up — the round
    // must reshuffle ONLY the skinny label table (1) plus the groupBy
    // agg (1); broadcast disabled so the small fixture can't mask a
    // missing co-partitioning under a BroadcastHashJoin
    val restore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id1", "id2")
      val edges = pairs.select(col("id1").as("a"), col("id2").as("b"))
        .union(pairs.select(col("id2").as("a"), col("id1").as("b")))
        .repartition(col("b")).cache()
      edges.count()
      val lbl = edges.groupBy(col("a").as("v"))
        .agg(least(min(col("a")), min(col("b"))).as("l")).cache()
      lbl.count()
      val round = graft.queries.NearDup.lpRound(edges, lbl)
      val n = shuffles(round.queryExecution.executedPlan)
      assert(n <= 2, s"lp round body costs $n exchanges (> 2):\n" +
        physical(round).take(2500))
      edges.unpersist(); lbl.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", restore)
    // (2) text_tfidf: the corpus (doc, term) shuffle + the df-side term
    // agg, with the df branch REUSING the first — more distinct corpus
    // exchanges means the 100 TB scan-and-explode runs twice
    val tfidf = q("text_tfidf")
    tfidf.collect() // AQE finalizes (and can only reuse) during execution
    val tfExec = tfidf.queryExecution.executedPlan
    assert(tfExec.toString().contains("ReusedExchange"), tfExec.toString().take(2000))
    // budget 5: tf (doc,term) agg [the one REUSED by the df branch], the
    // df per-term agg, tf re-keyed to term for the join, the per-doc
    // window, and the final presentation sort (a range exchange). All but
    // the first operate on the skinny aggregated stream, never the corpus.
    val tfN = shuffles(tfExec)
    assert(tfN <= 5,
      s"text_tfidf grew to $tfN distinct shuffles:\n" + tfExec.toString().take(3000))
    // (3) pipeline_curation composes filter → near-dup → pack stages; its
    // end-to-end exchange budget is the library's headline composition —
    // a silent extra shuffle per stage compounds at 100 TB
    val pipe = q("pipeline_curation")
    val pipeN = shuffles(pipe.queryExecution.executedPlan)
    info(s"pipeline_curation distinct shuffles: $pipeN")
    // measured 5 on the fixture; 6 leaves one plan-variance slot while
    // still catching any stage that doubles its shuffle
    assert(pipeN <= 6,
      s"pipeline_curation grew to $pipeN shuffles:\n" + physical(pipe).take(3000))
    spark.catalog.clearCache(); Memo.clear()
  }

  test("text_perplexity reuses the (doc, term) shuffle across all three branches") {
    // the LM table (ctf), the total-token scalar, and the per-doc scoring
    // all derive from the SAME tf aggregate — the corpus must be scanned
    // and exploded ONCE (tfidf's ReusedExchange discipline applied to a
    // three-consumer fan-out)
    val p = q("text_perplexity")
    p.collect() // AQE finalizes (and can only reuse) during execution
    val exec = p.queryExecution.executedPlan
    assert(exec.toString().contains("ReusedExchange"), exec.toString().take(2000))
    // budget 5: the tf (doc,term) agg (reused twice), ctf's per-term agg,
    // the single-partition total agg, the per-doc scoring agg, the
    // presentation sort; everything after the first runs on aggregated
    // skinny streams
    val n = shuffles(exec)
    assert(n <= 5, s"text_perplexity grew to $n distinct shuffles:\n" +
      exec.toString().take(3000))
  }

  test("text_tfidf reuses the (doc, term) shuffle for the df branch") {
    // tf and df both need the corpus explode + (doc_id, term) shuffle; the
    // df branch is derived FROM tf (with a pruning-defeating tf >= 1
    // guard, see TextOps) precisely so the two exchange subplans
    // canonicalize equal and AQE materializes the stage once. Without the
    // reuse, TFIDF reads and explodes the 100 TB corpus twice.
    val df = q("text_tfidf")
    df.collect() // AQE finalizes (and can only reuse) during execution
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReusedExchange"),
      "df branch re-exploded the corpus instead of reusing the tf shuffle:\n" +
        plan.take(3000))
  }

  test("text_bigram_lm reuses the (w1, w2) shuffle for the marginal branch") {
    // the w1 marginal is derived FROM the bigram aggregate (with the
    // pruning-defeating n12 >= 1 guard — the tfidf discipline) so the
    // corpus pair-explode and its shuffle materialize once
    val df = q("text_bigram_lm")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReusedExchange"),
      "marginal branch re-exploded the corpus:\n" + plan.take(3000))
  }

  test("AQE splits a skewed shuffle join at runtime (skew=true in final plan)") {
    // SURVEY §4's last unproved optimizer row: hot keys are first-class at
    // 100 TB, and the library's stance is salting where the AGG itself is
    // skewed (agg_salted_skew) but AQE's skew-join splitting for JOINs —
    // prove the latter actually engages. One key owns ~90% of the left
    // side; with the skew thresholds scaled down to fixture bytes (the
    // 256 MB default is tuned for real executors) AQE must split the hot
    // partition instead of letting one task drag the stage.
    import org.apache.spark.sql.functions._
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
    try {
      val left = spark.range(200000).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
      val right = spark.range(20000).select(col("id").as("k"),
        (col("id") * 2).as("rv"))
      val joined = left.join(right, "k")
      // execute THIS query execution (count() would build a separate one
      // whose adaptive plan is the one that gets finalized) — AQE rewrites
      // the plan during execution, so inspect it only after the action
      val n = joined.toLocalIterator().asScala.length
      // every left row with k=0 matches right k=0; the k=10,20,... rows match too
      assert(n == 200000 * 9 / 10 + 20000 / 10)
      val finalPlan = joined.queryExecution.executedPlan.toString()
      assert(finalPlan.contains("skew=true"),
        "skew-join splitting did not engage:\n" + finalPlan.take(3000))
    } finally restore.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("chunking and z-order layout stay map-heavy (exchange budgets)") {
    // text_chunk_split is a per-row transform+posexplode — the ONLY
    // exchange allowed is the presentation sort's range partitioning
    val chunk = q("text_chunk_split").queryExecution.executedPlan
    assert(shuffles(chunk) <= 1,
      "chunking gained a shuffle:\n" + chunk.toString.take(3000))
    // z-order: the 2-row extent agg (column stats), map-only bit
    // interleave, ONE two-phase agg on the 32-value shard key, plus the
    // presentation sort
    val zo = q("curation_zorder_layout").queryExecution.executedPlan
    assert(shuffles(zo) <= 3,
      "z-order layout gained a shuffle:\n" + zo.toString.take(3000))
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // The 100 TB posture for fact⋈filtered-dim joins the fixture can't
    // exercise at its natural thresholds: Spark's InjectRuntimeFilter
    // builds a bloom filter from the SELECTIVE (filtered) side and
    // row-prunes the big probe scan BEFORE its shuffle. Production keeps
    // the default thresholds (creation side < 10 MB, probe scan > 10 GB);
    // here the probe threshold drops to 0 so the rule fires on fixture
    // bytes, and broadcast is disabled so the join actually shuffles (a
    // BHJ probe is pruned by the broadcast itself).
    import org.apache.spark.sql.functions.col
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.lineitem(spark, sfMid)
      val sel = Tables.orders(spark, sfMid)
        .filter(col("o_totalprice") > 400000.0)
      val j = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("o_totalprice"))
      val plan = j.queryExecution.optimizedPlan.toString()
      // injected shape: Filter might_contain(scalar-subquery [bloom_filter_agg
      // over the filtered orders keys]) sitting ON the lineitem relation
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        "runtime bloom filter was not injected:\n" + plan.take(3000))
    } finally restore.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("exchange budgets for the round-6 heavy queries (sparse topk, prefix filter, basket)") {
    // the dedup_clusters discipline applied to the new expensive plans: a
    // refactor must not silently double a shuffle while keeping the
    // result green. Budgets are the measured shape + headroom of one —
    // the caches make signature stages leaves, so these count only each
    // query's OWN exchanges.
    for ((name, budget) <- Seq("similarity_sparse_topk" -> 8,
        "dedup_prefix_filter" -> 8, "orders_basket_pairs" -> 6)) {
      val df = q(name)
      df.collect()
      val n = shuffles(df.queryExecution.executedPlan)
      assert(n <= budget, s"$name: $n exchanges > budget $budget")
      assert(!physical(df).contains("CartesianProduct"),
        s"$name plans a cartesian product")
    }
  }

  test("J10 join_bloom_prefilter: the membership filter sits BELOW the probe shuffle") {
    // the manual twin of the native runtime-filter test above: the whole
    // point of the explicit bloom is that probe rows are filtered BEFORE
    // paying the exchange — so some shuffle's SUBTREE must contain the
    // element_at membership test, and the big join must actually be a
    // shuffle join (the merge hint stands in for a non-broadcastable
    // build at scale).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = q("join_bloom_prefilter")
    df.collect()
    def bloomBelowShuffle(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => bloomBelowShuffle(a.executedPlan)
      case s: QueryStageExec => bloomBelowShuffle(s.plan)
      case e: ShuffleExchangeExec =>
        e.child.toString.contains("element_at") || bloomBelowShuffle(e.child)
      case other => other.children.exists(bloomBelowShuffle)
    }
    assert(bloomBelowShuffle(df.queryExecution.executedPlan),
      "no shuffle has the bloom membership filter below it:\n" +
        physical(df).take(3000))
    assert(physical(df).contains("SortMergeJoin"),
      "bloom join did not plan as a shuffle join")
  }

  test("join_salted_skew joins on (key, salt) with a build-side fan-out") {
    // the pattern's plan signature: the big join's equi keys must carry
    // the salt column NEXT TO the natural key (that composite key is what
    // spreads a hot key's rows over S partitions), and the build side
    // must fan out through a Generate (explode of the per-key salt range).
    // GoldenSpec separately pins result ≡ unsalted join.
    val plan = physical(q("join_salted_skew"))
    val joinLine = plan.linesIterator.find(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(joinLine.isDefined, "salted join was not a shuffle join:\n" +
      plan.take(3000))
    assert(joinLine.get.contains("user_id") && joinLine.get.contains("salt"),
      s"join keys lack the salt: $joinLine")
    assert(plan.contains("Generate explode"),
      "build side lost its salt fan-out explode:\n" + plan.take(3000))
  }

  test("weighted sample and BPE merges top-k via TakeOrderedAndProject") {
    // both are corpus-wide top-k selections: a global Sort would be a
    // single-task bottleneck; TakeOrderedAndProject keeps per-partition
    // heaps and merges k rows at the driver
    assert(physical(q("curation_sample_weighted"))
      .contains("TakeOrderedAndProject"))
    assert(physical(q("text_bpe_merges")).contains("TakeOrderedAndProject"))
  }

  test("k-anonymity and linreg stay within their exchange budgets") {
    // two chained hash aggs + presentation sort → ≤ 3 exchanges; the
    // OLS sufficient-statistics pass is ONE agg (+ sort) → ≤ 2. A
    // refactor that loses map-side partial aggregation or adds a
    // redundant repartition fails here before it costs anything at scale.
    val ka = q("events_k_anonymity"); ka.collect()
    assert(shuffles(ka.queryExecution.executedPlan) <= 3,
      physical(ka).take(3000))
    val lr = q("agg_linreg"); lr.collect()
    assert(shuffles(lr.queryExecution.executedPlan) <= 2,
      physical(lr).take(3000))
  }

  test("dedup_clusters_sql executes as a recursive UnionLoop") {
    // the WITH RECURSIVE row must actually take Spark 4's iterative
    // union-loop operator — if a rewrite flattens it away the row stops
    // exercising the recursion code path it exists to cover
    val plan = physical(q("dedup_clusters_sql"))
    assert(plan.contains("UnionLoop"), plan.take(3000))
  }

  test("pareto front: bounded exchange budget over the cached score tables") {
    // with pts and byQ materialized, the remaining exchanges are the two
    // level aggs, the tiny sup/bucket aggs, the per-bucket window, the
    // join back on q, and the presentation sort — budget 8; a refactor
    // that drops the score-table cache replays the novelty pipeline per
    // branch and blows far past it (measured 18)
    val pf = q("curation_pareto_front"); pf.collect()
    assert(physical(pf).contains("BroadcastExchange"))
    assert(shuffles(pf.queryExecution.executedPlan) <= 8,
      physical(pf).take(3000))
  }

  test("round-7 plans: lateral decorrelates to a ranked join; cumulative windows keyed") {
    // sql_lateral_topk: DecorrelateInnerQuery must turn the per-nation
    // ORDER BY + LIMIT into a rank window PARTITIONED BY the correlation
    // key joined back — a per-nation probe would surface as a cartesian/
    // nested-loop over the outer side
    val lat = q("sql_lateral_topk")
    val latWins = lat.queryExecution.optimizedPlan.collect {
      case w: LWindow => w }
    assert(latWins.nonEmpty && latWins.forall(_.partitionSpec.nonEmpty),
      "lateral LIMIT did not decorrelate to a keyed window")
    assert(!physical(lat).contains("CartesianProduct"))
    // orders_pareto_8020: the descending cumulative must stay the
    // two-level blocked form — every window keyed by blk, never global
    val parWins = q("orders_pareto_8020").queryExecution.optimizedPlan
      .collect { case w: LWindow => w }
    assert(parWins.nonEmpty && parWins.forall(
      _.partitionSpec.exists(_.toString.contains("blk"))),
      "pareto cumulative lost its block partitioning")
    // events_gini: the rank fold must run over the VALUE HISTOGRAM —
    // window keyed by event_type whose input is already the (type, v)
    // aggregate, so window cardinality is distinct-count-values, not users
    val gini = q("events_gini").queryExecution.optimizedPlan
    val giniWins = gini.collect { case w: LWindow => w }
    assert(giniWins.nonEmpty && giniWins.forall(
      _.partitionSpec.exists(_.toString.contains("event_type"))),
      "gini window lost its event_type partitioning")
    val aggBelowWin = giniWins.forall(_.child.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isDefined)
    assert(aggBelowWin, "gini window no longer runs over the value histogram")
  }

  test("round-9 ops keep their intended physical shapes") {
    // text_gopher_rules is map-only to the final sort: exactly the
    // sort's range exchange, no join, no window, no hash aggregate
    val gop = q("text_gopher_rules")
    assert(shuffles(gop.queryExecution.executedPlan) <= 1,
      "gopher rules gained a pre-sort shuffle")
    assert(gop.queryExecution.optimizedPlan.collect {
      case j: Join => j }.isEmpty, "gopher rules gained a join")
    // similarity_hard_negatives: ONE keyed window over a broadcast-fed
    // scoring pass — no corpus self-join, no cartesian
    val hn = q("similarity_hard_negatives")
    val hnPlan = physical(hn)
    assert(hnPlan.contains("BroadcastNestedLoopJoin") ||
      hnPlan.contains("BroadcastExchange"), "anchor batch not broadcast")
    assert(!hnPlan.contains("CartesianProduct"))
    val hnWins = hn.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(hnWins.size == 1 && hnWins.forall(_.partitionSpec.size == 2),
      "hard-negative mining lost its single (qid, is_pos)-keyed window")
    // dedup_semantic: the pair kernel joins ON THE CELL (equi-join keyed
    // by the quantizer output — SortMergeJoin/ShuffledHashJoin on
    // [cell...]), never a nested-loop over the corpus. The plan's one
    // BroadcastNestedLoopJoin is ivfAssigned's 1-row centroid attach
    // (the scalar-broadcast pattern), so assert the PAIR join's key
    // rather than the absence of BNLJ.
    val ds = q("dedup_semantic")
    val dsPlan = physical(ds)
    assert(!dsPlan.contains("CartesianProduct"),
      "semantic dedup degenerated to a cartesian pair join")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell".r
      .findFirstIn(dsPlan).isDefined,
      "semantic dedup pair join lost its cell equi-key:\n" + dsPlan.take(1500))
    spark.catalog.clearCache(); Memo.clear()
  }

  test("round-11 ops keep their intended physical shapes") {
    // pca stats: ONE aggregator pass — no Generate (the exploded
    // outer-product must stay dead), ≤ 1 shuffle (partial → final agg)
    val pm = graft.queries.LlmSimilarity.pcaMat(spark, sfSmall)
    assert(!physical(pm).contains("Generate"),
      "pca stats re-grew an explode:\n" + physical(pm).take(800))
    assert(shuffles(pm.queryExecution.executedPlan) <= 1,
      "pca stats pass gained a shuffle")
    // knn graph: the pair kernel equi-joins ON THE CELL, never cartesian
    val kg = q("similarity_knn_graph")
    val kgPlan = physical(kg)
    assert(!kgPlan.contains("CartesianProduct"))
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell".r
      .findFirstIn(kgPlan).isDefined,
      "knn pair join lost its cell equi-key:\n" + kgPlan.take(1500))
    // knn components: cell-local closure — NO iterative job, so the whole
    // query is one plan: no cartesian, and the only window keys on
    // cluster/vec_id (N keys), never empty-partition
    val kc = q("similarity_knn_components")
    val kcPlan = physical(kc)
    assert(!kcPlan.contains("CartesianProduct"))
    val kcWins = kc.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(kcWins.forall(_.partitionSpec.nonEmpty),
      "knn components gained a global (empty-partition) window")
    // centroid classify: map-only argmax against ONE broadcast row, then
    // a bounded-key agg — no shuffle join anywhere
    val cc = q("similarity_centroid_classify")
    val ccPlan = physical(cc)
    assert(!ccPlan.contains("CartesianProduct"))
    assert(!ccPlan.contains("SortMergeJoin"),
      "centroid classify gained a corpus shuffle join")
    assert(ccPlan.contains("BroadcastNestedLoopJoin") ||
      ccPlan.contains("BroadcastExchange"), "centroid row not broadcast")
    spark.catalog.clearCache(); Memo.clear()
  }

  test("dedup_semantic_ann: broadcast LSH routing, cell-keyed pair join") {
    // the routing join (vector sigs × centroid probe table) must be a
    // BROADCAST hash join on the signature key — the probe table is
    // K·bands·(1+cbits) rows, and shuffling the corpus against it would
    // re-introduce the cost the ANN route exists to avoid
    val ai = graft.queries.LlmSimilarity.annIndex(spark, sfSmall)
    val aiPlan = physical(ai)
    assert(!aiPlan.contains("CartesianProduct"))
    assert("BroadcastHashJoin \\[bd".r.findFirstIn(aiPlan).isDefined ||
      "BroadcastHashJoin \\[sg".r.findFirstIn(aiPlan).isDefined,
      "collision join lost its broadcast signature key:\n" + aiPlan.take(1500))
    // the pair kernel keeps dedup_semantic's cell equi-key discipline
    val da = q("dedup_semantic_ann")
    val daPlan = physical(da)
    assert(!daPlan.contains("CartesianProduct"),
      "ANN semantic dedup degenerated to a cartesian pair join")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell".r
      .findFirstIn(daPlan).isDefined,
      "ANN semantic dedup pair join lost its cell equi-key:\n" + daPlan.take(1500))
    spark.catalog.clearCache(); Memo.clear()
  }

  test("retrieval family: broadcast query side, keyed windows, no cartesian") {
    // bm25: the posting fan-out must be the BROADCAST query-term side —
    // a shuffled corpus-vs-query join would charge the corpus a shuffle
    // the linear scale shape exists to avoid (1-row stats cross joins
    // plan as BroadcastNestedLoopJoin, which is their correct shape)
    val bm = q("similarity_bm25_topk")
    val bmPlan = physical(bm)
    assert(!bmPlan.contains("CartesianProduct"))
    assert("BroadcastHashJoin \\[.{0,40}term".r.findFirstIn(bmPlan).isDefined,
      "bm25 lost its broadcast term join:\n" + bmPlan.take(1500))
    // every ranking window is query-id-keyed (bounded state per key)
    for (name <- Seq("similarity_bm25_topk", "similarity_rrf_fusion",
        "similarity_matryoshka_rerank")) {
      val df = q(name)
      assert(!physical(df).contains("CartesianProduct"),
        s"$name degenerated to a cartesian")
      val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
        s"$name has a global (empty-partition) window")
    }
    // matryoshka: the corpus pass must broadcast the query batch
    val mkPlan = physical(q("similarity_matryoshka_rerank"))
    assert(mkPlan.contains("BroadcastExchange") ||
      mkPlan.contains("BroadcastNestedLoopJoin"),
      "matryoshka query batch not broadcast")
    // rrf: ONE pair-score pipeline carries both rankings as consecutive
    // qid-keyed Windows — the plan must have exactly the 3 Window ops
    // (ra, rb, final rk) and NO join between ranked lists (the first cut
    // ran two scorer pipelines into a full-outer join; column pruning
    // made their exchanges non-reusable and every stage ran twice)
    val rrfDf = q("similarity_rrf_fusion")
    val rrfPlan = physical(rrfDf)
    assert(!rrfPlan.contains("FullOuter"),
      "rrf re-grew the two-pipeline full-outer fusion:\n" + rrfPlan.take(1200))
    val rrfWins = rrfDf.queryExecution.optimizedPlan.collect {
      case w: LWindow => w }
    assert(rrfWins.length == 3 && rrfWins.forall(_.partitionSpec.nonEmpty),
      s"rrf should rank via exactly 3 qid-keyed windows, got ${rrfWins.length}")
    spark.catalog.clearCache(); Memo.clear()
  }

  test("agg_bitmap_distinct_sparse: hash-agg container build, no shuffle bloat") {
    // the Roaring container pipeline must stay three chained hash
    // aggregations (word masks → container cards → per-type census) plus
    // ONE tiny join with the max-id span row — partial aggregation ships
    // containers, never ids, so the shuffled volume is bounded by the
    // container census (≤ |id-space| / 2^16 per group), not the corpus
    val sb = q("agg_bitmap_distinct_sparse")
    val plan = sb.queryExecution.executedPlan
    assert(!physical(sb).contains("CartesianProduct"))
    // joins only on event_type (the 5-row span attach) — never on ids
    val joins = sb.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size == 1, s"expected exactly one span join, got ${joins.size}")
    assert(joins.head.condition.exists(_.toString.contains("event_type")),
      "span join lost its event_type key")
    // the bit_or word build is a two-phase hash aggregate: a partial_
    // bit_or must appear below the exchange (map-side combine proof)
    assert(physical(sb).contains("partial_bit_or") ||
      physical(sb).contains("partial_first") ||
      physical(sb).toLowerCase.contains("partial"),
      "container build lost its partial (map-side) aggregation")
    // budget 5: ONE corpus-scale exchange (events → word masks, keyed by
    // (type, container, word)); the container re-key, the two type-level
    // census/span aggs and the presentation sort all move ≤ census-sized
    // rows. A 6th exchange means ids started traveling.
    assert(shuffles(plan) <= 5,
      s"sparse bitmap gained shuffles: ${shuffles(plan)}")
  }

  test("dedup_incremental: band probe is an equi-join; no all-pairs product") {
    // the snapshot's scale contract — candidates come from an equi-join on
    // the (bd, sig) band key (hash-partitionable, bucket-sized work), with
    // the doc_id ordering as a residual condition, never the join driver;
    // and nothing in the plan degenerates to a CartesianProduct (the two
    // 1-row cutoff attaches are broadcast nested loops, which is correct)
    val inc = q("dedup_incremental")
    val plan = physical(inc)
    assert(!plan.contains("CartesianProduct"), "all-pairs product appeared")
    val bandJoin = inc.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.exists { c =>
        val s = c.toString; s.contains("bd") && s.contains("sig") } => j
    }
    assert(bandJoin.nonEmpty, "band (bd, sig) equi-join missing from the plan")
    // the band join must see a FILTERED new-side input: one side's subtree
    // carries the cutoff predicate, so the probe is |new| x occupancy, not
    // corpus x corpus
    assert(bandJoin.exists(_.toString.contains("cut")),
      "cutoff predicate not attached to the band probe")
  }
}
