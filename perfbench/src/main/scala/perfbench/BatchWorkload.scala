package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Sort, Window}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.{Memo, Tables}
import graft.queries.{LlmSimilarity, LogAnalytics, NearDup, Windows}

/** A closed loop of registered queries with one client: the next query is
  * built and materialized only after the previous one finished. One pass
  * runs every op of the mix once, in an order drawn from the seed; the
  * cache and the Memo registry are cleared before each timed pass, so each
  * pass re-pays model training while sharing within the pass is kept.
  * Ops that share a trained model or a cached index form a chain whose
  * first op pays for it; the seed orders whole chains, so the same op
  * pays in every order and per-op latencies stay comparable across seeds.
  *
  * An op is one query: the query function's call (`build`, which may stage
  * eagerly) plus a full materialization of its output through the noop
  * sink (`exec`). `.count()` would let Catalyst drop the windows and sorts
  * whose cost is being timed.
  */
final class BatchWorkload(val name: String, modules: Seq[(String, Map[String, BatchWorkload.Q])],
    mixNames: Seq[String], chainOf: String => String, tables: Seq[String],
    streamInTrace: Boolean) {
  import BatchWorkload._

  /** Every query of the workload's modules, by module and name. */
  val all: Seq[Op] = modules.flatMap { case (m, qs) =>
    qs.keys.toSeq.sorted.map(n => Op(m, n, qs(n), chainOf(n))) }
  /** The timed mix, in mix order (a chain runs in this order). */
  val mix: Seq[Op] = mixNames.map(n => all.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"$n is in no module of $name")))
  /** The queries outside the mix: each run gates `gateRest` of them. */
  val rest: Seq[Op] = all.filterNot(o => mixNames.contains(o.name))

  /** The `gateRest` queries outside the mix that the run with this seed
    * gates, consecutive in module and name order from a seed-chosen start:
    * consecutive seeds cover them all. */
  def restFor(seed: Long): Seq[Op] =
    if (rest.isEmpty) Nil
    else {
      val start = Math.floorMod(seed * gateRest, rest.size.toLong).toInt
      (0 until math.min(gateRest, rest.size)).map(i => rest((start + i) % rest.size))
    }

  /** Opens every fixture table the workload reads (one full scan each). */
  def loadFixtures(spark: SparkSession, data: String): Unit =
    tables.foreach(t => readTable(spark, data, t).write.format("noop").mode("overwrite").save())

  final case class Sample(op: Op, buildS: Double, execS: Double) {
    def totalS: Double = buildS + execS
  }

  /** One pass over the mix; returns its samples, the failed op names and
    * the pass's wall time. */
  private def pass(spark: SparkSession, data: String, order: Seq[Op],
      tracer: Option[Tracer]): (Seq[Sample], Seq[String], Double) = {
    spark.catalog.clearCache()
    Memo.clear()
    val samples = mutable.ArrayBuffer.empty[Sample]
    val failed = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    order.foreach { op =>
      val span = tracer.map(_.beginOp(op.name, op.module))
      try {
        val a = System.nanoTime()
        val df = op.fn(spark, data)
        val b = System.nanoTime()
        tracer.foreach(_.built(df.queryExecution))
        df.write.format("noop").mode("overwrite").save()
        val c = System.nanoTime()
        samples += Sample(op, (b - a) / 1e9, (c - b) / 1e9)
      } catch {
        case e: Throwable =>
          failed += op.name
          System.err.println(s"[perfbench] ${op.name} failed: $e")
      } finally for (t <- tracer; s <- span) t.endOp(s)
    }
    (samples.toSeq, failed.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** The gate: each op's full output against its pinned fingerprint. It
    * runs WITHOUT clearing, right after a pass, so Memo and cache reuse
    * across passes is what gets checked: over the mix after the cold pass
    * (as the second warm-up pass), over one query outside the mix after
    * the timed passes. */
  private def gate(spark: SparkSession, a: Main.Args, ops: Seq[Op]): (Int, Seq[String]) = {
    val got = ops.map { op =>
      op.name -> (try {
        val df = op.fn(spark, a.data)
        if (a.full) println(s"[perfbench] plan ${op.name}: ${planShape(df)}")
        Some(Checksum.of(df))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] gate ${op.name} failed: $e"); None
      })
    }
    val path = a.expected
    val pinned = if (new java.io.File(path).exists) Checksum.read(path) else Map.empty[String, Checksum]
    if (a.pin) {
      Checksum.write(path, (pinned ++ got.collect { case (n, Some(c)) => n -> c }).toSeq)
      println(s"[perfbench] pinned ${got.count(_._2.isDefined)} fingerprints to $path")
      (got.size, got.collect { case (n, None) => n })
    } else {
      val bad = got.collect {
        case (n, Some(c)) if !pinned.get(n).exists(c.matches) =>
          System.err.println(s"[perfbench] gate mismatch $n: got ${c.line(n)} " +
            s"want ${pinned.get(n).map(_.line(n)).getOrElse("nothing pinned")}")
          n
        case (n, None) => n
      }
      (got.size, bad)
    }
  }

  def measure(spark: SparkSession, a: Main.Args, jvmStartMs: Long): Outcome = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // --full: every query of the modules, one chain per module
    val ops = if (a.full) all.map(o => o.copy(chain = o.module)) else mix
    val rnd = new Random(a.seed)
    val chains = ops.groupBy(_.chain).values.toSeq.sortBy(c => ops.indexOf(c.head))
    def order() = rnd.shuffle(chains).flatten
    // warm-up: the cold pass, then the gate over the mix as a second
    // untimed pass; passes keep speeding up for a few passes after the
    // cold one (JIT, codegen caches)
    val (_, _, coldS) = pass(spark, a.data, order(), None)
    val g0 = System.nanoTime()
    val (gatedMix, badMix) = gate(spark, a, ops)
    val gateS = (System.nanoTime() - g0) / 1e9
    // set-up ends here: JVM start, session, fixture scans and the warm-up
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    println(f"[perfbench] $name set-up: $setupS%.3f s, of which session and fixtures " +
      f"$sessionS%.3f s, cold pass $coldS%.3f s, gate pass $gateS%.3f s")
    val samples = mutable.ArrayBuffer.empty[Sample]
    val walls = mutable.ArrayBuffer.empty[Double]
    var failed = badMix.size
    var attempted = gatedMix
    Main.resetPeakHeap()
    val t0 = System.nanoTime()
    while (walls.size < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val (s, f, w) = pass(spark, a.data, order(), None)
      samples ++= s; walls += w; failed += f.size; attempted += ops.size
    }
    val peakHeapMb = Main.peakHeapMb()
    val traced = if (a.trace) Some(tracedPass(spark, a, order(), walls.last)) else None
    // one query outside the mix, checked after the timed passes
    val rest = if (a.full) Nil else restFor(a.seed)
    val (gatedRest, badRest) = gate(spark, a, rest)
    attempted += gatedRest
    failed += badRest.size
    // per-op medians over the timed passes
    val perOp = samples.groupBy(_.op.name).map { case (n, v) =>
      n -> Stats.median(v.map(_.totalS).toSeq) }
    println(f"[perfbench] $name: ${walls.size} timed passes of ${ops.size} ops " +
      f"(n=${samples.size} op samples), pass wall ${walls.map(w => f"$w%.3f").mkString(" ")} s; " +
      f"gate ${gatedMix - badMix.size}/$gatedMix ok, outside the mix " +
      f"${gatedRest - badRest.size}/$gatedRest ok (${rest.map(_.name).mkString(" ")})")
    println("[perfbench] op medians (s): " + perOp.toSeq.sortBy(-_._2)
      .map { case (n, t) => f"$n $t%.3f" }.mkString(", "))
    val metrics = traced match {
      case None => Seq(
        Metric("setup_s", "s", setupS),
        Metric("wall_s", "s", Stats.median(walls.toSeq)),
        Metric("op_p50_s", "s", Stats.median(perOp.values.toSeq)),
        Metric("op_tail_s", "s", perOp.values.max))
      case Some(m) =>
        val stream =
          if (!streamInTrace) Map.empty[String, Double]
          else {
            val (sm, sAttempted, sBad) = new StreamReplay().traced(spark, a,
              s"${a.traceDir}/$name-seed${a.seed}.stream.spans.jsonl")
            attempted += sAttempted
            failed += sBad.size
            sm
          }
        PerLayer.complete(m ++ stream ++ Map(
          "mem.peak_rss_mb" -> Main.peakRssMb(),
          "mem.peak_heap_mb" -> peakHeapMb,
          "setup.session_s" -> sessionS,
          "setup.cold_pass_s" -> coldS))
    }
    Outcome(failed == 0, attempted, failed, metrics)
  }

  /** One more pass with the tracer attached, then the kernel timings.
    * Passes still speed up from one to the next, so the tracing overhead
    * is the traced pass against the mean of the untraced passes on either
    * side of it. */
  private def tracedPass(spark: SparkSession, a: Main.Args, order: Seq[Op],
      before: Double): Map[String, Double] = {
    val tracer = new Tracer(spark)
    tracer.start()
    val (samples, _, wall) = try pass(spark, a.data, order, Some(tracer))
      finally tracer.stop()
    // what the pass left cached: the Memo models and CacheManager entries
    val cacheMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    val retainedMb = Main.liveHeapMb()
    val (_, _, after) = pass(spark, a.data, order, None)
    tracer.writeSpans(s"${a.traceDir}/$name-seed${a.seed}.spans.jsonl")
    val byModule = samples.groupBy(_.op.module).toSeq.flatMap { case (m, v) => Seq(
      s"$m.build_s" -> v.map(_.buildS).sum, s"$m.exec_s" -> v.map(_.execS).sum) }
    // the kernels are timed alone only for a workload whose plans call them
    val refs = tracer.count("functions.plan_refs")
    println(f"[perfbench] $name: $refs%.0f native kernel calls in the traced pass's plans")
    val kernels =
      if (refs > 0) Kernels.time(spark, a.data) else Map.empty[String, Double]
    tracer.metrics() ++ byModule ++ kernels ++ Map(
      "trace.overhead_s" -> (wall - (before + after) / 2), "cache.mb" -> cacheMb,
      "mem.retained_heap_mb" -> retainedMb)
  }
}

object BatchWorkload {
  type Q = (SparkSession, String) => DataFrame

  /** What a query's optimized plan holds, cached stages included: the
    * fixture tables it reads, which of the window, sort, aggregate and
    * join operators it holds, and the native kernels it calls (by class
    * name). `--full` prints it per op. */
  def planShape(df: DataFrame): String = {
    val tables = mutable.SortedSet.empty[String]
    val paths = mutable.SortedSet.empty[String]
    def walk(p: LogicalPlan): Unit = p.foreach { n =>
      n match {
        case r: LogicalRelation => r.relation match {
          case h: HadoopFsRelation =>
            tables ++= h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
          case _ =>
        }
        case m: InMemoryRelation => walk(m.cacheBuilder.logicalPlan)
        case _: Window => paths += "window"
        case _: Sort => paths += "sort"
        case _: Aggregate => paths += "aggregate"
        case _: Join => paths += "join"
        case _ =>
      }
      n.expressions.foreach(_.foreach { e =>
        if (e.getClass.getName.startsWith("graft.functions.")) paths += e.getClass.getSimpleName
      })
    }
    walk(df.queryExecution.optimizedPlan)
    s"tables=${tables.mkString("+")} paths=${paths.mkString("+")}"
  }

  /** Timed passes run until the measured window is over, and at least
    * this many, so every op has a median of three. */
  val minPasses = 3

  /** How many queries outside the mix each run gates (`--full 1` gates
    * them all). */
  val gateRest = 1

  /** One registered query: its module (the layer it belongs to), its name,
    * its function, and its chain (ops sharing a model or an index; a
    * chain runs in mix order). */
  final case class Op(module: String, name: String, fn: Q, chain: String)

  def readTable(spark: SparkSession, data: String, t: String): DataFrame = t match {
    case "events" => Tables.events(spark, data)
    case other => Tables.table(spark, data, other)
  }

  /** The paper's log-analytics core: the events scan, shuffle aggregation,
    * window and sort operators. No native kernel, no Memo model. Every op
    * is its own chain. The mix is drawn from the modules by measured cost
    * share per path (perfbench/README.md). The traced run adds the stream
    * replay. */
  val eventAnalytics = new BatchWorkload("event_analytics",
    Seq("LogAnalytics" -> LogAnalytics.queries, "Windows" -> Windows.queries),
    Seq("events_attribution", "window_lag_sessionize", "events_wau",
      "events_entropy", "window_running"),
    identity, Seq("events", "orders"), streamInTrace = true)

  /** The LLM-data-pipeline operators: MinHash / Jaccard / SimHash / cosine
    * kernels, band self-join, the Memo-trained IVF cells. Reads no events.
    * The mix is drawn from the modules by measured cost share per path
    * (perfbench/README.md). Chains: the NearDup ops share the cached token
    * and shingle stages; the LlmSimilarity ops share the embedding-corpus
    * sizing. */
  val corpusDedup = new BatchWorkload("corpus_dedup",
    Seq("NearDup" -> NearDup.queries, "LlmSimilarity" -> LlmSimilarity.queries),
    Seq("dedup_containment", "dedup_simhash", "curation_novelty",
      "similarity_ivf", "similarity_knn"),
    n => if (NearDup.queries.contains(n)) "documents" else "embeddings",
    Seq("documents", "embeddings"), streamInTrace = false)
}
