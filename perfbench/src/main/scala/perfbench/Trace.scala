package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans are op → job → stage, each with its
  * parent's id, kept in memory and written out at the end; counts are
  * taken at the same boundaries from task metrics, query executions and
  * the executed plans' scan nodes. Registered only around the traced
  * region, so untraced timing runs with no listener attached.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer.Op

  final case class Job(id: Int, group: String, startMs: Long, stages: Seq[Int],
      var endMs: Long = -1L)
  final class Stage(val id: Int, var name: String) {
    var startMs = -1L
    var endMs = -1L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val ops = mutable.ArrayBuffer.empty[Op]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  // every file scan node seen, once each: a cached plan's scan is reached
  // from every query that reads the cache
  private val scans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())

  private def add(k: String, v: Double): Unit = synchronized {
    counts(k) = counts.getOrElse(k, 0.0) + v
  }
  def count(k: String): Double = synchronized(counts.getOrElse(k, 0.0))

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = ListenerBusAccess.drain(spark.sparkContext)

  def beginOp(name: String, layer: String): Op = synchronized {
    val op = Op(ops.size, name, layer, System.currentTimeMillis())
    ops += op
    spark.sparkContext.setJobGroup(s"perfbench-op-${op.id}", name)
    op
  }

  def endOp(op: Op): Unit = {
    op.endMs = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
  }

  // ---- SparkListener -------------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      .flatMap(Option(_)).getOrElse("")
    jobs += Job(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, new Stage(i.stageId, i.name))
    s.name = i.name
    s.startMs = i.submissionTime.getOrElse(-1L)
    s.endMs = i.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId, ""))
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    add("exec.tasks", 1)
    if (m != null) {
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      add("exchange.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("exchange.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("Tables.scan_rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  // ---- QueryExecutionListener ----------------------------------------------

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  /** A query function's own DataFrame: analysed when it was built, which
    * no action reports. */
  def built(qe: QueryExecution): Unit =
    qe.tracker.phases.get("analysis").foreach(p => add("catalyst.analysis_s", p.durationMs / 1e3))

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_s",
        "optimization" -> "catalyst.optimization_s", "planning" -> "catalyst.planning_s"))
      phases.get(phase).foreach(p => add(key, p.durationMs / 1e3))
    synchronized(scansOf(qe.executedPlan).foreach(scans.add))
    add("functions.plan_refs", Tracer.kernelRefs(qe))
  }

  private def scansOf(p: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(p) {
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec => scansOf(m.relation.cachedPlan)
    }.flatten

  /** Rows each fixture table's scans produced, and the bytes they read. */
  private def scanCounts(): Map[String, Double] = {
    val per = mutable.LinkedHashMap.empty[String, Double]
    var mb = 0.0
    scans.forEach { s =>
      def metric(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      val table = s.relation.location.rootPaths.headOption
        .map(_.getName.stripSuffix(".parquet")).getOrElse("unknown")
      per(s"Tables.$table.scan_rows") = per.getOrElse(s"Tables.$table.scan_rows", 0.0) +
        metric("numOutputRows")
      mb += metric("filesSize") / 1048576.0
    }
    per.toMap + ("Tables.scan_mb" -> mb)
  }

  // ---- results -------------------------------------------------------------

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    c.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  private def jobsOf(op: Op): Seq[Job] = jobs.filter(j =>
    j.group == s"perfbench-op-${op.id}" ||
      (!j.group.startsWith("perfbench-op-") && j.startMs >= op.startMs &&
        j.startMs <= op.endMs)).toSeq

  private def stageIv(ids: Seq[Int]): Seq[(Long, Long)] =
    ids.flatMap(stages.get).filter(s => s.startMs >= 0 && s.endMs >= 0)
      .map(s => (s.startMs, s.endMs))

  /** Per-layer results: counters plus self times and skew. */
  def metrics(): Map[String, Double] = synchronized {
    var driverSelf = 0L
    var jobSelf = 0L
    ops.filter(_.endMs >= 0).foreach { op =>
      val js = jobsOf(op)
      driverSelf += (op.endMs - op.startMs) -
        covered(stageIv(js.flatMap(_.stages)), op.startMs, op.endMs)
      js.filter(_.endMs >= 0).foreach { j =>
        jobSelf += (j.endMs - j.startMs) - covered(stageIv(j.stages), j.startMs, j.endMs)
      }
    }
    val skews = stages.values.filter(_.taskMs.size >= 2).map { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
      s.taskMs.max / math.max(med, 1.0)
    }.toSeq
    counts.toMap ++ scanCounts() ++ Map(
      "driver.self_s" -> driverSelf / 1e3,
      "scheduler.job_self_s" -> jobSelf / 1e3,
      "exchange.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)))
  }

  /** Writes every span, one JSON object per line, with its parent id and
    * self time (its duration minus what its children cover). */
  def writeSpans(path: String): Unit = synchronized {
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(path)
    try {
      def span(id: String, parent: String, kind: String, name: String,
          s: Long, e: Long, self: Long, extra: Seq[(String, String)] = Nil): Unit =
        w.println(Json.obj(Seq("id" -> Json.str(id), "parent" -> parent,
          "kind" -> Json.str(kind), "name" -> Json.str(name),
          "start_ms" -> s.toString, "end_ms" -> e.toString,
          "self_ms" -> self.toString) ++ extra))
      ops.filter(_.endMs >= 0).foreach { op =>
        val js = jobsOf(op)
        val opSelf = (op.endMs - op.startMs) -
          covered(js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)), op.startMs, op.endMs)
        span(s"op${op.id}", "null", "op", op.name, op.startMs, op.endMs, opSelf,
          Seq("layer" -> Json.str(op.layer)))
        js.filter(_.endMs >= 0).foreach { j =>
          val jSelf = (j.endMs - j.startMs) - covered(stageIv(j.stages), j.startMs, j.endMs)
          span(s"job${j.id}", Json.str(s"op${op.id}"), "job", s"job ${j.id}",
            j.startMs, j.endMs, jSelf)
          j.stages.flatMap(stages.get).filter(_.startMs >= 0).foreach { st =>
            span(s"job${j.id}.stage${st.id}", Json.str(s"job${j.id}"), "stage",
              st.name, st.startMs, st.endMs, st.endMs - st.startMs,
              Seq("tasks" -> st.taskMs.size.toString))
          }
        }
      }
    } finally w.close()
  }
}

object Tracer {
  /** One op span: a query, or one micro-batch of a stream job. */
  final case class Op(id: Int, name: String, layer: String, startMs: Long,
      var endMs: Long = -1L)

  /** Occurrences of the engine's native kernels (graft.functions) in a
    * query's optimized plan. */
  def kernelRefs(qe: QueryExecution): Double = {
    var n = 0
    qe.optimizedPlan.foreach(_.expressions.foreach(_.foreach { e =>
      if (e.getClass.getName.startsWith("graft.functions.")) n += 1
    }))
    n.toDouble
  }
}
