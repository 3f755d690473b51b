package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

import graft.Tables
import graft.streaming.Streams
import graft.streaming.Streams.{Event, SessionOut}

/** The events fixture replayed through `MemoryStream` into five stateful
  * jobs run in turn, each on the RocksDB state store; part of the
  * event_analytics traced run. A closed loop with
  * one client: a micro-batch is offered only after the previous one was
  * fully processed. An op is one micro-batch: `addData` plus
  * `processAllAvailable`.
  *
  * The seed picks the out-of-order delivery: a share of each batch's
  * events is held back to the next batch, never by more than 25 minutes
  * of event time behind the batch's newest event, so every event stays
  * inside every job's watermark (the smallest is 30 minutes); within a
  * batch the order is shuffled.
  */
final class StreamReplay {
  import StreamReplay._

  final case class JobRun(job: String, latS: Seq[Double],
      progress: Seq[StreamingQueryProgress], sinkName: String, sinkDir: String)

  private var replays = 0

  /** One replay: every job in turn over the same batches. */
  private def replay(spark: SparkSession, a: Main.Args, batches: Seq[Seq[Event]],
      tracer: Option[Tracer]): (Seq[JobRun], Double) = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    replays += 1
    val t0 = System.nanoTime()
    val runs = jobs.map { job =>
      val sinkName = s"${job}_r$replays"
      val sinkDir = s"${a.work}/sink/$sinkName"
      val in = MemoryStream[Event]
      val q: StreamingQuery = job match {
        case "watermarkedTumbling" => Streams.toMemorySink(
          Streams.watermarkedTumbling(in.toDF()), sinkName, OutputMode.Append())
        case "statefulSessionize" => Streams.statefulSessionize(in.toDS())
          .writeStream.format("memory").queryName(sinkName).outputMode("append").start()
        case "countMinSketch" => Streams.toMemorySink(
          Streams.countMinSketch(in.toDF()), sinkName, OutputMode.Complete())
        case "latestState" => Streams.toMemorySink(
          Streams.latestState(in.toDF()), sinkName, OutputMode.Complete())
        case "dedupWithinWatermark" => Streams.toForeachBatchSink(
          Streams.dedupWithinWatermark(in.toDF()), sinkDir, (_, _) => ())
      }
      val lat = try batches.zipWithIndex.map { case (b, i) =>
        val span = tracer.map(_.beginOp(s"$job#$i", s"Streams.$job"))
        val s = System.nanoTime()
        in.addData(b)
        q.processAllAvailable()
        val d = (System.nanoTime() - s) / 1e9
        for (t <- tracer; sp <- span) t.endOp(sp)
        d
      } finally q.stop()
      JobRun(job, lat, q.recentProgress.toSeq, sinkName, sinkDir)
    }
    (runs, (System.nanoTime() - t0) / 1e9)
  }

  /** A warm-up replay, one traced replay, the gate on the traced replay's
    * sinks, then the single-core baseline. The baseline needs a local[1]
    * context, so this stops `spark` and must be a run's last step.
    * Returns per-layer metrics, micro-batches plus gated jobs attempted,
    * and the jobs that failed the gate. */
  def traced(spark: SparkSession, a: Main.Args, spanFile: String)
      : (Map[String, Double], Int, Seq[String]) = {
    import spark.implicits._
    val events = Tables.events(spark, a.data)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event].collect()
    val batches = deliver(events.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      .take(replayEvents), a.seed)
    val (_, coldS) = replay(spark, a, batches, None)
    val tracer = new Tracer(spark)
    tracer.start()
    val (runs, wall) = try replay(spark, a, batches, Some(tracer))
      finally tracer.stop()
    tracer.writeSpans(spanFile)
    val bad = gate(spark, batches.flatten, batches, runs)
    val lat = runs.flatMap(_.latS)
    println(f"[perfbench] stream: cold replay $coldS%.3f s, traced replay $wall%.3f s " +
      f"of ${batches.map(_.size).sum} events in ${batches.size} micro-batches x " +
      f"${jobs.size} jobs; gate ${jobs.size - bad.size}/${jobs.size} ok")
    val m = runs.flatMap(progressMetrics).toMap ++ Map(
      "Streams.cold_replay_s" -> coldS,
      "Streams.replay_s" -> wall,
      "Streams.events_per_s" -> replayEvents / wall,
      "Streams.batch_p50_s" -> Stats.median(lat),
      "Streams.driver_self_s" -> tracer.metrics()("driver.self_s")) ++
      singleThreaded(spark, a, batches)
    (m, lat.size + jobs.size, bad)
  }

  /** Per-job layer numbers from the query's own progress reports. */
  private def progressMetrics(r: JobRun): Seq[(String, Double)] = {
    val p = r.progress
    def dur(k: String) = p.map(x => Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1e3
    val st = p.lastOption.toSeq.flatMap(_.stateOperators)
    val pre = s"Streams.${r.job}"
    Seq(
      s"$pre.add_batch_s" -> dur("addBatch"),
      s"$pre.wal_commit_s" -> dur("walCommit"),
      s"$pre.commit_offsets_s" -> dur("commitOffsets"),
      s"$pre.query_planning_s" -> dur("queryPlanning"),
      s"$pre.idle_s" -> (r.latS.sum - dur("triggerExecution")),
      s"$pre.state_rows" -> st.map(_.numRowsTotal).sum.toDouble,
      s"$pre.state_mb" -> st.map(_.memoryUsedBytes).sum / 1048576.0,
      s"$pre.rows_updated" -> p.flatMap(_.stateOperators).map(_.numRowsUpdated).sum.toDouble,
      s"$pre.rows_dropped_by_watermark" ->
        p.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble) ++
      (if (r.job == "dedupWithinWatermark") Seq("sink.write_s" -> dur("addBatch")) else Nil)
  }

  /** The same replay once more on a single core: the baseline a parallel
    * speed-up is read against. */
  private def singleThreaded(spark: SparkSession, a: Main.Args,
      batches: Seq[Seq[Event]]): Map[String, Double] = {
    spark.stop()
    val one = Main.session(a.work, 1)
    try {
      val (_, w) = replay(one, a, batches, None)
      Map("Streams.local1.replay_s" -> w, "Streams.local1.events_per_s" -> replayEvents / w)
    } finally one.stop()
  }

  /** Each job's sink against the same Streams transform run in batch over
    * the replayed events, restricted to what the output mode emitted.
    * Returns the jobs that failed. */
  private def gate(spark: SparkSession, all: Seq[Event], batches: Seq[Seq[Event]],
      runs: Seq[JobRun]): Seq[String] = {
    import spark.implicits._
    val ds: Dataset[Event] = spark.createDataset(all)
    val df: DataFrame = ds.toDF()
    val hour = 3600L * 1000L
    def check(job: String)(ok: => Boolean): Option[String] =
      try { if (ok) None else { System.err.println(s"[perfbench] gate mismatch $job"); Some(job) } }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] gate $job failed: $e"); Some(job) }
    runs.flatMap { r =>
      check(r.job) { r.job match {
        case "watermarkedTumbling" =>
          val got = spark.table(r.sinkName).as[(Timestamp, String, Long, Double)].collect()
          val want = Streams.watermarkedTumbling(df)
            .as[(Timestamp, String, Long, Double)].collect()
            .map(x => (x._1, x._2) -> x).toMap
          // the watermark the last batch ran under closed every window
          // ending at or before it
          val wm = batches.init.flatten.map(_.ts.getTime).max - 2 * hour
          val closed = want.values.filter(_._1.getTime + hour <= wm).map(x => (x._1, x._2)).toSet
          got.forall(g => want.get((g._1, g._2)).exists(w =>
            w._3 == g._3 && math.abs(w._4 - g._4) <= 0.0100001)) &&
            got.map(g => (g._1, g._2)).toSet.size == got.length &&
            closed.subsetOf(got.map(g => (g._1, g._2)).toSet)
        case "statefulSessionize" =>
          def key(s: SessionOut) = (s.user_id, s.start.getTime, s.end.getTime, s.n_events)
          val got = spark.table(r.sinkName).as[SessionOut].collect()
          val gapClosed = Streams.statefulSessionize(ds).collect().map(key).toSet
          val ref = sessions(all)
          val lastOf = ref.groupBy(_._1).map { case (u, v) => u -> v.maxBy(_._2) }
          // every emitted session is exact; every session the batch run
          // closed on a gap was emitted; any other emitted session was
          // closed by the watermark and must be its user's last
          val wrong = got.map(key).filterNot(k =>
            ref.contains(k) && (gapClosed(k) || lastOf(k._1) == k))
          val missing = gapClosed -- got.map(key)
          if (wrong.nonEmpty || missing.nonEmpty)
            System.err.println(s"[perfbench] statefulSessionize: emitted but not " +
              s"in the data ${wrong.take(3).mkString(" ")}; closed in batch but not " +
              s"emitted ${missing.take(3).mkString(" ")} (user, start ms, end ms, events)")
          got.map(key).toSet.size == got.length && wrong.isEmpty && missing.isEmpty
        case "countMinSketch" =>
          spark.table(r.sinkName).as[(Long, Long, Long)].collect().toSet ==
            Streams.countMinSketch(df).as[(Long, Long, Long)].collect().toSet
        case "latestState" =>
          spark.table(r.sinkName).collect().toSet ==
            Streams.latestState(df).collect().toSet
        case "dedupWithinWatermark" =>
          val got = spark.read.parquet(r.sinkDir).select("event_id").as[Long].collect().sorted
          // batch has no within-watermark variant; its batch meaning is a
          // plain dedup on the key
          val want = df.dropDuplicates("event_id").select("event_id").as[Long].collect().sorted
          got.sameElements(want)
      } }
    }
  }
}

object StreamReplay {
  val jobs: Seq[String] = Seq("watermarkedTumbling", "statefulSessionize",
    "countMinSketch", "latestState", "dedupWithinWatermark")

  val replayEvents = 30000
  val microBatches = 2
  val heldBackShare = 0.1
  val maxHoldMs: Long = 25L * 60 * 1000

  /** Splits the events, in event-time order, into micro-batches and
    * applies the seeded out-of-order delivery described on the class. */
  def deliver(events: Seq[Event], seed: Long): Seq[Seq[Event]] = {
    val rnd = new Random(seed)
    val sorted = events.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val size = (sorted.size + microBatches - 1) / microBatches
    val bs = sorted.grouped(size).map(_.toBuffer).toArray
    for (b <- 0 until bs.length - 1) {
      val cur = bs(b)
      val newest = cur.map(_.ts.getTime).max
      val held = cur.indices.filter(i =>
        cur(i).ts.getTime >= newest - maxHoldMs && rnd.nextDouble() < heldBackShare).toSet
      bs(b + 1) ++= held.toSeq.sorted.map(cur)
      bs(b) = cur.indices.filterNot(held).map(cur).toBuffer
    }
    bs.toSeq.map(b => rnd.shuffle(b.toSeq))
  }

  /** Every session in the replayed events (a user's events split at gaps
    * over 30 minutes), as (user, start ms, end ms, events). */
  def sessions(all: Seq[Event]): Set[(Long, Long, Long, Long)] =
    all.groupBy(_.user_id).toSeq.flatMap { case (u, evs) =>
      val ts = evs.map(_.ts.getTime).sorted
      val out = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var start = ts.head
      var last = ts.head
      var n = 1L
      ts.tail.foreach { t =>
        if (t - last > 30L * 60 * 1000) { out += ((u, start, last, n)); start = t; n = 0 }
        last = t; n += 1
      }
      out += ((u, start, last, n))
      out
    }.toSet
}
