package graft

import java.sql.Timestamp

import scala.collection.mutable

import graft.streaming.Streams
import graft.streaming.Streams.{Event, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** §2.8 T1–T8 + S5/S7/J9: incremental semantics that the DuckDB oracle
  * cannot check — window emission, watermark late-drop, dedup state,
  * custom session state with event-time timeout, output modes, file
  * source, memory/foreachBatch sinks. */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long = 1L,
      typ: String = "click", v: Double = 1.0): Event =
    Event(id, ts(t), user, typ, v)

  test("T1 tumbling window counts per event_type (complete mode)") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = Streams.toMemorySink(Streams.tumbling(in.toDF()), "t1",
      OutputMode.Complete())
    in.addData(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:40:00"),
      ev(3, "2024-01-01 11:10:00", typ = "view", v = 2.5))
    q.processAllAvailable()
    val rows = spark.table("t1").as[(Timestamp, String, Long, Double)]
      .collect().sortBy(r => (r._1.getTime, r._2))
    assert(rows.toSeq == Seq(
      (ts("2024-01-01 10:00:00"), "click", 2L, 2.0),
      (ts("2024-01-01 11:00:00"), "view", 1L, 2.5)))
    q.stop()
  }

  test("T2 sliding window: one event lands in four 15-min-slid windows") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = Streams.toMemorySink(Streams.sliding(in.toDF()), "t2",
      OutputMode.Complete())
    in.addData(ev(1, "2024-01-01 10:31:00"))
    q.processAllAvailable()
    val starts = spark.table("t2").select("w_start").as[Timestamp]
      .collect().map(_.toString).sorted
    assert(starts.toSeq == Seq("2024-01-01 09:45:00.0", "2024-01-01 10:00:00.0",
      "2024-01-01 10:15:00.0", "2024-01-01 10:30:00.0"))
    q.stop()
  }

  test("T3 session windows merge within the 30-min gap and split beyond it") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = Streams.toMemorySink(Streams.sessionWindows(in.toDF()), "t3",
      OutputMode.Complete())
    in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:20:00"),
      ev(3, "2024-01-01 12:00:00"),
      ev(4, "2024-01-01 10:00:00", user = 2))
    q.processAllAvailable()
    val rows = spark.table("t3").as[(Timestamp, Timestamp, Long, Long)]
      .collect().sortBy(r => (r._3, r._1.getTime))
    assert(rows.map(r => (r._3, r._4)).toSeq == Seq((1L, 2L), (1L, 1L), (2L, 1L)))
    // session extends 30 min past the last contained event
    assert(rows.head._2 == ts("2024-01-01 10:50:00"))
    q.stop()
  }

  test("T10 streaming top-k (trending) ≡ batch top-k over the same events") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = Streams.toMemorySink(Streams.trendingTopK(in.toDF(), k = 2),
      "t10", OutputMode.Complete())
    val batch1 = Seq(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:01:00"),
      ev(3, "2024-01-01 10:02:00", typ = "view", v = 2.0))
    val batch2 = Seq(ev(4, "2024-01-01 10:03:00", typ = "view", v = 3.0),
      ev(5, "2024-01-01 10:04:00", typ = "view"),
      ev(6, "2024-01-01 10:05:00", typ = "purchase", v = 9.0))
    in.addData(batch1: _*)
    q.processAllAvailable()
    // after batch 1: click(2) beats view(1)
    assert(spark.table("t10").as[(String, Long, Double)].collect().toSeq ==
      Seq(("click", 2L, 2.0), ("view", 1L, 2.0)))
    in.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("t10").as[(String, Long, Double)].collect().toSeq
    // complete mode re-emits the FULL top-k, identical to running the same
    // transform as a batch query over everything seen so far
    val batch = Streams.trendingTopK((batch1 ++ batch2).toDF(), k = 2)
      .as[(String, Long, Double)].collect().toSeq
    assert(streamed == batch && streamed ==
      Seq(("view", 3L, 6.0), ("click", 2L, 2.0)))
    q.stop()
  }

  test("T11 streaming CDC latest-state ≡ batch events_cdc_latest transform") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = Streams.toMemorySink(Streams.latestState(in.toDF()), "t11",
      OutputMode.Complete())
    val batch1 = Seq(
      ev(1, "2024-01-01 10:00:00", user = 1L),
      ev(2, "2024-01-01 10:05:00", user = 2L, typ = "view", v = 2.0),
      ev(3, "2024-01-01 10:06:00", user = 3L, typ = "purchase", v = 5.0))
    val batch2 = Seq(
      // user 1 advances state; user 2's latest becomes an error tombstone;
      // user 3 receives an out-of-order OLD event that must NOT win
      ev(4, "2024-01-01 11:00:00", user = 1L, typ = "purchase", v = 7.0),
      ev(5, "2024-01-01 11:01:00", user = 2L, typ = "error"),
      ev(6, "2024-01-01 09:00:00", user = 3L, typ = "view", v = 1.0))
    in.addData(batch1: _*)
    q.processAllAvailable()
    assert(spark.table("t11").collect().length == 3)
    in.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("t11")
      .as[(Long, Timestamp, String, Double)].collect().toSet
    val batch = Streams.latestState((batch1 ++ batch2).toDF())
      .as[(Long, Timestamp, String, Double)].collect().toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed == Set(
      (1L, ts("2024-01-01 11:00:00"), "purchase", 7.0),
      (3L, ts("2024-01-01 10:06:00"), "purchase", 5.0)),
      s"tombstone/out-of-order semantics broke: $streamed")
    q.stop()
  }

  test("T12 live count-min grid ≡ batch countMinGrid after every micro-batch") {
    // the sketch-maintenance identity: a complete-mode agg over the
    // shared grid transform must equal the batch grid over everything
    // seen so far — i.e. incremental maintenance IS cell-wise-sum merge
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = Streams.toMemorySink(Streams.countMinSketch(in.toDF()), "t12",
      OutputMode.Complete())
    val batch1 = (1 to 6).map(i => ev(i, "2024-01-01 10:00:00", user = i % 3))
    val batch2 = (7 to 12).map(i => ev(i, "2024-01-01 11:00:00", user = i % 5))
    def grid(name: String) = spark.table(name)
      .as[(Long, Long, Long)].collect().toSet
    for ((batch, seen) <- Seq(batch1 -> batch1, batch2 -> (batch1 ++ batch2))) {
      in.addData(batch: _*)
      q.processAllAvailable()
      val expect = Streams.countMinSketch(seen.toDF())
        .as[(Long, Long, Long)].collect().toSet
      assert(grid("t12") == expect, "stream grid diverged from batch")
    }
    // and the grid the stream maintained never under-counts any key
    val cells = spark.table("t12").as[(Long, Long, Long)].collect()
      .map { case (r, b, c) => (r, b) -> c }.toMap
    val seeds = Seq((2654435761L, 1013904223L), (1103515245L, 12345L),
      (214013L, 2531011L), (69069L, 362437L))
    (batch1 ++ batch2).groupBy(_.user_id).foreach { case (u, evs) =>
      val est = seeds.zipWithIndex.map { case ((a, c), r) =>
        cells((r.toLong, ((u * a + c) % 2147483648L) % 512L))
      }.min
      assert(est >= evs.size, s"under-count for user $u")
    }
    q.stop()
  }

  test("T13 live value histogram ≡ batch histogram; quantile readoffs agree") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    // the domain is fixed up front (streams have no two-pass extent step)
    val q = Streams.toMemorySink(
      Streams.valueHistogram(in.toDF(), vmin = 0.0, vmax = 100.0), "t13",
      OutputMode.Complete())
    val batch1 = (1 to 8).map(i => ev(i, "2024-01-01 10:00:00", v = i * 10.0))
    val batch2 = (9 to 12).map(i => ev(i, "2024-01-01 11:00:00", v = i * 5.0))
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("t13").as[(Long, Long)].collect().toMap
    val batch = Streams.valueHistogram((batch1 ++ batch2).toDF(), 0.0, 100.0)
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed.values.sum == 12L, "histogram must cover every event")
    // same grid ⇒ same quantile readoff: p50 = first bin whose cumulative
    // count reaches half the total, identical on both paths
    def p50(h: Map[Long, Long]) = {
      val total = h.values.sum
      h.keys.toSeq.sorted.find(b =>
        h.filter(_._1 <= b).values.sum * 2 >= total).get
    }
    assert(p50(streamed) == p50(batch))
    q.stop()
  }

  test("T16 streaming SCD2 closed intervals ≡ batch events_scd2 on in-order replay") {
    // append-mode type-2 dimension: replaying the real corpus in
    // event-time order must emit EXACTLY the batch build's closed
    // intervals (the open ones live in the state store, by design)
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val events = Tables.events(spark, sfSmall)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    assert(events.length > 100)
    val in = MemoryStream[Streams.Event]
    val q = Streams.toMemorySink(Streams.scd2Stream(in.toDS()).toDF(), "t16",
      OutputMode.Append())
    events.grouped(math.max(1, events.length / 3)).foreach { c =>
      in.addData(c.toSeq: _*); q.processAllAvailable()
    }
    val streamed = spark.table("t16")
      .as[Streams.Scd2Out].collect()
      .map(o => (o.user_id, o.state, o.valid_from.getTime, o.valid_to.getTime))
      .toSet
    val batch = SparkEntry.queries("events_scd2")(spark, sfSmall)
      .filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("state"),
        col("valid_from").cast("timestamp"), col("valid_to").cast("timestamp"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime, r.getTimestamp(3).getTime))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch).take(3)}; " +
        s"batch-only: ${batch.diff(streamed).take(3)}")
    q.stop()
  }

  test("T17 streaming bot profiles ≡ batch events_bot_detection on in-order replay") {
    // live abuse audit: replay the real corpus (timestamps pre-extracted
    // to µs by the SAME expression as the batch audit) in event-time
    // order; after the last batch every user's final profile must equal
    // the batch row bit-for-bit — n_gaps, mean, the floor-rounded cv
    // double, and the verdict
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ticks = Tables.events(spark, sfSmall)
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"), col("event_id"))
      .as[Streams.UserTick].collect().sortBy(t => (t.us, t.event_id))
    assert(ticks.length > 100)
    val in = MemoryStream[Streams.UserTick]
    val q = Streams.toMemorySink(Streams.botProfileStream(in.toDS()).toDF(),
      "t17", OutputMode.Update())
    ticks.grouped(math.max(1, ticks.length / 3)).foreach { c =>
      in.addData(c.toSeq: _*); q.processAllAvailable()
    }
    // update mode appends one row per (key, batch): last row per key is
    // the final profile (ties on n_gaps are identical rows by construction)
    val streamed = spark.table("t17").as[Streams.BotOut].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_gaps) }
    val batch = SparkEntry.queries("events_bot_detection")(spark, sfSmall)
      .collect().map(r => r.getLong(0) -> Streams.BotOut(r.getLong(0),
        r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toMap
    assert(streamed.size == batch.size,
      s"${streamed.size} streamed users vs ${batch.size} batch users")
    assert(streamed == batch,
      s"diff: ${streamed.toSet.diff(batch.toSet).take(3)}")
    q.stop()
  }

  test("T18 live PSI grid ≡ batch events_psi_drift after replaying the second half") {
    // live drift monitoring: the reference histogram is the first
    // calendar half (static, batch-built); the stream replays the second
    // half pre-binned by the SHARED bin expression; after the last
    // micro-batch, psiFromCounts over (static ref ⋈ live grid) must
    // equal the batch audit bit-for-bit — same counts, same expression
    // tree, doubles included
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val binned = graft.queries.LogAnalytics.psiBinned(spark, sfSmall).cache()
    val ref = binned.filter(col("per") === 0L)
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("c_ref"))
    val ticks = binned.filter(col("per") === 1L)
      .select(col("event_type"), col("bin")).as[Streams.PsiTick].collect()
    assert(ticks.length > 100)
    val in = MemoryStream[Streams.PsiTick]
    val q = Streams.toMemorySink(Streams.psiDriftCounts(in.toDF()), "t18",
      OutputMode.Complete())
    ticks.grouped(math.max(1, ticks.length / 3)).foreach { c =>
      in.addData(c.toSeq: _*); q.processAllAvailable()
    }
    val rc = ref.join(spark.table("t18"), Seq("event_type", "bin"), "full")
      .na.fill(0L, Seq("c_ref", "c_cur"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    val streamed = rows(graft.queries.LogAnalytics.psiFromCounts(rc))
    val batch = rows(SparkEntry.queries("events_psi_drift")(spark, sfSmall))
    assert(streamed == batch, s"stream $streamed != batch $batch")
    q.stop()
    binned.unpersist()
  }

  test("T20 live seasonal grid ≡ batch events_seasonal_profile after full replay") {
    // live load profiling: replay the fixture's events projected by the
    // SHARED (type, dow, hr) expression; the complete-mode grid plus the
    // shared index read-off must equal the batch profile exactly —
    // counts, and the one derived double, bit-for-bit
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ticks = graft.queries.LogAnalytics.seasonalTicks(
      Tables.events(spark, sfSmall)).as[Streams.SeasonalTick].collect()
    assert(ticks.length > 100)
    val in = MemoryStream[Streams.SeasonalTick]
    val q = Streams.toMemorySink(Streams.seasonalCells(in.toDF()), "t20",
      OutputMode.Complete())
    ticks.grouped(math.max(1, ticks.length / 3)).foreach { c =>
      in.addData(c.toSeq: _*); q.processAllAvailable()
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // the read-off self-joins the grid (cells ⋈ per-type totals), which
    // trips conflicting-reference resolution on a raw MemoryPlan view —
    // checkpoint the grid first, as a deployment reading a sink table would
    val grid = spark.table("t20").localCheckpoint(true)
    val streamed = rows(graft.queries.LogAnalytics.seasonalFromCells(grid))
    val batch = rows(SparkEntry.queries("events_seasonal_profile")(
      spark, sfSmall))
    assert(streamed == batch, "live seasonal profile diverged from batch")
    q.stop()
  }

  test("T21 live SRM grid ≡ batch events_ab_srm after full replay") {
    // live assignment-integrity: replay the fixture's distinct
    // (type, user) ticks; the complete-mode (type, arm) grid plus the
    // shared chi-square read-off must equal the batch audit exactly
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ticks = Tables.events(spark, sfSmall)
      .select(col("event_type"), col("user_id")).distinct()
      .as[Streams.SrmTick].collect()
    assert(ticks.length > 50) // sf0.001 has ~75 distinct (type, user) pairs
    val in = MemoryStream[Streams.SrmTick]
    val q = Streams.toMemorySink(Streams.srmGrid(in.toDF()), "t21",
      OutputMode.Complete())
    ticks.grouped(math.max(1, ticks.length / 3)).foreach { c =>
      in.addData(c.toSeq: _*); q.processAllAvailable()
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    val grid = spark.table("t21").localCheckpoint(true)
    val streamed = rows(graft.queries.LogAnalytics.srmFromGrid(grid))
    val batch = rows(SparkEntry.queries("events_ab_srm")(spark, sfSmall))
    assert(streamed == batch, "live SRM audit diverged from batch")
    q.stop()
  }

  test("T23 live SLO burn grid ≡ batch events_error_rate_slo after full replay") {
    // live error-budget monitoring: replay the fixture's (hour, is-error)
    // ticks; the complete-mode hourly grid read through the shared
    // multiwindow burn expression must equal the batch monitor exactly —
    // rates, and the joint-breach page flag, bit-for-bit
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ticks = graft.queries.LogAnalytics.sloTicks(
      Tables.events(spark, sfSmall)).as[Streams.SloTick].collect()
    assert(ticks.length > 100)
    val in = MemoryStream[Streams.SloTick]
    val q = Streams.toMemorySink(Streams.sloGrid(in.toDF()), "t23",
      OutputMode.Complete())
    ticks.grouped(math.max(1, ticks.length / 3)).foreach { c =>
      in.addData(c.toSeq: _*); q.processAllAvailable()
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toSeq
    // the read-off self-joins the grid — checkpoint it off the raw
    // MemoryPlan view first (the T20 discipline)
    val grid = spark.table("t23").localCheckpoint(true)
    val streamed = rows(graft.queries.LogAnalytics.sloFromGrid(grid))
    val batch = rows(SparkEntry.queries("events_error_rate_slo")(
      spark, sfSmall))
    assert(streamed == batch, "live SLO burn monitor diverged from batch")
    q.stop()
  }

  test("T22 live velocity flags ≡ batch events_velocity_flags on in-order replay") {
    // live rate limiting: replay the fixture's events in (us, event_id)
    // order; the append-mode flag stream must equal the batch RANGE-frame
    // audit exactly — same events flagged, same window populations.
    // Flush contract: the trailing tie group per user is held in state
    // until a strictly later µs arrives, so the replay closes with one
    // heartbeat tick per user 2 windows past the corpus end — the
    // heartbeats flush every real group and can never flag themselves
    // (their own window holds only the heartbeat, n = 1 < threshold)
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ticks = Tables.events(spark, sfSmall)
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"), col("event_id"))
      .as[Streams.VelocityTick].collect().sortBy(t => (t.us, t.event_id))
    assert(ticks.length > 100)
    val hbUs = ticks.map(_.us).max + 2L * 3600000000L
    val heartbeats = ticks.map(_.user_id).distinct
      .map(u => Streams.VelocityTick(u, hbUs, -1L - u))
    val in = MemoryStream[Streams.VelocityTick]
    val q = Streams.toMemorySink(Streams.velocityStream(in.toDS()).toDF(),
      "t22", OutputMode.Append())
    ticks.grouped(math.max(1, ticks.length / 3)).foreach { c =>
      in.addData(c.toSeq: _*); q.processAllAvailable()
    }
    in.addData(heartbeats.toSeq: _*); q.processAllAvailable()
    val streamed = spark.table("t22").as[(Long, Long, Long, Long)]
      .collect().toSet
    val batch = SparkEntry.queries("events_velocity_flags")(spark, sfSmall)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch, s"live velocity flags diverged: " +
      s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
    q.stop()
  }

  test("T22b velocity tie group split across micro-batches scores as one group") {
    // the regression the held-group state exists for: a same-µs tie
    // group whose members arrive in DIFFERENT micro-batches must still
    // be scored as a whole (batch RANGE-frame by-value semantics).
    // user 1: t=1s (id 1), then ids 2 and 3 tied at t=2s but split
    // across batches, then a heartbeat. Threshold 3 is reached only
    // when the tie group is counted whole — per-batch scoring would
    // have scored id 2 at n=2 (no flag) and never re-scored it
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val s1 = 1000000L
    val in = MemoryStream[Streams.VelocityTick]
    val q = Streams.toMemorySink(Streams.velocityStream(in.toDS()).toDF(),
      "t22b", OutputMode.Append())
    in.addData(Streams.VelocityTick(1L, 1L * s1, 1L),
      Streams.VelocityTick(1L, 2L * s1, 2L))
    q.processAllAvailable()
    in.addData(Streams.VelocityTick(1L, 2L * s1, 3L))
    q.processAllAvailable()
    assert(spark.table("t22b").isEmpty,
      "held tie group scored before a strictly later tick proved it complete")
    in.addData(Streams.VelocityTick(1L, 2L * s1 + 7200L * s1, -2L))
    q.processAllAvailable()
    val streamed = spark.table("t22b").as[(Long, Long, Long, Long)]
      .collect().toSet
    assert(streamed == Set((1L, 2L, 2L * s1, 3L), (1L, 3L, 2L * s1, 3L)),
      s"split tie group mis-scored: $streamed")
    q.stop()
  }

  test("T19 live activity streaks ≡ batch events_streaks on in-order replay") {
    // live engagement scoring: replay the deduped (user, day) activity
    // table in day order; after the last micro-batch every user's final
    // streak profile must equal the batch gaps-and-islands row exactly —
    // active days, longest streak, and the earliest-start tie-break
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ticks = Tables.events(spark, sfSmall)
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000L").as("day"))
      .distinct().as[Streams.StreakTick].collect()
      .sortBy(t => (t.day, t.user_id))
    assert(ticks.length > 100)
    val in = MemoryStream[Streams.StreakTick]
    val q = Streams.toMemorySink(Streams.streaksStream(in.toDS()).toDF(),
      "t19", OutputMode.Update())
    ticks.grouped(math.max(1, ticks.length / 3)).foreach { c =>
      in.addData(c.toSeq: _*); q.processAllAvailable()
    }
    // update mode appends one row per (key, batch): last row per key is
    // the final profile (ties on n_active_days are identical rows)
    val streamed = spark.table("t19").as[Streams.StreakOut].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_active_days) }
    val batch = SparkEntry.queries("events_streaks")(spark, sfSmall)
      .collect().map(r => r.getLong(0) -> Streams.StreakOut(r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(streamed.size == batch.size,
      s"${streamed.size} streamed users vs ${batch.size} batch users")
    assert(streamed == batch,
      s"diff: ${streamed.toSet.diff(batch.toSet).take(3)}")
    q.stop()
  }

  test("T15 streaming Holt state ≡ batch events_forecast_holt after full replay") {
    // the recurrence-as-keyed-state identity: replay the fixture's REAL
    // hourly series in hr-ordered micro-batches; after the last batch the
    // per-series state must equal the batch fold — level, trend, and
    // step count, all micro-unit integers, bit-for-bit
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hourly = Tables.events(spark, sfMid)
      .select(col("event_type"), expr("unix_timestamp(ts) DIV 3600").as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"))
      .as[Streams.HourlyCount].collect().sortBy(_.hr)
    assert(hourly.length > 100)
    val in = MemoryStream[Streams.HourlyCount]
    val q = Streams.toMemorySink(Streams.holtStream(in.toDS()).toDF(), "t15",
      OutputMode.Update())
    // three hr-ordered chunks — finalized windows arrive oldest-first
    val cut1 = hourly(hourly.length / 3).hr
    val cut2 = hourly(2 * hourly.length / 3).hr
    val chunks = Seq(hourly.filter(_.hr <= cut1),
      hourly.filter(h => h.hr > cut1 && h.hr <= cut2),
      hourly.filter(_.hr > cut2))
    chunks.foreach { c => in.addData(c.toSeq: _*); q.processAllAvailable() }
    // update mode appends one row per (key, batch): the LAST row per key
    // is the final state
    val streamed = spark.table("t15")
      .as[Streams.HoltOut].collect().groupBy(_.event_type)
      .map { case (k, v) => k -> v.maxBy(_.n_hours) }
    val batch = SparkEntry.queries("events_forecast_holt")(spark, sfMid)
      .collect().map(r => r.getString(0) ->
        Streams.HoltOut(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
    q.stop()
  }

  test("T4 watermark: late event is dropped from an already-closed window") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = Streams.toMemorySink(Streams.watermarkedTumbling(in.toDF()), "t4",
      OutputMode.Append())
    in.addData(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:20:00"))
    q.processAllAvailable()
    in.addData(ev(3, "2024-01-01 13:30:00")) // raises max event time
    q.processAllAvailable()
    in.addData(ev(4, "2024-01-01 13:40:00")) // watermark -> 11:30, closes 10-11
    q.processAllAvailable()
    in.addData(ev(5, "2024-01-01 10:30:00")) // 2h+ late: must be dropped
    q.processAllAvailable()
    in.addData(ev(6, "2024-01-01 13:50:00"))
    q.processAllAvailable()
    val w10 = spark.table("t4").filter(col("w_start") === ts("2024-01-01 10:00:00"))
      .as[(Timestamp, String, Long, Double)].collect()
    assert(w10.length == 1 && w10.head._3 == 2L,
      s"late event leaked into closed window: ${w10.toSeq}")
    q.stop()
  }

  test("T5 dropDuplicatesWithinWatermark emits each event_id once") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = Streams.toMemorySink(Streams.dedupWithinWatermark(in.toDF()), "t5",
      OutputMode.Append())
    in.addData(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:00"),
      ev(2, "2024-01-01 10:05:00"))
    q.processAllAvailable()
    in.addData(ev(1, "2024-01-01 10:01:00"), ev(3, "2024-01-01 10:10:00"))
    q.processAllAvailable()
    val ids = spark.table("t5").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
    q.stop()
  }

  test("T6 stateful sessionizer: in-batch gap close + event-time timeout") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = Streams.statefulSessionize(in.toDS()).writeStream
      .format("memory").queryName("t6").outputMode("append").start()
    // u2's two events straddle a >30min gap inside one batch -> closed inline
    in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:10:00"),
      ev(10, "2024-01-01 10:00:00", user = 2), ev(11, "2024-01-01 11:00:00", user = 2))
    q.processAllAvailable()
    in.addData(ev(20, "2024-01-01 12:00:00", user = 9))
    q.processAllAvailable()
    in.addData(ev(21, "2024-01-01 12:10:00", user = 9)) // watermark 11:30 > u1 10:40
    q.processAllAvailable()
    val sessions = spark.table("t6").as[SessionOut].collect()
    val u2gap = sessions.filter(s => s.user_id == 2 && !s.ended_by_timeout)
    assert(u2gap.map(s => (s.start, s.end, s.n_events)).toSeq ==
      Seq((ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:00"), 1L)))
    val u1 = sessions.filter(_.user_id == 1)
    assert(u1.map(s => (s.start, s.end, s.n_events, s.ended_by_timeout)).toSeq ==
      Seq((ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L, true)))
    q.stop()
  }

  test("T6b transformWithState sessionizer: gap close + timer-driven close") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = Streams.statefulSessionizeTws(in.toDS()).writeStream
      .format("memory").queryName("t6b").outputMode("append").start()
    // same scenario as the T6 test: u2 closes on an in-batch gap; u1 closes
    // when the watermark passes its deadline and the registered timer fires
    in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:10:00"),
      ev(10, "2024-01-01 10:00:00", user = 2), ev(11, "2024-01-01 11:00:00", user = 2))
    q.processAllAvailable()
    in.addData(ev(20, "2024-01-01 12:00:00", user = 9))
    q.processAllAvailable()
    in.addData(ev(21, "2024-01-01 12:10:00", user = 9)) // watermark 11:30 > u1 10:40
    q.processAllAvailable()
    val sessions = spark.table("t6b").as[SessionOut].collect()
    val u2gap = sessions.filter(s => s.user_id == 2 && !s.ended_by_timeout)
    assert(u2gap.map(s => (s.start, s.end, s.n_events)).toSeq ==
      Seq((ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:00"), 1L)))
    val u1 = sessions.filter(_.user_id == 1)
    assert(u1.map(s => (s.start, s.end, s.n_events, s.ended_by_timeout)).toSeq ==
      Seq((ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L, true)))
    q.stop()
  }

  // one user's earlier event arrives a micro-batch after a later one, still
  // inside the watermark: it joins the open session and moves its start back
  for ((label, sessionize) <- Seq(
      "T6" -> Streams.statefulSessionize _,
      "T6b" -> Streams.statefulSessionizeTws _))
    test(s"$label sessionizer: an earlier event in a later batch moves the start back") {
      implicit val ctx = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[Event]
      val name = s"${label.toLowerCase}_late"
      val q = sessionize(in.toDS()).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      in.addData(ev(1, "2024-01-01 10:10:00"))
      q.processAllAvailable()
      in.addData(ev(2, "2024-01-01 10:00:00")) // watermark 09:40: not dropped
      q.processAllAvailable()
      in.addData(ev(20, "2024-01-01 12:00:00", user = 9))
      q.processAllAvailable()
      in.addData(ev(21, "2024-01-01 12:10:00", user = 9)) // closes u1 at 10:40
      q.processAllAvailable()
      val u1 = spark.table(name).as[SessionOut].collect().filter(_.user_id == 1)
      assert(u1.map(s => (s.start, s.end, s.n_events, s.ended_by_timeout)).toSeq ==
        Seq((ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L, true)))
      q.stop()
    }

  test("T6b ≡ W2: transformWithState sessionizer matches the batch sessionizer") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val expected = graft.queries.Windows
      .queries("window_lag_sessionize")(spark, sfSmall)
      .select(col("user_id"), col("n_sessions"))
      .as[(Long, Long)].collect().toMap
    val events = Tables.events(spark, sfSmall)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val maxT = events.map(_.ts.getTime).max
    val in = MemoryStream[Event]
    val q = Streams.statefulSessionizeTws(in.toDS()).writeStream
      .format("memory").queryName("t6bw2").outputMode("append").start()
    in.addData(events.toSeq)
    q.processAllAvailable()
    in.addData(Event(-1L, new Timestamp(maxT + 3600_000L), -1L, "x", 0.0))
    q.processAllAvailable()
    in.addData(Event(-2L, new Timestamp(maxT + 7200_000L), -1L, "x", 0.0))
    q.processAllAvailable()
    val got = spark.table("t6bw2").as[SessionOut].collect()
      .filter(_.user_id >= 0)
      .groupBy(_.user_id).map { case (u, ss) => u -> ss.length.toLong }
    assert(got.size == expected.size)
    got.foreach { case (u, n) =>
      assert(n == expected(u), s"user $u: tws=$n batch=${expected(u)}")
    }
    q.stop()
  }

  test("T7/J9 stream-static join enriches events with the customer dim") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val customers = Tables.customer(spark, sfSmall)
    val q = Streams.toMemorySink(
      Streams.enrichWithCustomers(in.toDF(), customers), "t7",
      OutputMode.Append())
    in.addData(ev(1, "2024-01-01 10:00:00", user = 7),
      ev(2, "2024-01-01 10:01:00", user = 999999))
    q.processAllAvailable()
    val rows = spark.table("t7").select("event_id", "c_name").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1L,
      s"unmatched user must drop (inner join): ${rows.toSeq}")
    assert(rows.head.getString(1) != null)
    q.stop()
  }

  test("T8 output modes: complete snapshots vs update deltas") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val inC = MemoryStream[Event]
    val inU = MemoryStream[Event]
    val qc = Streams.toMemorySink(Streams.tumbling(inC.toDF()), "t8c",
      OutputMode.Complete())
    val qu = Streams.toMemorySink(Streams.tumbling(inU.toDF()), "t8u",
      OutputMode.Update())
    val b1 = Seq(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:10:00"))
    val b2 = Seq(ev(3, "2024-01-01 10:20:00"), ev(4, "2024-01-01 11:05:00"))
    inC.addData(b1); qc.processAllAvailable()
    inC.addData(b2); qc.processAllAvailable()
    inU.addData(b1); qu.processAllAvailable()
    inU.addData(b2); qu.processAllAvailable()
    // complete = latest snapshot only: 2 windows
    assert(spark.table("t8c").count() == 2)
    val cRow = spark.table("t8c")
      .filter(col("w_start") === ts("2024-01-01 10:00:00"))
      .select("n").as[Long].collect()
    assert(cRow.toSeq == Seq(3L))
    // update = one delta per change: window A emitted twice (n=2 then 3)
    val uRows = spark.table("t8u")
      .filter(col("w_start") === ts("2024-01-01 10:00:00"))
      .select("n").as[Long].collect().sorted
    assert(uRows.toSeq == Seq(2L, 3L))
    qc.stop(); qu.stop()
  }

  test("S5 file source streams parquet drops with explicit schema") {
    import spark.implicits._
    val dir = "/root/repo/target/stream_in_" + System.nanoTime()
    Tables.events(spark, sfSmall)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .limit(100).write.parquet(dir)
    val q = Streams.toMemorySink(Streams.fileSource(spark, dir), "s5",
      OutputMode.Append())
    q.processAllAvailable()
    assert(spark.table("s5").count() == 100)
    assert(spark.table("s5").schema == Streams.eventSchema)
    q.stop()
  }

  test("S7 foreachBatch fans out to parquet and a batch accumulator") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/repo/target/stream_out_" + System.nanoTime()
    val seen = mutable.Map.empty[Long, Long]
    val in = MemoryStream[Event]
    val q = Streams.toForeachBatchSink(in.toDF(), dir,
      (id, n) => seen.synchronized { seen(id) = n })
    in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:01:00"))
    q.processAllAvailable()
    in.addData(ev(3, "2024-01-01 10:02:00"))
    q.processAllAvailable()
    assert(seen.values.sum == 3L)
    assert(spark.read.parquet(dir).count() == 3L)
    q.stop()
  }

  test("L2-streaming near-dup: incremental index flags EXACTLY the batch pair set") {
    // the stream ≡ batch discipline, applied to the engine's north-star
    // composition: replay the sf0.01 documents corpus (which carries the
    // 25 planted near-dup pairs) through the incremental MinHash index in
    // 5 micro-batches, in a scrambled order so pair members usually land
    // in DIFFERENT batches — then the union of per-batch flag outputs
    // must equal batch dedup_minhash row-for-row, jaccard included.
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val (ixDir, prDir, cpDir) = (s"/root/repo/target/nd_ix_$tag",
      s"/root/repo/target/nd_pr_$tag", s"/root/repo/target/nd_cp_$tag")
    val docs = spark.read.parquet(s"$sfMid/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .sortBy(d => (d._1 * 2654435761L) % 997) // deterministic scramble
    val in = MemoryStream[(Long, String)]
    val q = Streams.nearDupStream(
      in.toDF().toDF("doc_id", "text"), ixDir, prDir, cpDir)
    docs.grouped(100).foreach { chunk =>
      in.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.read.parquet(prDir)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val batch = SparkEntry.queries("dedup_minhash")(spark, sfMid)
      .as[(Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream flagged ${streamed.size} pairs, batch ${batch.size}; " +
        s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    // the incremental path must actually have been exercised across
    // batches: flags span several micro-batches, and at least one pair's
    // members were indexed in different batches (a genuinely cross-batch
    // detection, not a single-batch self-join in disguise)
    val flagBatches = spark.read.parquet(prDir)
      .select("batch_id").distinct().count()
    assert(flagBatches >= 2, s"all flags landed in $flagBatches batch")
    val whereIndexed = spark.read.parquet(ixDir)
      .select(col("doc_id"), col("batch_id")).as[(Long, Int)].collect().toMap
    assert(batch.exists(p => whereIndexed(p._1) != whereIndexed(p._2)),
      "no cross-batch pair — the scramble failed to split any dup group")
    spark.catalog.clearCache(); Memo.clear()
  }

  test("L8-streaming semantic dedup: incremental cell index equals batch drop set") {
    // stream ≡ batch for the online SemDeDup twin: replay the sf0.01
    // embeddings (minus the reserved query vector) through the
    // cell-indexed stream in scrambled order, aggregate the union of
    // per-batch pair flags per dropped vector, and require row equality
    // with batch dedup_semantic — cosines, counts and representatives
    // included. Centroids are the SAME Memo-served trained table the
    // batch query assigns against.
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val (ixDir, prDir, cpDir) = (s"/root/repo/target/sd_ix_$tag",
      s"/root/repo/target/sd_pr_$tag", s"/root/repo/target/sd_cp_$tag")
    val vecs = spark.read.parquet(s"$sfMid/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .sortBy(v => (v._1 * 2654435761L) % 997) // deterministic scramble
    val cents = graft.queries.LlmSimilarity.ivfTrained(spark, sfMid)
    val in = MemoryStream[(Long, Array[Float])]
    val q = Streams.semanticDedupStream(
      in.toDF().toDF("vec_id", "embedding"), cents, ixDir, prDir, cpDir)
    vecs.grouped(50).foreach { chunk =>
      in.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.read.parquet(prDir)
      .groupBy(col("vec_id"), col("cell"))
      .agg(count(lit(1)).as("n_dups"), max(col("cosine")).as("max_cosine"),
        min(col("kept_id")).as("kept_id"))
      .select("vec_id", "cell", "n_dups", "max_cosine", "kept_id")
      .as[(Long, Long, Long, Double, Long)].collect().toSet
    val batch = SparkEntry.queries("dedup_semantic")(spark, sfMid)
      .as[(Long, Long, Long, Double, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream dropped ${streamed.size} vecs, batch ${batch.size}; " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    // incremental path genuinely exercised: flags span batches, and some
    // flagged pair's members were indexed in different micro-batches
    val flagBatches = spark.read.parquet(prDir)
      .select("batch_id").distinct().count()
    assert(flagBatches >= 2, s"all flags landed in $flagBatches batch")
    val whereIndexed = spark.read.parquet(ixDir)
      .select(col("vec_id"), col("batch_id")).as[(Long, Int)].collect().toMap
    val pairRows = spark.read.parquet(prDir)
      .select("kept_id", "vec_id").as[(Long, Long)].collect()
    assert(pairRows.exists(p => whereIndexed(p._1) != whereIndexed(p._2)),
      "no cross-batch pair — the scramble failed to split any dup pair")
    spark.catalog.clearCache(); Memo.clear()
  }

  test("L2-streaming near-dup checkpoint recovery: restart neither re-flags nor drops") {
    // the effectively-once claim under an actual restart: stream half the
    // corpus from a file source, stop the query, start a FRESH query on
    // the same checkpoint for the rest — the committed offsets must skip
    // the already-indexed files, batch ids must keep advancing (so index
    // partitions never collide), and the cumulative flag set must still
    // equal batch dedup_minhash with zero duplicate pair rows.
    import spark.implicits._
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val (inDir, ixDir, prDir, cpDir) = (s"/root/repo/target/ndck_in_$tag",
      s"/root/repo/target/ndck_ix_$tag", s"/root/repo/target/ndck_pr_$tag",
      s"/root/repo/target/ndck_cp_$tag")
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val docs = spark.read.parquet(s"$sfMid/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .sortBy(d => (d._1 * 2654435761L) % 997)
    def drop(rows: Array[(Long, String)], part: String): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq.map(r =>
          org.apache.spark.sql.Row(r._1, r._2)), 1), docSchema)
        .write.parquet(s"$inDir/$part")
    def runOnce(): Unit = {
      val src = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
      val q = Streams.nearDupStream(src, ixDir, prDir, cpDir)
      q.processAllAvailable(); q.stop()
    }
    val (h1, h2) = docs.splitAt(250)
    h1.grouped(125).zipWithIndex.foreach { case (c, i) => drop(c.toArray, s"a$i") }
    runOnce()
    val midBatches = spark.read.parquet(ixDir)
      .select("batch_id").distinct().count()
    h2.grouped(125).zipWithIndex.foreach { case (c, i) => drop(c.toArray, s"b$i") }
    runOnce() // fresh query, same checkpoint
    val flags = spark.read.parquet(prDir).select("id1", "id2", "jaccard")
    assert(flags.count() == flags.distinct().count(),
      "restart double-flagged at least one pair")
    val streamed = flags.as[(Long, Long, Double)].collect().toSet
    val batch = SparkEntry.queries("dedup_minhash")(spark, sfMid)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch,
      s"after restart: stream ${streamed.size} pairs vs batch ${batch.size}")
    assert(spark.read.parquet(ixDir).select("batch_id").distinct().count()
      > midBatches, "second run minted no new batch ids — nothing resumed")
    assert(spark.read.parquet(ixDir).select("doc_id").count() ==
      spark.read.parquet(ixDir).select("doc_id").distinct().count(),
      "restart re-indexed at least one document")
    spark.catalog.clearCache(); Memo.clear()
  }

  test("L8-streaming checkpoint recovery: cell-pruned index read, no re-flag, no drop") {
    // VERDICT r10 #6: semanticDedupStream previously re-read the FULL
    // index every micro-batch (quadratic cumulative IO on long streams)
    // and had no restart variant. This replay drives both fixes: stream
    // half the embeddings from a file source, stop, restart a FRESH
    // query on the same checkpoint for the rest — and then assert (a)
    // effectively-once under restart (no duplicate pair rows, no
    // re-indexed vectors, batch ids keep advancing), (b) aggregate
    // equality with batch dedup_semantic, and (c) the per-batch IO
    // bound: the index layout is partitioned by cell, so a cell-set
    // filter reads ONLY that cell's files.
    import spark.implicits._
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val (inDir, ixDir, prDir, cpDir) = (s"/root/repo/target/sdck_in_$tag",
      s"/root/repo/target/sdck_ix_$tag", s"/root/repo/target/sdck_pr_$tag",
      s"/root/repo/target/sdck_cp_$tag")
    val vecSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val vecs = spark.read.parquet(s"$sfMid/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .sortBy(v => (v._1 * 2654435761L) % 997) // deterministic scramble
    val cents = graft.queries.LlmSimilarity.ivfTrained(spark, sfMid)
    def drop(rows: Array[(Long, Array[Float])], part: String): Unit =
      spark.createDataset(rows.toSeq).toDF("vec_id", "embedding")
        .coalesce(1).write.parquet(s"$inDir/$part")
    def runOnce(): Unit = {
      val src = spark.readStream.schema(vecSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
      val q = Streams.semanticDedupStream(src, cents, ixDir, prDir, cpDir)
      q.processAllAvailable(); q.stop()
    }
    val (h1, h2) = vecs.splitAt(250)
    h1.grouped(125).zipWithIndex.foreach { case (c, i) => drop(c.toArray, s"a$i") }
    runOnce()
    val midBatches = spark.read.parquet(ixDir)
      .select("batch_id").distinct().count()
    h2.grouped(125).zipWithIndex.foreach { case (c, i) => drop(c.toArray, s"b$i") }
    runOnce() // fresh query, same checkpoint
    val pairs = spark.read.parquet(prDir)
      .select("kept_id", "vec_id", "cell", "cosine")
    assert(pairs.count() == pairs.distinct().count(),
      "restart double-flagged at least one pair")
    val streamed = spark.read.parquet(prDir)
      .groupBy(col("vec_id"), col("cell"))
      .agg(count(lit(1)).as("n_dups"), max(col("cosine")).as("max_cosine"),
        min(col("kept_id")).as("kept_id"))
      .select(col("vec_id"), col("cell").cast("long"), col("n_dups"),
        col("max_cosine"), col("kept_id"))
      .as[(Long, Long, Long, Double, Long)].collect().toSet
    val batch = SparkEntry.queries("dedup_semantic")(spark, sfMid)
      .as[(Long, Long, Long, Double, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"after restart: stream ${streamed.size} drops vs batch ${batch.size}; " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(spark.read.parquet(ixDir).select("batch_id").distinct().count()
      > midBatches, "second run minted no new batch ids — nothing resumed")
    assert(spark.read.parquet(ixDir).select("vec_id").count() ==
      spark.read.parquet(ixDir).select("vec_id").distinct().count(),
      "restart re-indexed at least one vector")
    // (c) the IO bound the stream relies on: cell is a PARTITION column,
    // so filtering to one cell's worth of index reads only that cell's
    // files — strictly fewer than the full index
    val oneCell = spark.read.parquet(ixDir)
      .select(col("cell").cast("long")).distinct()
      .orderBy(col("cell")).as[Long].head()
    val prunedFiles = spark.read.parquet(ixDir)
      .filter(col("cell").cast("long") === oneCell)
      .select(input_file_name()).distinct().as[String].collect()
    val totalFiles = spark.read.parquet(ixDir)
      .select(input_file_name()).distinct().count()
    assert(prunedFiles.nonEmpty &&
      prunedFiles.forall(_.contains(s"cell=$oneCell")),
      "cell filter read a file outside its partition")
    assert(prunedFiles.length < totalFiles,
      s"cell filter read all $totalFiles index files — pruning inactive")
    spark.catalog.clearCache(); Memo.clear()
  }

  test("S5/S7 checkpoint recovery: restart resumes exactly-once from the offset log") {
    import spark.implicits._
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val (inDir, outDir, cpDir) = (s"/root/repo/target/ck_in_$tag",
      s"/root/repo/target/ck_out_$tag", s"/root/repo/target/ck_cp_$tag")
    val all = Tables.events(spark, sfSmall)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .limit(100).collect()
    def drop(rows: Array[org.apache.spark.sql.Row], part: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1),
        Streams.eventSchema).write.parquet(s"$inDir/$part")
    def runOnce(): Unit = {
      val q = Streams.fileSource(spark, s"$inDir/*")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cpDir)
        .outputMode(OutputMode.Append()).start()
      q.processAllAvailable(); q.stop()
    }
    drop(all.take(60), "b1"); runOnce()
    assert(spark.read.parquet(outDir).count() == 60)
    drop(all.drop(60), "b2"); runOnce() // fresh query, same checkpoint
    val out = spark.read.parquet(outDir)
    assert(out.count() == 100, "restart must not reprocess or skip files")
    assert(out.select("event_id").distinct().count() == 100)
  }

  test("T22c velocity stream recovers from a RocksDB checkpoint restart (≡ batch)") {
    // the durability half of T22: half the corpus through one query,
    // stop, a FRESH query on the same checkpoint for the rest — the
    // per-user trailing-window buffers AND the held pending tie group
    // must come back from the RocksDB state store (the production
    // provider), offsets must skip the already-scored files, and the
    // cumulative flag set must still equal the batch RANGE-frame audit
    // with zero duplicate flags. The raw halving of the sorted tick
    // array can split a same-µs tie group across the restart itself —
    // exactly the state the held group exists to protect.
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tag = java.lang.Long.toHexString(System.nanoTime())
      val (inDir, outDir, cpDir) = (s"/root/repo/target/vck_in_$tag",
        s"/root/repo/target/vck_out_$tag", s"/root/repo/target/vck_cp_$tag")
      val tickSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("us",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType)))
      val ticks = Tables.events(spark, sfSmall)
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"), col("event_id"))
        .as[Streams.VelocityTick].collect().sortBy(t => (t.us, t.event_id))
      val hbUs = ticks.map(_.us).max + 2L * 3600000000L
      val heartbeats = ticks.map(_.user_id).distinct
        .map(u => Streams.VelocityTick(u, hbUs, -1L - u))
      def drop(rows: Array[Streams.VelocityTick], part: String): Unit =
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq.map(t =>
            org.apache.spark.sql.Row(t.user_id, t.us, t.event_id)), 1),
          tickSchema).write.parquet(s"$inDir/$part")
      def runOnce(): Unit = {
        val src = spark.readStream.schema(tickSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
          .as[Streams.VelocityTick]
        val q = Streams.velocityStream(src).toDF()
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", cpDir)
          .outputMode(OutputMode.Append()).start()
        q.processAllAvailable(); q.stop()
      }
      val (h1, h2) = ticks.splitAt(ticks.length / 2)
      drop(h1, "a0"); runOnce()
      val midFlags = spark.read.parquet(outDir).count()
      drop(h2, "b0"); drop(heartbeats, "b1")
      runOnce() // fresh query, same checkpoint, RocksDB state restored
      val flags = spark.read.parquet(outDir)
      assert(flags.count() == flags.distinct().count(),
        "restart double-flagged at least one event")
      val streamed = flags.as[(Long, Long, Long, Long)].collect().toSet
      val batch = SparkEntry.queries("events_velocity_flags")(spark, sfSmall)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"flags diverged after restart: " +
        s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
      assert(flags.count() > midFlags,
        "second run emitted nothing — nothing resumed")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("T23b SLO grid recovers from a RocksDB checkpoint restart (≡ batch)") {
    // durability for the complete-mode grid twins: the restarted query
    // sees ONLY the second half of the tick files (exactly-once file
    // source), so the final grid can only equal the batch monitor if
    // the first half's counts came back from the RocksDB state store.
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tag = java.lang.Long.toHexString(System.nanoTime())
      val (inDir, cpDir) = (s"/root/repo/target/sck_in_$tag",
        s"/root/repo/target/sck_cp_$tag")
      val tickSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("hr",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("e",
          org.apache.spark.sql.types.LongType)))
      val ticks = graft.queries.LogAnalytics.sloTicks(
        Tables.events(spark, sfSmall)).as[Streams.SloTick].collect()
      def drop(rows: Array[Streams.SloTick], part: String): Unit =
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq.map(t =>
            org.apache.spark.sql.Row(t.hr, t.e)), 1),
          tickSchema).write.parquet(s"$inDir/$part")
      def runOnce(name: String): Unit = {
        val src = spark.readStream.schema(tickSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
        val q = Streams.sloGrid(src).writeStream.format("memory")
          .queryName(name).option("checkpointLocation", cpDir)
          .outputMode(OutputMode.Complete()).start()
        q.processAllAvailable(); q.stop()
      }
      val (h1, h2) = ticks.splitAt(ticks.length / 2)
      drop(h1, "a0"); runOnce("t23r1")
      val midTotal = spark.table("t23r1")
        .agg(sum(col("n_total"))).head.getLong(0)
      assert(midTotal == h1.length,
        "first run's grid must cover exactly the first half")
      drop(h2, "b0")
      runOnce("t23r2") // fresh query, same checkpoint, RocksDB restored
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getLong(5))).toSeq
      val grid = spark.table("t23r2").localCheckpoint(true)
      val streamed = rows(graft.queries.LogAnalytics.sloFromGrid(grid))
      val batch = rows(SparkEntry.queries("events_error_rate_slo")(
        spark, sfSmall))
      assert(streamed == batch,
        "SLO burn monitor diverged after a checkpoint restart")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("T20b seasonal grid recovers from a RocksDB checkpoint restart (≡ batch)") {
    // same durability contract as T23b for the week-hour profile: the
    // restarted query sees ONLY the second half of the tick files, so
    // the final grid equals the batch profile only if every first-half
    // cell count came back from the RocksDB state store
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tag = java.lang.Long.toHexString(System.nanoTime())
      val (inDir, cpDir) = (s"/root/repo/target/t20b_in_$tag",
        s"/root/repo/target/t20b_cp_$tag")
      val tickSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("dow",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("hr",
          org.apache.spark.sql.types.LongType)))
      val ticks = graft.queries.LogAnalytics.seasonalTicks(
        Tables.events(spark, sfSmall)).as[Streams.SeasonalTick].collect()
      def drop(rows: Array[Streams.SeasonalTick], part: String): Unit =
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq.map(t =>
            org.apache.spark.sql.Row(t.event_type, t.dow, t.hr)), 1),
          tickSchema).write.parquet(s"$inDir/$part")
      def runOnce(name: String): Unit = {
        val src = spark.readStream.schema(tickSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
        val q = Streams.seasonalCells(src).writeStream.format("memory")
          .queryName(name).option("checkpointLocation", cpDir)
          .outputMode(OutputMode.Complete()).start()
        q.processAllAvailable(); q.stop()
      }
      val (h1, h2) = ticks.splitAt(ticks.length / 2)
      drop(h1, "a0"); runOnce("t20r1")
      val midTotal = spark.table("t20r1").agg(sum(col("n"))).head.getLong(0)
      assert(midTotal == h1.length,
        "first run's grid must cover exactly the first half")
      drop(h2, "b0")
      runOnce("t20r2") // fresh query, same checkpoint, RocksDB restored
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
      val grid = spark.table("t20r2").localCheckpoint(true)
      val streamed = rows(graft.queries.LogAnalytics.seasonalFromCells(grid))
      val batch = rows(SparkEntry.queries("events_seasonal_profile")(
        spark, sfSmall))
      assert(streamed == batch,
        "seasonal profile diverged after a checkpoint restart")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("T21b SRM grid recovers from a RocksDB checkpoint restart (≡ batch)") {
    // durability for the assignment-integrity gate: the restarted query
    // sees only the second half of the (type, user) ticks; the final
    // (type, arm) grid — and the chi-square read-off over it — must
    // still equal the batch audit, which requires the first half's arm
    // counts to come back from the RocksDB state store
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tag = java.lang.Long.toHexString(System.nanoTime())
      val (inDir, cpDir) = (s"/root/repo/target/t21b_in_$tag",
        s"/root/repo/target/t21b_cp_$tag")
      val tickSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType)))
      val ticks = Tables.events(spark, sfSmall)
        .select(col("event_type"), col("user_id")).distinct()
        .as[Streams.SrmTick].collect()
      def drop(rows: Array[Streams.SrmTick], part: String): Unit =
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq.map(t =>
            org.apache.spark.sql.Row(t.event_type, t.user_id)), 1),
          tickSchema).write.parquet(s"$inDir/$part")
      def runOnce(name: String): Unit = {
        val src = spark.readStream.schema(tickSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
        val q = Streams.srmGrid(src).writeStream.format("memory")
          .queryName(name).option("checkpointLocation", cpDir)
          .outputMode(OutputMode.Complete()).start()
        q.processAllAvailable(); q.stop()
      }
      val (h1, h2) = ticks.splitAt(ticks.length / 2)
      drop(h1, "a0"); runOnce("t21r1")
      val midTotal = spark.table("t21r1").agg(sum(col("n"))).head.getLong(0)
      assert(midTotal == h1.length,
        "first run's grid must cover exactly the first half")
      drop(h2, "b0")
      runOnce("t21r2") // fresh query, same checkpoint, RocksDB restored
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSeq
      val grid = spark.table("t21r2").localCheckpoint(true)
      val streamed = rows(graft.queries.LogAnalytics.srmFromGrid(grid))
      val batch = rows(SparkEntry.queries("events_ab_srm")(spark, sfSmall))
      assert(streamed == batch,
        "SRM audit diverged after a checkpoint restart")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("T19b streaks stream recovers from a RocksDB checkpoint restart (≡ batch)") {
    // durability for the update-mode keyed state: half the day-ordered
    // (user, day) ticks through one query into a foreachBatch parquet
    // log (update mode cannot drive a file sink directly), stop, a
    // FRESH query on the same checkpoint for the rest. A user whose
    // activity spans the restart gets a correct final profile only if
    // the six-Long streak state came back from the RocksDB store; the
    // last-per-user row of the cumulative log must equal the batch
    // gaps-and-islands audit exactly
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tag = java.lang.Long.toHexString(System.nanoTime())
      val (inDir, outDir, cpDir) = (s"/root/repo/target/t19b_in_$tag",
        s"/root/repo/target/t19b_out_$tag", s"/root/repo/target/t19b_cp_$tag")
      val tickSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("day",
          org.apache.spark.sql.types.LongType)))
      val ticks = Tables.events(spark, sfSmall)
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000L").as("day"))
        .distinct().as[Streams.StreakTick].collect()
        .sortBy(t => (t.day, t.user_id))
      def drop(rows: Array[Streams.StreakTick], part: String): Unit =
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq.map(t =>
            org.apache.spark.sql.Row(t.user_id, t.day)), 1),
          tickSchema).write.parquet(s"$inDir/$part")
      def runOnce(): Unit = {
        val src = spark.readStream.schema(tickSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
          .as[Streams.StreakTick]
        val q = Streams.streaksStream(src).toDF().writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            b.withColumn("batch_id", lit(id))
              .write.mode("append").parquet(outDir)
          }
          .option("checkpointLocation", cpDir)
          .outputMode(OutputMode.Update()).start()
        q.processAllAvailable(); q.stop()
      }
      val (h1, h2) = ticks.splitAt(ticks.length / 2)
      drop(h1, "a0"); runOnce()
      val midRows = spark.read.parquet(outDir).count()
      assert(midRows > 0, "first run must emit at least one profile update")
      drop(h2, "b0")
      runOnce() // fresh query, same checkpoint, RocksDB state restored
      val log = spark.read.parquet(outDir)
      // final profile per user = the row of the LAST batch that updated
      // the user (update-mode log semantics); ties within a batch are
      // impossible (one row per key per batch)
      val streamed = log.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(col("batch_id").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n_active_days"), col("longest_streak"),
          col("streak_start"))
        .as[Streams.StreakOut].collect().map(o => o.user_id -> o).toMap
      val batch = SparkEntry.queries("events_streaks")(spark, sfSmall)
        .collect().map(r => r.getLong(0) -> Streams.StreakOut(r.getLong(0),
          r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(streamed.size == batch.size,
        s"${streamed.size} streamed users vs ${batch.size} batch users")
      assert(streamed == batch, "streak profiles diverged after a " +
        s"checkpoint restart: ${streamed.toSet.diff(batch.toSet).take(3)}")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("T25 substring-removal stream: single batch ≡ batch op; multi-batch output is clean") {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val docs = spark.read.parquet(s"$sfMid/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .sortBy(d => (d._1 * 2654435761L) % 997) // deterministic scramble
    def run(chunks: Seq[Array[(Long, String)]], sub: String): Unit = {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[(Long, String)]
      val q = Streams.substringRemoveStream(in.toDF().toDF("doc_id", "text"),
        s"/root/repo/target/ss_ix_${sub}_$tag", s"/root/repo/target/ss_out_${sub}_$tag",
        s"/root/repo/target/ss_cp_${sub}_$tag")
      chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
      q.stop()
    }
    // law 1: all docs in ONE batch — the batch-local ≥2-docs rule IS the
    // batch operator's rule, so stream ≡ batch EXACTLY, segment by segment
    run(Seq(docs), "one")
    val streamed1 = spark.read.parquet(s"/root/repo/target/ss_out_one_$tag")
      .select("doc_id", "seg", "tok_start", "tok_end", "kept_text")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val batch = SparkEntry.queries("dedup_substring_remove")(spark, sfMid)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(batch.nonEmpty && streamed1 == batch,
      s"single-batch stream diverged: stream-only=${(streamed1 -- batch).take(2)} " +
        s"batch-only=${(batch -- streamed1).take(2)}")
    // law 2: multi-batch replay (keep-first-ARRIVAL semantics) must leave a
    // CLEAN corpus — the batch detector re-run over the rebuilt stream
    // output finds no remaining ≥2-doc duplicated span
    run(docs.grouped(150).toSeq, "multi")
    val rebuilt = spark.read.parquet(s"/root/repo/target/ss_out_multi_$tag")
      .groupBy(col("doc_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(seg, kept_text))), x -> x.kept_text), ' ')").as("text"))
    val re = graft.queries.NearDup.substringRemoveOf(
      graft.queries.NearDup.tokensOf(rebuilt), 50)
    assert(re.count() == rebuilt.count(), "multi-batch output not clean (doc count)")
    assert(re.join(rebuilt, "doc_id")
      .filter(col("kept_text") =!= col("text")).count() == 0L,
      "multi-batch output not clean: batch detector still removes spans")
    // and keep-first-arrival actually KEPT something a batch run removes:
    // the stream output must carry at least as many tokens as batch's
    val stTok = spark.read.parquet(s"/root/repo/target/ss_out_multi_$tag")
      .agg(sum(col("tok_end") - col("tok_start") + 1L)).head.getLong(0)
    val bTok = SparkEntry.queries("dedup_substring_remove")(spark, sfMid)
      .agg(sum(col("tok_end") - col("tok_start") + 1L)).head.getLong(0)
    assert(stTok >= bTok, s"stream kept $stTok tokens < batch's $bTok")
    spark.catalog.clearCache(); Memo.clear()
  }

  test("T27 lines-removal stream: single batch ≡ batch op; multi-batch " +
      "output is clean; restart resumes") {
    import spark.implicits._
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val docs = spark.read.parquet(s"$sfMid/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .sortBy(d => (d._1 * 2654435761L) % 997) // deterministic scramble
    def run(chunks: Seq[Array[(Long, String)]], sub: String): Unit = {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[(Long, String)]
      val q = Streams.linesRemoveStream(in.toDF().toDF("doc_id", "text"),
        s"/root/repo/target/lr_ix_${sub}_$tag",
        s"/root/repo/target/lr_out_${sub}_$tag",
        s"/root/repo/target/lr_cp_${sub}_$tag")
      chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
      q.stop()
    }
    // law 1: the whole corpus in ONE batch — hist is empty and the
    // batch-local keep-min IS the batch operator's corpus-wide keep-first,
    // so stream ≡ batch EXACTLY, audit columns included
    run(Seq(docs), "one")
    val streamed1 = spark.read.parquet(s"/root/repo/target/lr_out_one_$tag")
      .select("doc_id", "n_lines", "n_removed", "kept_text")
      .as[(Long, Long, Long, String)].collect().toSet
    val batch = SparkEntry.queries("dedup_lines_remove")(spark, sfMid)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(batch.nonEmpty && streamed1 == batch,
      s"single-batch stream diverged: stream-only=${(streamed1 -- batch).take(2)} " +
        s"batch-only=${(batch -- streamed1).take(2)}")
    // law 0 (planted — the fixture corpus has no duplicated normalized
    // lines at this SF, like the batch goldens' synthetic frames):
    // keep-first-ARRIVAL across batches — the EARLIER arrival wins even
    // against a lower doc_id later, and within a batch the min
    // (doc_id, line_no) occurrence wins
    run(Seq(Array((10L, "keep me\nfooter x"), (11L, "footer x\nbody a")),
      Array((1L, "footer x\nnew line"))), "plant")
    val pl = spark.read.parquet(s"/root/repo/target/lr_out_plant_$tag")
      .select("doc_id", "n_removed", "kept_text")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(pl(10L) == (0L, "keep me\nfooter x"), s"keeper mangled: ${pl(10L)}")
    assert(pl(11L) == (1L, "body a"), s"same-batch dup survived: ${pl(11L)}")
    assert(pl(1L) == (1L, "new line"),
      s"later arrival beat keep-first-arrival: ${pl(1L)}")
    // law 2: multi-batch keep-first-ARRIVAL leaves a CLEAN corpus — the
    // batch detector re-run over the rebuilt output removes nothing
    run(docs.grouped(150).toSeq, "multi")
    val rebuilt = spark.read.parquet(s"/root/repo/target/lr_out_multi_$tag")
      .select(col("doc_id"), col("kept_text").as("text"))
    val re = graft.queries.NearDup.linesRemoveOf(rebuilt)
    assert(re.count() == rebuilt.count())
    assert(re.agg(sum(col("n_removed"))).head.getLong(0) == 0L,
      "multi-batch output not clean: batch detector still removes lines")
    // and keep-first-arrival kept at least as many lines as one-shot batch
    val stKept = spark.read.parquet(s"/root/repo/target/lr_out_multi_$tag")
      .agg(sum(col("n_lines") - col("n_removed"))).head.getLong(0)
    val bKept = SparkEntry.queries("dedup_lines_remove")(spark, sfMid)
      .agg(sum(col("n_lines") - col("n_removed"))).head.getLong(0)
    assert(stKept >= bKept, s"stream kept $stKept lines < batch's $bKept")
    // law 3: checkpoint restart — half the corpus, stop, FRESH query on
    // the same checkpoint/index for the rest; the union must equal the
    // multi-batch run doc-for-doc (same keep-first-arrival order) with
    // no doc emitted twice
    val (inDir, ixDir, outDir, cpDir) = (s"/root/repo/target/lr_in_$tag",
      s"/root/repo/target/lr_ix_rs_$tag", s"/root/repo/target/lr_out_rs_$tag",
      s"/root/repo/target/lr_cp_rs_$tag")
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def drop(rows: Array[(Long, String)], part: String): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq.map(r =>
          org.apache.spark.sql.Row(r._1, r._2)), 1), docSchema)
        .write.parquet(s"$inDir/$part")
    def runOnce(): Unit = {
      val src = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
      val q = Streams.linesRemoveStream(src, ixDir, outDir, cpDir)
      q.processAllAvailable(); q.stop()
    }
    val (h1, h2) = docs.splitAt(250)
    h1.grouped(150).zipWithIndex.foreach { case (c, i) => drop(c.toArray, s"a$i") }
    runOnce()
    h2.grouped(150).zipWithIndex.foreach { case (c, i) => drop(c.toArray, s"b$i") }
    runOnce() // fresh query, same checkpoint — must resume, not re-emit
    val rs = spark.read.parquet(outDir)
    assert(rs.select("doc_id").count() ==
      rs.select("doc_id").distinct().count(),
      "restart re-emitted at least one document")
    assert(rs.count() == docs.length.toLong)
    // restart output is clean by the same law
    val reRs = graft.queries.NearDup.linesRemoveOf(
      rs.select(col("doc_id"), col("kept_text").as("text")))
    assert(reRs.agg(sum(col("n_removed"))).head.getLong(0) == 0L,
      "restart output not clean")
    spark.catalog.clearCache(); Memo.clear()
  }

  test("T1 ≡ batch: streamed tumbling agg equals the batch groupBy(window)") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val events = Tables.events(spark, sfSmall)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
    val expected = Streams.tumbling(events.toSeq.toDF())
      .collect().map(_.toSeq).toSet
    val in = MemoryStream[Event]
    val q = Streams.toMemorySink(Streams.tumbling(in.toDF()), "t1b",
      OutputMode.Complete())
    // replay in three arbitrary chunks — complete mode must converge to
    // the same snapshot the batch computation produces
    events.grouped(400).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    val got = spark.table("t1b").collect().map(_.toSeq).toSet
    assert(got == expected)
    q.stop()
  }

  test("T6 ≡ W2: streaming sessionizer matches the batch lag-sessionizer") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val expected = graft.queries.Windows
      .queries("window_lag_sessionize")(spark, sfSmall)
      .select(col("user_id"), col("n_sessions"))
      .as[(Long, Long)].collect().toMap
    val events = Tables.events(spark, sfSmall)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val maxT = events.map(_.ts.getTime).max
    val in = MemoryStream[Event]
    val q = Streams.statefulSessionize(in.toDS()).writeStream
      .format("memory").queryName("t6w2").outputMode("append").start()
    in.addData(events.toSeq)
    q.processAllAvailable()
    // two sentinel batches: watermark lags one batch behind max event time
    in.addData(Event(-1L, new Timestamp(maxT + 3600_000L), -1L, "x", 0.0))
    q.processAllAvailable()
    in.addData(Event(-2L, new Timestamp(maxT + 7200_000L), -1L, "x", 0.0))
    q.processAllAvailable()
    val got = spark.table("t6w2").as[SessionOut].collect()
      .filter(_.user_id >= 0)
      .groupBy(_.user_id).map { case (u, ss) => u -> ss.length.toLong }
    assert(got.size == expected.size)
    got.foreach { case (u, n) =>
      assert(n == expected(u), s"user $u: streaming=$n batch=${expected(u)}")
    }
    q.stop()
  }

  test("T9 stream-stream join: purchase attributes to same-user clicks within 15 min") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val q = Streams.toMemorySink(
      Streams.clickAttribution(clicks.toDS(), buys.toDS()), "t9",
      OutputMode.Append())
    clicks.addData(
      ev(1, "2024-01-01 10:00:00"),            // in range [09:57, 10:12]
      ev(2, "2024-01-01 10:10:00"),            // in range
      ev(3, "2024-01-01 09:30:00"),            // outside the 15-min range
      ev(4, "2024-01-01 10:05:00", user = 2))  // other user
    buys.addData(ev(100, "2024-01-01 10:12:00", typ = "purchase", v = 9.99))
    q.processAllAvailable()
    val rows = spark.table("t9").select("purchase_id", "click_id")
      .as[(Long, Long)].collect().sorted
    assert(rows.toSeq == Seq((100L, 1L), (100L, 2L)))
    q.stop()
  }

  test("T24 left-outer interval join (clicks side): restart-safe, stream ≡ batch twin") {
    // the r11 verdict #6 semantics: every click labeled with its user's
    // purchases in the FOLLOWING 15 minutes; a click with no such
    // purchase emits its null row exactly once, when the watermark
    // closes its window — and a checkpoint restart mid-stream must
    // neither re-emit nor lose outer rows. Parity target is the BATCH
    // execution of the same join (join_asof_forward's no-match rows,
    // reached from the streaming path).
    import spark.implicits._
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val base = s"/root/repo/target/t24_$tag"
    val (ckDir, puDir, outDir, cpDir) =
      (s"$base/clicks", s"$base/buys", s"$base/out", s"$base/cp")
    def tsAt(min: Long): Timestamp =
      new Timestamp(ts("2024-01-01 10:00:00").getTime + min * 60000L)
    // users 1..20: one click each; even users convert in-window (+5 min),
    // users ≡ 3 (mod 4) convert OUT of window (+30 min), the rest never
    val clicks = (1 to 20).map(u => Event(u.toLong, tsAt(u), u.toLong, "click", 0.0))
    val buys = (1 to 20).flatMap {
      case u if u % 2 == 0 => Some(Event(100L + u, tsAt(u + 5), u.toLong, "purchase", 1.0))
      case u if u % 4 == 3 => Some(Event(100L + u, tsAt(u + 30), u.toLong, "purchase", 1.0))
      case _ => None
    }
    // watermark flushes: two waves, because outer-row eviction happens in
    // the batch AFTER the one that advanced the watermark
    val flush1 = Seq(Event(-1L, tsAt(600), -1L, "click", 0.0))
    val flush1b = Seq(Event(-101L, tsAt(600), -1L, "purchase", 0.0))
    val flush2 = Seq(Event(-2L, tsAt(700), -1L, "click", 0.0))
    val flush2b = Seq(Event(-102L, tsAt(700), -1L, "purchase", 0.0))
    def drop(rows: Seq[Event], dir: String, part: String): Unit =
      spark.createDataset(rows).coalesce(1).write.parquet(s"$dir/$part")
    val evSchema = org.apache.spark.sql.Encoders.product[Event].schema
    def runOnce(): Unit = {
      val c = spark.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$ckDir/*").as[Event]
      val p = spark.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$puDir/*").as[Event]
      val q = Streams.clickConversionLabels(c, p).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", cpDir).outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    // run 1: first half of each stream
    drop(clicks.take(10), ckDir, "a"); drop(buys.take(6), puDir, "a")
    runOnce()
    // run 2 (FRESH query, same checkpoint): the rest + flush wave 1
    drop(clicks.drop(10), ckDir, "b"); drop(buys.drop(6), puDir, "b")
    drop(flush1, ckDir, "f1"); drop(flush1b, puDir, "f1")
    runOnce()
    // mid-run law: emitted rows are never WRONG, only delayed — everything
    // out so far must appear in the batch twin's answer
    def batchTwin() = Streams.clickConversionLabels(
        spark.createDataset(clicks), spark.createDataset(buys))
      .select("user_id", "click_id", "purchase_id")
      .as[(Long, Long, Option[Long])].collect().toSet
    val mid = spark.read.parquet(outDir).filter(col("user_id") >= 0)
      .select("user_id", "click_id", "purchase_id")
      .as[(Long, Long, Option[Long])].collect()
    assert(mid.toSet.subsetOf(batchTwin()), "stream emitted a row batch never would")
    // run 3 (second restart): flush wave 2 evicts the remaining outer rows
    drop(flush2, ckDir, "f2"); drop(flush2b, puDir, "f2")
    runOnce()
    val fin = spark.read.parquet(outDir).filter(col("user_id") >= 0)
      .select("user_id", "click_id", "purchase_id")
      .as[(Long, Long, Option[Long])].collect()
    assert(fin.length == fin.toSet.size, "restart duplicated a join row")
    assert(fin.toSet == batchTwin(),
      s"stream ${fin.length} rows vs batch ${batchTwin().size}; " +
        s"missing=${(batchTwin() -- fin.toSet).take(3)} extra=${(fin.toSet -- batchTwin()).take(3)}")
    // the outer rows specifically: odd users never converted in-window
    val nulls = fin.filter(_._3.isEmpty).map(_._1).sorted
    assert(nulls.toSeq == (1 to 20).filter(_ % 2 == 1).map(_.toLong),
      s"unmatched-click set wrong: ${nulls.toSeq}")
  }

  test("T9 left-outer stream-stream join: unmatched purchase emits nulls only after the watermark") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val q = Streams.toMemorySink(
      Streams.clickAttribution(clicks.toDS(), buys.toDS(), "left_outer"),
      "t9o", OutputMode.Append())
    buys.addData(ev(100, "2024-01-01 10:00:00", typ = "purchase", v = 5.0))
    q.processAllAvailable()
    // outer result must NOT fire early: a matching click could still arrive
    assert(spark.table("t9o").where(col("click_id").isNull).count() == 0)
    // advance BOTH watermarks (global wm = min of inputs) past the range end
    clicks.addData(ev(5, "2024-01-01 12:00:00"))
    buys.addData(ev(101, "2024-01-01 12:00:00", typ = "purchase"))
    q.processAllAvailable()
    clicks.addData(ev(6, "2024-01-01 12:30:00"))
    buys.addData(ev(102, "2024-01-01 12:30:00", typ = "purchase"))
    q.processAllAvailable()
    val unmatched = spark.table("t9o").where(col("click_id").isNull)
      .select("purchase_id").as[Long].collect()
    assert(unmatched.contains(100L),
      s"purchase 100 should have emitted a null-click outer row; got ${unmatched.toSeq}")
    q.stop()
  }

  test("T26 merge-upsert stream: CDC slices reach the batch state; batch replay is a fixpoint") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val snapDir = s"/root/repo/target/mg_snap_$tag"
    val cpDir = s"/root/repo/target/mg_cp_$tag"
    // base snapshot + change set: the batch operator's exact derivation
    val base0 = spark.read.parquet(s"$sfMid/orders.parquet").select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      expr("CAST(floor(o_totalprice * 100D + 0.5D) AS BIGINT)").as("cents"),
      col("o_orderstatus"))
    base0.filter(col("o_orderkey") % 10 =!= 7)
      .repartition(col("month"))
      .write.mode("overwrite").partitionBy("month").parquet(snapDir)
    val last2 = base0.select("month").distinct()
      .orderBy(col("month").desc).limit(2).collect().map(_.getString(0)).toSeq
    val chg0 = base0.filter(col("month").isin(last2: _*))
    val changes =
      chg0.filter(col("o_orderkey") % 10 === 7).withColumn("op", lit("I"))
        .union(chg0.filter(col("o_orderkey") % 10 === 3)
          .withColumn("cents", col("cents") + 500L).withColumn("op", lit("U")))
        .union(chg0.filter(col("o_orderkey") % 10 === 5).withColumn("op", lit("D")))
        .as[(Long, String, Long, String, String)].collect()
    assert(changes.nonEmpty)
    val in = MemoryStream[(Long, String, Long, String, String)]
    val q = Streams.mergeUpsertStream(
      in.toDF().toDF("o_orderkey", "month", "cents", "o_orderstatus", "op"),
      snapDir, cpDir)
    // two CDC slices split by the tens digit (every change key is odd —
    // the I/U/D classes are mod-10 7/3/5 — so a units split would be
    // degenerate); both slices touch both months, so the second commit
    // merges INTO the first's output
    val (s1, s2) = changes.partition(c => (c._1 / 10) % 2 == 0)
    assert(s1.nonEmpty && s2.nonEmpty)
    in.addData(s1.toSeq); q.processAllAvailable()
    in.addData(s2.toSeq); q.processAllAvailable()
    q.stop()
    def state(): Set[(String, Long, Long)] = spark.read.parquet(snapDir)
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = state()
    // stream ≡ batch: the batch operator applies the SAME change set in
    // ONE mergeCommit to its own snapshot; post-merge states must agree
    val want = SparkEntry.queries("sink_merge_upsert")(spark, sfMid)
      .select(col("month"), col("n_orders"), col("sum_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == want,
      s"stream state diverged: missing=${(want -- streamed).take(3)} " +
        s"extra=${(streamed -- want).take(3)}")
    // retry fixpoint: re-committing an already-applied slice is a no-op
    // (insert rewrites the identical row, update sets the same value,
    // delete finds nothing) — the effectively-once argument for batch
    // RETRY in the scaladoc, pinned
    graft.queries.Formats.mergeCommit(spark, snapDir,
      s2.toSeq.toDF("o_orderkey", "month", "cents", "o_orderstatus", "op"))
    assert(state() == want, "replaying a committed CDC slice changed the state")
  }

  test("T28 change-feed stream: per-commit slices, empty OPTIMIZE slice, " +
      "restart resume, and the accumulated feed replays the table") {
    import spark.implicits._
    val F = graft.queries.Formats
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val snapDir = s"/root/repo/target/cf_snap_$tag"
    val inDir = s"/root/repo/target/cf_in_$tag"
    val outDir = s"/root/repo/target/cf_out_$tag"
    val cpDir = s"/root/repo/target/cf_cp_$tag"
    val replayDir = s"/root/repo/target/cf_replay_$tag"
    // 3-commit lifecycle table: merge (g=1) → OPTIMIZE (g=2) → merge (g=3)
    val base0 = spark.read.parquet(s"$sfMid/orders.parquet").select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      expr("CAST(floor(o_totalprice * 100D + 0.5D) AS BIGINT)").as("cents"),
      col("o_orderstatus"))
    val bm = base0.groupBy(col("month")).count()
      .orderBy(col("count").desc, col("month")).limit(1)
      .collect().map(_.getString(0)).head
    val keep0 = base0.filter(col("o_orderkey") % 10 =!= 7)
    keep0.filter(col("month") =!= bm).repartition(col("month"))
      .write.mode("overwrite").partitionBy("month").parquet(snapDir)
    keep0.filter(col("month") === bm).repartition(12)
      .write.mode("append").partitionBy("month").parquet(snapDir)
    // the replay target: the SAME pre-commit base, committed nothing yet
    keep0.repartition(col("month"))
      .write.mode("overwrite").partitionBy("month").parquet(replayDir)
    val last2 = base0.select("month").distinct()
      .orderBy(col("month").desc).limit(2).collect().map(_.getString(0)).toSeq
    val chg0 = base0.filter(col("month").isin(last2: _*))
    F.mergeCommit(spark, snapDir,
      chg0.filter(col("o_orderkey") % 10 === 7).withColumn("op", lit("I"))
        .union(chg0.filter(col("o_orderkey") % 10 === 3)
          .withColumn("cents", col("cents") + 500L).withColumn("op", lit("U")))
        .union(chg0.filter(col("o_orderkey") % 10 === 5)
          .withColumn("op", lit("D"))))
    assert(F.compactCommit(spark, snapDir, 8) == Seq(bm))
    val c0 = base0.filter(col("month") === bm)
    F.mergeCommit(spark, snapDir,
      c0.filter(col("o_orderkey") % 10 === 7).withColumn("op", lit("I"))
        .union(c0.filter(col("o_orderkey") % 10 === 1)
          .withColumn("cents", col("cents") + 100L).withColumn("op", lit("U")))
        .union(c0.filter(col("o_orderkey") % 10 === 9)
          .withColumn("op", lit("D"))))
    // version notifications arrive as files — the commit-log tail shape
    val vSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    def notify(v: Long): Unit =
      Seq(v).toDF("v").coalesce(1).write.parquet(s"$inDir/n$v")
    def runOnce(cp: String): Unit = {
      val src = spark.readStream.schema(vSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
      val q = Streams.changeFeedStream(src, snapDir, outDir, cp)
      q.processAllAvailable(); q.stop()
    }
    notify(1L); notify(2L)
    runOnce(cpDir)
    assert(spark.read.parquet(s"$outDir/v=1").count() > 0,
      "commit 1's slice is empty")
    assert(spark.read.parquet(s"$outDir/v=2").count() == 0,
      "an OPTIMIZE commit must emit an EMPTY change slice")
    notify(3L)
    runOnce(cpDir) // fresh query, same checkpoint: resumes at v=3 only
    // the v=3 slice IS the declarative commit-3 batch (after-images for
    // I/U, before-image for D)
    val got3 = spark.read.parquet(s"$outDir/v=3")
      .select(col("o_orderkey"), col("op"), col("cents"))
      .as[(Long, String, Long)].collect().toSet
    val want3 = c0.filter(col("o_orderkey") % 10 === 7)
      .select(col("o_orderkey"), lit("I").as("op"), col("cents"))
      .union(c0.filter(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), lit("U"), col("cents") + 100L))
      .union(c0.filter(col("o_orderkey") % 10 === 9)
        .select(col("o_orderkey"), lit("D"), col("cents")))
      .as[(Long, String, Long)].collect().toSet
    assert(want3.nonEmpty && got3 == want3,
      s"v=3 slice diverged: missing=${(want3 -- got3).take(3)} " +
        s"extra=${(got3 -- want3).take(3)}")
    // the MATERIALIZED-VIEW pin: merging the accumulated slices onto the
    // pre-commit base reproduces the current table exactly — the feed
    // carries everything a downstream incremental copy needs
    Seq(1L, 2L, 3L).foreach { v =>
      val slice = spark.read.parquet(s"$outDir/v=$v")
      if (!slice.isEmpty) { F.mergeCommit(spark, replayDir, slice); () }
    }
    def state(dir: String): Set[(Long, String, Long)] =
      spark.read.parquet(dir).select("o_orderkey", "month", "cents")
        .as[(Long, String, Long)].collect().toSet
    assert(state(replayDir) == state(snapDir),
      "feed replay diverged from the table")
    // crash-replay idempotency: a FRESH checkpoint reprocesses every
    // version; the per-version overwrite keeps the feed identical
    val before = Seq(1L, 2L, 3L)
      .map(v => spark.read.parquet(s"$outDir/v=$v").count())
    runOnce(cpDir + "_2")
    val after = Seq(1L, 2L, 3L)
      .map(v => spark.read.parquet(s"$outDir/v=$v").count())
    assert(before == after, s"replay changed the feed: $before -> $after")
  }
}
