package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Secondary batch formats (SURVEY.md §2.1 S4): CSV and JSON-lines scans
  * with EXPLICIT schemas — never inferSchema on a production path (schema
  * inference is an extra full pass over the data and type-drifts).
  *
  * The fixtures are parquet-only, so each query first materializes a
  * dimension table in the target format under the build directory, then
  * reads it back; the graded output is the round-trip, oracle-checked
  * against the original parquet. Write → read also exercises the S6 sink
  * surface for both formats.
  */
object Formats {
  type Q = (SparkSession, String) => DataFrame

  // Inside the repo per the environment contract; unique per scale factor
  // AND per Spark application (applicationId), so two concurrent runs at
  // the same SF can't overwrite each other's scratch mid-read. Within one
  // application the path is stable, so a second pass's re-read hits the
  // same files it wrote in pass 1 (same work, comparable timing).
  private def scratch(s: SparkSession, d: String, fmt: String): String =
    s"/root/repo/target/s4demo/${s.sparkContext.applicationId}/" +
      s"${d.replaceAll("[^A-Za-z0-9.]", "_")}/$fmt"

  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }

  /** ONE copy-on-write MERGE commit: apply a change set
    * (o_orderkey, month, cents, o_orderstatus, op ∈ I/U/D) to the
    * month-partitioned snapshot at `path`. The affected-month list
    * (distinct months of the changes — the ≤months-sized manifest probe)
    * pushes as a LITERAL partition filter so the base read opens only
    * touched partitions; the full-outer I/U/D result is staged
    * partition-coherently (repartition(month) + localCheckpoint — the
    * staged-files step of a real commit, and what lets Spark overwrite a
    * path it just read) and committed under DYNAMIC partition overwrite
    * (the per-WRITE option, never the session conf: two concurrent
    * partitioned writers on one session could interleave a session-conf
    * set/restore and commit under the wrong mode), so untouched
    * partitions' files are never opened or rewritten.
    *
    * The join is on (o_orderkey, month) — the CDC contract is that a
    * change row names its base row's partition, so a partition-moving
    * update must arrive as D(old month) + I(new month), exactly what a
    * real copy-on-write MERGE demands when the partition key changes (a
    * key-only join would silently coalesce a moved key across months and
    * leave the stale base row behind).
    *
    * SNAPSHOT RETENTION: before the commit, the current files of every
    * affected month are MOVED (driver-side rename — metadata-only, like a
    * table format's manifest swap: old files are never deleted by a
    * commit, vacuuming is a separate policy) into
    * `_graft_v/g=<commit#>/month=<m>/`. Spark's file index skips
    * `_`-prefixed dirs, so current reads never see retained generations,
    * while [[readAtVersion]] reconstructs any pre-commit state. The
    * move-aside also makes a fully-EMPTIED partition correct by
    * construction: a month whose every row was deleted simply has no
    * surviving current files — dynamic overwrite alone (which only
    * replaces partitions present in the output) would have resurrected
    * the old ones.
    *
    * Shared by the batch query (one commit) and
    * graft.streaming.Streams.mergeUpsertStream (one commit per
    * micro-batch), so stream ≡ batch holds by construction — the same
    * kernel applies each CDC slice. Returns the affected months. */
  private[graft] def mergeCommit(s: SparkSession, path: String,
      changes: DataFrame): Seq[String] = {
    requireLocal(path)
    val affected = changes.select(col("month")).distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    if (affected.nonEmpty) {
      val touched = s.read.parquet(path).filter(col("month").isin(affected: _*))
      val merged = touched.as("b")
        .join(changes.as("c"),
          col("b.o_orderkey") === col("c.o_orderkey") &&
            col("b.month") === col("c.month"),
          "full_outer")
        .filter(coalesce(col("c.op"), lit("")) =!= "D")
        .select(
          coalesce(col("c.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
          coalesce(col("c.cents"), col("b.cents")).as("cents"),
          coalesce(col("c.o_orderstatus"), col("b.o_orderstatus"))
            .as("o_orderstatus"),
          coalesce(col("c.month"), col("b.month")).as("month"))
        .repartition(col("month"))
      val gen = nextGen(path)
      // Crash-discipline (ADVICE r14): the merged output is STAGED in
      // full (with Spark's _SUCCESS marker) BEFORE any current file
      // moves, so every failure window is recoverable: a failed staged
      // write leaves the current table untouched; a crash mid-rename
      // leaves the complete staged generation on disk as the redo log
      // (finish the renames to recover). The publish step is pure
      // per-month renames — the same rename-ordering discipline as the
      // events-layout publisher below. The staged write also replaces
      // the old localCheckpoint: it materializes `merged` before its
      // input files move.
      val staged = new java.io.File(path, s"_graft_staged/g=$gen")
      merged.write.mode("overwrite").partitionBy("month")
        .parquet(staged.getPath)
      publishStaged(path, gen, affected)
    }
    affected
  }

  /** The commit PUBLISH step shared by [[mergeCommit]] and
    * [[compactCommit]]: per affected month, move the current files aside
    * into the retained generation, then rename the fully-staged
    * replacement into place. Pure driver-side renames over a complete
    * staged write — every failure window leaves either the old state or
    * the staged redo log on disk. */
  private def publishStaged(path: String, gen: Long,
      affected: Seq[String]): Unit = {
    val staged = new java.io.File(path, s"_graft_staged/g=$gen")
    affected.foreach { m =>
      val cur = new java.io.File(path, s"month=$m")
      val dst = new java.io.File(path, s"_graft_v/g=$gen/month=$m")
      if (cur.exists()) {
        dst.getParentFile.mkdirs()
        require(cur.renameTo(dst), s"retention move failed: $cur -> $dst")
      } else {
        // month BORN at this commit: retain an EMPTY dir so time
        // travel to v < gen serves zero rows for it instead of
        // leaking the post-commit state (readAtVersion treats a
        // fileless retained dir as "month absent at that version")
        dst.mkdirs()
      }
      // a fully-emptied month has no staged dir — nothing to publish,
      // the move-aside above IS the deletion (and the retained copy)
      val stg = new java.io.File(staged, s"month=$m")
      if (stg.exists())
        require(stg.renameTo(new java.io.File(path, s"month=$m")),
          s"publish rename failed: $stg")
    }
    deleteRec(staged)
  }

  /** OPTIMIZE recorded as a COMMIT (round 15 — r14 missing #3: a
    * compaction that doesn't bump the generation is invisible to time
    * travel, where a real table format records every OPTIMIZE as a
    * snapshot). Probes the month layout driver-side, rewrites only
    * partitions fragmented past `maxFiles` (pruned read →
    * repartition(month) → one file each), and commits through the SAME
    * stage-retain-publish discipline as [[mergeCommit]] — pre-compaction
    * small files are retained under `_graft_v/g=N`, so
    * [[readAtVersion]] serves byte-different but content-identical
    * copies on either side of the boundary, and [[vacuumTo]] expires
    * them like any other generation. Returns the compacted months. */
  private[graft] def compactCommit(s: SparkSession, path: String,
      maxFiles: Int): Seq[String] = {
    requireLocal(path)
    val toCompact = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("month="))
      .filter(_.listFiles().count(_.getName.endsWith(".parquet")) > maxFiles)
      .map(_.getName.stripPrefix("month=")).sorted.toIndexedSeq
    if (toCompact.nonEmpty) {
      val gen = nextGen(path)
      val staged = new java.io.File(path, s"_graft_staged/g=$gen")
      s.read.parquet(path).filter(col("month").isin(toCompact: _*))
        .repartition(col("month"))
        .write.mode("overwrite").partitionBy("month")
        .parquet(staged.getPath)
      publishStaged(path, gen, toCompact)
    }
    toCompact
  }

  /** Retention, time travel, and vacuum drive java.io renames/listings;
    * on a non-local URI those silently no-op (cur.exists() = false ⇒ no
    * move-aside ⇒ resurrection + versionless reads). Fail LOUDLY instead
    * (ADVICE r14) — snapshot maintenance on object stores needs a real
    * table format's manifest, not rename emulation. */
  private def requireLocal(path: String): Unit = {
    val scheme = java.net.URI.create(
      path.replace(" ", "%20")).getScheme
    require(scheme == null || scheme == "file",
      s"graft snapshot maintenance requires a local filesystem path " +
        s"(java.io rename semantics); got scheme '$scheme' in: $path")
  }

  /** Next commit number for the snapshot at `path`: 1 + the largest
    * retained generation — a driver-side listing of the manifest-sized
    * `_graft_v` dir, the same economics as the affected-month probe. */
  private def nextGen(path: String): Long = {
    val vroot = new java.io.File(path, "_graft_v")
    val gens = Option(vroot.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("g="))
      .map(_.getName.stripPrefix("g=").toLong)
    if (gens.isEmpty) 1L else gens.max + 1L
  }

  /** VACUUM — retention expiry over the `_graft_v` generations: keep the
    * last `keep` versions reconstructable, delete retained files older
    * than that, and RECORD the new floor in a `_graft_v/_horizon` marker
    * so time travel past it fails LOUDLY instead of silently serving the
    * wrong generation ([[readAtVersion]] picks the smallest retained
    * g > v per month; with g=1 deleted, v=0 would silently read g=2's
    * copy — the marker turns that corruption into an error). Versions
    * v ≥ horizon need only generations g > horizon, so exactly the
    * g ≤ horizon directories are deletable — the same manifest-sized
    * driver listing as [[nextGen]]. Returns the horizon (current version
    * − keep, floored at the prior horizon: vacuuming never moves the
    * floor backwards). */
  private[graft] def vacuumTo(path: String, keep: Long): Long = {
    requireLocal(path)
    val vroot = new java.io.File(path, "_graft_v")
    val current = nextGen(path) - 1L
    val horizon = math.max(math.max(current - keep, 0L), readHorizon(path))
    Option(vroot.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("g=") &&
        f.getName.stripPrefix("g=").toLong <= horizon)
      .foreach(deleteRec)
    vroot.mkdirs()
    java.nio.file.Files.write(new java.io.File(vroot, "_horizon").toPath,
      horizon.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    horizon
  }

  /** The vacuumed-through floor recorded by [[vacuumTo]] (0 = nothing
    * vacuumed: every retained generation is intact). */
  private def readHorizon(path: String): Long = {
    val marker = new java.io.File(path, "_graft_v/_horizon")
    if (marker.isFile)
      new String(java.nio.file.Files.readAllBytes(marker.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  /** Snapshot state at version `v` (v = commits applied; 0 = before the
    * first [[mergeCommit]]) — TIME TRAVEL over the retained generations.
    * A month touched by commits g1 < g2 < … has its pre-commit files
    * retained at `_graft_v/g=gi/month=<m>`; its state at version v is the
    * copy retained by the FIRST commit after v (smallest g > v), or the
    * current layout if no later commit touched it. The retained set is
    * manifest-sized (affected months × commits), so the driver-side
    * listing and the per-month union are bounded by the CDC volume, never
    * the table size — untouched partitions serve straight from the
    * current layout with partition pruning intact. */
  private[graft] def readAtVersion(s: SparkSession, path: String,
      v: Long): DataFrame = {
    requireLocal(path)
    val horizon = readHorizon(path)
    require(v >= horizon,
      s"version $v was vacuumed (retention horizon $horizon): readAtVersion " +
        "would silently serve a LATER generation's copy — restore from a " +
        "backup or re-run the producing commits")
    val vroot = new java.io.File(path, "_graft_v")
    val retained = Option(vroot.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("g="))
      .flatMap { g =>
        val gen = g.getName.stripPrefix("g=").toLong
        Option(g.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(m => m.isDirectory && m.getName.startsWith("month="))
          .map(m => (m.getName.stripPrefix("month="), gen, m))
      }
    val serve = retained.filter(_._2 > v)
      .groupBy(_._1).map { case (m, gs) => m -> gs.minBy(_._2)._3 }
    val current = s.read.parquet(path)
    val currentKept =
      if (serve.isEmpty) current
      else current.filter(!col("month").isin(serve.keys.toSeq: _*))
    serve.toSeq.sortBy(_._1).foldLeft(currentKept) { case (acc, (m, dir)) =>
      // a FILELESS retained dir marks a month born at that commit —
      // absent at the requested version, so excluding it from the
      // current layout (currentKept above) is the whole answer
      val parts = Option(dir.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet"))
      if (parts.isEmpty) acc
      else
        // partitionBy stripped the month column from the data files; the
        // dir name carries it back as a literal
        acc.unionByName(
          s.read.parquet(dir.getPath).withColumn("month", lit(m))
            .select(acc.columns.map(col).toIndexedSeq: _*))
    }
  }

  /** MULTI-version read — the shared-current-scan form of
    * [[readAtVersion]] (round 16; r15 "not yet optimized" #1): a K-version
    * sweep used to scan the CURRENT layout once per version leg. Here one
    * pass serves every requested version — each current row is exploded to
    * exactly the versions its month serves from the current layout (a
    * CDC-sized driver map: the same `_graft_v` listing readAtVersion does,
    * inverted), and each (version, retained month) pair adds one tiny
    * pruned leg. Row-identical to unioning `readAtVersion(v).withColumn
    * ("v", lit(v))` over `vs` (GoldenSpec pins the equality on a staged
    * snapshot); the win is K full scans → 1 at any K — at 100 TB the
    * version sweep becomes one table pass plus CDC-sized legs. */
  private[graft] def readAtVersions(s: SparkSession, path: String,
      vs: Seq[Long]): DataFrame = {
    requireLocal(path)
    val horizon = readHorizon(path)
    vs.foreach(v => require(v >= horizon,
      s"version $v was vacuumed (retention horizon $horizon): readAtVersions " +
        "would silently serve a LATER generation's copy — restore from a " +
        "backup or re-run the producing commits"))
    val vroot = new java.io.File(path, "_graft_v")
    val retained = Option(vroot.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("g="))
      .flatMap { g =>
        val gen = g.getName.stripPrefix("g=").toLong
        Option(g.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(m => m.isDirectory && m.getName.startsWith("month="))
          .map(m => (m.getName.stripPrefix("month="), gen, m))
      }
    // per version: month → the retained dir serving it (smallest g > v —
    // the readAtVersion rule); months absent from the map serve current
    val serveByV: Seq[(Long, Map[String, java.io.File])] = vs.map { v =>
      v -> retained.filter(_._2 > v).groupBy(_._1)
        .map { case (m, gs) => m -> gs.minBy(_._2)._3 }
    }
    val current = s.read.parquet(path)
    val cols = current.columns.toIndexedSeq
    // months where ANY requested version serves a retained copy, mapped to
    // the versions the CURRENT copy still serves for that month
    val exceptions: Map[String, Seq[Long]] = serveByV
      .flatMap { case (v, m2d) => m2d.keys.map(_ -> v) }
      .groupBy(_._1)
      .map { case (m, pairs) => m -> vs.diff(pairs.map(_._2)) }
    val allVs: org.apache.spark.sql.Column = array(vs.map(lit): _*)
    val vlist = exceptions.toSeq.sortBy(_._1).foldLeft(allVs) {
      case (acc, (m, vsCur)) =>
        when(col("month") === m, array(vsCur.map(lit): _*)).otherwise(acc)
    }
    val curLeg = current.select(
      (explode(vlist).as("v") +: cols.map(col)): _*)
    val retLegs = for {
      (v, m2d) <- serveByV
      (m, dir) <- m2d.toSeq.sortBy(_._1)
      parts = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet"))
      if parts.nonEmpty // fileless dir = month born after v: absent
    } yield s.read.parquet(dir.getPath).withColumn("month", lit(m))
      .select((lit(v).as("v") +: cols.map(col)): _*)
    retLegs.foldLeft(curLeg)(_ unionByName _)
  }

  /** CHANGE FEED of commit `v` — the I/U/D row slice between versions
    * v−1 and v, derived from retained files alone: the months touched at
    * generation v come from a manifest-sized driver listing, and the
    * (key, month) full-outer diff of the two reconstructed versions is
    * pruned to exactly those months, so feed cost tracks CDC volume,
    * never table size. A generation that retained months but changed no
    * row — a [[compactCommit]] — yields an EMPTY slice, which is the
    * correct feed semantics for an OPTIMIZE snapshot. Shared by the
    * batch query (sink_merge_cdf, commit 2's slice) and the streaming
    * consumer ([[graft.streaming.Streams.changeFeedStream]], one slice
    * per arriving version), so stream ≡ batch holds per commit by
    * construction. */
  private[graft] def changeFeedBatch(s: SparkSession, path: String,
      v: Long): DataFrame = {
    requireLocal(path)
    require(v >= 1L, s"change feed reads a committed version, got $v")
    val touched = Option(
        new java.io.File(path, s"_graft_v/g=$v").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("month="))
      .map(_.getName.stripPrefix("month=")).sorted.toIndexedSeq
    if (touched.isEmpty)
      // commit v touched nothing (or only born-empty months): empty
      // slice with the feed schema, zero table reads
      s.range(0).select(col("id").as("o_orderkey"),
        lit("").as("month"), lit("").as("op"), col("id").as("cents"),
        lit("").as("o_orderstatus"))
    else {
      val before = readAtVersion(s, path, v - 1L)
        .filter(col("month").isin(touched: _*))
      val after = readAtVersion(s, path, v)
        .filter(col("month").isin(touched: _*))
      before.as("a").join(after.as("b"),
          col("a.o_orderkey") === col("b.o_orderkey") &&
            col("a.month") === col("b.month"), "full_outer")
        .withColumn("op",
          when(col("b.o_orderkey").isNull, lit("D"))
            .when(col("a.o_orderkey").isNull, lit("I"))
            .when(col("a.cents") =!= col("b.cents") ||
              col("a.o_orderstatus") =!= col("b.o_orderstatus"), lit("U")))
        .filter(col("op").isNotNull)
        .select(
          coalesce(col("b.o_orderkey"), col("a.o_orderkey")).as("o_orderkey"),
          coalesce(col("b.month"), col("a.month")).as("month"),
          col("op"),
          // after-image for I/U, before-image for D — with the full row
          // carried, the slice is REPLAYABLE: mergeCommit(slice) onto the
          // pre-commit state reproduces the post-commit table (the T28
          // materialized-view pin)
          coalesce(col("b.cents"), col("a.cents")).as("cents"),
          coalesce(col("b.o_orderstatus"), col("a.o_orderstatus"))
            .as("o_orderstatus"))
    }
  }

  /** The dt-partitioned events layout, built ONCE per corpus at a STABLE
    * path (keyed by the sf dir, not the applicationId) and guarded by a
    * marker recording a FILESYSTEM fingerprint of the source table + its
    * min date. A production events table EXISTS in this layout —
    * rebuilding it per query would time the one-off migration, not the
    * pruned read the query is named for (VERDICT r8 #5);
    * `sink_parquet_partitioned` keeps a cold write-path entry in the
    * bench. The build lands in a per-app tmp dir and is PUBLISHED by
    * rename, so a concurrent reader never sees a half-written final
    * layout; losing the publish race keeps the winner's byte-identical
    * layout. Returns (path, corpus min date) — the min date rides in the
    * marker and staleness is decided from source file names/sizes/mtimes
    * (a GenScale re-run rewrites the part files, changing all three), so
    * the warm path launches ZERO Spark jobs before the pruned read
    * itself. */
  private def eventsDayLayout(s: SparkSession, d: String): (String, java.sql.Date) = {
    val base = "/root/repo/target/s4demo/layouts/" +
      s"${d.replaceAll("[^A-Za-z0-9.]", "_")}/part_days"
    // corpus identity = sorted (name, size, mtime) of the source parquet
    // dir — pure driver-side metadata, no job. A single canonical file at
    // a fixed path would miss multi-file corpora (target/sf1 has 32).
    val src = new java.io.File(d, "events.parquet")
    val srcFiles = (if (src.isFile) Array(src) // driver fixture: single file
      else Option(src.listFiles()).getOrElse(Array.empty[java.io.File]))
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .sortBy(_.getName)
    val fingerprint = srcFiles
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|").hashCode.toString
    def validAt(dir: String): Option[java.sql.Date] =
      try {
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(dir, "_GRAFT_LAYOUT"))
        if (lines.size >= 2 && lines.get(0) == fingerprint)
          Some(java.sql.Date.valueOf(lines.get(1)))
        else None // corpus changed (e.g. GenScale re-run): stale layout
      } catch { case _: Throwable => None }
    validAt(base) match {
      case Some(dt) => (base, dt)
      case None =>
        val ev = graft.Tables.events(s, d)
        val tmp = base + ".tmp-" + s.sparkContext.applicationId
        ev.select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), to_date(col("ts")).as("dt"))
          .write.mode("overwrite").partitionBy("dt").parquet(tmp)
        val minDt = ev.agg(min(to_date(col("ts")))).head.getDate(0)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(tmp, "_GRAFT_LAYOUT"), s"$fingerprint\n$minDt\n")
        val bf = new java.io.File(base)
        val published =
          if (validAt(base).nonEmpty) true // lost the race: winner identical
          else {
            // publish by rename ONLY — never delete-in-place (ADVICE r10):
            // a stale final is first renamed ASIDE (atomic), so a
            // concurrent reader sees either the old complete layout or
            // the new one, never a half-deleted dir; and both renameTo
            // results are checked — a failed publish must not leave this
            // call returning a path it may just have unlinked.
            val aside = new java.io.File(
              base + ".old-" + s.sparkContext.applicationId)
            val asideOk = !bf.exists() || bf.renameTo(aside)
            val ok = asideOk && new java.io.File(tmp).renameTo(bf)
            if (aside.exists()) deleteRec(aside)
            ok
          }
        if (published) {
          val tf = new java.io.File(tmp)
          if (tf.exists()) deleteRec(tf) // lost the race: winner identical
          (base, validAt(base).getOrElse(minDt))
        } else (tmp, minDt) // publish failed: serve the complete tmp layout
    }
  }

  /** The declarative pre-merge base every staging starts from. */
  private def mergeBase0(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      expr("CAST(floor(o_totalprice * 100D + 0.5D) AS BIGINT)").as("cents"),
      col("o_orderstatus"))

  /** ONE per-month row-count probe (≤ months rows collected) serving
    * every month rule the staging needs — the last-2 calendar months
    * (commit 1's target) and the busiest month (commit 2's target) used
    * to be one full-table aggregation JOB each (three per lifecycle
    * staging); at 100 TB each redundant probe is a full pass over the
    * table (guide §1.2: don't recompute what one pass already knows). */
  private def monthCounts(base0: DataFrame): Seq[(String, Long)] =
    base0.groupBy(col("month")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toIndexedSeq

  /** The month probe, Memo-served per corpus (round 16): base0 is a pure
    * function of the sf dir, so sink_lifecycle and the sharedBase1 staging
    * were each paying the same full-table aggregation job per pass. */
  private def monthCountsMemo(s: SparkSession, d: String): Seq[(String, Long)] =
    graft.Memo.cachedRef(s.sparkContext.applicationId, s"month_counts:$d") {
      monthCounts(mergeBase0(s, d))
    }

  private def last2Of(mc: Seq[(String, Long)]): Seq[String] =
    mc.map(_._1).sorted.takeRight(2)

  private def busiestOf(mc: Seq[(String, Long)]): String =
    mc.sortBy { case (m, c) => (-c, m) }.head._1

  /** Commit 1's change set — I(7) / U(3, +500) / D(5) over the last two
    * months. */
  private def commit1Changes(base0: DataFrame, last2: Seq[String]): DataFrame = {
    val chg0 = base0.filter(col("month").isin(last2: _*))
    chg0.filter(col("o_orderkey") % 10 === 7).withColumn("op", lit("I"))
      .union(chg0.filter(col("o_orderkey") % 10 === 3)
        .withColumn("cents", col("cents") + 500L).withColumn("op", lit("U")))
      .union(chg0.filter(col("o_orderkey") % 10 === 5).withColumn("op", lit("D")))
  }

  /** Stages the CDC fixture the merge-family queries share: writes the
    * month-partitioned base (every key except mod-10 7) to a fresh
    * scratch path and applies commit 1 — I(7) / U(3, +500) / D(5) over
    * the last two months. Returns (path, declarative base, commit-1
    * affected months, per-month counts). */
  private def stageMergeBase(s: SparkSession, d: String, name: String)
      : (String, DataFrame, Seq[String], Seq[(String, Long)]) = {
    val base0 = mergeBase0(s, d)
    val p = scratch(s, d, name)
    // partition-coherent write: co-locate rows by the partition key
    // BEFORE partitionBy, or every task writes a sliver into every month
    // and the layout is tasks × months small files (measured at sf10:
    // the unshuffled base write alone was the dominant cost; 15 M rows
    // over 80 months is ~190 k rows/file after the repartition). At
    // 100 TB swap repartition(key) for rebalance(key) so a hot month
    // splits across several writers instead of one.
    base0.filter(col("o_orderkey") % 10 =!= 7)
      .repartition(col("month"))
      .write.mode("overwrite").partitionBy("month").parquet(p)
    val mc = monthCountsMemo(s, d)
    val affected = mergeCommit(s, p, commit1Changes(base0, last2Of(mc)))
    (p, base0, affected, mc)
  }

  /** The commit-1-only staged snapshot SHARED by sink_merge_upsert and
    * sink_merge_time_travel (r14 What's-wrong #4: every merge-family
    * query re-staged the identical fixture — at sf0.1 the staging writes
    * were ~80% of the family's bench cost, so the bench read as merge
    * cost what was really setup). Both consumers are READ-ONLY after
    * commit 1, so one staging serves both; vacuum / cdf share the
    * two-commit [[sharedBase12]] (round 15); lifecycle keeps its own
    * snapshot because its base layout differs (deliberate fragmentation)
    * and its compaction commit would shift every other consumer's
    * generation numbers. Registered through Memo.cachedRef, so perfbench's
    * between-pass Memo.clear() re-pays the one staging per pass. */
  private def sharedBase1(s: SparkSession, d: String)
      : (String, DataFrame, Seq[String], Seq[(String, Long)]) =
    graft.Memo.cachedRef(s.sparkContext.applicationId, s"merge_base1:$d") {
      stageMergeBase(s, d, "merge_orders")
    }

  /** The TWO-commit staged snapshot SHARED by sink_merge_vacuum and
    * sink_merge_cdf (round 15: each re-staged an identical base + the
    * identical two commits — one full staging per query per bench pass,
    * ~2× the family's remaining setup cost after sharedBase1 landed).
    * Sharing is sound because the two consumers commute on this table:
    * vacuumTo(keep=1) deletes exactly g=1 and records horizon 1, and
    * changeFeedBatch(2) needs only the g=2 listing plus readAtVersion(1)
    * — which by the smallest-g>v rule reconstructs from g=2 and the
    * current layout whether or not g=1 still exists. Both are also
    * idempotent on re-invocation (vacuum at horizon 1 is a no-op; the
    * feed is a pure read), so query order within a pass cannot change
    * either answer. Returns (path, busiest month = commit 2's target).
    *
    * Round 16: the base + commit 1 half is DERIVED from [[sharedBase1]]'s
    * staged files by a driver-side copy instead of re-running the
    * identical base write + merge job chain (r14 What's-wrong #4's last
    * leg: upsert/time_travel/vacuum/cdf now stage base + commit 1 exactly
    * once per pass). The share is at the FILE level, not the path level,
    * because vacuum MUTATES its snapshot (deletes g=1, records a horizon)
    * while time_travel needs g=1 intact — a copy gives vacuum/cdf their
    * own mutable snapshot for the price of a scratch-dir copy (fixture-
    * sized; the staging is bench setup, not the measured operator). */
  private def sharedBase12(s: SparkSession, d: String): (String, String) =
    graft.Memo.cachedRef(s.sparkContext.applicationId, s"merge_base12:$d") {
      val (p1, base0, _, mc) = sharedBase1(s, d)
      val p = scratch(s, d, "merge_vc")
      val dst = new java.io.File(p)
      deleteRec(dst)
      copyTree(new java.io.File(p1), dst)
      (p, secondCommit(s, p, base0, mc))
    }

  /** Driver-side recursive copy for scratch-snapshot derivation. */
  private def copyTree(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      val kids = src.listFiles()
      if (kids != null) kids.foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit

  /** Commit 2 of the vacuum/CDF stories — I(7) / U(1, +100) / D(9) over
    * the BUSIEST month: the calendar-tail months commit 1 targets are
    * nearly empty at small fixtures (zero mod-10 1/9 keys at sf0.001),
    * while the busiest month carries every class at every committed SF.
    * The require pins the fixture contract both oracles assume — commit 2
    * must land on a month commit 1 never touched, so version-1 state
    * there is the pure base (checked, not hoped: the two commits' target
    * rules are independent and COULD collide on a degenerate corpus). */
  private def secondCommit(s: SparkSession, p: String, base0: DataFrame,
      mc: Seq[(String, Long)]): String = {
    val last2 = last2Of(mc)
    val bm = busiestOf(mc)
    require(!last2.contains(bm),
      s"fixture contract broken: busiest month $bm is a commit-1 month " +
        s"($last2) — the vacuum/CDF oracles assume disjoint commits")
    val c0 = base0.filter(col("month") === bm)
    val changes2 =
      c0.filter(col("o_orderkey") % 10 === 7).withColumn("op", lit("I"))
        .union(c0.filter(col("o_orderkey") % 10 === 1)
          .withColumn("cents", col("cents") + 100L).withColumn("op", lit("U")))
        .union(c0.filter(col("o_orderkey") % 10 === 9).withColumn("op", lit("D")))
    mergeCommit(s, p, changes2)
    bm
  }

  val queries: Map[String, Q] = Map(
    // CSV with header, explicit schema, explicit nullValue discipline.
    "scan_csv" -> ((s, d) => {
      val p = scratch(s, d, "csv")
      Tables.region(s, d).coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(p)
      s.read
        .schema(StructType(Seq(
          StructField("r_regionkey", IntegerType),
          StructField("r_name", StringType))))
        .option("header", "true")
        .csv(p)
        .orderBy(col("r_regionkey"))
    }),

    // Partitioned parquet sink (S6 at scale): write events partitioned by
    // event_type, then prove partition pruning — reading ONE partition
    // back yields exactly that type's rows. At 100 TB this layout is what
    // makes per-type queries skip 4/5 of the data at the file listing.
    "sink_parquet_partitioned" -> ((s, d) => {
      val p = scratch(s, d, "part_events")
      graft.Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(p)
      val purchases = s.read.parquet(p)
        .filter(col("event_type") === "purchase")
      purchases.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // S6c: COPY-ON-WRITE MERGE — the Delta/Iceberg upsert pattern without
    // a table format, because the economics are the table layout's, not
    // the format's: a CDC change set confined to K partitions must cost
    // K × partition-size, never a full-table rewrite, and at 100 TB that
    // ratio (2 of 80 months here) IS the feasibility of daily compaction.
    // Mechanics:
    //   1. base snapshot (orders minus the soon-to-be inserts) written
    //      partitionBy(month);
    //   2. change set derived from the newest 2 months — o_orderkey
    //      % 10 = 7 → INSERT, 3 → UPDATE (+500 cents), 5 → DELETE;
    //   3. the ≤2-row affected-month list is collected once (the manifest
    //      probe every table format does) and pushed as a LITERAL
    //      partition filter, so the merge's base read opens only the
    //      touched partitions' files;
    //   4. full-outer merge applies I/U/D; the result is localCheckpoint-
    //      materialized (the staged-files step of a real commit — also
    //      what lets Spark overwrite a path it just read) and written
    //      back under DYNAMIC partition overwrite: untouched partitions
    //      are never opened, never rewritten;
    //   5. graded output = post-merge read-back per month with the
    //      rewritten flag — the oracle checks both that untouched
    //      partitions survived intact and that touched ones carry exactly
    //      the merged state.
    "sink_merge_upsert" -> ((s, d) => {
      val (p, _, affected, _) = sharedBase1(s, d)
      s.read.parquet(p)
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("rewritten",
          when(col("month").isin(affected: _*), 1L).otherwise(0L))
        .select(col("month"), col("rewritten"), col("n_orders"),
          col("sum_cents"))
        .orderBy(col("month"))
    }),

    // S6e: TIME TRAVEL — the read-at-version third of the lakehouse story
    // next to MERGE (S6c) and OPTIMIZE (S6d): mergeCommit retains every
    // touched partition's pre-commit files (a rename into _graft_v, the
    // never-delete discipline of a real table format's commit), and
    // readAtVersion(0) reconstructs the PRE-merge snapshot from retained
    // touched months ∪ current untouched months. The graded output is the
    // reconstructed version-0 state per month, oracled against the
    // declarative pre-merge base — hash equality proves the merge is
    // fully reversible from retained files alone. Retention cost is CDC-
    // sized (touched partitions only); the filesystem golden pins that
    // _graft_v holds exactly the rewritten months and nothing else.
    "sink_merge_time_travel" -> ((s, d) => {
      val (p, _, affected, _) = sharedBase1(s, d)
      readAtVersion(s, p, 0L)
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("restored",
          when(col("month").isin(affected: _*), 1L).otherwise(0L))
        .select(col("month"), col("restored"), col("n_orders"),
          col("sum_cents"))
        .orderBy(col("month"))
    }),

    // S6f: VACUUM — retention expiry, the fourth quarter of the lakehouse
    // story (MERGE S6c / OPTIMIZE S6d / TIME TRAVEL S6e): two commits
    // retain generations g=1 (pre-commit-1 copies of the last-2 months)
    // and g=2 (pre-commit-2 copy of the busiest month); vacuumTo(keep=1)
    // deletes g=1 — version 0 is no longer reconstructable and now FAILS
    // LOUDLY via the _horizon marker (without it readAtVersion(0) would
    // silently serve g=2's copy: expiry without a recorded floor is data
    // corruption wearing a disk-savings hat) — while version 1 still
    // reconstructs exactly. The graded output IS that reconstruction:
    // post-commit-1 state per month, restored=1 on the month served from
    // retained g=2 files. The golden pins the filesystem half (g=1 gone,
    // g=2 intact, horizon fires on v=0). Expiry cost is a driver-side
    // listing + deletes bounded by retained CDC volume, never table size.
    "sink_merge_vacuum" -> ((s, d) => {
      val (p, bm) = sharedBase12(s, d)
      vacuumTo(p, keep = 1L)
      readAtVersion(s, p, 1L)
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("restored", when(col("month") === bm, 1L).otherwise(0L))
        .select(col("month"), col("restored"), col("n_orders"),
          col("sum_cents"))
        .orderBy(col("month"))
    }),

    // S6g: CHANGE DATA FEED — derive the I/U/D slice BETWEEN two committed
    // versions from the retained files alone (a table format's CDF read:
    // downstream incremental consumers replay commits they missed without
    // the producer re-sending them). The diff is a (key, month) full-outer
    // join of readAtVersion(1) against the current state: v1-only rows are
    // D (before-image cents), v2-only rows are I, both-sides rows whose
    // cents or status differ are U (after-image). Oracled against the
    // APPLIED commit-2 batch built declaratively — hash equality proves
    // the derived feed is exactly the batch that produced the delta.
    // Scale shape: both legs of the join prune to the retained months
    // (readAtVersion serves untouched months from the current layout, and
    // identical rows fall out of the diff), so feed cost tracks CDC
    // volume; the join key is (key, month) — co-partitioned, no fan-out.
    "sink_merge_cdf" -> ((s, d) => {
      val (p, _) = sharedBase12(s, d)
      // commit 2's slice via the SHARED feed kernel — the same
      // changeFeedBatch the streaming consumer replays per version
      changeFeedBatch(s, p, 2L)
        .groupBy(col("month"), col("op"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("month"), col("op"))
    }),

    // S6h: the COMPOSED LIFECYCLE on ONE table (round 15 — r14 missing
    // #3: merge/compact/time-travel/vacuum/cdf each staged their own
    // snapshot, so no test ever drove the sequence a production table
    // actually lives). One snapshot takes merge → OPTIMIZE → merge →
    // vacuum, with every operation — INCLUDING the compaction, via
    // [[compactCommit]] — recorded as a generation, then time travel
    // sweeps the versions:
    //   base    — busiest month deliberately fragmented (12 files), the
    //             CDC-sink aftermath OPTIMIZE exists for;
    //   g=1     — the last-2-months I/U/D merge;
    //   g=2     — compactCommit collapses the busiest month's files: a
    //             COMMIT, so v1 still serves the retained 12-file copy;
    //   g=3     — the busiest-month merge (commit 2 of the vacuum/cdf
    //             stories);
    //   vacuum  — keep=2 expires g=1 (v0 now fails loudly; v1 needs only
    //             g>1 by the smallest-g>v rule, so it survives expiry).
    // Graded output: per-month state at v=1, v=2, v=3. The v1 ≡ v2 rows
    // hash-prove compaction changed bytes and file counts but not ONE
    // semantic value — while still being a version boundary time travel
    // can name, which is exactly what a real format's OPTIMIZE snapshot
    // promises.
    "sink_lifecycle" -> ((s, d) => {
      val base0 = mergeBase0(s, d)
      val p = scratch(s, d, "lifecycle")
      // ONE per-month probe serves bm + last2 (was one full-table
      // aggregation job each — round-15 staging cleanup, see monthCounts;
      // round 16: Memo-served, shared with the sharedBase1 staging)
      val mc = monthCountsMemo(s, d)
      val bm = busiestOf(mc)
      val keep0 = base0.filter(col("o_orderkey") % 10 =!= 7)
      keep0.filter(col("month") =!= bm).repartition(col("month"))
        .write.mode("overwrite").partitionBy("month").parquet(p)
      keep0.filter(col("month") === bm).repartition(12)
        .write.mode("append").partitionBy("month").parquet(p)
      mergeCommit(s, p, commit1Changes(base0, last2Of(mc)))
      val compacted = compactCommit(s, p, maxFiles = 8)
      require(compacted == Seq(bm),
        s"compaction probe hit $compacted, expected exactly [$bm]")
      secondCommit(s, p, base0, mc)
      vacuumTo(p, keep = 2L)
      // the 3-version sweep through the SHARED-current-scan reader (round
      // 16): one pass over the current layout + two pruned retained legs,
      // instead of three full scans — v=3 has no retained g>3, so
      // readAtVersions serves it straight from the current layout,
      // exactly the s.read.parquet leg the old form unioned
      readAtVersions(s, p, Seq(1L, 2L, 3L))
        .groupBy(col("v"), col("month"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .select(col("v"), col("month"), col("n_orders"), col("sum_cents"))
        .orderBy(col("v"), col("month"))
    }),

    // S6d: small-file COMPACTION — the OPTIMIZE half of table maintenance,
    // pairing sink_merge_upsert's MERGE: streaming/CDC sinks accumulate
    // many small files per hot partition, and the read side then pays
    // per-file open + listing + scheduling cost (at 100 TB, a 24×
    // fragmentation is the difference between 8 M and 200 M tasks). A
    // maintenance pass (1) stages the CDC aftermath — 24 small files in
    // each hot partition, healthy single files elsewhere; (2) probes the
    // layout driver-side (the manifest read every OPTIMIZE planner does)
    // and picks partitions with > 8 files; (3) rewrites ONLY those via a
    // partition-pruned read + repartition(partition key) → one file per
    // partition at fixture bytes (a production pass swaps in rebalance +
    // maxRecordsPerFile for target-size bin-packing — the pruned-read +
    // dynamic-overwrite economics are identical), staged through
    // localCheckpoint like the merge's commit; (4) the graded output is
    // the post-compaction semantic state per partition — hash equality
    // against the source proves compaction changed NOTHING semantically —
    // and the layout claims (files collapsed, untouched partitions' files
    // never rewritten) are filesystem-golden-pinned.
    "sink_compact_small_files" -> ((s, d) => {
      val ev = graft.Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          expr("CAST(floor(value * 100D + 0.5D) AS BIGINT)").as("cents"))
      val p = scratch(s, d, "compact_events")
      val frag = Seq("click", "purchase", "view")
      ev.filter(col("event_type").isin(frag: _*)).repartition(24)
        .write.mode("overwrite").partitionBy("event_type").parquet(p)
      ev.filter(!col("event_type").isin(frag: _*)).coalesce(1)
        .write.mode("append").partitionBy("event_type").parquet(p)
      val parts = Option(new java.io.File(p).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
        .map { dir =>
          dir.getName.stripPrefix("event_type=") ->
            dir.listFiles().count(_.getName.endsWith(".parquet"))
        }
      val toCompact = parts.filter(_._2 > 8).map(_._1).sorted.toIndexedSeq
      val compacted = s.read.parquet(p)
        .filter(col("event_type").isin(toCompact: _*))
        .repartition(col("event_type"))
        .localCheckpoint()
      // per-WRITE dynamic overwrite (see mergeCommit: a session-conf
      // toggle can interleave with a concurrent partitioned writer)
      compacted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(p)
      s.read.parquet(p)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("compacted",
          when(col("event_type").isin(toCompact: _*), 1L).otherwise(0L))
        .select(col("event_type"), col("compacted"), col("n_rows"),
          col("sum_cents"))
        .orderBy(col("event_type"))
    }),

    // JSON-lines with explicit schema (no sampling pass).
    "scan_json_files" -> ((s, d) => {
      val p = scratch(s, d, "json")
      Tables.nation(s, d).coalesce(1).write.mode("overwrite").json(p)
      s.read
        .schema(StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType))))
        .json(p)
        .orderBy(col("n_nationkey"))
    }),

    // Schema evolution across file generations — the lakehouse reality
    // that a 100 TB table is written over months by evolving jobs: an
    // old generation lacks a column a new one carries. mergeSchema
    // reconciles the footers at read time (nullable union of fields);
    // the audit output proves the semantics — every old-generation row
    // surfaces the missing column as NULL, new rows carry values, and
    // nothing is dropped. mergeSchema costs a footer read per file —
    // fine for a demo read; at production scale the merged schema comes
    // from the table catalog, same semantics. The generation partition
    // column is CAST to BIGINT so both engines agree on the audit key
    // type.
    "scan_parquet_evolution" -> ((s, d) => {
      val p = scratch(s, d, "evo")
      Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
        .coalesce(1).write.mode("overwrite").parquet(p + "/g=1")
      Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .coalesce(1).write.mode("overwrite").parquet(p + "/g=2")
      s.read.option("mergeSchema", "true").parquet(p)
        .groupBy(col("g").cast("long").as("generation"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_regionkey").isNull.cast("long")).as("n_null_region"),
          countDistinct(col("n_name")).as("n_names"))
        .orderBy(col("generation"))
    }),

    // Date-partitioned events SOURCE read end-to-end — the first lever a
    // 100 TB reader pulls: the fixture corpus re-laid-out as a
    // dt=YYYY-MM-DD hive layout (one directory per calendar day, the
    // production events-table shape), then read back with a STATIC date
    // predicate that Catalyst turns into PartitionFilters — pruning
    // happens at FILE LISTING time, before any footer or row is touched,
    // so a 7-day query over a 10-year table lists 7 directories, not
    // 3650. The layout is built once per corpus (eventsDayLayout's
    // marker) — the query times the pruned READ, as a production reader
    // would. The window start comes from the marker (probed once at
    // build time — fixture dates drift between regenerations) and lands
    // in the plan as a LITERAL, so pruning is static, not dynamic;
    // PlanShapeSpec pins selectedPartitions == 7 of 30. Output keys are
    // CAST(dt AS STRING) so both engines compare atomic text.
    "scan_events_partitioned" -> ((s, d) => {
      val (p, minDt) = eventsDayLayout(s, d)
      s.read.parquet(p)
        .filter(col("dt") >= lit(minDt) &&
          col("dt") < date_add(lit(minDt), 7))
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(expr("CAST(floor(value * 100D + 0.5D) AS BIGINT)"))
            .as("value_cents"))
        .orderBy(col("dt"))
    }),

    // ORC round-trip — the second COLUMNAR format next to parquet (Spark
    // ships the reader/writer natively): write customers as ORC, read
    // back with a predicate that must reach the ORC reader as a pushed
    // search argument (ORC's stripe/row-group statistics serve the same
    // skip role as parquet's min/max — the layout survives a format
    // migration). The filtered aggregate is the graded output, oracled
    // against the original parquet.
    "scan_orc" -> ((s, d) => {
      val p = scratch(s, d, "orc")
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .coalesce(1).write.mode("overwrite").orc(p)
      s.read.orc(p)
        .filter(col("c_acctbal") > 5000.0)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(c_acctbal * 100D + 0.5D) AS BIGINT)"))
            .as("bal_cents"))
        .orderBy(col("c_mktsegment"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "scan_csv" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "scan_json_files" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "sink_parquet_partitioned" ->
      "SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value FROM events WHERE event_type = 'purchase' GROUP BY event_type ORDER BY event_type",

    // Compaction must be a semantic NO-OP: the oracle recomputes the
    // per-partition state straight from the source table — hash equality
    // proves no row was lost, duplicated, or altered by the rewrite. The
    // compacted flag replays the staging rule (exactly the three
    // fragmented types qualify under the > 8-files probe).
    "sink_compact_small_files" ->
      ("SELECT event_type, CAST(CASE WHEN event_type IN " +
        "('click', 'purchase', 'view') THEN 1 ELSE 0 END AS BIGINT) " +
        "AS compacted, count(*) AS n_rows, " +
        "CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) " +
        "AS sum_cents FROM events GROUP BY 1, 2 ORDER BY event_type"),

    // The merge replayed DECLARATIVELY: the final state is (untouched
    // base rows) ∪ (updates) ∪ (inserts), with deletes absent — DuckDB
    // never sees the staged files, so hash equality proves the
    // partition-scoped rewrite left untouched months byte-equivalent and
    // touched months exactly merged.
    "sink_merge_upsert" ->
      ("WITH b AS (SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month, " +
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders), " +
        "aff AS (SELECT DISTINCT month FROM b ORDER BY month DESC LIMIT 2), " +
        "final AS (" +
        "SELECT o_orderkey, month, cents FROM b WHERE o_orderkey % 10 <> 7 " +
        "AND NOT (month IN (SELECT month FROM aff) AND o_orderkey % 10 IN (3, 5)) " +
        "UNION ALL SELECT o_orderkey, month, cents + 500 FROM b " +
        "WHERE month IN (SELECT month FROM aff) AND o_orderkey % 10 = 3 " +
        "UNION ALL SELECT o_orderkey, month, cents FROM b " +
        "WHERE month IN (SELECT month FROM aff) AND o_orderkey % 10 = 7), " +
        // rewritten = months that actually CARRY changes (the kernel only
        // commits partitions present in the change set — a candidate month
        // with no I/U/D keys is honestly left untouched)
        "chm AS (SELECT DISTINCT month FROM b WHERE month IN " +
        "(SELECT month FROM aff) AND o_orderkey % 10 IN (3, 5, 7)) " +
        "SELECT month, CAST(CASE WHEN month IN (SELECT month FROM chm) " +
        "THEN 1 ELSE 0 END AS BIGINT) AS rewritten, " +
        "count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM final GROUP BY 1, 2 ORDER BY month"),

    // time-travel twin: version 0 IS the pre-merge base — every key with
    // o_orderkey % 10 <> 7, untouched by the merge DuckDB never sees.
    // Hash equality proves readAtVersion reconstructed the exact
    // pre-commit state from retained files; restored replays the
    // affected-month rule (months of the change set = candidate months
    // actually carrying mod-10 3/5/7 keys).
    "sink_merge_time_travel" ->
      ("WITH b AS (SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month, " +
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders), " +
        "aff AS (SELECT DISTINCT month FROM b ORDER BY month DESC LIMIT 2), " +
        "chm AS (SELECT DISTINCT month FROM b WHERE month IN " +
        "(SELECT month FROM aff) AND o_orderkey % 10 IN (3, 5, 7)) " +
        "SELECT month, CAST(CASE WHEN month IN (SELECT month FROM chm) " +
        "THEN 1 ELSE 0 END AS BIGINT) AS restored, " +
        "count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM b WHERE o_orderkey % 10 <> 7 GROUP BY 1, 2 ORDER BY month"),

    // vacuum twin: version 1 = base with commit 1 applied — commit 2 is
    // exactly what v1 must NOT show, and the deleted g=1 files are
    // exactly what v1 must not NEED (commit-1 months reconstruct from the
    // CURRENT layout: commit 2 never touched them). restored replays the
    // commit-2 staging rule (the busiest month, count-desc/month
    // tie-break).
    "sink_merge_vacuum" ->
      ("WITH b AS (SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month, " +
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders), " +
        "aff AS (SELECT DISTINCT month FROM b ORDER BY month DESC LIMIT 2), " +
        "bm AS (SELECT month AS m FROM b GROUP BY 1 ORDER BY count(*) DESC, month LIMIT 1), " +
        "final AS (" +
        "SELECT o_orderkey, month, cents FROM b WHERE o_orderkey % 10 <> 7 " +
        "AND NOT (month IN (SELECT month FROM aff) AND o_orderkey % 10 IN (3, 5)) " +
        "UNION ALL SELECT o_orderkey, month, cents + 500 FROM b " +
        "WHERE month IN (SELECT month FROM aff) AND o_orderkey % 10 = 3 " +
        "UNION ALL SELECT o_orderkey, month, cents FROM b " +
        "WHERE month IN (SELECT month FROM aff) AND o_orderkey % 10 = 7) " +
        "SELECT month, CAST(CASE WHEN month = (SELECT m FROM bm) " +
        "THEN 1 ELSE 0 END AS BIGINT) AS restored, " +
        "count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM final GROUP BY 1, 2 ORDER BY month"),

    // lifecycle twin: the three versions declaratively — v1 = base with
    // commit 1 applied, v2 = THE SAME ROWS (compaction must be a
    // semantic no-op across a real version boundary), v3 = v1 with the
    // busiest-month commit 2 applied. DuckDB never sees generations,
    // renames, or the vacuum — hash equality proves the composed
    // merge → compact → merge → vacuum → time-travel chain reconstructs
    // every surviving version exactly.
    "sink_lifecycle" ->
      ("WITH b AS (SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month, " +
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders), " +
        "aff AS (SELECT DISTINCT month FROM b ORDER BY month DESC LIMIT 2), " +
        "bm AS (SELECT month AS m FROM b GROUP BY 1 ORDER BY count(*) DESC, month LIMIT 1), " +
        "final1 AS (" +
        "SELECT o_orderkey, month, cents FROM b WHERE o_orderkey % 10 <> 7 " +
        "AND NOT (month IN (SELECT month FROM aff) AND o_orderkey % 10 IN (3, 5)) " +
        "UNION ALL SELECT o_orderkey, month, cents + 500 FROM b " +
        "WHERE month IN (SELECT month FROM aff) AND o_orderkey % 10 = 3 " +
        "UNION ALL SELECT o_orderkey, month, cents FROM b " +
        "WHERE month IN (SELECT month FROM aff) AND o_orderkey % 10 = 7), " +
        "final3 AS (" +
        "SELECT o_orderkey, month, cents FROM final1 WHERE NOT " +
        "(month = (SELECT m FROM bm) AND o_orderkey % 10 IN (1, 9)) " +
        "UNION ALL SELECT o_orderkey, month, cents + 100 FROM b " +
        "WHERE month = (SELECT m FROM bm) AND o_orderkey % 10 = 1 " +
        "UNION ALL SELECT o_orderkey, month, cents FROM b " +
        "WHERE month = (SELECT m FROM bm) AND o_orderkey % 10 = 7), " +
        "a1 AS (SELECT month, count(*) AS n_orders, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents FROM final1 GROUP BY month), " +
        "a3 AS (SELECT month, count(*) AS n_orders, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents FROM final3 GROUP BY month) " +
        "SELECT CAST(v AS BIGINT) AS v, month, n_orders, sum_cents FROM (" +
        "SELECT 1 AS v, * FROM a1 UNION ALL SELECT 2, * FROM a1 " +
        "UNION ALL SELECT 3, * FROM a3) ORDER BY v, month"),

    // CDF twin: the applied commit-2 batch itself, declaratively — D rows
    // carry the before-image (pure base cents: commit 1 never touched the
    // busiest month, a contract the Spark side require-pins at staging),
    // I/U rows the after-image.
    "sink_merge_cdf" ->
      ("WITH b AS (SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month, " +
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders), " +
        "bm AS (SELECT month AS m FROM b GROUP BY 1 ORDER BY count(*) DESC, month LIMIT 1), " +
        "cdf AS (" +
        "SELECT month, 'D' AS op, cents FROM b, bm WHERE month = m AND o_orderkey % 10 = 9 " +
        "UNION ALL SELECT month, 'I', cents FROM b, bm WHERE month = m AND o_orderkey % 10 = 7 " +
        "UNION ALL SELECT month, 'U', cents + 100 FROM b, bm WHERE month = m AND o_orderkey % 10 = 1) " +
        "SELECT month, op, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) " +
        "AS sum_cents FROM cdf GROUP BY 1, 2 ORDER BY month, op"),

    // evolution twin: the audit derives from nation directly — 25 rows
    // per generation, all region keys null in g=1, none in g=2.
    "scan_parquet_evolution" ->
      ("SELECT generation, n_rows, n_null_region, n_names FROM (" +
        "SELECT CAST(1 AS BIGINT) AS generation, count(*) AS n_rows, " +
        "count(*) AS n_null_region, count(DISTINCT n_name) AS n_names FROM nation " +
        "UNION ALL SELECT CAST(2 AS BIGINT), count(*), 0, " +
        "count(DISTINCT n_name) FROM nation) ORDER BY generation"),

    // partitioned-source twin: DuckDB replays the same 7-day window off
    // the original table — the layout changes WHERE bytes live, not what
    // the query means.
    "scan_events_partitioned" ->
      ("WITH b AS (SELECT (SELECT min(CAST(ts AS DATE)) FROM events) AS d0), " +
        "f AS (SELECT CAST(ts AS DATE) AS dt, user_id, value FROM events, b " +
        "WHERE CAST(ts AS DATE) >= b.d0 AND CAST(ts AS DATE) < b.d0 + 7) " +
        "SELECT CAST(dt AS VARCHAR) AS dt, count(*) AS n, " +
        "count(DISTINCT user_id) AS n_users, " +
        "CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) " +
        "AS value_cents FROM f GROUP BY dt ORDER BY dt"),

    "scan_orc" ->
      ("SELECT c_mktsegment, count(*) AS n, " +
        "CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) " +
        "AS bal_cents FROM customer WHERE c_acctbal > 5000.0 " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")
  )
}
