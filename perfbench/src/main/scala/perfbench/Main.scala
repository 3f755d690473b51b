package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.log4j.{Level, Logger}
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point (see perfbench/README.md).
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <fixture dir> --work <scratch dir>
  *                  --expected <gate file> --traces <span dir>
  *                  [--pin 1] [--full 1]
  *
  * Prints human-readable detail lines, then ONE JSON object as the last
  * stdout line: {"correct", "attempted", "failed", "metrics"}. With
  * `--trace 0` the metrics are the end-to-end set, with `--trace 1` the
  * per-layer set of a separate traced run. `--pin 1` writes the batch
  * correctness gate's expected fingerprints instead of checking them.
  * `--full 1` runs every query of the workload's modules instead of its
  * mix: the per-op cost profile the mix is drawn from.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, expected: String,
      pin: Boolean, full: Boolean, traceDir: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--data"), need("--work"), need("--expected"),
      kv.get("--pin").contains("1"), kv.get("--full").contains("1"),
      need("--traces"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session every workload runs on: local[cores] with one shuffle
    * partition per core, the events-reader conf the engine requires, and
    * the RocksDB state store the streaming suites run on. */
  def session(work: String, nCores: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nCores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nCores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Largest heap occupancy right after a garbage collection, MB, since
    * `watchHeap` ran or `resetPeakHeap` last ran: the heap the engine kept
    * live, apart from garbage and from how far G1 grew the heap. */
  @volatile private var peakHeapAfterGc = 0L

  def watchHeap(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (after > peakHeapAfterGc) peakHeapAfterGc = after }
          }, null, null)
      case _ =>
    }
  }

  def peakHeapMb(): Double = peakHeapAfterGc / 1048576.0

  def resetPeakHeap(): Unit = synchronized { peakHeapAfterGc = 0L }

  /** Heap in use after a full collection, MB: what is live right now. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(argv: Array[String]): Unit = {
    watchHeap()
    Logger.getRootLogger.setLevel(Level.ERROR)
    val a = parse(argv)
    new File(a.work).mkdirs()
    val workload = a.workload match {
      case "event_analytics" => BatchWorkload.eventAnalytics
      case "corpus_dedup"    => BatchWorkload.corpusDedup
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val r = run(a, workload)
    println(Json.result(r.correct, r.attempted, r.failed, r.metrics))
  }

  /** Sets up once (session build plus one scan of every fixture table the
    * workload reads), then measures; the set-up time runs from JVM start. */
  def run(a: Args, w: BatchWorkload): Outcome = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work)
    try {
      w.loadFixtures(spark, a.data)
      w.measure(spark, a, jvmStartMs)
    } finally spark.stop()
  }
}

/** One metric value as reported: a name, a unit, a number. */
final case class Metric(name: String, unit: String, value: Double)

/** What a workload reports after its measured region. */
final case class Outcome(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[Metric])
