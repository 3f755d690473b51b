package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{LlmSimilarity, NearDup}

/** The train-once-serve-many memo (graft.Memo): the registry that lets
  * composed queries (similarity_ivfpq, curation_keep_best) consume the
  * model tables their siblings trained, instead of re-running the Lloyd's /
  * label-propagation loops per query. */
class MemoSpec extends AnyFunSuite with SparkFixture {

  test("cached builds once per key, isolates keys, and clear() invalidates") {
    val app = spark.sparkContext.applicationId
    var builds = 0
    def make() = { builds += 1; spark.range(1).toDF("x") }
    val a1 = Memo.cached(app, "memospec:a")(make())
    val a2 = Memo.cached(app, "memospec:a")(make())
    assert(a1 eq a2, "same key must serve the same frame instance")
    assert(builds == 1, "second lookup must not re-run the builder")
    Memo.cached(app, "memospec:b")(make())
    assert(builds == 2, "distinct key must build")
    // a different applicationId namespace can never serve this frame
    Memo.cached(app + "-other", "memospec:a")(make())
    assert(builds == 3, "distinct appId must build")
    Memo.clear()
    Memo.cached(app, "memospec:a")(make())
    assert(builds == 4, "clear() must force a rebuild")
  }

  test("trainers serve the memoized model table within a session") {
    Memo.clear()
    // IVF cells: second call must be the SAME frame (no retraining)
    val c1 = LlmSimilarity.ivfTrained(spark, sfSmall)
    val c2 = LlmSimilarity.ivfTrained(spark, sfSmall)
    assert(c1 eq c2)
    // cluster labels: shared between dedup_clusters and curation_keep_best
    val l1 = NearDup.clusterLabels(spark, sfSmall)
    val l2 = NearDup.clusterLabels(spark, sfSmall)
    assert(l1 eq l2)
    // star labels live under their OWN key — dedup_clusters_star exists to
    // exercise the star-contraction code path, so it must not be handed
    // the label-propagation result even though the values agree
    val s1 = NearDup.starLabels(spark, sfSmall)
    assert(!(s1 eq l1))
    // ...and the values DO agree (the PropertySpec equivalence, end-to-end)
    val lp = l1.orderBy(col("v")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val st = s1.orderBy(col("v")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lp.sameElements(st))
    Memo.clear()
    val c3 = LlmSimilarity.ivfTrained(spark, sfSmall)
    assert(!(c3 eq c1), "clear() must retrain")
    spark.catalog.clearCache()
    Memo.clear()
  }

  test("the token and MinHash signature stages are Memo-served") {
    Memo.clear()
    val t1 = NearDup.tokens(spark, sfSmall)
    val m1 = NearDup.minhashSigs(spark, sfSmall)
    assert(NearDup.tokens(spark, sfSmall) eq t1)
    assert(NearDup.minhashSigs(spark, sfSmall) eq m1)
    Memo.clear()
    assert(!(NearDup.tokens(spark, sfSmall) eq t1), "clear() must rebuild tokens")
    assert(!(NearDup.minhashSigs(spark, sfSmall) eq m1),
      "clear() must rebuild the signature stage")
    spark.catalog.clearCache()
    Memo.clear()
  }

  /** Stage names of each job launched while `body` runs. Listener events
    * arrive asynchronously, so a marker job before and after the body
    * brackets exactly the body's jobs once the second marker is seen. */
  private def jobsDuring(body: => Unit): Seq[Seq[String]] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add((
        Option(e.properties).map(_.getProperty("memospec.marker", "")).getOrElse(""),
        e.stageInfos.map(_.name)))
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty("memospec.marker", tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("memospec.marker", null)
    }
    sc.addSparkListener(l)
    try {
      marker("start")
      body
      marker("end")
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_._1 == "end")) {
        assert(System.nanoTime() < deadline, "the end marker job never reached the listener")
        Thread.sleep(10)
      }
    } finally sc.removeSparkListener(l)
    seen.asScala.toSeq.dropWhile(_._1 != "start").drop(1)
      .takeWhile(_._1 != "end").map(_._2)
  }

  test("IVF training runs one job per Lloyd's step") {
    spark.catalog.clearCache()
    // fixture schema reads aside, training runs the corpus count and the
    // steps, nothing else
    def work(body: => Unit) =
      jobsDuring(body).filterNot(_.forall(_.startsWith("parquet at ")))
    Memo.clear()
    val count = work(Sizing.corpusCount(spark, sfSmall))
    Memo.clear()
    val jobs = work(LlmSimilarity.ivfTrained(spark, sfSmall))
    val training = jobs.filter(_.exists(_.contains("LlmSimilarity.scala")))
    assert(training.size == 1 + LlmSimilarity.ivfIters,
      s"expected the seeding step plus ${LlmSimilarity.ivfIters} Lloyd's " +
        s"steps, one job each: $jobs")
    assert(jobs.size == training.size + count.size,
      s"jobs beyond the steps and the corpus count ($count): $jobs")
    Memo.clear()
  }

  test("dedup_simhash builds off dedup_containment's signature stage without a count job") {
    spark.catalog.clearCache()
    Memo.clear()
    NearDup.queries("dedup_containment")(spark, sfSmall).collect()
    val jobs = jobsDuring(NearDup.queries("dedup_simhash")(spark, sfSmall))
    assert(!jobs.exists(_.exists(_.startsWith("count at "))),
      s"building dedup_simhash re-counted a stage: $jobs")
    spark.catalog.clearCache()
    Memo.clear()
  }
}
