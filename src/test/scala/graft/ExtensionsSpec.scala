package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions entry point. A full isolated-session test is
  * not possible here (getOrCreate would reuse the suite-shared session and
  * ignore the extensions conf), so this asserts (a) the injection wiring
  * applies cleanly to a fresh SparkSessionExtensions, and (b) the same
  * builder produces correct results via the runtime-registration path on
  * the shared session. */
class ExtensionsSpec extends AnyFunSuite with SparkFixture {

  test("GraftExtensions injects cosine_sim without error") {
    new graft.functions.GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("GraftExtensions injects every function register installs") {
    val injected = mutable.Set.empty[String]
    new graft.functions.GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    // what register adds to a fresh session's registry, observed rather
    // than read from the shared table
    val fresh = spark.newSession()
    def names = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet
    val before = names
    graft.functions.CosineSim.register(fresh)
    val installed = names -- before
    assert(installed.contains("cosine_sim") && installed.contains("cos_argmax"))
    assert((installed -- injected).isEmpty,
      s"registered but not injected: ${installed -- injected}")
  }

  test("registered cosine_sim computes a correct value end-to-end") {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val r = Seq((Seq(3.0f, 4.0f), Seq(4.0f, 3.0f))).toDF("a", "b")
      .select(expr("cosine_sim(a, b)")).as[Double].head()
    assert(math.abs(r - 24.0 / 25.0) < 1e-12) // cos = (12+12)/(5*5)
  }

  test("JaccardPrefilterRule guards jaccard thresholds, once, without changing results") {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L, 4L)),
      (Seq(1L, 2L), Seq(10L, 20L, 30L, 40L, 50L)), // size guard prunes
      (Seq(5L, 6L), Seq(5L, 6L)))
      .toDF("a", "b")
    val filtered = df.filter(expr("jaccard_sim(a, b) >= 0.5"))
    val once = graft.plans.JaccardPrefilterRule(filtered.queryExecution.analyzed)
    assert(once.toString.contains("least(size("),
      s"guard missing from rewritten plan:\n$once")
    // idempotence: the fixed-point optimizer batch must converge
    val twice = graft.plans.JaccardPrefilterRule(once)
    assert(twice.fastEquals(once), "rule re-fired on its own output")
    // the guard is IMPLIED by the jaccard predicate (J <= min/max), so
    // adding it by hand changes nothing — the correctness half of the
    // rewrite, checked by value
    val manual = df.filter(expr(
      "CAST(least(size(a), size(b)) AS DOUBLE) >= 0.5D * greatest(size(a), size(b)) " +
        "AND jaccard_sim(a, b) >= 0.5"))
    assert(manual.collect().map(_.toString).sorted.sameElements(
      filtered.collect().map(_.toString).sorted))
    assert(filtered.count() == 2)
  }
}
