package graft

import org.apache.log4j.{Level, Logger}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for all suites: the engine's [[Sessions.local]]
  * conf on 4 cores, plus a warehouse under target/ and the RocksDB state
  * store. */
trait SparkFixture extends BeforeAndAfterAll { this: Suite =>

  lazy val spark: SparkSession = {
    Logger.getLogger("org").setLevel(Level.WARN)
    Sessions.local(4, Map(
      "spark.sql.warehouse.dir" -> "target/warehouse",
      // the state backend a production deployment would run: bounds state
      // by disk (not executor heap) and makes the streaming suites prove
      // the stateful ops work on it, not just on the in-memory provider
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
  }

  val sfSmall = "/root/testdata/sf0.001"
  val sfMid = "/root/testdata/sf0.01"

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
