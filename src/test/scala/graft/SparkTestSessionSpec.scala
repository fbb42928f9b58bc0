package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The shared test session runs the shipped conf, and `cleanup()` puts
  * back whatever a suite changed so suite order cannot change results. */
class SparkTestSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.SparkTestSession.spark

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  private val engineKeys = Seq(
    "spark.sql.requireAllClusterKeysForCoPartition",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst")

  test("the test session carries the engine's shipped conf") {
    engineKeys.foreach(k => assert(spark.conf.get(k) == "false", k))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("cleanup() restores keys a suite set, changed or unset") {
    val before = spark.conf.getAll
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.test.leaked", "x")
    engineKeys.foreach(spark.conf.unset)
    graft.SparkTestSession.cleanup()
    assert(spark.conf.getAll == before)
    assert(spark.conf.getOption("spark.graft.test.leaked").isEmpty)
    engineKeys.foreach(k => assert(spark.conf.get(k) == "false", k))
  }
}
