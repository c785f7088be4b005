package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (UTC, nanos-tolerant, small
  * shuffle fan-out for test speed). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** Id the session's next RDD gets: every RDD made after this call has
    * an id at or above it. */
  def nextRddId(): Int = spark.sparkContext.emptyRDD[Unit].id

  /** Ids at or above `mark` still persisted after driver GCs, polling up
    * to 10 s while Spark's ContextCleaner unpersists every RDD whose
    * plan was collected. Empty when nothing made since `mark` is still
    * referenced. */
  def persistedSince(mark: Int): Set[Int] = {
    def live = spark.sparkContext.getPersistentRDDs.keySet.filter(_ >= mark).toSet
    val deadline = System.nanoTime() + 10_000_000_000L
    var left = live
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(100); left = live
    }
    left
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
