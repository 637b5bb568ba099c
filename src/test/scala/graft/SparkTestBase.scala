package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + per-suite temp storage, mirroring the reference's
  * test harness shape (reference: src/test/.../SparkTests.scala:16-80). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val tmp = Files.createTempDirectory("graft_store_").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.graft.storagePath", tmp)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Spark jobs started from this thread while `body` runs. A local
    * property tags them, so jobs of anything else running in the session
    * are not counted; the listener bus is drained before the count is read. */
  def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.jobs") == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobs", tag)
    try {
      body
      ListenerBusDrain.drain(sc)
    } finally {
      sc.setLocalProperty("graft.test.jobs", null)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** Order-insensitive frame equality on a common column order. */
  def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    val cols = expected.columns.sorted.toSeq
    val a = actual.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val e = expected.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val extra = a.exceptAll(e).count()
    val missing = e.exceptAll(a).count()
    assert(extra == 0 && missing == 0,
      s"row mismatch: $extra unexpected, $missing missing (of ${e.count()} expected)")
  }
}
