package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String) = s"/root/testdata/sf$dir"

  /** `body`'s result and the number of Spark jobs it started: a
    * test-local listener counts the jobs tagged with a scope property
    * set on this thread, so no other thread's job is ever counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobScope"
    val scope = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == scope))
          n.incrementAndGet()
    }
    val prev = sc.getLocalProperty(key)
    sc.addSparkListener(l)
    sc.setLocalProperty(key, scope)
    try {
      val r = body
      org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark)
      (r, n.get)
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(l)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SessionProfile.tune(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", // static conf; keep out of the repo
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
