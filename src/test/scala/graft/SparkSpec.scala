package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (one JVM-wide session; suites run sequentially
  * under sbt's default test execution within the forked JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Test-data root shared by every suite (override via GRAFT_TEST_SF_DIR). */
  val sfDir: String =
    sys.env.getOrElse("GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
  def sf(name: String) = s"$sfDir/$name.parquet"

  /** Spark jobs started on this thread while `body` runs. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try body
    finally {
      sc.setLocalProperty(tag, null)
      org.apache.spark.GraftTestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  /** A seeded float corpus (vec_id, cell, embedding) of `cells`
    * well-separated clusters, written as ONE parquet file so the fanned-out
    * scan path is the one exercised. With `dupFirst` the first two ids
    * share one vector: seeded from the smallest ids, their seeds tie, every
    * argmin breaks the tie to label 1, and label 2 empties after round 1. */
  def seededCorpus(seed: Long, n: Int, dims: Int, cells: Int,
      dupFirst: Boolean = false): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    val rows = (0L until n).map { i =>
      (i, i % cells, Seq.fill(dims)(
        (r.nextGaussian() * 3).toFloat + (i % cells) * 20f))
    }
    val rows2 = if (dupFirst) rows.updated(1, rows(1).copy(_3 = rows(0)._3))
      else rows
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus")
      .toString
    rows2.toDF("vec_id", "cell", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** The innermost cause's class and message: what a Spark job failure and
    * a driver-side failure of the same check have in common. */
  def rootFailure(t: Throwable): String = {
    var c = t
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${c.getClass.getSimpleName}: ${c.getMessage}"
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    graft.io.EngineSession.local(4, "ERROR")
}
