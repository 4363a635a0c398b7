package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Runs `body` with a job-start listener; returns once the listener has
    * seen every job `body` started (a later marker job's start is
    * delivered after them). */
  def withJobStarts[T](onStart: SparkListenerJobStart => Unit)(body: => T): T = {
    val sc = spark.sparkContext
    val marker = s"spec-listener-marker-${java.util.UUID.randomUUID}"
    val sawMarker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == marker) sawMarker.countDown()
        else onStart(e)
    }
    sc.addSparkListener(listener)
    try {
      val out = try body finally {
        sc.setJobGroup(marker, "listener barrier")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      }
      require(sawMarker.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener barrier job was never seen")
      out
    } finally sc.removeSparkListener(listener)
  }
}
