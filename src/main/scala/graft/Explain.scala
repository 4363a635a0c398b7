package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection surface: prints the formatted physical plan of selected
  * queries (all when no names given) — used to check filter/projection
  * pushdown, join strategies, and codegen spans per round. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try n match {
        case "hamming_store_probe" => hammingStoreProbePlan(spark)
        case _ => SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }

  /** The streaming-screen gates (q268/q272) run their probes inside
    * foreachBatch, so their top-level explain is just the flagged-dir
    * read; this pseudo-query builds a gate-shaped banded hash store
    * (two fresh appends + one compacted generation) and prints the
    * probe's ACTUAL plan — the surface where (band, kp) partition
    * pruning and the key-set parquet pushdown must be visible. */
  private def hammingStoreProbePlan(spark: SparkSession): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-explain-hamstore").toString
    try hammingStoreProbePlanIn(spark, dir)
    finally SparkEntry.rmTree(dir) // also on failure — no leaked temp store
  }

  private def hammingStoreProbePlanIn(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val store = s"$dir/store"; val flagged = s"$dir/flagged"
    val base = 0x7A5C3E1D0B090807L
    def run(ids: Seq[(Long, Long)], batchId: Long): Unit =
      graft.operators.Dedup.hammingScreenBatch(ids.toDF("asset_id", "h"),
        batchId, store, flagged, "h", "asset_id", bands = 4, bandBits = 16,
        maxHamming = 2, maxBucketSize = 1000)
    run((0 until 512).map(i => (i.toLong, base + (i.toLong << 32))), 0L)
    graft.operators.Dedup.compactHammingStore(spark, store, keepNewest = 0)
    run((0 until 64).map(i => (1000L + i, base ^ (1L << i))), 1L)
    val probe = graft.operators.Dedup.hammingScreenAgainstStore(
      Seq((5000L, base ^ 1L), (5001L, base ^ 3L)).toDF("asset_id", "h"),
      store, "h", "asset_id", 4, 16, 2, 1000, excludeBatchId = 2L)
    // the probe materializes inside the call (raised-IN-threshold
    // window); print the EXECUTED store-scan side from a re-built
    // equivalent frame so PartitionFilters/PushedFilters are visible
    probe.explain("formatted")
    println("---- probe store scan (executed plan of the banded read) ----")
    val bands = graft.operators.Dedup.hammingBands(
      Seq((5000L, base ^ 1L), (5001L, base ^ 3L)).toDF("asset_id", "h"),
      "h", "asset_id", 4, 16)
      .withColumn("kp", shiftrightunsigned(col("key"), 10).cast("int"))
    val kps = bands.select("band", "kp").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    val keys = bands.select("key").distinct().collect().map(_.getLong(0))
    val kpPred = kps.groupBy(_._1).map { case (b, ps) =>
      col("band") === b && col("kp").isin((ps.map(_._2).toSeq :+ -1): _*)
    }.reduce(_ || _)
    GraftConfig.scopedConf(spark,
        "spark.sql.parquet.pushdown.inFilterThreshold" -> (keys.length + 1).toString) {
      val scan = spark.read.parquet(store)
        .filter(col("batch") =!= 2L).filter(kpPred)
        .filter(col("key").isin(keys.toSeq: _*))
      scan.queryExecution.executedPlan // force planning
      scan.explain("formatted")
    }
  }
}
