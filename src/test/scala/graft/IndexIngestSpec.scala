package graft

import graft.functions.GraftFunctions
import graft.operators.{IvfIndex, PqIndex}
import graft.streaming.IndexIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class IndexIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def clustered(ids: Range, nClusters: Int, dim: Int = 16): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(7777)
    val anchors = Array.fill(nClusters)(Array.fill(dim)(r.nextGaussian().toFloat * 5f))
    ids.map { i =>
      val a = anchors(i % nClusters)
      (i.toLong, a.map(x => x + (i % 17) * 0.003f))
    }
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  test("streamed ingest == batch encode; probed search prunes cells across batches") {
    val trainSet = clustered(0 until 300, 6)
    val train = trainSet.toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(train, nlist = 6)
    val (_, pq) = PqIndex.buildIvfAdc(IvfIndex.assign(train, ivf), ivf, m = 4, ksub = 8)

    val dir = java.nio.file.Files.createTempDirectory("ingest").toString
    val staging = s"$dir/staging"
    val b1 = clustered(300 until 360, 6)
    val b2 = clustered(360 until 420, 6)
    b1.toDF("doc_id", "embedding").write.mode("append").parquet(staging)

    val q = IndexIngest.quantizedIngest(
      spark.readStream.schema(schema).parquet(staging),
      ivf, pq, s"$dir/corpus", s"$dir/stats", s"$dir/ckpt")
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "embedding").write.mode("append").parquet(staging)
      q.processAllAvailable()
    } finally q.stop()

    // Codes per doc must equal a one-shot batch encode of the union.
    val streamed = IndexIngest.loadCorpus(spark, s"$dir/corpus")
      .select("doc_id", "codes").as[(Long, Seq[Int])].collect().toMap
    val all = (b1 ++ b2).toDF("doc_id", "embedding")
    val expect = PqIndex.encode(
        IvfIndex.assign(all, ivf).withColumn("__res",
          PqIndex.residualColumn(ivf, col("embedding"), col("cell_id"))),
        pq, "__res")
      .select("doc_id", "codes").as[(Long, Seq[Int])].collect().toMap
    assert(streamed == expect, "streamed codes deviate from batch encode")

    // Search over the streamed corpus == search over a batch-built one.
    val qVec = b2.head._2
    val got = PqIndex.searchIvfAdc(
      IndexIngest.loadCorpus(spark, s"$dir/corpus"), ivf, pq, qVec, 5, 2)
      .select("doc_id").as[Long].collect().toSeq
    val batchDir = s"$dir/batchCorpus"
    PqIndex.encode(
        IvfIndex.assign(all, ivf).withColumn("__res",
          PqIndex.residualColumn(ivf, col("embedding"), col("cell_id"))),
        pq, "__res")
      .select("doc_id", "cell_id", "codes")
      .write.partitionBy("cell_id").parquet(batchDir)
    val want = PqIndex.searchIvfAdc(
      spark.read.parquet(batchDir), ivf, pq, qVec, 5, 2)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == want)

    // The probed scan must prune by cell_id at the partition level.
    val plan = PqIndex.searchIvfAdc(
      IndexIngest.loadCorpus(spark, s"$dir/corpus"), ivf, pq, qVec, 5, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell_id"),
      s"streamed corpus search does not prune cells:\n$plan")

    // Health history: one row per micro-batch, factor >= 1. Do NOT pin
    // the exact batch ids: the file source can trigger a micro-batch
    // mid-append (part files commit one by one), splitting a staged
    // write across two batch ids under load — content is what the
    // contract guarantees (observed as a rare suite-parallel flake).
    val stats = IndexIngest.loadStats(spark, s"$dir/stats")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(stats.nonEmpty && stats.map(_._1).distinct.length == stats.length)
    assert(stats.map(_._2).sum == 120L)
    assert(stats.forall(_._3 >= 1.0))
    // the drift metric rides every batch record: a real residual norm
    assert(stats.forall(_._4 > 0.0), s"mean_resid missing/zero: ${stats.toSeq}")
  }

  /** An in-test copy of the health-record plan `ingestBatch` ran before
    * its single per-cell aggregate: [[IvfIndex.cellStats]] summed, crossed
    * with a residual aggregate over every row. */
  private def cellStatsRecord(batch: DataFrame, ivf: IvfIndex.Ivf, batchId: Long): DataFrame = {
    val withCells = IvfIndex.assign(batch, ivf)
    val resid = withCells
      .select(GraftFunctions.normF32(
        PqIndex.residualColumn(ivf, col("embedding"), col("cell_id"))).as("__d"))
      .agg(count(lit(1)).as("__n"),
        sum(round(col("__d"), 6).cast("decimal(22,6)")).as("__sd"))
      .select(round(when(col("__n") > 0,
        col("__sd").cast("double") / col("__n").cast("double")), 4).as("mean_resid"))
    IvfIndex.cellStats(withCells, ivf)
      .agg(sum("n_vectors").as("n_vectors"),
        first("imbalance_factor").as("imbalance_factor"))
      .crossJoin(resid)
      .select(lit(batchId).as("batch_id"), col("n_vectors"), col("imbalance_factor"),
        col("mean_resid"))
  }

  test("the health record equals the cellStats plan: normal, one-cell, empty, null embedding") {
    val train = clustered(0 until 300, 6).toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(train, nlist = 6)
    val (_, pq) = PqIndex.buildIvfAdc(IvfIndex.assign(train, ivf), ivf, m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("ingest-health").toString
    val oneCell = clustered(600 until 660, 6).filter(_._1 % 6 == 0)
    val withNull = clustered(700 until 730, 6) :+ (730L -> (null: Array[Float]))
    val batches = Seq(clustered(500 until 547, 6), oneCell,
      Seq.empty[(Long, Array[Float])], withNull).map(_.toDF("doc_id", "embedding"))
    assert(IvfIndex.assign(batches(1), ivf).select("cell_id").distinct().count() == 1)
    batches.zipWithIndex.foreach { case (b, id) =>
      IndexIngest.ingestBatch(b, id.toLong, ivf, pq, s"$dir/corpus", s"$dir/stats",
        "doc_id", "embedding")
      val got = IndexIngest.loadStats(spark, s"$dir/stats")
        .filter(col("batch_id") === id.toLong).collect().toSeq
      assert(got == cellStatsRecord(b, ivf, id.toLong).collect().toSeq, s"batch $id")
    }
    val stats = IndexIngest.loadStats(spark, s"$dir/stats")
      .as[(Long, Long, Option[Double], Option[Double])].collect().sortBy(_._1).toSeq
    assert(stats.map(_._2) == Seq(47L, 10L, 0L, 30L))
    assert(stats(2)._3.isEmpty && stats(2)._4.isEmpty, "an empty batch has null ratios")
    assert(stats(1)._3.contains(6.0), "one cell of six holds every vector")
  }

  test("compaction folds batch dirs; search ≡ pre-compaction, pruning intact") {
    val trainSet = clustered(0 until 300, 6)
    val train = trainSet.toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(train, nlist = 6)
    val (_, pq) = PqIndex.buildIvfAdc(IvfIndex.assign(train, ivf), ivf, m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("ingest-compact").toString
    // five micro-batches = five batch dirs
    (0 until 5).foreach { b =>
      IndexIngest.ingestBatch(
        clustered((600 + b * 30) until (630 + b * 30), 6).toDF("doc_id", "embedding"),
        b.toLong, ivf, pq, s"$dir/corpus", s"$dir/stats", "doc_id", "embedding")
    }
    val qVec = clustered(610 until 611, 6).head._2
    val before = PqIndex.searchIvfAdc(
      IndexIngest.loadCorpus(spark, s"$dir/corpus"), ivf, pq, qVec, 8, 2)
      .select("doc_id", "adc").as[(Long, Double)].collect().toSeq
    val beforeAll = IndexIngest.loadCorpus(spark, s"$dir/corpus")
      .select("doc_id", "codes").as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq

    IndexIngest.compactQuantizedCorpus(spark, s"$dir/corpus")

    // batch dirs folded into the single compacted one
    val dirs = new java.io.File(s"$dir/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("batch=-1"), s"stale batch dirs survived: $dirs")
    // corpus content and search results identical
    val afterAll = IndexIngest.loadCorpus(spark, s"$dir/corpus")
      .select("doc_id", "codes").as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(afterAll == beforeAll, "compaction altered the codes corpus")
    val afterDf = PqIndex.searchIvfAdc(
      IndexIngest.loadCorpus(spark, s"$dir/corpus"), ivf, pq, qVec, 8, 2)
    assert(afterDf.select("doc_id", "adc").as[(Long, Double)].collect().toSeq
      == before, "compaction changed search results")
    // cell pruning still reaches the partition level
    val plan = afterDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell_id"),
      s"compacted corpus search does not prune cells:\n$plan")
    // one file per cell inside the compacted dir
    new java.io.File(s"$dir/corpus/batch=-1").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell_id="))
      .foreach { cellDir =>
        val files = cellDir.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1, s"${cellDir.getName}: ${files.length} files")
      }
    // a NEW batch appends beside the compacted dir and search sees it
    IndexIngest.ingestBatch(
      clustered(900 until 910, 6).toDF("doc_id", "embedding"),
      7L, ivf, pq, s"$dir/corpus", s"$dir/stats", "doc_id", "embedding")
    val n = IndexIngest.loadCorpus(spark, s"$dir/corpus").count()
    assert(n == 160L, s"post-compaction append broke discovery: $n rows")
    // health history untouched by compaction (5 ingests + the new one)
    assert(IndexIngest.loadStats(spark, s"$dir/stats").count() == 6L)
  }

  test("compaction is byte-reproducible: the same rows give the same cell files") {
    val train = clustered(0 until 300, 6).toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(train, nlist = 6)
    val (_, pq) = PqIndex.buildIvfAdc(IvfIndex.assign(train, ivf), ivf, m = 4, ksub = 8)
    val slices = (0 until 4).map(b => clustered((600 + b * 40) until (640 + b * 40), 6))
    // store `a`, a byte copy of it, and the same rows ingested in reverse order
    def ingest(root: String, order: Seq[Seq[(Long, Array[Float])]]): Unit =
      order.zipWithIndex.foreach { case (rows, b) =>
        IndexIngest.ingestBatch(rows.toDF("doc_id", "embedding"), b.toLong, ivf, pq,
          s"$root/corpus", s"$root/stats", "doc_id", "embedding")
      }
    val tmp = java.nio.file.Files.createTempDirectory("ingest-repro")
    val roots = Seq("a", "copy", "reversed").map(n => tmp.resolve(n))
    ingest(roots(0).toString, slices)
    org.apache.commons.io.FileUtils.copyDirectory(roots(0).toFile, roots(1).toFile)
    ingest(roots(2).toString, slices.reverse)
    roots.foreach(r => IndexIngest.compactQuantizedCorpus(spark, s"$r/corpus"))
    def cellFiles(root: java.nio.file.Path): Map[String, String] = {
      val gen = root.resolve("corpus/batch=-1").toFile
      gen.listFiles().filter(_.getName.startsWith("cell_id=")).map { cell =>
        val Array(f) = cell.listFiles().filter(_.getName.endsWith(".parquet"))
        cell.getName -> java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
      }.toMap
    }
    val want = cellFiles(roots(0))
    assert(want.size > 1)
    roots.tail.foreach(r => assert(cellFiles(r) == want, s"$r differs from ${roots(0)}"))
  }

  test("retrying a batch id is an idempotent overwrite") {
    val trainSet = clustered(0 until 300, 6)
    val train = trainSet.toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(train, nlist = 6)
    val (_, pq) = PqIndex.buildIvfAdc(IvfIndex.assign(train, ivf), ivf, m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("ingest-retry").toString
    val b = clustered(500 until 540, 6).toDF("doc_id", "embedding")
    IndexIngest.ingestBatch(b, 3L, ivf, pq, s"$dir/corpus", s"$dir/stats",
      "doc_id", "embedding")
    val first = IndexIngest.loadCorpus(spark, s"$dir/corpus")
      .select("doc_id", "codes").as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    IndexIngest.ingestBatch(b, 3L, ivf, pq, s"$dir/corpus", s"$dir/stats",
      "doc_id", "embedding")
    val second = IndexIngest.loadCorpus(spark, s"$dir/corpus")
      .select("doc_id", "codes").as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(second == first, "retry duplicated or altered the batch")
    assert(first.length == 40)
  }

  test("an empty micro-batch ingests: n_vectors = 0, and a later batch still lands") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val train = clustered(0 until 300, 6).toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(train, nlist = 6)
    val (_, pq) = PqIndex.buildIvfAdc(IvfIndex.assign(train, ivf), ivf, m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("ingest-empty").toString
    val in = MemoryStream[(Long, Array[Float])]
    val q = IndexIngest.quantizedIngest(in.toDF().toDF("doc_id", "embedding"),
      ivf, pq, s"$dir/corpus", s"$dir/stats", s"$dir/ckpt")
    try {
      in.addData(Seq.empty[(Long, Array[Float])])
      q.processAllAvailable()
      in.addData(clustered(500 until 540, 6))
      q.processAllAvailable()
    } finally q.stop()
    val stats = IndexIngest.loadStats(spark, s"$dir/stats")
      .select("batch_id", "n_vectors").as[(Long, Long)].collect().toMap
    assert(stats == Map(0L -> 0L, 1L -> 40L), s"stats: $stats")
    assert(IndexIngest.loadCorpus(spark, s"$dir/corpus").count() == 40L)
  }
}
