package graft

import graft.operators.{IvfIndex, PqIndex}
import graft.streaming.{IndexIngest, QueryServe}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class QueryServeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def clustered(ids: Range, nClusters: Int, dim: Int = 16): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(4242)
    val anchors = Array.fill(nClusters)(Array.fill(dim)(r.nextGaussian().toFloat * 5f))
    ids.map { i =>
      val a = anchors(i % nClusters)
      (i.toLong, a.map(x => x + (i % 13) * 0.004f))
    }
  }

  private val schema = StructType(Seq(
    StructField("query_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  test("streamed serving == direct batch search; retry overwrite is idempotent") {
    val corpus = clustered(0 until 300, 6)
    val docs = corpus.toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(docs, nlist = 6)
    val withCells = IvfIndex.assign(docs, ivf)
    val (enc0, pq) = PqIndex.buildIvfAdc(withCells, ivf, m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("serve").toString
    enc0.select("doc_id", "cell_id", "codes")
      .write.partitionBy("cell_id").parquet(s"$dir/index")
    val encoded = spark.read.parquet(s"$dir/index")

    // Two request batches through the stream.
    val staging = s"$dir/requests"
    val reqs1 = Seq(100L -> corpus(5)._2, 101L -> corpus(17)._2)
    val reqs2 = Seq(102L -> corpus(40)._2)
    reqs1.toDF("query_id", "embedding").write.mode("append").parquet(staging)
    val q = QueryServe.servedSearch(
      spark.readStream.schema(schema).parquet(staging),
      ivf, pq, encoded, s"$dir/results", s"$dir/ckpt", k = 5, nprobe = 2)
    try {
      q.processAllAvailable()
      reqs2.toDF("query_id", "embedding").write.mode("append").parquet(staging)
      q.processAllAvailable()
    } finally q.stop()

    // Every served row matches the direct batch search over all queries.
    val served = QueryServe.loadResults(spark, s"$dir/results")
      .select("query_id", "doc_id", "adc", "doc_rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = PqIndex.searchIvfAdcBatch(
        encoded, ivf, pq, reqs1 ++ reqs2, k = 5, nprobe = 2)
      .select("query_id", "doc_id", "adc", "doc_rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served == direct, "streamed serving diverged from the direct batch")

    // An at-least-once redelivery of a batch id overwrites in place:
    // same rows, no duplicates.
    val before = QueryServe.loadResults(spark, s"$dir/results").count()
    QueryServe.serveBatch(reqs1.toDF("query_id", "embedding"), 0L,
      ivf, pq, encoded, s"$dir/results", 5, 2, "query_id", "embedding")
    val after = QueryServe.loadResults(spark, s"$dir/results")
      .select("query_id", "doc_id", "adc", "doc_rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(QueryServe.loadResults(spark, s"$dir/results").count() == before)
    assert(after == direct)

    // An empty micro-batch writes nothing (no empty batch dirs).
    QueryServe.serveBatch(Seq.empty[(Long, Array[Float])]
        .toDF("query_id", "embedding"), 99L,
      ivf, pq, encoded, s"$dir/results", 5, 2, "query_id", "embedding")
    assert(!new java.io.File(s"$dir/results/batch=99").exists())
  }

  test("serveBatch over an existing store runs 3 jobs: requests, scan, results write") {
    val corpus = clustered(0 until 300, 6)
    val docs = corpus.toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(docs, nlist = 6)
    val (enc, pq) = PqIndex.buildIvfAdc(IvfIndex.assign(docs, ivf), ivf, m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("serve-jobs").toString
    enc.select("doc_id", "cell_id", "codes")
      .write.partitionBy("cell_id").parquet(s"$dir/index")
    val encoded = spark.read.parquet(s"$dir/index")
    // requests read from files, as a stream's micro-batch is: collecting
    // them is a job (a local frame would collect without one)
    Seq(1L -> corpus(5)._2, 2L -> corpus(17)._2, 3L -> corpus(40)._2)
      .toDF("query_id", "embedding").write.parquet(s"$dir/requests")
    val reqs = spark.read.parquet(s"$dir/requests")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    SparkTestBase.withJobStarts { e =>
      if (e.properties.getProperty("spark.jobGroup.id") == "serve-spec") jobs.incrementAndGet()
    } {
      sc.setJobGroup("serve-spec", "serveBatch job count")
      try QueryServe.serveBatch(reqs, 0L, ivf, pq, encoded, s"$dir/results",
        5, 2, "query_id", "embedding")
      finally sc.clearJobGroup()
    }
    assert(jobs.get == 3, s"${jobs.get} Spark jobs for one served micro-batch")
    val files = new java.io.File(s"$dir/results/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"${files.length} result files for one batch")
    assert(QueryServe.loadResults(spark, s"$dir/results").count() == 15L)
  }

  test("graph-tier serving == direct batched walk; retry idempotent") {
    import graft.operators.KnnGraph
    val corpus = clustered(0 until 300, 6)
    val docs = corpus.toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(docs, nlist = 6)
    val withCells = IvfIndex.assign(docs, ivf)
    val graph = KnnGraph.cellBlocked(docs, ivf, k = 4)
    val dir = java.nio.file.Files.createTempDirectory("serve-graph").toString
    val staging = s"$dir/requests"
    val reqs1 = Seq(100L -> corpus(5)._2, 101L -> corpus(17)._2)
    val reqs2 = Seq(102L -> corpus(40)._2)
    reqs1.toDF("query_id", "embedding").write.mode("append").parquet(staging)
    val q = QueryServe.servedGraphSearch(
      spark.readStream.schema(schema).parquet(staging),
      graph, withCells, ivf, s"$dir/results", s"$dir/ckpt",
      k = 5, nprobe = 2, beamWidth = 6, hops = 3)
    try {
      q.processAllAvailable()
      reqs2.toDF("query_id", "embedding").write.mode("append").parquet(staging)
      q.processAllAvailable()
    } finally q.stop()

    val served = QueryServe.loadResults(spark, s"$dir/results")
      .select("query_id", "rnk", "doc_id", "score")
      .as[(Long, Long, Long, Double)].collect().toSet
    val direct = graft.operators.GraphSearch.searchBeamBatch(
        graph, withCells, ivf, reqs1 ++ reqs2,
        k = 5, nprobe = 2, beamWidth = 6, hops = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(served == direct, "graph serving diverged from the direct batched walk")

    // Redelivery of a batch id overwrites in place.
    val before = QueryServe.loadResults(spark, s"$dir/results").count()
    QueryServe.serveGraphBatch(reqs1.toDF("query_id", "embedding"), 0L,
      graph, withCells, ivf, s"$dir/results", 5, 2, 6, 3,
      "query_id", "embedding")
    assert(QueryServe.loadResults(spark, s"$dir/results").count() == before)
  }

  test("graph-serve chunking: a burst micro-batch split into bounded walk calls ≡ one call") {
    import graft.operators.KnnGraph
    val corpus = clustered(0 until 300, 6)
    val docs = corpus.toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(docs, nlist = 6)
    val withCells = IvfIndex.assign(docs, ivf)
    val graph = KnnGraph.cellBlocked(docs, ivf, k = 4)
    val dir = java.nio.file.Files.createTempDirectory("serve-chunk").toString
    // A 5-query burst with chunkSize=2 → three searchBeamBatch calls
    // unioned; rows must be identical to the single unchunked call.
    val burst = (0 until 5).map(i => (200L + i) -> corpus(i * 11)._2)
    QueryServe.serveGraphBatch(burst.toDF("query_id", "embedding"), 0L,
      graph, withCells, ivf, s"$dir/results", 5, 2, 6, 3,
      "query_id", "embedding", chunkSize = 2)
    val served = QueryServe.loadResults(spark, s"$dir/results")
      .select("query_id", "rnk", "doc_id", "score")
      .as[(Long, Long, Long, Double)].collect().toSet
    val direct = graft.operators.GraphSearch.searchBeamBatch(
        graph, withCells, ivf, burst, k = 5, nprobe = 2,
        beamWidth = 6, hops = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(served == direct, "chunked graph serve diverged from one unchunked call")
  }

  test("results retention: watermark prune + compaction keep loadResults exact and the listing bounded") {
    val corpus = clustered(0 until 300, 6)
    val docs = corpus.toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(docs, nlist = 6)
    val withCells = IvfIndex.assign(docs, ivf)
    val (enc0, pq) = PqIndex.buildIvfAdc(withCells, ivf, m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("serve-retain").toString
    enc0.select("doc_id", "cell_id", "codes")
      .write.partitionBy("cell_id").parquet(s"$dir/index")
    val encoded = spark.read.parquet(s"$dir/index")
    val results = s"$dir/results"

    // Five served micro-batches, one query each.
    (0 until 5).foreach { b =>
      QueryServe.serveBatch(
        Seq((100L + b) -> corpus(b * 7)._2).toDF("query_id", "embedding"),
        b.toLong, ivf, pq, encoded, results, 5, 2, "query_id", "embedding")
    }
    def rows() = QueryServe.loadResults(spark, results)
      .select("query_id", "doc_id", "adc", "doc_rank", "batch_id")
      .as[(Long, Long, Double, Int, Long)].collect().toSet
    val all = rows()
    assert(all.map(_._5) == Set(0L, 1L, 2L, 3L, 4L))

    // Consumer acknowledges through batch 2: exactly those dirs go,
    // loadResults is the pre-prune set minus the pruned batches.
    val removed = QueryServe.pruneResults(spark, results, upToBatchId = 2L)
    assert(removed == 3)
    assert(rows() == all.filter(_._5 > 2L))
    // Idempotent: nothing at/below the watermark remains.
    assert(QueryServe.pruneResults(spark, results, upToBatchId = 2L) == 0)

    // Compaction folds the surviving dirs into ONE negative-id dir with
    // identical row content — the listing is bounded regardless of how
    // many micro-batches were served.
    val beforeCompact = rows()
    QueryServe.compactResults(spark, results)
    val dirs = new java.io.File(results).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs == Set("batch=-1"), s"expected one compacted dir, got $dirs")
    assert(rows() == beforeCompact)

    // A later micro-batch appends beside the compacted dir; the
    // watermark prune removes it but never the compacted history.
    QueryServe.serveBatch(
      Seq(200L -> corpus(11)._2).toDF("query_id", "embedding"),
      7L, ivf, pq, encoded, results, 5, 2, "query_id", "embedding")
    assert(rows().map(_._5) == beforeCompact.map(_._5) + 7L)
    assert(QueryServe.pruneResults(spark, results, upToBatchId = 7L) == 1)
    assert(rows() == beforeCompact)
  }

  test("a running served stream sees batches ingested after it started and survives a compaction") {
    val r = new scala.util.Random(99)
    val anchors = Array.fill(6)(Array.fill(16)(r.nextGaussian().toFloat * 5f))
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, anchors(i % 6).map(_ + r.nextGaussian().toFloat * 0.3f)))
    val docs = vecs(0 until 300).toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(docs, nlist = 6)
    val (_, pq) = PqIndex.buildIvfAdc(IvfIndex.assign(docs, ivf), ivf, m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("serve-fresh").toString
    val corpus = s"$dir/corpus"
    def ingest(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      IndexIngest.ingestBatch(df, id, ivf, pq, corpus, s"$dir/stats",
        "doc_id", "embedding")
    ingest(docs, 0L)
    val staging = s"$dir/requests"
    def request(reqs: Seq[(Long, Array[Float])]): Unit =
      reqs.toDF("query_id", "embedding").write.mode("append").parquet(staging)
    def answers(qids: Set[Long]): Map[Long, Seq[(Long, Double, Int)]] =
      QueryServe.loadResults(spark, s"$dir/results")
        .select("query_id", "doc_id", "adc", "doc_rank")
        .as[(Long, Long, Double, Int)].collect()
        .filter(a => qids(a._1)).groupBy(_._1)
        .map { case (q, as) => q -> as.map(a => (a._2, a._3, a._4)).sortBy(_._3).toSeq }
    request(Seq(1L -> vecs(0 until 1).head._2))
    val q = QueryServe.servedSearch(
      spark.readStream.schema(schema).parquet(staging), ivf, pq,
      IndexIngest.loadCorpus(spark, corpus), s"$dir/results", s"$dir/ckpt",
      k = 5, nprobe = 2)
    try {
      q.processAllAvailable()
      // ingested AFTER the stream bound its corpus frame
      val fresh = vecs(1000 until 1003)
      ingest(fresh.toDF("doc_id", "embedding"), 1L)
      request(fresh.zipWithIndex.map { case ((_, v), i) => (100L + i, v) })
      q.processAllAvailable()
      val first = answers(Set(100L, 101L, 102L))
      fresh.zipWithIndex.foreach { case ((id, _), i) =>
        assert(first.getOrElse(100L + i, Nil).exists(_._1 == id),
          s"fresh doc $id not served: ${first.get(100L + i)}")
      }
      // compaction deletes every dir the stream listed; the next served
      // batch answers identically from the new generation
      IndexIngest.compactQuantizedCorpus(spark, corpus)
      request(fresh.zipWithIndex.map { case ((_, v), i) => (200L + i, v) })
      q.processAllAvailable()
      val second = answers(Set(200L, 201L, 202L)).map { case (k, v) => (k - 100L) -> v }
      assert(second == first, "answers changed across the compaction")
    } finally q.stop()
  }
}
