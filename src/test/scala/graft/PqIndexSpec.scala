package graft

import graft.operators.PqIndex
import org.apache.spark.SparkException
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class PqIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import SparkTestBase.withJobStarts
  import spark.implicits._

  /** Clustered corpus: `nClusters` anchors, members jittered tightly
    * around each — the regime PQ codes preserve. */
  private def clustered(n: Int, nClusters: Int, dim: Int = 16): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(1234)
    val anchors = Array.fill(nClusters)(Array.fill(dim)(r.nextGaussian().toFloat * 5f))
    (0 until n).map { i =>
      val a = anchors(i % nClusters)
      (i.toLong, a.map(x => x + r.nextGaussian().toFloat * 0.05f))
    }
  }

  /** `clustered` as a 3-partition frame: the fits' k-means|| sampling is
    * per partition, so bit-identity is only meaningful across several. */
  private def partitioned(n: Int, nClusters: Int): DataFrame =
    spark.sparkContext.parallelize(clustered(n, nClusters), 3)
      .toDF("doc_id", "embedding")

  /** The sequential reference for [[PqIndex.train]]: the same
    * per-subspace KMeans fits, one after another, over the same
    * persisted projection. */
  private def sequentialBooks(df: DataFrame, m: Int, ksub: Int,
                              embCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val vecs = df.select(col(embCol).as("__emb")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = vecs.count()
      val dsub = vecs.select(size(col("__emb"))).first().getInt(0) / m
      (0 until m).map { s =>
        new KMeans()
          .setK(math.min(ksub, n).toInt).setSeed(PqIndex.Seed + s).setMaxIter(10)
          .setFeaturesCol("__features").setPredictionCol("__code")
          .fit(vecs.select(
            array_to_vector(slice(col("__emb"), s * dsub + 1, dsub)).as("__features")))
          .clusterCenters.map(_.toArray)
      }.toArray
    } finally vecs.unpersist(false)
  }

  private def sameBooks(a: Array[Array[Array[Double]]], b: Array[Array[Array[Double]]]) =
    java.util.Arrays.deepEquals(a.asInstanceOf[Array[AnyRef]], b.asInstanceOf[Array[AnyRef]])

  private def fitThreadsAlive: Boolean = Thread.getAllStackTraces.keySet.asScala
    .exists(t => t.getName.startsWith("pqindex-fit-") && t.isAlive)

  test("concurrent sub-quantizer fits give the sequential codebooks bit for bit") {
    val docs = partitioned(300, 8)
    assert(docs.rdd.getNumPartitions >= 3)
    for (m <- Seq(4, 8)) {
      val pq = PqIndex.train(docs, m = m, ksub = 8)
      assert(sameBooks(pq.codebooks.get, sequentialBooks(docs, m, 8)), s"m = $m")
    }
    // two trainings at once (each with its own fit threads) still agree
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val both = Await.result(Future.sequence(Seq.fill(2)(Future(
      PqIndex.train(docs, m = 8, ksub = 8).codebooks.get))),
      scala.concurrent.duration.Duration(10, "min"))
    assert(sameBooks(both(0), both(1)))
    assert(sameBooks(both(0), sequentialBooks(docs, 8, 8)))
  }

  test("buildIvfAdc's residual codebooks equal the sequential reference") {
    import graft.operators.IvfIndex
    val docs = partitioned(300, 8)
    val (withCells, ivf) = IvfIndex.build(docs, nlist = 8)
    val (_, pq) = PqIndex.buildIvfAdc(withCells, ivf, m = 4, ksub = 8)
    val withRes = withCells.withColumn("__res",
      PqIndex.residualColumn(ivf, col("embedding"), col("cell_id")))
    assert(sameBooks(pq.codebooks.get, sequentialBooks(withRes, 4, 8, "__res")))
  }

  test("train: every job carries the caller's job group; no fit thread outlives it") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pq = withJobStarts { e =>
      // a streaming query left running elsewhere is not this call's work
      if (e.properties.getProperty("sql.streaming.queryId") == null)
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    } {
      sc.setJobGroup("pq-spec", "PqIndex.train attribution")
      try PqIndex.train(partitioned(300, 8), m = 4, ksub = 8)
      finally sc.clearJobGroup()
    }
    assert(!fitThreadsAlive, "a fit thread outlived train")
    assert(pq.isTrained)
    val seen = groups.asScala.toSeq
    assert(seen.size > 4, s"expected the fits' jobs, saw ${seen.size}")
    assert(seen.forall(_ == "pq-spec"), s"jobs outside the caller's group: ${seen.distinct}")
  }

  test("a failed fit: Spark's own exception, no fit thread left, no cache left") {
    val sc = spark.sparkContext
    val docs = partitioned(300, 8)
    val cachedBefore = sc.getPersistentRDDs.keySet
    // cancel the group at every KMeans job start, so a fit job is surely
    // active when a cancel lands (a plain cancel only hits active jobs)
    val err = withJobStarts { e =>
      if (e.properties.getProperty("spark.jobGroup.id") == "pq-spec" &&
          e.stageInfos.exists(_.name.contains("KMeans")))
        sc.cancelJobGroup("pq-spec")
    } {
      sc.setJobGroup("pq-spec", "PqIndex.train failure")
      try intercept[SparkException](PqIndex.train(docs, m = 4, ksub = 8))
      finally sc.clearJobGroup()
    }
    assert(err.getMessage.contains("cancelled"), err.getMessage)
    assert(!fitThreadsAlive, "a fit thread outlived the failed train")
    assert(sc.getPersistentRDDs.keySet == cachedBefore)
  }

  test("train rejects embeddings of mixed sizes, naming both") {
    for (odd <- Seq(20, 12)) {
      val rows = clustered(150, 4) :+ ((999L, Array.fill(odd)(1f)))
      val e = intercept[IllegalArgumentException](
        PqIndex.train(rows.toDF("doc_id", "embedding"), m = 4, ksub = 8))
      assert(e.getMessage.contains("16") && e.getMessage.contains(odd.toString),
        e.getMessage)
    }
  }

  test("below TrainMin stays untrained; encode degrades to zero codes") {
    val small = clustered(40, 4).toDF("doc_id", "embedding")
    val pq = PqIndex.train(small, m = 4, ksub = 8)
    assert(!pq.isTrained)
    val codes = PqIndex.encode(small, pq)
      .select("codes").as[Seq[Int]].collect()
    assert(codes.forall(_ == Seq(0, 0, 0, 0)))
  }

  test("save/load round-trips codebooks exactly (identical encodes)") {
    val docs = clustered(300, 8).toDF("doc_id", "embedding")
    val pq = PqIndex.train(docs, m = 4, ksub = 8)
    assert(pq.isTrained)
    val path = java.nio.file.Files.createTempDirectory("pq").toString + "/cb.txt"
    PqIndex.save(spark, pq, path)
    val re = PqIndex.load(spark, path)
    assert(re.m == pq.m && re.ksub == pq.ksub)
    val a = PqIndex.encode(docs, pq).select("doc_id", "codes")
      .as[(Long, Seq[Int])].collect().toMap
    val b = PqIndex.encode(docs, re).select("doc_id", "codes")
      .as[(Long, Seq[Int])].collect().toMap
    assert(a == b)
    // saving over the artifact leaves no temp sibling
    PqIndex.save(spark, pq, path)
    val dir = new java.io.File(path).getParentFile
    assert(!dir.list().exists(n => n.startsWith("_") || n.startsWith("._")), dir.list().toSeq)
    // a truncated artifact fails naming its path: cut mid-line, and cut at
    // a line end leaving 5 codebook lines for m = 4
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    for (cut <- Seq(text.length / 2, text.split('\n').take(6).map(_.length + 1).sum)) {
      val bad = s"$dir/cut-$cut.txt"
      java.nio.file.Files.write(java.nio.file.Paths.get(bad), text.take(cut).getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException](PqIndex.load(spark, bad))
      assert(e.getMessage.contains(bad), e.getMessage)
    }
  }

  test("ADC search finds the query's own cluster; column matches driver LUT") {
    val data = clustered(400, 8)
    val docs = data.toDF("doc_id", "embedding")
    val pq = PqIndex.train(docs, m = 4, ksub = 8)
    val encoded = PqIndex.encode(docs, pq)
    val qId = 5L
    val qVec = data.find(_._1 == qId).get._2
    val top = PqIndex.search(encoded, pq, qVec, k = 10)
      .select("doc_id", "codes", "adc")
      .as[(Long, Seq[Int], Double)].collect()
    // 400 docs / 8 clusters = 50 members in the query's cluster; with
    // 0.05 jitter vs 5.0 anchor spread, all top-10 are cluster-mates.
    val mates = data.filter(_._1 % 8 == qId % 8).map(_._1).toSet
    assert(top.forall(t => mates.contains(t._1)),
      s"non-cluster-mate in ADC top-10: ${top.map(_._1).toSeq}")
    // The ADC column is exactly the driver-side LUT sum for each row.
    val lut = PqIndex.adcLut(pq, qVec)
    top.foreach { case (_, codes, adc) =>
      val expect = codes.zipWithIndex
        .map { case (c, s) => lut(s)(c) }
        .reduce(_ + _)
      assert(adc == expect, s"adc $adc != lut sum $expect")
    }
  }

  test("IVFADC: residual codes beat raw-PQ distortion; probed search finds the cluster") {
    import graft.operators.IvfIndex
    val data = clustered(400, 8)
    val docs = data.toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(docs, nlist = 8)
    assert(ivf.isTrained)
    val (encoded, pq) = PqIndex.buildIvfAdc(withCells, ivf, m = 4, ksub = 8)
    val qId = 7L
    val qVec = data.find(_._1 == qId).get._2
    val top = PqIndex.searchIvfAdc(encoded, ivf, pq, qVec, k = 10, nprobe = 2)
      .select("doc_id", "adc").as[(Long, Double)].collect()
    assert(top.length == 10)
    val mates = data.filter(_._1 % 8 == qId % 8).map(_._1).toSet
    assert(top.forall(t => mates.contains(t._1)),
      s"non-cluster-mate in IVFADC top-10: ${top.map(_._1).toSeq}")
    // Residuals concentrate near zero: ADC distances over residual codes
    // for same-cluster members should be tiny relative to the anchor
    // spread (~5.0 per dim; raw-vector PQ with the same budget cannot
    // get near this).
    assert(top.forall(_._2 < 1.0), s"residual ADC too coarse: ${top.map(_._2).toSeq}")
    // Scan restricted to the probed cells only.
    val cellsScanned = PqIndex.searchIvfAdc(encoded, ivf, pq, qVec, k = 10, nprobe = 2)
      .select("cell_id").distinct().as[Int].collect().toSet
    assert(cellsScanned.size <= 2)
  }

  test("IVFPQR: two-level codes beat one level; refined re-rank matches driver replay") {
    import graft.operators.IvfIndex
    val data = clustered(400, 8)
    val docs = data.toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(docs, nlist = 8)
    val (enc, pq1, pq2) = PqIndex.buildIvfPqr(withCells, ivf, m = 4,
      mRefine = 4, ksub = 8)
    assert(pq1.isTrained && pq2.isTrained)
    val byId = data.toMap
    val cents = ivf.centroids.get
    val b1 = pq1.codebooks.get
    val b2 = pq2.codebooks.get
    // driver replay of the two-level reconstruction for every row
    val rows = enc.select("doc_id", "cell_id", "codes", "codes2")
      .as[(Long, Int, Seq[Int], Seq[Int])].collect()
    def decode(books: Array[Array[Array[Double]]], codes: Seq[Int]): Array[Float] =
      codes.zipWithIndex.flatMap { case (c, s) =>
        books(s)(c).map(_.toFloat)
      }.toArray
    def recon(cell: Int, c1: Seq[Int], c2: Seq[Int], twoLevel: Boolean): Array[Double] = {
      val d1 = decode(b1, c1)
      val d2 = decode(b2, c2)
      Array.tabulate(d1.length) { j =>
        val one = cents(cell)(j) + d1(j).toDouble
        if (twoLevel) one + d2(j).toDouble else one
      }
    }
    def err(twoLevel: Boolean): Double = rows.map { case (id, cell, c1, c2) =>
      val x = byId(id)
      val r = recon(cell, c1, c2, twoLevel)
      x.indices.map(j => { val d = x(j).toDouble - r(j); d * d }).sum
    }.sum / rows.length
    val e2 = err(twoLevel = true)
    val e1 = err(twoLevel = false)
    assert(e2 < e1, s"refine PQ must cut reconstruction error: $e2 vs $e1")

    // refined search: exact (rdist, id) order of the driver replay
    val qVec = byId(7L)
    val hits = PqIndex.searchIvfPqr(enc, ivf, pq1, pq2, qVec,
        k = 5, rerank = 30, nprobe = 2)
      .select("doc_id", "rdist").as[(Long, Double)].collect().toSeq
    val candIds = PqIndex.searchIvfAdc(enc, ivf, pq1, qVec, k = 30, nprobe = 2)
      .select("doc_id").as[Long].collect().toSet
    val exp = rows.filter(r => candIds.contains(r._1)).map { case (id, cell, c1, c2) =>
      val r = recon(cell, c1, c2, twoLevel = true)
      val d = qVec.indices.foldLeft(0.0)((acc, j) => {
        val t = qVec(j).toDouble - r(j); acc + t * t
      })
      (id, d)
    }.sortBy { case (id, d) => (d, id) }.take(5).toSeq
    assert(hits == exp)
  }

  test("searchIvfAdcBatch ≡ per-query searchIvfAdc (shared union scan)") {
    import graft.operators.IvfIndex
    val data = clustered(400, 8)
    val docs = data.toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(docs, nlist = 8)
    val (encoded, pq) = PqIndex.buildIvfAdc(withCells, ivf, m = 4, ksub = 8)
    val queries = Seq(3L, 7L, 11L).map(id => id -> data.find(_._1 == id).get._2)
    val batch = PqIndex.searchIvfAdcBatch(encoded, ivf, pq, queries,
        k = 5, nprobe = 2)
      .select("query_id", "doc_id", "adc", "doc_rank")
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq)
      .toMap
    queries.foreach { case (qid, qv) =>
      val single = PqIndex.searchIvfAdc(encoded, ivf, pq, qv, k = 5, nprobe = 2)
        .select("doc_id", "adc").as[(Long, Double)].collect().toSeq
      assert(batch(qid) == single, s"batch diverged for query $qid")
    }
  }

  /** An in-test copy of the broadcast-join + [[graft.operators.TopKByScore]]
    * plan `searchIvfAdcBatch` ran before it became one scan job: the
    * reference its rows, order and column types are held to. */
  private def broadcastJoinBatch(encoded: DataFrame, ivf: graft.operators.IvfIndex.Ivf,
                                 pq: PqIndex.Pq, queries: Seq[(Long, Array[Float])],
                                 k: Int, nprobe: Int): DataFrame = {
    import graft.functions.GraftFunctions
    val cents = ivf.centroids.get
    val entries = queries.flatMap { case (qid, qv) => probed(cents, qv, nprobe).map(qid -> _) }
    val byId = queries.toMap
    val luts = entries.map { case (qid, cell) =>
      val qv = byId(qid)
      val c = cents(cell)
      PqIndex.adcLut(pq, Array.tabulate(qv.length)(j => (qv(j).toDouble - c(j)).toFloat))
        .map(_.toSeq).toSeq
    }
    val probeDf = entries.zipWithIndex
      .map { case ((qid, cell), slot) => (qid, cell, slot) }
      .toDF("query_id", "cell_id", "__slot")
    val topk = udaf(new graft.operators.TopKByScore(k))
    encoded
      .filter(col("cell_id").isin(entries.map(_._2).distinct: _*))
      .join(broadcast(probeDf), "cell_id")
      .withColumn("adc",
        GraftFunctions.adcLutCells(col("codes"), col("__slot"), typedLit(luts)))
      .select(col("query_id"), col("doc_id").cast("long").as("id"),
        negate(col("adc")).as("__negadc"))
      .groupBy(col("query_id"))
      .agg(topk(col("id"), col("__negadc")).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("rank0", "hit")))
      .select(col("query_id"), col("hit.id").as("doc_id"),
        negate(col("hit.score")).as("adc"),
        (col("rank0") + 1).cast("int").as("doc_rank"))
  }

  /** The IVFADC probe rule: the `nprobe` nearest centroids by sequential
    * squared L2, cell id breaking ties. */
  private def probed(cents: Array[Array[Double]], qv: Array[Float], nprobe: Int): Seq[Int] =
    cents.indices.sortBy { i =>
      (cents(i).indices.foldLeft(0.0) { (d2, j) =>
        val d = qv(j).toDouble - cents(i)(j); d2 + d * d
      }, i)
    }.take(nprobe)

  private def sameBatchAnswer(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(3)))
    val (g, w) = (rows(got), rows(want))
    assert(w.nonEmpty)
    assert(g == w, s"\ngot  ${g.mkString(" ")}\nwant ${w.mkString(" ")}")
  }

  test("searchIvfAdcBatch ≡ the broadcast-join + TopKByScore plan: rows, order, types") {
    import graft.operators.IvfIndex
    val data = clustered(400, 8)
    val (withCells, ivf) = IvfIndex.build(data.toDF("doc_id", "embedding"), nlist = 8)
    val (enc, pq) = PqIndex.buildIvfAdc(withCells, ivf, m = 4, ksub = 8)
    val rows = enc.select("doc_id", "cell_id", "codes").as[(Long, Int, Seq[Int])]
      .collect().sortBy(_._1).toSeq
    val cents = ivf.centroids.get
    // query 3's probed cells are emptied: it must come back with no rows
    val emptied = probed(cents, data(3)._2, 2).toSet
    val kept = rows.filterNot(r => emptied(r._2))
    // exact ties across partitions: copies of one row's (cell, codes)
    // under ids below and above it, at the far end of the corpus; and
    // one id present twice (as if in two batch dirs)
    val (tieId, tieCell, tieCodes) = kept(7)
    val twice = kept.find(r => r._2 == tieCell && r._1 != tieId).get
    val planted = Seq(5L, 9_000L).map(id => (id, tieCell, tieCodes)) :+ twice
    val corpus = spark.sparkContext.parallelize(kept ++ planted, 3)
      .toDF("doc_id", "cell_id", "codes")
    assert(corpus.rdd.getNumPartitions == 3)
    val queries = Seq(3L, 12L, 20L, tieId).distinct.map(id => id -> data(id.toInt)._2) :+
      (77L -> data(tieId.toInt)._2.map(_ + 0.01f))
    Seq(1, 5, 1000).foreach { k =>
      val got = PqIndex.searchIvfAdcBatch(corpus, ivf, pq, queries, k, nprobe = 2)
      sameBatchAnswer(got, broadcastJoinBatch(corpus, ivf, pq, queries, k, nprobe = 2))
      assert(got.filter(col("query_id") === 3L).isEmpty)
    }
    val top = PqIndex.searchIvfAdcBatch(corpus, ivf, pq, queries, 1000, nprobe = 2)
      .filter(col("query_id") === tieId).select("doc_id", "adc").as[(Long, Double)].collect()
    val tied = top.filter(_._2 == top.find(_._1 == tieId).get._2).map(_._1).toSeq
    assert(Seq(5L, tieId, 9_000L).forall(tied.contains), s"planted tie lost: $tied")
    assert(tied == tied.sorted, s"tie not broken by id: $tied")
    assert(top.count(_._1 == twice._1) == 2, "a repeated id must be kept twice")
  }

  test("searchIvfAdcBatch: one scan job, no exchange, no broadcast; cell filter on the scan") {
    import graft.operators.IvfIndex
    val data = clustered(400, 8)
    val (withCells, ivf) = IvfIndex.build(data.toDF("doc_id", "embedding"), nlist = 8)
    val (enc, pq) = PqIndex.buildIvfAdc(withCells, ivf, m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("pq-batch").toString
    // two batch dirs sharing doc 0
    Seq(0 -> (col("doc_id") < 200), 1 -> (col("doc_id") >= 200 || col("doc_id") === 0))
      .foreach { case (b, keep) =>
        enc.filter(keep).select("doc_id", "cell_id", "codes")
          .write.partitionBy("cell_id").parquet(s"$dir/batch=$b")
      }
    val store = spark.read.parquet(dir)
    val queries = Seq(0L, 7L, 250L).map(id => id -> data(id.toInt)._2)
    // the plan string, not a node walk: AQE hides an exchange's nodes
    // from `collect` until it has run
    val scan = PqIndex.ivfAdcBatchScan(store, ivf, pq, queries, 2, "doc_id")
      .queryExecution.executedPlan.toString
    Seq("Exchange", "BroadcastHashJoin").foreach(n =>
      assert(!scan.contains(n), s"$n in the batch scan:\n$scan"))
    assert("PartitionFilters: \\[[^\\]]*cell_id".r.findFirstIn(scan).nonEmpty,
      s"cell filter not on the scan:\n$scan")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sc = spark.sparkContext
    val got = withJobStarts { e =>
      if (e.properties.getProperty("spark.jobGroup.id") == "pq-batch-spec") jobs.incrementAndGet()
    } {
      sc.setJobGroup("pq-batch-spec", "searchIvfAdcBatch job count")
      try PqIndex.searchIvfAdcBatch(store, ivf, pq, queries, 5, nprobe = 2).collect()
      finally sc.clearJobGroup()
    }
    assert(jobs.get == 1, s"${jobs.get} Spark jobs for one batch search")
    assert(got.count(_.getLong(1) == 0L) == 2, "doc 0 from both batch dirs")
    sameBatchAnswer(PqIndex.searchIvfAdcBatch(store, ivf, pq, queries, 5, nprobe = 2),
      broadcastJoinBatch(store, ivf, pq, queries, 5, nprobe = 2))
  }

  test("searchIvfAdcBatch rejects a repeated query id, naming it") {
    import graft.operators.IvfIndex
    val data = clustered(400, 8)
    val (withCells, ivf) = IvfIndex.build(data.toDF("doc_id", "embedding"), nlist = 8)
    val (enc, pq) = PqIndex.buildIvfAdc(withCells, ivf, m = 4, ksub = 8)
    val queries = Seq(4L, 9L, 4L, 9L).map(id => id -> data(id.toInt)._2)
    val err = intercept[IllegalArgumentException] {
      PqIndex.searchIvfAdcBatch(enc, ivf, pq, queries, 5, nprobe = 2)
    }
    assert(err.getMessage.contains("query id 4 "), err.getMessage)
  }

  test("search_and_reconstruct: hits match searchIvfAdc; recon = centroid + decode") {
    import graft.operators.IvfIndex
    val data = clustered(400, 8)
    val docs = data.toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(docs, nlist = 8)
    val (encoded, pq) = PqIndex.buildIvfAdc(withCells, ivf, m = 4, ksub = 8)
    val qVec = data.find(_._1 == 7L).get._2
    val plain = PqIndex.searchIvfAdc(encoded, ivf, pq, qVec, k = 5, nprobe = 2)
      .select("doc_id", "cell_id", "adc")
      .as[(Long, Int, Double)].collect()
    val withRecon = PqIndex.searchAndReconstruct(
        encoded, ivf, pq, qVec, k = 5, nprobe = 2)
      .select("doc_id", "cell_id", "adc", "recon")
      .as[(Long, Int, Double, Seq[Double])].collect()
    // Same hit set, same scores — the recon path must not perturb search.
    assert(withRecon.map(r => (r._1, r._2, r._3)).toSeq == plain.toSeq)
    // Reconstruction replays centroid + decoded codebook entry, rounded 4.
    val cents = ivf.centroids.get
    val books = pq.codebooks.get
    // The index stores RESIDUAL codes — replay from `encoded`, not from
    // a fresh raw-vector encode.
    val resCodes = encoded.select("doc_id", "cell_id", "codes")
      .as[(Long, Int, Seq[Int])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    withRecon.foreach { case (id, cell, _, recon) =>
      val (cellE, codes) = resCodes(id)
      assert(cellE == cell)
      val dsub = books.head.head.length
      val expected = codes.zipWithIndex.flatMap { case (c, s) =>
        books(s)(c).map(_.toFloat)
      }.zip(cents(cell)).map { case (r, cc) =>
        BigDecimal(r.toDouble + cc)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      assert(recon.size == dsub * books.length)
      assert(recon == expected, s"recon mismatch for doc $id")
    }
  }

  test("search plan: no exchange, no embedding read (codes-only scan)") {
    val docs = clustered(300, 8).toDF("doc_id", "embedding")
    val pq = PqIndex.train(docs, m = 4, ksub = 8)
    val encoded = PqIndex.encode(docs, pq).select("doc_id", "codes")
    val plan = PqIndex.search(encoded, pq, clustered(1, 1)(0)._2, k = 5)
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"ADC top-k shuffled:\n$plan")
    assert(plan.toString.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered top-k:\n$plan")
  }

  test("refined search: exact order over ADC candidates; isin reaches the scan") {
    import graft.operators.IvfIndex
    val data = clustered(400, 8)
    val docs = data.toDF("doc_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("refine").toString
    docs.write.mode("overwrite").parquet(dir)
    val floats = spark.read.parquet(dir)
    val (withCells, ivf) = IvfIndex.build(docs, nlist = 8)
    val (encoded, pq) = PqIndex.buildIvfAdc(withCells, ivf, m = 4, ksub = 8)
    val qVec = data.find(_._1 == 5L).get._2
    // rerank = corpus size with all cells probed => candidates are the
    // whole corpus => refined top-k IS the exact top-k.
    val all = PqIndex.searchRefined(encoded, floats, ivf, pq, qVec,
      k = 10, rerank = 400, nprobe = 8)
    val exact = graft.operators.VectorSearch.knnScores(floats, qVec, 10)
    assert(all.collect().toSeq == exact.collect().toSeq,
      "full-rerank refine must equal the exact scan")
    // Narrow rerank: results are the exact ordering over the ADC
    // candidate set (spec of the two-stage contract).
    val cands = PqIndex.searchIvfAdc(encoded, ivf, pq, qVec, 50, 4)
      .select("doc_id").as[Long].collect().toSet
    val refined = PqIndex.searchRefined(encoded, floats, ivf, pq, qVec,
      k = 10, rerank = 50, nprobe = 4)
    val expect = data.filter(d => cands.contains(d._1))
      .map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * qVec(i).toDouble; i += 1 }
        (id, s)
      }.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSeq
    assert(refined.select("doc_id").as[Long].collect().toSeq == expect)
    // The candidate filter must reach the parquet scan as a pushed In.
    val scan = refined.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [In(doc_id"),
      s"candidate isin not pushed to the float scan:\n$scan")
  }

  test("searchIp: ADC-IP equals the codebook-reconstruction dot; rank descends") {
    val corpus = clustered(300, 8).toDF("doc_id", "embedding")
    val pq = PqIndex.train(corpus, m = 4, ksub = 16)
    val enc = PqIndex.encode(corpus, pq)
    val q = corpus.filter($"doc_id" === 0).select("embedding")
      .as[Array[Float]].head()
    val top = PqIndex.searchIp(enc, pq, q, k = 20).collect()
    val books = pq.codebooks.get
    val dsub = books(0)(0).length
    // adc = Σ_s lut[s][code_s], each lut value its own sequential
    // per-subspace dot — mirror the kernel's association exactly (a
    // single flat fold differs in the last ulp)
    top.foreach { r =>
      val codes = r.getSeq[Int](1)
      val exp = books.indices.map { s =>
        var v = 0.0
        var i = 0
        while (i < dsub) { v += q(s * dsub + i).toDouble * books(s)(codes(s))(i); i += 1 }
        v
      }.foldLeft(0.0)(_ + _)
      assert(r.getDouble(2) == exp, s"doc ${r.getLong(0)}")
    }
    val adcs = top.map(_.getDouble(2)).toSeq
    assert(adcs == adcs.sorted.reverse)
    // the IP rank is genuinely different from the L2 rank's direction:
    // top-1 by ADC-IP is the max, not the min
    assert(adcs.head == adcs.max)
  }

  test("decode inverts encode to the assigned codebook entries; error bounded") {
    val data = clustered(300, 8)
    val docs = data.toDF("doc_id", "embedding")
    val pq = PqIndex.train(docs, m = 4, ksub = 8)
    val books = pq.codebooks.get
    val dsub = books(0)(0).length
    val rows = PqIndex.decode(PqIndex.encode(docs, pq), pq)
      .select("doc_id", "codes", "recon")
      .as[(Long, Seq[Int], Seq[Float])].collect()
    rows.foreach { case (_, codes, recon) =>
      assert(recon.length == codes.length * dsub)
      codes.zipWithIndex.foreach { case (c, s) =>
        val expect = books(s)(c).map(_.toFloat).toSeq
        assert(recon.slice(s * dsub, (s + 1) * dsub) == expect)
      }
    }
    // recon error: ties out to the driver-side distortion of the
    // assigned entries (encode is argmin, so this is the min distortion)
    val errs = PqIndex.reconstructionError(docs, pq)
      .select("doc_id", "err").as[(Long, Double)].collect().toMap
    data.foreach { case (id, v) =>
      val expected = math.sqrt((0 until 4).map { s =>
        books(s).map { entry =>
          v.slice(s * dsub, (s + 1) * dsub).zip(entry)
            .map { case (x, c) => val d = x.toDouble - c; d * d }.sum
        }.min
      }.sum)
      assert(math.abs(errs(id) - expected) < 1e-4,
        s"doc $id err ${errs(id)} vs driver $expected")
    }
  }

  test("untrained decode yields zero vectors (PQ)") {
    val tiny = clustered(5, 1)
    val docs = tiny.toDF("doc_id", "embedding")
    val pq = PqIndex.Pq(None, 4, 8)
    val recon = PqIndex.decode(PqIndex.encode(docs, pq), pq)
      .select("recon").as[Seq[Float]].head()
    assert(recon.forall(_ == 0f))
  }

  test("residual_f32 matches the zip_with form bit-for-bit and stays codegen") {
    import graft.operators.IvfIndex
    val data = clustered(400, 8)
    val docs = data.toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(docs, nlist = 8)
    val cents = ivf.centroids.get
    val native = withCells.withColumn("__res",
      PqIndex.residualColumn(ivf, col("embedding"), col("cell_id")))
    val hof = withCells.withColumn("__res",
      zip_with(col("embedding"),
        element_at(typedLit(cents.map(_.toSeq).toSeq), col("cell_id") + 1),
        (x, c) => (x.cast("double") - c).cast("float")))
    val a = native.select("doc_id", "__res").as[(Long, Seq[Float])].collect().toMap
    val b = hof.select("doc_id", "__res").as[(Long, Seq[Float])].collect().toMap
    assert(a == b, "native residual deviates from the zip_with definition")
    // The point of the native expression: the encode projection
    // (assign -> residual -> sub-quantizer argmins) is ONE codegen stage.
    // Local relations constant-fold at plan time, so assert over a real
    // file scan — the shape the corpus-wide ingest pass actually has.
    val dir = java.nio.file.Files.createTempDirectory("pqres").toString
    docs.write.mode("overwrite").parquet(dir)
    val scanned = IvfIndex.assign(spark.read.parquet(dir), ivf)
      .withColumn("__res",
        PqIndex.residualColumn(ivf, col("embedding"), col("cell_id")))
    val pq = PqIndex.train(native, m = 4, ksub = 8, "__res")
    val plan = PqIndex.encode(scanned, pq, "__res").drop("__res")
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty, s"encode projection fell out of codegen:\n$plan")
    assert(plan.toString.contains("residual_f32"),
      s"expected the native residual in the plan:\n$plan")
  }

  test("null embedding and null cell_id produce null residuals") {
    import graft.operators.IvfIndex
    val docs = clustered(200, 4).toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(docs, nlist = 4)
    val withNulls = docs
      .withColumn("embedding",
        when(col("doc_id") === 0L, lit(null)).otherwise(col("embedding")))
      .withColumn("cell_id",
        when(col("doc_id") === 1L, lit(null))
          .otherwise(graft.functions.GraftFunctions.nearestCentroidF32(
            col("embedding"), typedLit(ivf.centroids.get.map(_.toSeq).toSeq))))
    val res = withNulls.withColumn("__res",
        PqIndex.residualColumn(ivf, col("embedding"), col("cell_id")))
      .select("doc_id", "__res").as[(Long, Option[Seq[Float]])].collect().toMap
    assert(res(0L).isEmpty, "null embedding must give a null residual")
    assert(res(1L).isEmpty, "null cell_id must give a null residual")
    assert(res(2L).nonEmpty)
  }
}
