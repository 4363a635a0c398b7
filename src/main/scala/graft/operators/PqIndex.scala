package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Product quantization — the FAISS-core compression the reference's
  * engine family is named for (IndexPQ / IVFADC; Jégou et al. 2011,
  * "Product Quantization for Nearest Neighbor Search"): split each
  * vector into `m` subspaces, K-means each subspace to `ksub` centroids,
  * store each vector as `m` small codes, and answer queries with
  * asymmetric distance (ADC) — a per-query lookup table of
  * query-slice → centroid distances, so scoring a vector is `m` table
  * lookups + adds instead of a `dim`-wide float scan.
  *
  * Spark shape:
  *  - TRAIN is `m` independent sample-scale KMeans fits (driver-side
  *    model, executor-scale data — same posture as [[IvfIndex.train]];
  *    at 100 TB you train on a sample, which is exactly what FAISS does).
  *    The fits run concurrently on driver threads: each is a chain of
  *    ~21 tiny barrier jobs whose driver-side gaps would otherwise idle
  *    the executors `m` times over. The results are identical to fitting
  *    one subspace after another (same seeds, same persisted input).
  *  - ENCODE is a narrow per-row map: `m` [[graft.functions.NearestCentroidF32]]
  *    argmins over embedding slices — codegen'd, no shuffle; the encoded
  *    corpus is `m` ints per row instead of `dim` floats (PQ8x16 on a
  *    64-d float corpus is 16x lighter before int-width tuning, the
  *    difference between spilling and not at cluster scale).
  *  - SEARCH builds the `m × ksub` LUT at the DRIVER (tiny: one query
  *    against `ksub` sub-centroids per subspace, sequential double
  *    arithmetic) and inlines it as literals — the scan is `m`
  *    `element_at` lookups + a left-assoc add chain inside whole-stage
  *    codegen, then a zero-shuffle TakeOrdered top-k. The corpus is
  *    never shuffled and the full embedding column is never read at
  *    query time.
  *
  * Untrained (corpus below [[IvfIndex.TrainMin]]) degrades to
  * code 0 everywhere — callers keep the exact path for tiny corpora,
  * same contract as the IVF index. */
object PqIndex {
  val Seed = 7L

  /** codebooks(sub)(code) = centroid of that subspace, length dsub. */
  final case class Pq(codebooks: Option[Array[Array[Array[Double]]]],
                      m: Int, ksub: Int) {
    def isTrained: Boolean = codebooks.isDefined
  }

  /** Train per-subspace codebooks (KMeans on embedding slices). `dim`
    * must divide evenly into `m` subspaces, and every row must have it.
    *
    * The training projection is persisted for the duration of the `m`
    * fits: without it, every fit (plus the up-front size aggregate)
    * re-materializes the caller's full lineage — for the IVFADC path
    * that lineage is read → cell assign → residual, so ~10 corpus-scale
    * passes to fit codebooks on a sample (measured 56 s vs 14 s on a 2M-row
    * probe with a 100k sample). The cache holds only the projected
    * vector column at sample scale (~tens of MB), not the corpus.
    *
    * The fits run concurrently (see [[fitAll]]); each is the same seeded
    * KMeans over the same persisted, identically partitioned projection
    * as in a sequential loop, so the codebooks are bit-identical to it.
    * Every fit ends before the projection is unpersisted, failed or not,
    * and the first failure (in subspace order) is rethrown as itself. */
  def train(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
            embCol: String = "embedding"): Pq = {
    val sc = corpus.sparkSession.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    val vecs = corpus.select(col(embCol).as("__emb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var failed = true
    try {
      val stats = vecs.agg(count(lit(1)), min(size(col("__emb"))),
        max(size(col("__emb")))).head()
      val n = stats.getLong(0)
      val pq =
        if (n < IvfIndex.TrainMin) Pq(None, m, ksub)
        else {
          val (dim, longest) = (stats.getInt(1), stats.getInt(2))
          require(dim == longest,
            s"embeddings differ in size ($dim and $longest); PQ needs one dim")
          require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
          val dsub = dim / m
          val k = math.min(ksub, n).toInt
          val books = fitAll(m) { s =>
            val sliced = vecs.select(
              array_to_vector(slice(col("__emb"), s * dsub + 1, dsub)).as("__features"))
            new KMeans()
              .setK(k).setSeed(Seed + s).setMaxIter(10)
              .setFeaturesCol("__features").setPredictionCol("__code")
              .fit(sliced)
              .clusterCenters.map(_.toArray)
          }
          Pq(Some(books), m, ksub)
        }
      failed = false
      pq
    } finally {
      vecs.unpersist(false)
      // Spark ML's KMeans unpersists its own caches only when it
      // succeeds; after a failed fit drop every RDD persisted during
      // this call (all fits have ended, so none is in use by them; an
      // RDD another thread persisted meanwhile would only be recomputed)
      if (failed) sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!cachedBefore(id)) rdd.unpersist(false)
      }
    }
  }

  /** Driver threads for the concurrent sub-quantizer fits. Each KMeans
    * fit is a chain of ~21 tiny barrier jobs (k-means|| init plus 10
    * Lloyd iterations), so run one after another the executors idle
    * through every job's driver-side gap; run together, one fit's gap
    * overlaps another's tasks. Measured on a 4-vCPU host at `local[2]`
    * (600 64-d residuals, m = 8, ksub = 16): a traced build took
    * `pqindex.train` from 12.4 s to 7.7 s and its driver gap from 6.2 s
    * to 1.0 s, all 171 jobs still in the caller's group (172 before:
    * the up-front aggregate saves one); the IVF-PQ build (`index_build_s`) fell from a median
    * of 18.4 s to 14.3 s over ten pairs, while a cap of 4 threads gave
    * 15.5–16.2 s on three of those seeds. */
  private val MaxFitThreads = 8

  /** `fit(0 until n)` on up to [[MaxFitThreads]] daemon threads, results
    * in index order. The threads are created here, on the calling
    * thread, so they inherit its Spark local properties (job group,
    * description, scheduler pool): their jobs stay attributed to the
    * caller. Every started fit ends before this returns, even when
    * another fails or the caller is interrupted; after a failure no new
    * fit starts, and the first failure in index order is rethrown. */
  private def fitAll[T: scala.reflect.ClassTag](n: Int)(fit: Int => T): Array[T] = {
    val out = new Array[T](n)
    val errors = new Array[Throwable](n)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = Array.tabulate(math.min(n, MaxFitThreads)) { t =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) {
          try out(i) = fit(i)
          catch { case e: Throwable => errors(i) = e; next.set(n) }
          i = next.getAndIncrement()
        }
      }, s"pqindex-fit-$t")
      th.setDaemon(true)
      th
    }
    try threads.foreach(_.start())
    finally {
      var interrupted = false
      threads.foreach { th =>
        while (th.isAlive)
          try th.join()
          catch { case _: InterruptedException => interrupted = true; next.set(n) }
      }
      if (interrupted) Thread.currentThread().interrupt()
    }
    errors.find(_ != null).foreach(e => throw e)
    out
  }

  /** Encode every row: `codes` = array of `m` sub-centroid argmins (the
    * PQ code word). Untrained ⇒ all-zero codes. */
  def encode(corpus: DataFrame, pq: Pq, embCol: String = "embedding"): DataFrame =
    pq.codebooks match {
      case None =>
        corpus.withColumn("codes",
          array_repeat(lit(0), pq.m))
      case Some(books) =>
        GraftFunctions.register(corpus.sparkSession)
        val dsub = books(0)(0).length
        val codes = (0 until pq.m).map { s =>
          GraftFunctions.nearestCentroidF32(
            slice(col(embCol), s * dsub + 1, dsub),
            typedLit(books(s).map(_.toSeq).toSeq))
        }
        corpus.withColumn("codes", array(codes: _*))
    }

  // -------------------------------------------------------------------
  // Codebook persistence — same tiny-text-artifact lifecycle as
  // IvfIndex.save/load (S4 posture): header `m ksub dsub`, then the
  // m·k centroid lines (k ≤ ksub) in subspace-major order. Double.toString
  // round-trips exactly, so a reloaded index encodes identically.
  // -------------------------------------------------------------------

  def save(spark: SparkSession, pq: Pq, path: String): Unit = {
    val sb = new StringBuilder
    pq.codebooks match {
      case None => sb.append(s"${pq.m} ${pq.ksub} 0\n")
      case Some(books) =>
        sb.append(s"${pq.m} ${pq.ksub} ${books(0)(0).length}\n")
        books.foreach(_.foreach { c =>
          sb.append(c.mkString(" ")).append('\n')
        })
    }
    IvfIndex.writeArtifact(spark, path, sb.toString)
  }

  def load(spark: SparkSession, path: String): Pq =
    IvfIndex.readArtifact(spark, path) { rows =>
      require(rows.nonEmpty && rows.head.length == 3, "header is not `m ksub dsub`")
      val Array(m, ksub, dsub) = rows.head.map(_.toInt)
      require(m > 0, s"m = $m")
      if (dsub == 0) Pq(None, m, ksub)
      else {
        val flat = rows.tail.toArray
        require(flat.nonEmpty && flat.length % m == 0,
          s"${flat.length} codebook lines do not split into $m subspaces")
        require(flat.forall(_.length == dsub), s"a codebook line without $dsub values")
        Pq(Some(flat.grouped(flat.length / m).toArray), m, ksub)
      }
    }

  def buildOrLoad(spark: SparkSession, corpus: DataFrame, m: Int, ksub: Int,
                  path: String, embCol: String = "embedding"): Pq =
    if (IvfIndex.exists(spark, path)) load(spark, path)
    else {
      val pq = train(corpus, m, ksub, embCol)
      save(spark, pq, path)
      pq
    }

  /** The per-query ADC lookup table: lut(s)(c) = squared L2 between the
    * query's subspace-`s` slice and codebook entry `c`. Driver-side,
    * sequential double accumulation (the cross-engine-stable op order). */
  def adcLut(pq: Pq, queryVec: Array[Float]): Array[Array[Double]] = {
    val books = pq.codebooks.getOrElse(
      throw new IllegalStateException("ADC needs a trained PQ index"))
    val dsub = books(0)(0).length
    books.zipWithIndex.map { case (book, s) =>
      book.map { c =>
        var d2 = 0.0
        var i = 0
        while (i < dsub) {
          val d = queryVec(s * dsub + i).toDouble - c(i)
          d2 += d * d
          i += 1
        }
        d2
      }
    }
  }

  /** Inner-product ADC LUT — FAISS `IndexPQ` under
    * `METRIC_INNER_PRODUCT` (faiss/impl/ProductQuantizer: the
    * `compute_inner_prod_table` path): per (subspace, code) the dot of
    * the query subvector with the codeword. The same [[adcColumn]]
    * accumulation sums the m lookups; the only semantic change is the
    * rank direction (score DESCENDS — see [[searchIp]]). */
  def ipAdcLut(pq: Pq, queryVec: Array[Float]): Array[Array[Double]] = {
    val books = pq.codebooks.getOrElse(
      throw new IllegalStateException("ADC needs a trained PQ index"))
    val dsub = books(0)(0).length
    books.zipWithIndex.map { case (book, s) =>
      book.map { c =>
        var ip = 0.0
        var i = 0
        while (i < dsub) {
          ip += queryVec(s * dsub + i).toDouble * c(i)
          i += 1
        }
        ip
      }
    }
  }

  /** Approximate MAX-inner-product top-`k` by ADC over the codes-only
    * corpus (descending score, ties to the lower id) — the IP companion
    * to [[search]]'s L2 form; same zero-shuffle TakeOrdered shape. */
  def searchIp(encoded: DataFrame, pq: Pq, queryVec: Array[Float], k: Int,
               idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(encoded.sparkSession)
    val lut = ipAdcLut(pq, queryVec)
    encoded
      .withColumn("adc",
        GraftFunctions.adcLut(col("codes"), typedLit(lut.map(_.toSeq).toSeq)))
      .select(col(idCol), col("codes"), col("adc"))
      .orderBy(col("adc").desc, col(idCol).asc)
      .limit(k)
  }

  /** ADC distance column over an [[encode]]d corpus: one
    * [[graft.functions.AdcLut]] accumulation — `m` primitive table
    * lookups summed in subspace order inside whole-stage codegen, no
    * embedding read. (Replaces an `element_at` chain: same left-assoc
    * double arithmetic, but one expression node with the LUT as a
    * primitive `double[][]` instead of 2m generic-array probes.) */
  def adcColumn(pq: Pq, queryVec: Array[Float], codesCol: Column): Column = {
    val lut = adcLut(pq, queryVec)
    GraftFunctions.adcLut(codesCol,
      typedLit(lut.map(_.toSeq).toSeq))
  }

  /** Approximate top-`k` by ADC (ascending squared distance, ties to the
    * lower id): zero-shuffle TakeOrdered over the encoded corpus. */
  def search(encoded: DataFrame, pq: Pq, queryVec: Array[Float], k: Int,
             idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(encoded.sparkSession)
    encoded
      .withColumn("adc", adcColumn(pq, queryVec, col("codes")))
      .select(col(idCol), col("codes"), col("adc"))
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(k)
  }

  // -------------------------------------------------------------------
  // IVFADC (FAISS IndexIVFPQ): PQ over per-cell RESIDUALS. Residuals
  // concentrate around zero, so the same codebook budget quantizes them
  // far better than raw vectors — the composition that makes PQ usable
  // at billion-vector scale. Everything composes from the existing
  // pieces: IvfIndex owns the coarse cells, this file owns the codes.
  // -------------------------------------------------------------------

  /** Float residual of each row against its assigned cell centroid:
    * per element `float(double(x) − c)` — the float cast keeps the
    * encoded corpus in the same element type the sub-quantizers train
    * on, and is exactly replayable in SQL. Input needs `cell_id`
    * (from [[IvfIndex.assign]]).
    *
    * Computed by the native [[graft.functions.ResidualF32]] expression,
    * not `zip_with`: the HOF form is interpreted (per-element lambda
    * dispatch) and fences whole-stage codegen right in the middle of the
    * corpus-wide encode projection — the one pass that touches every row
    * at ingest. The expression keeps assign → residual → sub-quantizer
    * argmins in one codegen stage, byte-identical output. */
  def residualColumn(ivf: IvfIndex.Ivf, embCol: Column, cellCol: Column): Column = {
    val cents = ivf.centroids.getOrElse(
      throw new IllegalStateException("residuals need a trained IVF"))
    GraftFunctions.residualF32(embCol,
      typedLit(cents.map(_.toSeq).toSeq), cellCol)
  }

  /** Train sub-quantizers on residuals and encode the celled corpus:
    * output carries (…, cell_id, codes). `trainFraction` < 1 fits the
    * KMeans on a seeded sample of the residuals — the FAISS posture
    * (sub-quantizers need the residual DISTRIBUTION, not every row; at
    * corpus scale a full-data fit is 8 KMeans × 10 full passes, measured
    * 331 s on a 2M-row probe where a 5% sample trains in seconds).
    * ENCODE always covers every row. */
  def buildIvfAdc(corpusWithCells: DataFrame, ivf: IvfIndex.Ivf,
                  m: Int = 8, ksub: Int = 16,
                  embCol: String = "embedding",
                  trainFraction: Double = 1.0): (DataFrame, Pq) = {
    require(trainFraction > 0 && trainFraction <= 1,
      s"trainFraction out of (0,1]: $trainFraction")
    val withRes = corpusWithCells.withColumn("__res",
      residualColumn(ivf, col(embCol), col("cell_id")))
    val trainSet =
      if (trainFraction >= 1.0) withRes
      else withRes.sample(trainFraction, Seed)
    val pq = train(trainSet, m, ksub, "__res")
    (encode(withRes, pq, "__res").drop("__res"), pq)
  }

  /** IVFADC top-`k`: probe the `nprobe` cells nearest the query by L2
    * (driver-side — the centroid table is tiny), compute one LUT per
    * probed cell from the FLOAT-cast query residual (same cast as the
    * row path), and scan only the probed cells — `cell_id IN (…)` is a
    * static partition filter over a cell-partitioned corpus, then the
    * per-row cost is `m` lookups into the cell's LUT. Zero-shuffle
    * TakeOrdered, floats never read. */
  def searchIvfAdc(encoded: DataFrame, ivf: IvfIndex.Ivf, pq: Pq,
                   queryVec: Array[Float], k: Int, nprobe: Int,
                   idCol: String = "doc_id"): DataFrame = {
    val (scored, _) = probedAdcScan(encoded, ivf, pq, queryVec, nprobe)
    scored
      .select(col(idCol), col("cell_id"), col("adc"))
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(k)
  }

  /** The `nprobe` cells nearest the query by L2 (driver-side — the
    * centroid table is tiny), then the probed-cells scan with the
    * per-row ADC column attached. Shared by [[searchIvfAdc]] (drops the
    * codes) and [[searchAndReconstruct]] (decodes them). Returns the
    * scored frame (still carrying `codes`) and the probed cell ids in
    * probe order. */
  private def probedAdcScan(encoded: DataFrame, ivf: IvfIndex.Ivf, pq: Pq,
                            queryVec: Array[Float], nprobe: Int)
      : (DataFrame, Seq[Int]) = {
    GraftFunctions.register(encoded.sparkSession)
    val cents = ivf.centroids.getOrElse(
      throw new IllegalStateException("IVFADC needs a trained IVF"))
    val probed = probeL2(cents, queryVec, nprobe)
    // One LUT per probed cell, addressed by DENSE PROBE SLOT: the plan
    // literal is O(nprobe × m × ksub), not O(nlist) — at realistic
    // corpus-scale nlist (2¹⁶–2²⁰ cells) a cell-indexed literal grows
    // (and serializes with every task) with the cell count while only
    // nprobe entries carry data. A tiny map literal remaps each scanned
    // row's cell_id to its slot; the cell_id filter below guarantees
    // every scanned row's cell is in the map. One codegen'd AdcLutCells
    // accumulation per row instead of a map probe + element_at chain.
    val luts: Seq[Seq[Seq[Double]]] = probed.map { cell =>
      val c = cents(cell)
      val qr = Array.tabulate(queryVec.length)(j =>
        (queryVec(j).toDouble - c(j)).toFloat)
      adcLut(pq, qr).map(_.toSeq).toSeq
    }
    val slot = element_at(typedLit(probed.zipWithIndex.toMap),
      col("cell_id").cast("int"))
    val adc = GraftFunctions.adcLutCells(col("codes"), slot, typedLit(luts))
    (encoded
      .filter(col("cell_id").isin(probed: _*))
      .withColumn("adc", adc), probed)
  }

  /** The `nprobe` cells nearest `queryVec` by sequential squared-L2
    * (centroid ASC, cell_id ties) — the IVFADC probe rule, driver-side
    * over the tiny centroid table. */
  private def probeL2(cents: Array[Array[Double]], queryVec: Array[Float],
                      nprobe: Int): Seq[Int] =
    cents.zipWithIndex
      .map { case (c, i) =>
        var d2 = 0.0
        var j = 0
        while (j < math.min(c.length, queryVec.length)) {
          val d = queryVec(j).toDouble - c(j); d2 += d * d; j += 1
        }
        (d2, i)
      }
      .sortBy { case (d, i) => (d, i) }
      .take(nprobe).map(_._2).toSeq

  /** Batched IVFADC — FAISS `IndexIVFPQ::search` over a query BATCH,
    * which is how FAISS is actually driven (`xq` is a matrix, and each
    * query keeps a bounded heap through one pass over the probed lists).
    *
    * ONE Spark job, no exchange, no broadcast ([[ivfAdcBatchScan]] is the
    * scan): the union of every query's probed cells is read once (a
    * static `cell_id IN (…)` partition filter), each scanned row fans out
    * to the queries probing its cell through a literal
    * `cell_id → [(query, slot)]` map, and the per-row cost is `m` lookups
    * into that pair's LUT. Each partition keeps at most `k` hits per
    * query ([[AdcTopK]]) and the driver merges the partition results as
    * they finish. Both literals are O(n_q · nprobe) entries (the LUTs
    * O(n_q · nprobe · m · ksub) values) — slot-addressed, never O(nlist).
    *
    * EAGER: the job runs when this is called, and the hits come back as a
    * local frame (`query_id` long, `idCol` long, `adc` double, `doc_rank`
    * int from 1); every caller consumes the answer at once. Per query the
    * order is `adc` ascending, then id ascending, equal hits kept (an id
    * present in two batch dirs is returned twice) — [[TopKByScore]]'s
    * order. A query whose probed cells hold no rows returns no rows.
    * Query ids must be distinct. */
  def searchIvfAdcBatch(encoded: DataFrame, ivf: IvfIndex.Ivf, pq: Pq,
                        queries: Seq[(Long, Array[Float])], k: Int,
                        nprobe: Int, idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"k = $k")
    val spark = encoded.sparkSession
    import spark.implicits._
    // Partition results and the driver's merged state are each at most
    // n_q · k hits, whatever the partition count: `aggregate` folds every
    // task result into the driver's accumulator as the task finishes.
    val top = ivfAdcBatchScan(encoded, ivf, pq, queries, nprobe, idCol)
      .as[(Int, Long, Double)].rdd
      .aggregate(new AdcTopK(queries.length, k))(
        (acc, hit) => acc.add(hit._1, hit._2, hit._3), _.merge(_))
    val rows = queries.indices.flatMap { q =>
      top.best(q).zipWithIndex.map { case (h, r) =>
        Row(queries(q)._1, h.id, h.adc, r + 1)
      }
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("query_id", LongType), StructField(idCol, LongType),
      StructField("adc", DoubleType), StructField("doc_rank", IntegerType))))
  }

  /** The scan of [[searchIvfAdcBatch]], lazy: one row per (scanned row,
    * query probing its cell) — (`query` index into `queries`, `id`, `adc`).
    * Its plan is a filtered partition scan plus a generator and a
    * projection: no exchange, no join. */
  private[graft] def ivfAdcBatchScan(encoded: DataFrame, ivf: IvfIndex.Ivf,
                                     pq: Pq, queries: Seq[(Long, Array[Float])],
                                     nprobe: Int, idCol: String): DataFrame = {
    GraftFunctions.register(encoded.sparkSession)
    VectorSearch.requireIntegralId(encoded, idCol)
    val ids = queries.map(_._1)
    val repeated = ids.diff(ids.distinct).headOption
    require(repeated.isEmpty,
      s"query id ${repeated.get} appears more than once in the batch")
    val cents = ivf.centroids.getOrElse(
      throw new IllegalStateException("IVFADC needs a trained IVF"))
    // (query index, cell) per probe; its position is the LUT slot
    val entries: Seq[(Int, Int)] = queries.zipWithIndex.flatMap { case ((_, qv), q) =>
      probeL2(cents, qv, nprobe).map(cell => (q, cell))
    }
    val luts: Seq[Seq[Seq[Double]]] = entries.map { case (q, cell) =>
      val qv = queries(q)._2
      val c = cents(cell)
      val qr = Array.tabulate(qv.length)(j => (qv(j).toDouble - c(j)).toFloat)
      adcLut(pq, qr).map(_.toSeq).toSeq
    }
    val fanOut: Map[Int, Seq[(Int, Int)]] = entries.zipWithIndex
      .groupBy(_._1._2)
      .map { case (cell, es) => cell -> es.map { case ((q, _), slot) => (q, slot) } }
    encoded
      .filter(col("cell_id").isin(fanOut.keys.toSeq.sorted: _*))
      .select(col(idCol).cast("long").as("id"), col("codes"),
        explode(element_at(typedLit(fanOut), col("cell_id").cast("int"))).as("__probe"))
      .select(col("__probe._1").as("query"), col("id"),
        GraftFunctions.adcLutCells(col("codes"), col("__probe._2"), typedLit(luts))
          .as("adc"))
  }

  /** FAISS `IndexIVF::search_and_reconstruct`: the probed ADC top-`k`
    * plus each hit's reconstructed vector — `centroid + decode(codes)`,
    * the best approximation of the original the codes-only store can
    * return (serving systems use it to hand vectors back without a
    * float-table join). The scan is exactly [[searchIvfAdc]]'s (codes
    * kept); only the `k` surviving rows decode, so the per-component
    * work is O(k·d) after the TakeOrdered. Decode literals are probe-slot
    * addressed like the LUTs — O(nprobe·d) + O(m·ksub·dsub), never
    * O(nlist). Recon components emit as `round(double, 4)` — FLOAT-cast
    * codebook entry plus the double centroid, the exact arithmetic the
    * generated oracle replays. */
  def searchAndReconstruct(encoded: DataFrame, ivf: IvfIndex.Ivf, pq: Pq,
                           queryVec: Array[Float], k: Int, nprobe: Int,
                           idCol: String = "doc_id"): DataFrame = {
    val cents = ivf.centroids.getOrElse(
      throw new IllegalStateException("IVFADC needs a trained IVF"))
    val books = pq.codebooks.getOrElse(
      throw new IllegalStateException("reconstruct needs a trained PQ"))
    val (scored, probed) = probedAdcScan(encoded, ivf, pq, queryVec, nprobe)
    val hits = scored
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(k)
    val booksLit = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val slotCents = typedLit(probed.map(c => cents(c).toSeq))
    val slot = element_at(typedLit(probed.zipWithIndex.toMap),
      col("cell_id").cast("int"))
    val decodedRes = flatten(transform(col("codes"), (c, s) =>
      transform(element_at(element_at(booksLit, s + 1), c + 1),
        v => v.cast("float"))))
    hits
      .withColumn("recon",
        zip_with(decodedRes, element_at(slotCents, slot + lit(1)),
          (r, cc) => round(r.cast("double") + cc, 4)))
      .select(col(idCol), col("cell_id"), col("adc"), col("recon"))
  }

  /** Decode codes back to the reconstructed vector — FAISS
    * `IndexPQ::reconstruct` / `sa_decode`: element `s·dsub + t` is
    * `float(codebooks[s][codes[s]][t])` (subspace-major, the encode
    * layout's inverse); untrained decodes to zeros. A `transform` HOF,
    * not a codegen kernel — reconstruction is a diagnostic/recovery
    * path (error audits, re-materializing vectors from a codes-only
    * store), not the per-query scan (the [[SqIndex.decode]] posture). */
  def decode(encoded: DataFrame, pq: Pq, codesCol: String = "codes",
             outCol: String = "recon"): DataFrame =
    pq.codebooks match {
      case Some(books) =>
        val lit3 = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
        encoded.withColumn(outCol,
          flatten(transform(col(codesCol), (c, s) =>
            transform(element_at(element_at(lit3, s + 1), c + 1),
              v => v.cast("float")))))
      case None =>
        val dsub = 1
        encoded.withColumn(outCol,
          transform(col(codesCol), c => (c * dsub * 0).cast("float")))
    }

  /** Per-vector reconstruction error `‖x − decode(encode(x))‖₂` — the
    * PQ quantizer-quality audit (FAISS `reconstruct_n` paired with the
    * originals), completing the audit pair with [[SqIndex
    * .reconstructionError]] (q88). Encode is deterministic, so this is
    * one narrow projection over the float corpus — no join with the
    * codes store. */
  def reconstructionError(corpus: DataFrame, pq: Pq,
                          embCol: String = "embedding",
                          idCol: String = "doc_id",
                          outCol: String = "err"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    decode(encode(corpus, pq, embCol), pq)
      .select(col(idCol),
        GraftFunctions.l2DistanceF32(col(embCol), col("recon")).as(outCol))
  }

  /** IVFPQR (FAISS `IndexIVFPQR`, faiss/IndexIVFPQR.cpp): a SECOND
    * product quantizer encodes the first level's reconstruction error
    * `r₂ = residual − decode₁(codes)`, so every row carries
    * `m + mRefine` codes and search can re-rank ADC candidates against
    * the two-level reconstruction WITHOUT ever touching the float
    * corpus — the codes-only middle ground between raw IVFADC
    * (q78) and the float re-read of `RFlat` refinement (q80).
    *
    * Train follows [[buildIvfAdc]]'s posture (sample-fit, full encode);
    * both code columns ride the same cell-partitioned corpus. */
  def buildIvfPqr(corpusWithCells: DataFrame, ivf: IvfIndex.Ivf,
                  m: Int = 8, mRefine: Int = 8, ksub: Int = 16,
                  embCol: String = "embedding",
                  trainFraction: Double = 1.0): (DataFrame, Pq, Pq) = {
    require(trainFraction > 0 && trainFraction <= 1,
      s"trainFraction out of (0,1]: $trainFraction")
    val withRes = corpusWithCells.withColumn("__res",
      residualColumn(ivf, col(embCol), col("cell_id")))
    def sampled(df: DataFrame) =
      if (trainFraction >= 1.0) df else df.sample(trainFraction, Seed)
    val pq1 = train(sampled(withRes), m, ksub, "__res")
    // second-level residual: what the first PQ failed to reconstruct
    // (float subtraction — bit-identical to the double-sub-float-cast
    // the oracle replays, since the operands are exact floats)
    val withRes2 = decode(encode(withRes, pq1, "__res"), pq1, "codes", "__rec1")
      .withColumn("__res2",
        zip_with(col("__res"), col("__rec1"), (a, b) => a - b))
      .withColumnRenamed("codes", "__codes1")
    val pq2 = train(sampled(withRes2), mRefine, ksub, "__res2")
    val enc = encode(withRes2, pq2, "__res2")
      .withColumnRenamed("codes", "codes2")
      .withColumnRenamed("__codes1", "codes")
      .drop("__res", "__rec1", "__res2")
    (enc, pq1, pq2)
  }

  /** IVFPQR top-`k`: the IVFADC scan proposes `rerank` candidates
    * (codes-only, probed cells, zero shuffle), then each candidate's
    * TWO-LEVEL reconstruction `centroid + decode₁ + decode₂` is scored
    * against the query by exact squared L2 — FAISS
    * `IndexIVFPQR::search_preassigned` (k_factor·k candidates, refined
    * re-rank). The refine pass runs entirely on the `rerank`-bounded
    * candidate frame: decode HOFs + one sequential-double distance fold
    * per candidate, never a corpus-scale operation, and still no float
    * read. */
  def searchIvfPqr(encoded: DataFrame, ivf: IvfIndex.Ivf, pq1: Pq, pq2: Pq,
                   queryVec: Array[Float], k: Int, rerank: Int, nprobe: Int,
                   idCol: String = "doc_id"): DataFrame = {
    val cents = ivf.centroids.getOrElse(
      throw new IllegalStateException("IVFPQR needs a trained IVF"))
    val books1 = pq1.codebooks.getOrElse(
      throw new IllegalStateException("IVFPQR needs a trained first-level PQ"))
    val books2 = pq2.codebooks.getOrElse(
      throw new IllegalStateException("IVFPQR needs a trained refine PQ"))
    val (scored, probed) = probedAdcScan(encoded, ivf, pq1, queryVec, nprobe)
    val cand = scored.orderBy(col("adc").asc, col(idCol).asc).limit(rerank)
    def decodeCol(books: Array[Array[Array[Double]]], codes: Column): Column = {
      val lit3 = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
      flatten(transform(codes, (c, s) =>
        transform(element_at(element_at(lit3, s + 1), c + 1),
          v => v.cast("float"))))
    }
    val slotCents = typedLit(probed.map(c => cents(c).toSeq))
    val slot = element_at(typedLit(probed.zipWithIndex.toMap),
      col("cell_id").cast("int"))
    // recon_j = (centroid_j + d1_j) + d2_j — addition order pinned, the
    // oracle replays the same chain
    val recon = zip_with(
      zip_with(element_at(slotCents, slot + lit(1)),
        decodeCol(books1, col("codes")), (a, b) => a + b.cast("double")),
      decodeCol(books2, col("codes2")), (a, b) => a + b.cast("double"))
    val qLit = typedLit(queryVec.map(_.toDouble).toSeq)
    val rdist = aggregate(
      zip_with(qLit, recon, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    cand.withColumn("rdist", rdist)
      .orderBy(col("rdist").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cell_id"), col("rdist"))
  }

  /** Refined search (FAISS IndexRefineFlat over IndexIVFPQ): the IVFADC
    * scan proposes `rerank` candidates from codes alone, then the exact
    * inner product re-ranks just those rows of the FLOAT corpus — ADC
    * recall at scan cost, exact ordering at the top.
    *
    * The candidate ids round-trip through the driver deliberately
    * (`rerank` rows — the same tiny-result class as every single-query
    * fetch): a driver-known key set becomes a static `isin` filter, which
    * reaches the parquet scan as `PushedFilters: In(doc_id, …)` and
    * prunes row groups via column statistics. A broadcast semi-join —
    * the "distributed" alternative — prunes NOTHING: the float corpus
    * would be scanned end-to-end to discard all but `rerank` rows (the
    * pinned IvfIndex.searchBatch lesson). With an id-sorted float
    * corpus layout the refine pass reads O(rerank) row groups at any
    * corpus size. */
  def searchRefined(encoded: DataFrame, floats: DataFrame, ivf: IvfIndex.Ivf,
                    pq: Pq, queryVec: Array[Float], k: Int, rerank: Int,
                    nprobe: Int, idCol: String = "doc_id"): DataFrame = {
    val candIds = searchIvfAdc(encoded, ivf, pq, queryVec, rerank, nprobe, idCol)
      .select(idCol).collect().map(_.getLong(0)).toSeq
    VectorSearch.knnScores(
      floats.filter(col(idCol).isin(candIds: _*)), queryVec, k, idCol = idCol)
  }
}

/** One retained IVFADC hit. */
private[operators] final case class AdcHit(adc: Double, id: Long)

/** Per-query bounded top-`k` of [[AdcHit]]s: the partition accumulator of
  * [[PqIndex.searchIvfAdcBatch]] and its driver-side merge. Each query
  * keeps at most `k` hits in a heap whose head is the worst one retained,
  * so one instance holds at most `nQueries · k` hits. Order:
  * [[AdcTopK.Order]]; hits equal under it are all kept. */
private[operators] final class AdcTopK(nQueries: Int, k: Int) extends Serializable {
  import AdcTopK.Order
  private val heaps = Array.fill(nQueries)(
    scala.collection.mutable.PriorityQueue.empty[AdcHit](Order))

  def add(query: Int, id: Long, adc: Double): AdcTopK = {
    offer(heaps(query), AdcHit(adc, id)); this
  }

  def merge(other: AdcTopK): AdcTopK = {
    other.heaps.indices.foreach(q => other.heaps(q).foreach(offer(heaps(q), _)))
    this
  }

  /** Query `q`'s hits, best first. */
  def best(query: Int): Seq[AdcHit] = heaps(query).toSeq.sorted(Order)

  private def offer(heap: scala.collection.mutable.PriorityQueue[AdcHit],
                    hit: AdcHit): Unit =
    if (heap.size < k) heap.enqueue(hit)
    else if (Order.lt(hit, heap.head)) { heap.dequeue(); heap.enqueue(hit) }
}

private[operators] object AdcTopK {
  /** `adc` ascending, then id ascending — the order [[TopKByScore]] gives
    * its (id, −adc) inputs, `java.lang.Double.compare` included. */
  val Order: Ordering[AdcHit] = new Ordering[AdcHit] {
    def compare(a: AdcHit, b: AdcHit): Int = {
      val c = java.lang.Double.compare(a.adc, b.adc)
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    }
  }
}
