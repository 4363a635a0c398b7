package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 8-bit scalar quantization — FAISS `IndexScalarQuantizer` (QT_8bit),
  * the middle compression point of the engine's quantizer family
  * (float32 exact → SQ8 4× → SQ4 8× → PQ8 32×): each dimension is affinely mapped
  * to one byte against per-dim trained bounds, so a vector is `dim`
  * small ints instead of `dim` floats, and inner-product search reads
  * only codes.
  *
  * Spark shape, mirroring [[PqIndex]]:
  *  - TRAIN is one aggregation: per-dim (min, max) over the corpus via
  *    posexplode → groupBy(dim) — a `dim`-group shuffle of partial
  *    aggregates (map-side combined, 64 rows cross the wire per
  *    partition), run once at ingest on a sample if desired.
  *  - ENCODE is the codegen'd [[graft.functions.Sq8EncodeF32]] — a
  *    narrow per-row map, no shuffle, bounds baked into the generated
  *    class.
  *  - SEARCH reuses the [[graft.functions.AdcLut]] kernel with a
  *    `dim × 256` table (`lut[i][c] = q_i · (vmin_i + c · step_i)` —
  *    scalar quantization IS product quantization with dsub=1): the
  *    driver builds the LUT, the scan is one primitive lookup-accumulate
  *    per dim inside whole-stage codegen, then a zero-shuffle
  *    TakeOrdered top-k. Scores descend (inner product), unlike PQ's
  *    ascending distance.
  *
  * Untrained (corpus below [[IvfIndex.TrainMin]]) degrades to code 0
  * everywhere, the family's shared contract. */
object SqIndex {

  /** Per-dim affine bounds; `step(i) = (vmax_i − vmin_i) / 255`. */
  final case class Sq(vmin: Option[Array[Double]], step: Option[Array[Double]]) {
    def isTrained: Boolean = vmin.isDefined
  }

  /** Train per-dim bounds: one min/max aggregation over the exploded
    * embedding column. The explode multiplies rows by `dim` but feeds a
    * partial aggregate — what crosses the shuffle is `dim` rows per map
    * partition, not the corpus. */
  def train(corpus: DataFrame, embCol: String = "embedding"): Sq =
    trainLevels(corpus, embCol, maxCode = 255.0)

  /** Train 4-bit bounds (`step = (vmax − vmin) / 15`) — same aggregation,
    * the grid just spends 16 levels instead of 256. */
  def train4(corpus: DataFrame, embCol: String = "embedding"): Sq =
    trainLevels(corpus, embCol, maxCode = 15.0)

  private def trainLevels(corpus: DataFrame, embCol: String,
                          maxCode: Double): Sq = {
    if (corpus.limit(IvfIndex.TrainMin).count() < IvfIndex.TrainMin) Sq(None, None)
    else {
      val bounds = corpus
        .select(posexplode(col(embCol)).as(Seq("dim", "x")))
        .groupBy("dim")
        .agg(min(col("x").cast("double")).as("vmin"),
          max(col("x").cast("double")).as("vmax"))
        .orderBy("dim")
        .collect()
      val vmin = bounds.map(_.getDouble(1))
      val vmax = bounds.map(_.getDouble(2))
      val step = vmin.indices.map(i => (vmax(i) - vmin(i)) / maxCode).toArray
      Sq(Some(vmin), Some(step))
    }
  }

  /** Encode every row: `codes` = per-dim affine byte codes (array<int>;
    * parquet dictionary/RLE encoding keeps the 0–255 range byte-sized at
    * rest). Untrained ⇒ all-zero codes of the input's length. */
  def encode(corpus: DataFrame, sq: Sq, embCol: String = "embedding"): DataFrame =
    (sq.vmin, sq.step) match {
      case (Some(vmin), Some(step)) =>
        GraftFunctions.register(corpus.sparkSession)
        corpus.withColumn("codes",
          GraftFunctions.sq8EncodeF32(col(embCol),
            typedLit(vmin.toSeq), typedLit(step.toSeq)))
      case _ =>
        corpus.withColumn("codes",
          array_repeat(lit(0), size(col(embCol))))
    }

  // ---- IVF-SQ8 (FAISS IndexIVFScalarQuantizer, QT_8bit, by-residual) ----

  /** Train per-dim bounds over IVF RESIDUALS — the by-residual encoding
    * of FAISS's `IndexIVFScalarQuantizer`: residual ranges are tighter
    * than raw ranges, so the 8-bit grid spends its resolution where the
    * data actually lives. One aggregation, same as [[train]]. */
  def trainResidual(withCells: DataFrame, ivf: IvfIndex.Ivf,
                    embCol: String = "embedding"): Sq = {
    GraftFunctions.register(withCells.sparkSession)
    train(withCells.withColumn("__res",
      PqIndex.residualColumn(ivf, col(embCol), col("cell_id"))), "__res")
  }

  /** Encode residual codes for a cell-assigned corpus:
    * `(idCol, cell_id, codes)` — assign + residual + SQ8 encode in ONE
    * codegen projection (the IVFADC encode shape). Write partitioned by
    * `cell_id` so search prunes partitions. */
  def encodeIvf(withCells: DataFrame, ivf: IvfIndex.Ivf, sq: Sq,
                embCol: String = "embedding",
                idCol: String = "doc_id"): DataFrame =
    encode(withCells.withColumn("__res",
      PqIndex.residualColumn(ivf, col(embCol), col("cell_id"))), sq, "__res")
      .select(col(idCol), col("cell_id"), col("codes"))

  /** Probed IVF-SQ8 search: per-probed-cell LUT
    * `lut_c[i][code] = q_i · (cent_c_i + vmin_i + code · step_i)` — the
    * reconstruction folds the cell centroid back in per dim, so one
    * [[graft.functions.AdcLutCells]] accumulation scores a row without
    * ever materializing the reconstruction. Scores descend (inner
    * product); only probed cells are scanned (partition pruning on the
    * cell-partitioned layout). */
  def searchIvf(encoded: DataFrame, ivf: IvfIndex.Ivf, sq: Sq,
                queryVec: Array[Float], k: Int, nprobe: Int,
                idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(encoded.sparkSession)
    val cents = ivf.centroids.getOrElse(
      throw new IllegalStateException("IVF-SQ8 needs a trained IVF"))
    val vmin = sq.vmin.getOrElse(
      throw new IllegalStateException("IVF-SQ8 needs trained bounds"))
    val step = sq.step.get
    val probed = IvfIndex.probeCells(ivf, queryVec, nprobe)
    // Dense probe-slot LUT addressing — O(nprobe) literal, not O(nlist);
    // see PqIndex.searchIvfAdc for the rationale.
    val luts: Seq[Seq[Seq[Double]]] = probed.map { cell =>
      val c = cents(cell)
      val n = math.min(math.min(queryVec.length, vmin.length), c.length)
      Seq.tabulate(n) { i =>
        Seq.tabulate(256) { code =>
          queryVec(i).toDouble * (c(i) + vmin(i) + code * step(i))
        }
      }
    }
    val slot = element_at(typedLit(probed.zipWithIndex.toMap),
      col("cell_id").cast("int"))
    encoded
      .filter(col("cell_id").isin(probed: _*))
      .withColumn("score",
        GraftFunctions.adcLutCells(col("codes"), slot, typedLit(luts)))
      .select(col(idCol), col("cell_id"), col("score"))
      .orderBy(desc("score"), col(idCol).asc)
      .limit(k)
  }

  /** Refined IVF-SQ8 search (FAISS `IndexRefineFlat` over
    * `IndexIVFScalarQuantizer`): the probed SQ8 scan proposes `rerank`
    * candidates from codes alone, then the exact inner product re-ranks
    * just those rows of the FLOAT corpus — the [[PqIndex.searchRefined]]
    * shape verbatim. The candidate ids round-trip through the driver
    * deliberately: a driver-known key set becomes a static `isin`
    * filter, reaching the parquet scan as `PushedFilters: In(doc_id,…)`
    * and pruning row groups; a broadcast semi-join would scan the whole
    * float corpus to discard all but `rerank` rows. */
  def searchRefined(encoded: DataFrame, floats: DataFrame, ivf: IvfIndex.Ivf,
                    sq: Sq, queryVec: Array[Float], k: Int, rerank: Int,
                    nprobe: Int, idCol: String = "doc_id"): DataFrame = {
    val candIds = searchIvf(encoded, ivf, sq, queryVec, rerank, nprobe, idCol)
      .select(idCol).collect().map(_.getLong(0)).toSeq
    VectorSearch.knnScores(
      floats.filter(col(idCol).isin(candIds: _*)), queryVec, k, idCol = idCol)
  }

  /** Decode codes back to the reconstructed vector — FAISS
    * `IndexScalarQuantizer::reconstruct` / `sa_decode`:
    * `recon_i = float(vmin_i + code_i · step_i)`; untrained decodes to
    * zeros (the all-zero-code contract's inverse). A `transform` HOF,
    * not a codegen kernel: reconstruction is a diagnostic/recovery path
    * (error audits, re-materializing vectors from a codes-only store),
    * not the per-query scan. */
  def decode(encoded: DataFrame, sq: Sq, codesCol: String = "codes",
             outCol: String = "recon"): DataFrame =
    (sq.vmin, sq.step) match {
      case (Some(vmin), Some(step)) =>
        val mn = typedLit(vmin.toSeq)
        val st = typedLit(step.toSeq)
        encoded.withColumn(outCol,
          transform(col(codesCol), (c, i) =>
            (element_at(mn, i + 1) + c.cast("double") * element_at(st, i + 1))
              .cast("float")))
      case _ =>
        encoded.withColumn(outCol,
          transform(col(codesCol), c => (c * 0).cast("float")))
    }

  /** Per-vector reconstruction error `‖x − decode(encode(x))‖₂` — the
    * quantizer-quality audit (what FAISS users compute by pairing
    * `reconstruct_n` with the originals). Encode is deterministic, so
    * this equals decoding the stored codes; running encode→decode→error
    * as ONE narrow projection over the float corpus needs no join with
    * the codes store and no shuffle. */
  def reconstructionError(corpus: DataFrame, sq: Sq,
                          embCol: String = "embedding",
                          idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    decode(encode(corpus, sq, embCol), sq)
      .select(col(idCol),
        GraftFunctions.l2DistanceF32(col(embCol), col("recon")).as("err"))
  }

  /** The per-query LUT: `lut[i][c] = q_i · (vmin_i + c · step_i)` —
    * inner product against the reconstruction, driver-side sequential
    * double arithmetic (the oracle-replayable op order). */
  def reconDotLut(sq: Sq, queryVec: Array[Float]): Array[Array[Double]] = {
    val vmin = sq.vmin.getOrElse(
      throw new IllegalStateException("SQ8 search needs trained bounds"))
    val step = sq.step.get
    Array.tabulate(math.min(queryVec.length, vmin.length)) { i =>
      Array.tabulate(256) { c =>
        queryVec(i).toDouble * (vmin(i) + c * step(i))
      }
    }
  }

  /** Approximate inner-product score column over an [[encode]]d corpus. */
  def scoreColumn(sq: Sq, queryVec: Array[Float], codesCol: Column): Column =
    GraftFunctions.adcLut(codesCol,
      typedLit(reconDotLut(sq, queryVec).map(_.toSeq).toSeq))

  /** Approximate top-`k` by reconstructed inner product (descending,
    * ties to the lower id): zero-shuffle TakeOrdered over codes only. */
  def search(encoded: DataFrame, sq: Sq, queryVec: Array[Float], k: Int,
             idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(encoded.sparkSession)
    encoded
      .withColumn("score", scoreColumn(sq, queryVec, col("codes")))
      .select(col(idCol), col("codes"), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ---- SQ4 (FAISS ScalarQuantizer QT_4bit, packed nibbles) ----------
  //
  // The 8× compression point: per-dim 4-bit affine codes against
  // train4's bounds, TWO codes packed per stored int (hi nibble = even
  // dim), so a code row is ⌈d/2⌉ small ints — half of SQ8 at rest, and
  // the scan reads one packed byte per PAIR of dims against a paired
  // 256-entry LUT through the SAME AdcLut kernel (a packed scalar pair
  // IS product quantization with dsub=2 over the 16×16 affine grid).

  /** Encode every row to packed 4-bit codes (`array<int>`, length
    * ⌈d/2⌉). Untrained ⇒ all-zero packed codes of the packed length. */
  def encode4(corpus: DataFrame, sq: Sq, embCol: String = "embedding"): DataFrame =
    (sq.vmin, sq.step) match {
      case (Some(vmin), Some(step)) =>
        GraftFunctions.register(corpus.sparkSession)
        corpus.withColumn("codes",
          GraftFunctions.sq4EncodePackedF32(col(embCol),
            typedLit(vmin.toSeq), typedLit(step.toSeq)))
      case _ =>
        corpus.withColumn("codes",
          array_repeat(lit(0),
            ((size(col(embCol)) + lit(1)) / lit(2)).cast("int")))
    }

  /** The paired per-query LUT: `lut[j][b] = q_{2j} · recon(2j, b»4) +
    * q_{2j+1} · recon(2j+1, b&15)` with `recon(i, c) = vmin_i + c·step_i`
    * — each entry computed left-to-right in driver doubles, and entries
    * folded in pair order by the scan, so the whole score is the exact
    * double op chain the generated oracle replays pair-by-pair. The odd
    * tail's low-nibble term is `+ 0.0` (exact no-op on both engines). */
  def reconDotLut4(sq: Sq, queryVec: Array[Float]): Array[Array[Double]] = {
    val vmin = sq.vmin.getOrElse(
      throw new IllegalStateException("SQ4 search needs trained bounds"))
    val step = sq.step.get
    val n = math.min(queryVec.length, vmin.length)
    Array.tabulate((n + 1) / 2) { j =>
      Array.tabulate(256) { b =>
        val hi = b / 16
        val lo = b % 16
        val t0 = queryVec(2 * j).toDouble * (vmin(2 * j) + hi * step(2 * j))
        val t1 =
          if (2 * j + 1 < n)
            queryVec(2 * j + 1).toDouble * (vmin(2 * j + 1) + lo * step(2 * j + 1))
          else 0.0
        t0 + t1
      }
    }
  }

  /** Approximate top-`k` by reconstructed inner product over a packed
    * SQ4 corpus: the [[search]] shape — zero-shuffle TakeOrdered over
    * codes only, scores descend, ties to the lower id. */
  def search4(encoded: DataFrame, sq: Sq, queryVec: Array[Float], k: Int,
              idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(encoded.sparkSession)
    encoded
      .withColumn("score",
        GraftFunctions.adcLut(col("codes"),
          typedLit(reconDotLut4(sq, queryVec).map(_.toSeq).toSeq)))
      .select(col(idCol), col("codes"), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Unpack + decode packed 4-bit codes back to the reconstruction —
    * `recon_i = float(vmin_i + nibble_i · step_i)`. Diagnostic path
    * (same rationale as [[decode]]); `dim` comes from the bounds. */
  def decode4(encoded: DataFrame, sq: Sq, codesCol: String = "codes",
              outCol: String = "recon"): DataFrame =
    (sq.vmin, sq.step) match {
      case (Some(vmin), Some(step)) =>
        val mn = typedLit(vmin.toSeq)
        val st = typedLit(step.toSeq)
        val codes = col(codesCol)
        encoded.withColumn(outCol,
          transform(sequence(lit(0), lit(vmin.length - 1)), i => {
            val packed = element_at(codes, (i / 2).cast("int") + 1)
            val nib = when(i % 2 === 0, floor(packed / 16).cast("int"))
              .otherwise(packed % 16)
            (element_at(mn, i + 1) + nib.cast("double") * element_at(st, i + 1))
              .cast("float")
          }))
      case _ =>
        encoded.withColumn(outCol,
          transform(col(codesCol), c => (c * 0).cast("float")))
    }

  // ---- IVF-SQ4 (FAISS IndexIVFScalarQuantizer, QT_4bit, by-residual) --

  /** Train 4-bit bounds over IVF residuals — [[trainResidual]] with the
    * 16-level grid; residual ranges are tighter still, so the 4-bit grid
    * loses less than it would on raw coordinates. */
  def trainResidual4(withCells: DataFrame, ivf: IvfIndex.Ivf,
                     embCol: String = "embedding"): Sq = {
    GraftFunctions.register(withCells.sparkSession)
    train4(withCells.withColumn("__res",
      PqIndex.residualColumn(ivf, col(embCol), col("cell_id"))), "__res")
  }

  /** Packed residual codes for a cell-assigned corpus — assign +
    * residual + 4-bit encode + nibble pack in ONE codegen projection;
    * ⌈d/2⌉ ints/row, half of [[encodeIvf]]'s. Write partitioned by
    * `cell_id` so search prunes partitions. */
  def encodeIvf4(withCells: DataFrame, ivf: IvfIndex.Ivf, sq: Sq,
                 embCol: String = "embedding",
                 idCol: String = "doc_id"): DataFrame =
    encode4(withCells.withColumn("__res",
      PqIndex.residualColumn(ivf, col(embCol), col("cell_id"))), sq, "__res")
      .select(col(idCol), col("cell_id"), col("codes"))

  /** Probed IVF-SQ4 search: per-probed-cell PAIRED LUT
    * `lut_c[j][b] = q_{2j}·(cent_{2j} + vmin_{2j} + (b»4)·step_{2j}) +
    * q_{2j+1}·(cent_{2j+1} + vmin_{2j+1} + (b&15)·step_{2j+1})` through
    * the shared [[graft.functions.AdcLutCells]] kernel — the
    * [[searchIvf]] shape at half the scanned bytes. Probe-slot
    * addressing keeps the literal O(nprobe). */
  def searchIvf4(encoded: DataFrame, ivf: IvfIndex.Ivf, sq: Sq,
                 queryVec: Array[Float], k: Int, nprobe: Int,
                 idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(encoded.sparkSession)
    val cents = ivf.centroids.getOrElse(
      throw new IllegalStateException("IVF-SQ4 needs a trained IVF"))
    val vmin = sq.vmin.getOrElse(
      throw new IllegalStateException("IVF-SQ4 needs trained bounds"))
    val step = sq.step.get
    val probed = IvfIndex.probeCells(ivf, queryVec, nprobe)
    val luts: Seq[Seq[Seq[Double]]] = probed.map { cell =>
      val c = cents(cell)
      val n = math.min(math.min(queryVec.length, vmin.length), c.length)
      Seq.tabulate((n + 1) / 2) { j =>
        Seq.tabulate(256) { b =>
          val hi = b / 16
          val lo = b % 16
          val d0 = 2 * j
          val d1 = 2 * j + 1
          val t0 = queryVec(d0).toDouble * (c(d0) + vmin(d0) + hi * step(d0))
          val t1 =
            if (d1 < n)
              queryVec(d1).toDouble * (c(d1) + vmin(d1) + lo * step(d1))
            else 0.0
          t0 + t1
        }
      }
    }
    val slot = element_at(typedLit(probed.zipWithIndex.toMap),
      col("cell_id").cast("int"))
    encoded
      .filter(col("cell_id").isin(probed: _*))
      .withColumn("score",
        GraftFunctions.adcLutCells(col("codes"), slot, typedLit(luts)))
      .select(col(idCol), col("cell_id"), col("score"))
      .orderBy(desc("score"), col(idCol).asc)
      .limit(k)
  }

  /** Refined IVF-SQ4 search — the [[searchRefined]] two-stage shape over
    * SQ4 candidates (packed codes propose, exact floats re-rank via the
    * pushed `In(doc_id,…)` scan). */
  def searchRefined4(encoded: DataFrame, floats: DataFrame, ivf: IvfIndex.Ivf,
                     sq: Sq, queryVec: Array[Float], k: Int, rerank: Int,
                     nprobe: Int, idCol: String = "doc_id"): DataFrame = {
    val candIds = searchIvf4(encoded, ivf, sq, queryVec, rerank, nprobe, idCol)
      .select(idCol).collect().map(_.getLong(0)).toSeq
    VectorSearch.knnScores(
      floats.filter(col(idCol).isin(candIds: _*)), queryVec, k, idCol = idCol)
  }

  def buildOrLoad4(spark: SparkSession, corpus: DataFrame, path: String,
                   embCol: String = "embedding"): Sq =
    if (IvfIndex.exists(spark, path)) load(spark, path)
    else {
      val sq = train4(corpus, embCol)
      save(spark, sq, path)
      sq
    }

  // -------------------------------------------------------------------
  // Bounds persistence — the family's tiny-text-artifact lifecycle
  // (IvfIndex.save / PqIndex.save): header `dim`, then two lines of
  // space-separated doubles (vmin, step). Double.toString round-trips
  // exactly, so a reloaded index encodes identically.
  // -------------------------------------------------------------------

  def save(spark: SparkSession, sq: Sq, path: String): Unit = {
    val sb = new StringBuilder
    (sq.vmin, sq.step) match {
      case (Some(vmin), Some(step)) =>
        sb.append(s"${vmin.length}\n")
        sb.append(vmin.mkString(" ")).append('\n')
        sb.append(step.mkString(" ")).append('\n')
      case _ => sb.append("0\n")
    }
    IvfIndex.writeArtifact(spark, path, sb.toString)
  }

  def load(spark: SparkSession, path: String): Sq =
    IvfIndex.readArtifact(spark, path) { rows =>
      require(rows.nonEmpty && rows.head.length == 1, "header is not `dim`")
      val dim = rows.head(0).toInt
      if (dim == 0) Sq(None, None)
      else {
        require(rows.length == 3 && rows.tail.forall(_.length == dim),
          s"not a vmin and a step line of $dim values")
        Sq(Some(rows(1)), Some(rows(2)))
      }
    }

  def buildOrLoad(spark: SparkSession, corpus: DataFrame, path: String,
                  embCol: String = "embedding"): Sq =
    if (IvfIndex.exists(spark, path)) load(spark, path)
    else {
      val sq = train(corpus, embCol)
      save(spark, sq, path)
      sq
    }
}
