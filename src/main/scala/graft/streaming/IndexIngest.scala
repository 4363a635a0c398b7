package graft.streaming

import graft.operators.{IvfIndex, PqIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming quantized ingest — the ANN-index half of the incremental
  * pipeline ([[graft.operators.Dedup.screenedIngest]] owns the dedup
  * half): new embedding batches are assigned to cells with the
  * PERSISTED coarse quantizer, residual-PQ encoded with the PERSISTED
  * codebooks, and appended to the cell-partitioned codes corpus — the
  * FAISS add-after-train lifecycle (`index.add` on a trained
  * `IndexIVFPQ`) as a `foreachBatch` stream.
  *
  * Layout: `corpusPath/batch=<id>/cell_id=<c>/…` — a [[BatchStore]]
  * (its scaladoc has the retry and compaction contract); `cell_id` stays
  * a partition column UNDER it, so a probed search over the whole
  * corpus still prunes to `nprobe/nlist` of every batch's files. No
  * shuffle anywhere: assign + residual + encode is one codegen
  * projection, and the write partitions by a column the batch already
  * carries.
  *
  * Index health rides along: each batch overwrites a one-row stats dir
  * (`statsPath/batch=<id>`) carrying the batch's occupancy imbalance
  * against the quantizer — the drift signal an operator watches to
  * decide a RETRAIN (which is an offline rebuild, exactly as in FAISS;
  * a streaming job never retrains the quantizer it is encoding with,
  * or batches before and after the flip would live in different
  * geometries). */
object IndexIngest {

  def quantizedIngest(newVecs: DataFrame, ivf: IvfIndex.Ivf, pq: PqIndex.Pq,
                      corpusPath: String, statsPath: String,
                      checkpointPath: String,
                      idCol: String = "doc_id", embCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.stream(newVecs, checkpointPath, "quantizedIngest") {
      (batch, batchId) => ingestBatch(batch, batchId, ivf, pq, corpusPath,
        statsPath, idCol, embCol)
    }

  /** One micro-batch, extracted so retry semantics are testable without
    * forcing a real foreachBatch crash (the screenBatch pattern). */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
                                 ivf: IvfIndex.Ivf, pq: PqIndex.Pq,
                                 corpusPath: String, statsPath: String,
                                 idCol: String, embCol: String): Unit = {
    if (BatchStore.absorbed(batch.sparkSession, corpusPath, batchId)) return
    val withCells = IvfIndex.assign(batch, ivf, embCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val withRes = withCells.withColumn("__res",
        PqIndex.residualColumn(ivf, col(embCol), col("cell_id")))
      PqIndex.encode(withRes, pq, "__res")
        .select(col(idCol), col("cell_id"), col("codes"))
        // one file per touched cell per micro-batch (the RpForest
        // appendBatch rule): staged at full shuffle parallelism this
        // write sprays tasks × touched-cell files of dust per batch;
        // the batch is micro by contract, the extra exchange is noise
        .repartition(col("cell_id"))
        .write.mode("overwrite").partitionBy("cell_id")
        .parquet(s"$corpusPath/batch=$batchId")
      // Health record: occupancy imbalance + the batch's mean residual
      // distance to its assigned centroids (the q137 drift metric, per
      // micro-batch — residuals growing across batches = the quantizer
      // drifting away from the incoming data). One aggregate per cell
      // (at most the trained cells plus a null-cell row for null
      // embeddings); the decimal idiom keeps the residual sum exact and
      // partitioning-independent, so the driver-side totals below are
      // the corpus-wide sums. `n_vectors` and the imbalance count only
      // assigned rows; the residual mean divides by every row.
      val perCell = withRes.groupBy(col("cell_id"))
        .agg(count(lit(1)),
          sum(round(graft.functions.GraftFunctions.normF32(col("__res")), 6)
            .cast("decimal(22,6)")))
        .collect()
      val assigned = perCell.filterNot(_.isNullAt(0)).map(_.getLong(1))
      val residSum = perCell.flatMap(r => Option(r.getDecimal(2))).reduceOption(_ add _)
      val ncells = ivf.centroids.map(_.length).getOrElse(1)
      import batch.sparkSession.implicits._
      Seq((assigned.sum, assigned.map(n => n * n).sum, perCell.map(_.getLong(1)).sum))
        .toDF("n_vectors", "__ss", "__rows")
        .select(col("n_vectors"),
          // ANSI-guarded: an empty batch has no rows
          round(when(col("n_vectors") > 0,
            lit(ncells.toDouble) * col("__ss").cast("double") /
              (col("n_vectors").cast("double") * col("n_vectors").cast("double"))), 4)
            .as("imbalance_factor"),
          round(when(col("__rows") > 0,
            lit(residSum.orNull).cast("double") / col("__rows").cast("double")), 4)
            .as("mean_resid"),
          lit(batchId).as("batch_id"))
        .write.mode("overwrite").parquet(s"$statsPath/batch=$batchId")
    } finally withCells.unpersist()
  }

  /** The full streamed corpus: partition discovery yields `batch` AND
    * `cell_id` columns, so [[PqIndex.searchIvfAdc]] over it prunes by
    * cell across every batch dir. */
  def loadCorpus(spark: SparkSession, corpusPath: String): DataFrame =
    spark.read.parquet(corpusPath)

  /** Fold the per-batch dirs of a streamed quantized corpus into its
    * next negative generation (`batch=<gen>/cell_id=<c>/…`, one file per
    * cell) — the [[BatchStore]] compaction, whose scaladoc has the
    * crash/racing discipline. A year of micro-batches otherwise leaves
    * thousands of `batch=<id>` dirs whose file listing and per-file open
    * cost tax every probed search. The `batch=`/`cell_id=` partition
    * scheme is PRESERVED, so probed searches prune by `cell_id` across
    * the generation and later micro-batches alike; `repartition(cell_id)`
    * gives each cell one write task → one file per cell. The health
    * history under `statsPath` is separate and untouched. */
  def compactQuantizedCorpus(spark: SparkSession, corpusPath: String): Unit =
    require(BatchStore.compact(spark, corpusPath, corpusFold).nonEmpty,
      s"no quantized corpus at $corpusPath")

  private[graft] val corpusFold = BatchStore.Fold((rows, stage) =>
    rows.repartition(col("cell_id"))
      // a total order (rows are distinct): byte-reproducible cell files
      .sortWithinPartitions(col("cell_id") +: rows.columns.toSeq.filterNot(_ == "cell_id").map(col): _*)
      .write.mode("overwrite").partitionBy("cell_id").parquet(stage))

  /** Per-batch health history
    * (batch_id, n_vectors, imbalance_factor, mean_resid). */
  def loadStats(spark: SparkSession, statsPath: String): DataFrame =
    spark.read.parquet(statsPath)
      .select(col("batch_id"), col("n_vectors"), col("imbalance_factor"),
        col("mean_resid"))
}
