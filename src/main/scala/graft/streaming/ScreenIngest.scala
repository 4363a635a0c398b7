package graft.streaming

import graft.functions.GraftFunctions
import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming quality screen — the composed corpus screen (q93's
  * language + Gopher + C4 verdicts, one `screen_flags` kernel pass)
  * run continuously over an ingest stream under `foreachBatch`. The
  * third leg of the incremental pipeline:
  * [[graft.operators.Dedup.screenedIngest]] owns dedup,
  * [[IndexIngest.quantizedIngest]] owns index growth, this owns
  * quality admission.
  *
  * Layout: `verdictPath/batch=<id>/…` — per-batch-id overwrite makes an
  * at-least-once retry idempotent (the screenedIngest contract). Each
  * row carries the full verdict surface (lang_pred, gopher_keep,
  * c4_keep, kept), so downstream consumers filter `kept` for admission
  * or audit the per-rule flags without rescoring. Unlike the dedup
  * screen there is NO cross-batch state — the verdict is per-document,
  * so per-batch cost is O(batch) always: the shape that survives an
  * unbounded stream. */
object ScreenIngest {

  /** Every ingest leg in this file is `projection(batch)` written to
    * `outPath/batch=<id>` with overwrite (at-least-once retry safe). */
  private def batchIngest(stream: DataFrame, outPath: String,
                          checkpointPath: String, what: String)
                         (projection: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.stream(stream, checkpointPath, what) { (batch, batchId) =>
      writeBatch(projection(batch), outPath, batchId)
    }

  /** The ONE place the per-batch-id overwrite (at-least-once retry
    * idempotence) semantics live — the streaming lambda and the
    * testable batch form both call this, so the contract cannot
    * drift between them. */
  private[graft] def writeBatch(projected: DataFrame, outPath: String,
                                batchId: Long): Unit =
    projected.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")

  def screenedQualityIngest(docs: DataFrame, verdictPath: String,
                            checkpointPath: String,
                            textCol: String = "text",
                            idCol: String = "doc_id",
                            minWords: Int = 50, maxWords: Int = 100000,
                            minLineWords: Int = 3, minSentences: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchIngest(docs, verdictPath, checkpointPath, "screenedQualityIngest")(
      verdicts(_, textCol, idCol, minWords, maxWords, minLineWords,
        minSentences))

  /** One micro-batch, extracted so retry semantics are testable without
    * forcing a real foreachBatch crash (the screenBatch pattern). */
  private[graft] def screenBatch(batch: DataFrame, batchId: Long,
                                 verdictPath: String, textCol: String,
                                 idCol: String, minWords: Int, maxWords: Int,
                                 minLineWords: Int, minSentences: Int): Unit =
    writeBatch(verdicts(batch, textCol, idCol, minWords, maxWords,
      minLineWords, minSentences), verdictPath, batchId)

  /** The batch-form verdict projection (shared by the stream and any
    * one-shot backfill, so the two can never diverge). `keepCols` pass
    * extra columns (extracted text, title, …) through the one scan so
    * admitted rows are corpus-ready without a re-join. */
  def verdicts(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id",
               minWords: Int = 50, maxWords: Int = 100000,
               minLineWords: Int = 3, minSentences: Int = 2,
               keepCols: Seq[String] = Nil): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val kept = keepCols.map(col)
    docs
      .withColumn("lang_pred",
        TextAnalysis.langIdFromStats(GraftFunctions.textStats(col(textCol))))
      .withColumn("__sf", GraftFunctions.screenFlags(col(textCol),
        lit(minWords), lit(maxWords), lit(minLineWords), lit(minSentences)))
      .select(col(idCol) +: kept :+ col("lang_pred") :+
        col("__sf.gopher_keep").as("gopher_keep") :+
        col("__sf.c4_keep").as("c4_keep") :+
        (col("lang_pred") === "en" && col("__sf.gopher_keep") &&
          col("__sf.c4_keep")).as("kept"): _*)
  }

  /** Crawl-shard admission: HTML → text extraction
    * ([[graft.sources.HtmlIngest]]) FRONTING the quality screen — the
    * full web-ingest path (extract → lang/Gopher/C4 verdicts → store)
    * as one streaming leg. Stored rows carry the EXTRACTED text and
    * title beside the verdict surface, so `kept` rows are corpus-ready
    * and rejected ones remain auditable. Same per-batch-id overwrite
    * idempotence and O(batch) statelessness as
    * [[screenedQualityIngest]]. */
  def htmlScreenedIngest(pages: DataFrame, outPath: String,
                         checkpointPath: String,
                         htmlCol: String = "html", idCol: String = "doc_id",
                         minWords: Int = 50, maxWords: Int = 100000,
                         minLineWords: Int = 3, minSentences: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchIngest(pages, outPath, checkpointPath, "htmlScreenedIngest")(
      extractAndScreen(_, htmlCol, idCol, minWords, maxWords,
        minLineWords, minSentences))

  /** The batch-form extract+screen projection (stream ≡ backfill). */
  def extractAndScreen(pages: DataFrame, htmlCol: String = "html",
                       idCol: String = "doc_id",
                       minWords: Int = 50, maxWords: Int = 100000,
                       minLineWords: Int = 3, minSentences: Int = 2)
      : DataFrame = {
    import graft.sources.HtmlIngest
    GraftFunctions.register(pages.sparkSession)
    verdicts(
      pages.select(col(idCol),
        HtmlIngest.htmlTitle(col(htmlCol)).as("title"),
        HtmlIngest.htmlToText(col(htmlCol)).as("text")),
      idCol = idCol,
      minWords = minWords, maxWords = maxWords,
      minLineWords = minLineWords, minSentences = minSentences,
      keepCols = Seq("title", "text"))
  }

  def loadVerdicts(spark: SparkSession, verdictPath: String): DataFrame =
    spark.read.parquet(verdictPath)
}
