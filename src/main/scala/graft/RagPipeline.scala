package graft

import graft.functions.{GraftFunctions, HashEmbedder}
import graft.operators.{PromptAssembly, VectorSearch}
import graft.streaming.EventLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The System-1 query lifecycle (SURVEY §3.1) as one public API: config →
  * embed query → exact k-NN over the corpus → dynamic (or fixed) threshold
  * retrieval → numbered context block → progress events. A user of the
  * reference's `rag_system.query(...)` switches to
  * `RagPipeline.query(spark, corpus, text)`; the LLM call on the assembled
  * prompt stays external by design (S9).
  */
object RagPipeline {

  final case class RetrievedDoc(docId: Long, text: String, source: String,
                                score: Double, rank: Int)
  final case class QueryResult(
      query: String,
      docs: Seq[RetrievedDoc],
      stats: VectorSearch.ThresholdStats,
      contextBlock: String,
      events: DataFrame)

  /** Load-time dimension validation (`embedding_service.py:46-55`), run
    * ONCE per corpus plan: the check is a (tiny) Spark job, so repeat
    * queries against the same corpus must not re-pay it. Keyed weakly on
    * the analyzed plan — a new corpus (or re-derived plan) re-validates. */
  private val dimValidated =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Integer]())

  private def validateDimension(embedded: DataFrame, dim: Int): Unit = {
    val key = embedded.queryExecution.analyzed
    if (dimValidated.get(key) != Integer.valueOf(dim)) {
      embedded.select(size(col("embedding"))).head(1).foreach { row =>
        require(row.getInt(0) == dim,
          s"corpus embedding dimension ${row.getInt(0)} != configured $dim")
      }
      dimValidated.put(key, dim)
    }
  }

  /** Attach an `embedding` column to a text corpus (idempotent helper). */
  def embedCorpus(corpus: DataFrame, textCol: String = "text",
                  dim: Int = HashEmbedder.DefaultDim): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    if (corpus.columns.contains("embedding")) corpus
    else corpus.withColumn("embedding",
      GraftFunctions.hashEmbed(col(textCol), lit(dim)))
  }

  /** One interactive query end-to-end. `corpus` needs (doc_id, text,
    * source[, embedding]) — embeddings are derived when absent; a
    * pre-embedded corpus must match the configured dimension (the
    * reference's load-time validation, `embedding_service.py:46-55`).
    * Metric follows `config.retrieval.indexType`: flat_ip (dot over
    * normalized vectors) or flat_l2 (1/(1+d) similarity); IVF search needs
    * a prebuilt index — use [[graft.operators.IvfIndex]] directly. */
  def query(spark: SparkSession, corpus: DataFrame, queryText: String,
            config: GraftConfig = GraftConfig(),
            queryId: Long = 0L,
            textCol: String = "text", sourceCol: String = "source"): QueryResult = {
    val r = config.retrieval
    val dim = config.embedding.dimension
    val embedded = embedCorpus(corpus, textCol, dim)
    if (corpus.columns.contains("embedding")) validateDimension(embedded, dim)
    val qVec = HashEmbedder.embed(queryText, dim)
    val scored = r.indexType match {
      case "flat_ip" =>
        VectorSearch.knnSingle(embedded, qVec, r.topK)
      case "flat_l2" =>
        // distance-ranked top-k, similarity = 1/(1+d) (F1)
        VectorSearch.topK(embedded, GraftFunctions.l2Similarity(
          GraftFunctions.l2DistanceF32(col("embedding"), typedLit(qVec))), r.topK, "doc_id")
      case other => throw new IllegalArgumentException(
        s"indexType '$other' not supported here (ivf: build with IvfIndex and call IvfIndex.search)")
    }
    val top = scored
      .select(col("doc_id").cast("long"), col(textCol), col(sourceCol), col("score"))
      .collect()
    val scores = top.map(_.getDouble(3)).toSeq
    val stats =
      if (r.dynamicEnabled) VectorSearch.dynamicThresholdSelect(scores, r.hitTarget, r.step)
      else {
        // fixed mode (P6): a one-step "grid" at the configured threshold
        val hits = scores.count(_ >= r.similarityThreshold)
        VectorSearch.ThresholdStats(r.hitTarget, r.step,
          r.similarityThreshold, hits, target_reached = hits >= r.hitTarget,
          attempts = 1, progression = Seq(VectorSearch.ThresholdAttempt(
            r.similarityThreshold, hits, hits >= r.hitTarget)))
      }
    val docs = top.toSeq
      .filter(_.getDouble(3) >= stats.final_threshold)
      .zipWithIndex
      .map { case (row, i) => RetrievedDoc(row.getLong(0), row.getString(1),
        row.getString(2), row.getDouble(3), i + 1) }
    // Locale.US matches Spark's format_string (a German-locale JVM would
    // otherwise print "0,59" for the relevance).
    val context = docs.map(d =>
      String.format(java.util.Locale.US, PromptAssembly.EntryFormat,
        Int.box(d.rank), d.source, Double.box(d.score), d.text))
      .mkString("\n\n")
    QueryResult(queryText, docs, stats, context,
      EventLog.retrievalEvents(spark, queryId, stats))
  }

  /** Assemble the final prompt from a template with `{query}` / `{context}`
    * placeholders (F3). */
  def buildPrompt(template: String, result: QueryResult): String =
    PromptAssembly.applyTemplate(template,
      Map("query" -> result.query, "context" -> result.contextBlock))
}
