package perfbench

import graft.{GraftConfig, RagPipeline}
import graft.functions.HashEmbedder
import graft.operators.{PromptAssembly, VectorSearch}
import graft.sources.TextIngest
import org.apache.spark.sql.functions.col

import scala.util.Random

/** One closed-loop client sends single questions through
  * `RagPipeline.query` over a pre-embedded chunk corpus stored as Parquet:
  * flat inner-product search, the dynamic threshold, context assembly. */
object RagQuery extends Workload {
  val Docs = 400
  val Topics = 24
  val Questions = 18
  val Dim = 64
  private val cfg = GraftConfig()

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    val r = new Random(c.args.seed)
    val docs = (0 until Docs).map { i =>
      val topic = r.nextInt(Topics)
      (f"doc-$i%05d.txt", (0 until 10).map(_ => Gen.paragraph(r, topic, 5 + r.nextInt(3))).mkString("\n\n"))
    }
    // A third of the questions each: near many chunks of one topic, a
    // sentence taken from one chunk, and words no chunk contains.
    val questions = (0 until Questions).map { i =>
      i % 3 match {
        case 0 => val t = r.nextInt(Topics)
          (0 until 10).map(_ => Gen.topicWord(t, r.nextInt(Gen.TopicWords / 4))).mkString(" ")
        case 1 => val d = docs(r.nextInt(Docs))._2.split("\\. ")
          d(r.nextInt(d.length))
        case _ => Gen.outsideWords(r, 10)
      }
    }

    // The source documents arrive as a directory of text files.
    val docDir = new java.io.File(s"${c.args.work}/rag/docs")
    docDir.mkdirs()
    docs.foreach { case (name, text) =>
      java.nio.file.Files.writeString(new java.io.File(docDir, name).toPath, text)
    }
    def build(path: String): Double = Clock.timeMs {
      c.tracer.call("textingest.build_corpus") {
        TextIngest.buildCorpus(TextIngest.readTextDir(spark, docDir.getPath), dim = Dim)
          .select("doc_id", "filename", "content", "embedding")
          .coalesce(Session.Cores)
          .write.parquet(path)
      }
    }._2
    // The first build loads and compiles the ingest path; the second,
    // timed one measures the build itself.
    build(s"${c.args.work}/rag/corpus-warm-up")
    val corpusPath = s"${c.args.work}/rag/corpus"
    val buildMs = build(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    val rows = corpus.select(col("doc_id"), col("filename"), col("content"), col("embedding"))
      .as[(Long, String, String, Array[Float])].collect()
    val vecs = rows.map(x => (x._1, x._4))
    val byId = rows.map(x => x._1 -> (x._2, x._3)).toMap
    val (bytes, _) = Files.dataFiles(corpusPath)

    // Reference answers, made apart from the program.
    val expected = questions.map { q =>
      val top = Reference.topKByDot(vecs, HashEmbedder.embed(q, Dim), cfg.retrieval.topK)
      val (t, attempts) = Reference.dynamicThreshold(top.map(_._2), cfg.retrieval.hitTarget, cfg.retrieval.step)
      (top.filter(_._2 >= t), t, attempts)
    }

    /** Asks question `i` and checks the answer; returns it with the
      * call's ms. */
    def ask(i: Int): (RagPipeline.QueryResult, Double) = {
      val q = questions(i)
      val (res, ms) = Clock.timeMs(c.tracer.call("ragpipeline.query") {
        RagPipeline.query(spark, corpus, q, cfg, i.toLong, textCol = "content", sourceCol = "filename")
      })
      val (exp, t, attempts) = expected(i)
      c.check(res.docs.map(_.docId) == exp.map(_._1),
        s"question $i: ids ${res.docs.map(_.docId)} != reference ${exp.map(_._1)}")
      c.check(res.docs.zip(exp).forall { case (d, (_, s)) => math.abs(d.score - s) <= 1e-6 },
        s"question $i: scores differ from the reference by more than 1e-6")
      c.check(res.docs.map(_.rank) == exp.indices.map(_ + 1), s"question $i: ranks not 1..n")
      c.check(res.stats.final_threshold == t && res.stats.attempts == attempts,
        s"question $i: threshold ${res.stats.final_threshold}/${res.stats.attempts} != reference $t/$attempts")
      val context = exp.zipWithIndex.map { case ((id, s), k) =>
        val (src, text) = byId(id)
        s"[Document ${k + 1}] (Source: $src, Relevance: ${"%.2f".formatLocal(java.util.Locale.US, s)})\n$text"
      }.mkString("\n\n")
      c.check(res.contextBlock == context, s"question $i: context block differs from the reference")
      if (c.tracer.enabled) decomposed(c, corpus, i, q, res)
      (res, ms)
    }

    // Warm-up: one untimed pass over every question.
    val recall = questions.indices.map { i =>
      val got = ask(i)._1.docs.map(_.docId)
      val exp = expected(i)._1.map(_._1)
      if (exp.isEmpty) (if (got.isEmpty) 1.0 else 0.0) else Reference.recall(exp, got)
    }

    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    c.startTimed(buildMs / 1000.0)
    var i = 0
    while (c.timeLeft) {
      lat += ask(i % Questions)._2
      c.attempt("query")
      i += 1
    }
    c.endTimed()

    Outcome(Map(
      "queries_per_s" -> lat.length / (lat.sum / 1000.0),
      "lat_p50_ms" -> Stats.median(lat.toSeq),
      "cpu_ms_per_query" -> c.cpuMsTimed / lat.length,
      "index_build_s" -> buildMs / 1000.0,
      "docs_ingested_per_s" -> Docs / (buildMs / 1000.0),
      "recall_at_10" -> recall.sum / recall.length,
      "index_bytes_per_vec" -> bytes.toDouble / rows.length),
      Map("corpus_chunks" -> rows.length, "queries" -> lat.length,
        "lat_tail_ms" -> Stats.tail(lat.toSeq).getOrElse(-1.0)))
  }

  /** The query lifecycle call by call; each step is timed as its own
    * layer, and the decomposed answer must equal the pipeline's. */
  private def decomposed(c: Ctx, corpus: org.apache.spark.sql.DataFrame, i: Int, q: String,
                         res: RagPipeline.QueryResult): Unit = {
    val t = c.tracer
    val r = cfg.retrieval
    val qv = t.call("hashembedder.embed")(HashEmbedder.embed(q, Dim))
    val top = t.call("vectorsearch.knn_single") {
      VectorSearch.knnSingle(corpus, qv, r.topK)
        .select(col("doc_id").cast("long"), col("filename"), col("content"), col("score"))
        .collect()
    }
    val stats = t.call("vectorsearch.threshold") {
      VectorSearch.dynamicThresholdSelect(top.map(_.getDouble(3)).toSeq, r.hitTarget, r.step)
    }
    t.count("vectorsearch.threshold.attempts", stats.attempts)
    val context = t.call("promptassembly.context") {
      top.filter(_.getDouble(3) >= stats.final_threshold).zipWithIndex.map { case (row, k) =>
        String.format(java.util.Locale.US, PromptAssembly.EntryFormat, Int.box(k + 1),
          row.getString(1), Double.box(row.getDouble(3)), row.getString(2))
      }.mkString("\n\n")
    }
    c.check(context == res.contextBlock && stats == res.stats,
      s"question $i: the decomposed calls disagree with RagPipeline.query")
  }
}
