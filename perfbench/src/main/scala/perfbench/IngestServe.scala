package perfbench

import graft.functions.HashEmbedder
import graft.operators.{Dedup, IvfIndex, PqIndex}
import graft.sources.TextIngest
import graft.streaming.{IndexIngest, QueryServe}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.storage.StorageLevel

import java.io.File
import scala.collection.mutable
import scala.util.Random

/** Repeated rounds of: new documents through `TextIngest.buildCorpus`,
  * then `Dedup.screenedIngest`, then `IndexIngest.quantizedIngest`, then
  * `ServeBatches` query batches through `QueryServe.servedSearch`. Each
  * batch is one micro-batch: the benchmark adds it and waits until it is
  * processed.
  *
  * Rounds come in cycles. A cycle starts the three streams over a fresh
  * copy of the base stores and runs `Rounds` rounds; then it sends one
  * empty ingest batch, stops the screen, compacts the signature store and
  * the codes store while the served stream still runs, serves one batch
  * more, stops serving and compacts the results. Every timed cycle replays
  * the same inputs, so a run's figures do not depend on how many cycles
  * fit in its time. The untimed warm-up is a cycle of one round.
  *
  * Three program faults fail operations on inputs that do not depend on
  * the seed, the same number in every cycle:
  *  - each round ingests `Canaries` documents whose text is the same for
  *    every seed, and each served batch looks them up by their own
  *    vectors. A lookup that does not return the canary's id fails: the
  *    served stream binds its corpus frame once, so it never sees a batch
  *    ingested after it started;
  *  - the empty ingest batch stops `quantizedIngest`, which divides by the
  *    batch's vector count in `IvfIndex.cellStats`;
  *  - the batch served after compacting the codes store fails, because
  *    the served frame still lists the batch dirs the compaction deleted.
  *
  * The index parameters are those of the engine's own IVF-PQ queries
  * (`SparkEntryIndex`: `ivfNlist` 16, `pqM` 8, `pqKsub` 16, nprobe 4). */
object IngestServe extends Workload {
  val BaseDocs = 600
  val Topics = 16
  val Rounds = 3
  val ServeBatches = 3
  val NewDocs = 90
  val ExactCopies = 3
  val NearCopies = 7
  val EditRate = 0.15
  val Canaries = 2
  val Queries = 24 // regular queries per served batch
  val Dim = 64
  val Nlist = 16
  val M = 8
  val Ksub = 16
  val Nprobe = 4
  val K = 10

  private final case class Round(docs: Seq[(String, String)],
                                 planted: Seq[(String, String, Boolean)], // copy, source, exact
                                 batches: Seq[Seq[(Long, Array[Float])]])

  /** What one cycle measured. */
  private final case class CycleResult(ingestMs: Seq[Double], serveMs: Seq[Double],
                                       serveCpuMs: Double, lagMs: Seq[Double],
                                       docs: Int, served: Int, recall: Seq[Double],
                                       recallBase: Seq[Double], dupRecall: Double,
                                       bytesPerVec: Double)

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    val r = new Random(c.args.seed)
    val baseDocs = (0 until BaseDocs).map(i =>
      (f"base-$i%05d.txt", Gen.paragraph(r, r.nextInt(Topics), 5 + r.nextInt(2))))
    val rounds = (0 until Rounds).map { k =>
      val fresh = (0 until NewDocs).map(i =>
        (f"new-$k-$i%03d.txt", Gen.paragraph(r, r.nextInt(Topics), 5 + r.nextInt(2))))
      val planted = (0 until ExactCopies + NearCopies).map { i =>
        val (src, text) = baseDocs(r.nextInt(BaseDocs))
        val exact = i < ExactCopies
        (f"copy-$k-$i%03d.txt", if (exact) text else Gen.edit(r, text, EditRate), src, exact)
      }
      val canaries = (0 until Canaries).map(i => (s"canary-$k-$i.txt", Gen.canaryText(k * Canaries + i)))
      val batches = (0 until ServeBatches).map { b =>
        (0 until Queries).map { i =>
          (queryId(k, b, i), HashEmbedder.embed(Gen.sentence(r, r.nextInt(Topics), 12), Dim))
        }
      }
      Round(fresh ++ planted.map(p => (p._1, p._2)) ++ canaries,
        planted.map(p => (p._1, p._3, p._4)), batches)
    }

    val work = c.args.work + "/ingest"
    val baseRows = TextIngest.buildCorpus(baseDocs.toDF("filename", "content"), dim = Dim)
      .select("doc_id", "filename", "content", "embedding")
      .as[(Long, String, String, Array[Float])].collect()
    val base = spark.createDataset(baseRows.map(x => (x._1, x._3, x._4)).toSeq)
      .toDF("doc_id", "content", "embedding")

    // The timed IVF-PQ build over the base corpus: train the coarse
    // quantizer, assign cells, train residual sub-quantizers, encode and
    // write the codes.
    val ((ivf, pq), buildMs) = Clock.timeMs {
      val ivf = c.tracer.call("ivfindex.train")(IvfIndex.train(base, Nlist))
      val withCells = c.tracer.call("ivfindex.assign") {
        val w = IvfIndex.assign(base, ivf).persist(StorageLevel.MEMORY_AND_DISK)
        w.count()
        w
      }
      val withRes = withCells.withColumn("__res",
        PqIndex.residualColumn(ivf, col("embedding"), col("cell_id")))
      val pq = c.tracer.call("pqindex.train")(PqIndex.train(withRes, M, Ksub, "__res"))
      c.tracer.call("pqindex.encode_write") {
        PqIndex.encode(withRes, pq, "__res").select("doc_id", "cell_id", "codes")
          .repartition(col("cell_id"))
          .write.partitionBy("cell_id").parquet(s"$work/base/codes/batch=-1")
      }
      withCells.unpersist()
      (ivf, pq)
    }
    Dedup.saveSignatures(base, s"$work/base/sigs/batch=-1", textCol = "content")

    // The planted copies' word 3-shingle Jaccard against their sources.
    val textOf = (baseDocs ++ rounds.flatMap(_.docs)).toMap
    val plantedJaccard = rounds.flatMap(_.planted).map { case (copy, src, exact) =>
      val j = Reference.jaccard(Reference.shingles(textOf(copy)), Reference.shingles(textOf(src)))
      c.check(!exact || j == 1.0, s"exact copy $copy has Jaccard $j against its source")
      j
    }

    val baseVecs = baseRows.map(x => (x._1, x._4))
    val idOf = mutable.Map(baseRows.map(x => x._2 -> x._1).toSeq: _*)

    def cycle(n: Int, rs: Seq[Round]): CycleResult =
      runCycle(c, s"$work/cycle-$n", s"$work/base", rs, ivf, pq, baseVecs, idOf, reference = n == 1)

    cycle(0, rounds.take(1))
    c.startTimed(buildMs / 1000.0)
    val timed = mutable.ArrayBuffer.empty[CycleResult]
    while (c.timeLeft) timed += cycle(timed.length + 1, rounds)
    c.endTimed()
    val first = timed.head

    val serveMs = timed.flatMap(_.serveMs).toSeq
    val served = timed.map(_.served).sum
    Outcome(Map(
      "queries_per_s" -> served / (serveMs.sum / 1000.0),
      "lat_p50_ms" -> Stats.median(serveMs),
      "cpu_ms_per_query" -> timed.map(_.serveCpuMs).sum / served,
      "index_build_s" -> buildMs / 1000.0,
      "docs_ingested_per_s" -> timed.map(_.docs).sum / (timed.flatMap(_.ingestMs).sum / 1000.0),
      "recall_at_10" -> first.recall.sum / first.recall.length,
      "index_bytes_per_vec" -> first.bytesPerVec),
      Map("cycles" -> timed.length, "serve_batches" -> serveMs.length,
        "recall_at_10_base" -> first.recallBase.sum / first.recallBase.length,
        "fresh_lag_p50_ms" -> Stats.median(timed.flatMap(_.lagMs).toSeq),
        "dup_recall" -> first.dupRecall,
        "planted_jaccard_min" -> plantedJaccard.min,
        "planted_jaccard_mean" -> plantedJaccard.sum / plantedJaccard.length))
  }

  /** Query ids: round `k`, served batch `b`, position `i`. */
  private def queryId(k: Int, b: Int, i: Int): Long = k * 1000L + b * 100L + i

  /** Whether `body` stopped the streaming query it drives. */
  private def stopsStream(body: => Unit): Boolean =
    try { body; false } catch { case _: StreamingQueryException => true }

  private def runCycle(c: Ctx, dir: String, baseDir: String, rounds: Seq[Round],
                       ivf: IvfIndex.Ivf, pq: PqIndex.Pq,
                       baseVecs: Array[(Long, Array[Float])],
                       idOf: mutable.Map[String, Long], reference: Boolean): CycleResult = {
    val spark = c.spark
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t = c.tracer
    Files.copyTree(new File(s"$baseDir/codes"), new File(s"$dir/codes"))
    Files.copyTree(new File(s"$baseDir/sigs"), new File(s"$dir/sigs"))
    val screenIn = MemoryStream[(Long, String)]
    val ingestIn = MemoryStream[(Long, Array[Float])]
    val serveIn = MemoryStream[(Long, Array[Float])]
    val screenQ = Dedup.screenedIngest(screenIn.toDF().toDF("doc_id", "content"),
      s"$dir/sigs", s"$dir/flagged", s"$dir/ckpt-screen", textCol = "content")
    val ingestQ = IndexIngest.quantizedIngest(ingestIn.toDF().toDF("doc_id", "embedding"),
      ivf, pq, s"$dir/codes", s"$dir/codestats", s"$dir/ckpt-ingest")
    val serveQ = QueryServe.servedSearch(serveIn.toDF().toDF("query_id", "embedding"),
      ivf, pq, IndexIngest.loadCorpus(spark, s"$dir/codes"), s"$dir/results",
      s"$dir/ckpt-serve", K, Nprobe)

    val ingestMs, serveMs, lagMs, recall, recallBase = mutable.ArrayBuffer.empty[Double]
    val known = mutable.Set(baseVecs.map(_._1).toSeq: _*)
    var corpus = baseVecs.toSeq
    var docs, served = 0
    var serveCpuNs = 0L
    var servedBatches = 0
    var lookups = Seq.empty[(Long, Array[Float])]
    try {
      rounds.zipWithIndex.foreach { case (round, k) =>
        val t0 = System.nanoTime()
        val rows = t.call("textingest.build_corpus") {
          TextIngest.buildCorpus(round.docs.toDF("filename", "content"), dim = Dim)
            .select("doc_id", "filename", "content", "embedding")
            .as[(Long, String, String, Array[Float])].collect()
        }
        t.call("dedup.screen_batch", screenQ) {
          screenIn.addData(rows.map(x => (x._1, x._3)).toSeq)
          screenQ.processAllAvailable()
        }
        t.call("indexingest.ingest_batch", ingestQ) {
          ingestIn.addData(rows.map(x => (x._1, x._4)).toSeq)
          ingestQ.processAllAvailable()
        }
        ingestMs += (System.nanoTime() - t0) / 1e6
        docs += rows.length
        rows.foreach { x => known += x._1; idOf(x._2) = x._1 }
        corpus = corpus ++ rows.map(x => (x._1, x._4))
        Seq("build_corpus", "screen_batch", "ingest_batch").foreach(c.attempt(_))
        lookups = rows.filter(_._2.startsWith("canary-")).map(x => (x._1 + 0L, x._4)).toSeq

        val firstServed = servedBatches
        round.batches.zipWithIndex.foreach { case (queries, b) =>
          val batch = queries ++ lookups.zipWithIndex.map { case ((_, v), i) =>
            (queryId(k, b, 90 + i), v) }
          val c0 = Clock.cpuNs()
          val t1 = System.nanoTime()
          t.call("queryserve.serve_batch", serveQ) {
            serveIn.addData(batch)
            serveQ.processAllAvailable()
          }
          val t2 = System.nanoTime()
          serveCpuNs += Clock.cpuNs() - c0
          serveMs += (t2 - t1) / 1e6
          if (b == 0) {
            lagMs += (t2 - t0) / 1e6
            t.count("queryserve.serve_batch.fresh_lag_ms", (t2 - t0) / 1e6)
          }
          served += batch.length
          servedBatches += 1
        }

        val hits = spark.read.parquet((firstServed until servedBatches).map(i => s"$dir/results/batch=$i"): _*)
          .select("query_id", "doc_id", "adc", "doc_rank")
          .as[(Long, Long, Double, Int)].collect().groupBy(_._1)
          .map { case (q, hs) => q -> hs.sortBy(_._4).toSeq }
        round.batches.zipWithIndex.foreach { case (queries, b) =>
          queries.foreach { case (qid, qv) =>
            val h = hits.getOrElse(qid, Nil)
            c.check(h.length == K, s"query $qid: ${h.length} rows, expected $K")
            c.check(h.map(_._4) == (1 to h.length), s"query $qid: ranks not 1..k")
            c.check(h.sliding(2).forall(p => p.length < 2 || p(0)._3 <= p(1)._3),
              s"query $qid: adc decreases with rank")
            c.check(h.forall(x => known.contains(x._2)), s"query $qid: id not in the corpus")
            if (reference) {
              recall += Reference.recall(Reference.topKByL2(corpus.toArray, qv, K), h.map(_._2))
              recallBase += Reference.recall(Reference.topKByL2(baseVecs, qv, K), h.map(_._2))
            }
          }
          c.attempt("serve_query", queries.length)
          lookups.zipWithIndex.foreach { case ((id, _), i) =>
            val found = hits.getOrElse(queryId(k, b, 90 + i), Nil).exists(_._2 == id)
            c.attempt("fresh_lookup", failed = if (found) 0 else 1)
          }
        }
      }

      val emptyFailed = stopsStream {
        ingestIn.addData(Seq.empty[(Long, Array[Float])])
        ingestQ.processAllAvailable()
      }
      c.attempt("empty_ingest", failed = if (emptyFailed) 1 else 0)
      Seq(screenQ, ingestQ).foreach(_.stop())
      t.count("dedup.store.files", Files.dataFiles(s"$dir/sigs")._2)
      t.count("indexingest.store.files", Files.dataFiles(s"$dir/codes")._2)
      t.call("dedup.compact")(Dedup.compactSignatureStore(spark, s"$dir/sigs"))
      t.call("indexingest.compact")(IndexIngest.compactQuantizedCorpus(spark, s"$dir/codes"))
      c.attempt("compact", 2)

      val afterCompactFailed = stopsStream {
        serveIn.addData(lookups.zipWithIndex.map { case ((_, v), i) => (900L + i, v) })
        serveQ.processAllAvailable()
      }
      val afterCompactFound =
        if (afterCompactFailed) 0
        else {
          val ids = spark.read.parquet(s"$dir/results/batch=$servedBatches")
            .select("query_id", "doc_id").as[(Long, Long)].collect().toSet
          lookups.zipWithIndex.count { case ((id, _), i) => ids.contains((900L + i, id)) }
        }
      c.attempt("serve_after_compact", lookups.length, failed = lookups.length - afterCompactFound)
    } finally Seq(screenQ, ingestQ, serveQ).foreach(_.stop())

    t.count("queryserve.results.files", Files.dataFiles(s"$dir/results")._2)
    t.call("queryserve.compact")(QueryServe.compactResults(spark, s"$dir/results"))
    c.attempt("compact")
    val flagged = spark.read.parquet(s"$dir/flagged").select("id", "stored_id", "batch")
      .as[(Long, Long, Int)].collect()
    flagged.groupBy(_._3).values.foreach(f => t.count("dedup.screen_batch.flagged_pairs", f.length))
    c.check(flagged.forall(f => f._1 != f._2), "a document was flagged against itself")
    val pairs = flagged.map(f => (f._1, f._2)).toSet
    val planted = rounds.flatMap(_.planted).map { case (copy, src, exact) =>
      (idOf(copy), idOf(src), exact)
    }
    planted.filter(_._3).foreach { case (copy, src, _) =>
      c.check(pairs.contains((copy, src)), s"exact copy $copy not flagged against its source $src")
    }
    val dupRecall = planted.count(p => pairs.contains((p._1, p._2))).toDouble / planted.length
    t.count("dedup.screen_batch.dup_recall", dupRecall)

    val stored = spark.read.parquet(s"$dir/codes").count()
    c.check(stored == corpus.length, s"compacted codes store holds $stored vectors, expected ${corpus.length}")
    val bytesPerVec = Files.dataFiles(s"$dir/codes")._1.toDouble / stored
    Files.delete(new File(dir))
    CycleResult(ingestMs.toSeq, serveMs.toSeq, serveCpuNs / 1e6, lagMs.toSeq, docs, served,
      recall.toSeq, recallBase.toSeq, dupRecall, bytesPerVec)
  }
}
