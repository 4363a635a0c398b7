package graft

import graft.operators.{Dedup, IvfIndex, PqIndex}
import graft.streaming.{BatchStore, IndexIngest, QueryServe}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Fault injection for the one `batch=<id>` store protocol: every store
  * that compacts through [[BatchStore]] is crashed after each compaction
  * step, compacted again in full, and must then hold exactly the rows of
  * an uncrashed compaction; a replay of an absorbed batch id must be a
  * no-op (no duplicate rows, no self-flags). */
class BatchStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** One store: `ingest(root, id)` writes micro-batch `id` (ids 0..2
    * make the fixture), `compact` is the store's public compaction and
    * `fold` the layout it hands to [[BatchStore.compact]]. `flagged`
    * names the screen output of the dedup stores. */
  private final case class StoreCase(name: String,
                                     ingest: (String, Long) => Unit,
                                     compact: String => Unit,
                                     fold: String => BatchStore.Fold,
                                     flagged: Boolean = false)

  private lazy val vecs: Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(31)
    val anchors = Array.fill(4)(Array.fill(8)(r.nextGaussian().toFloat * 4f))
    (0 until 120).map(i =>
      (i.toLong, anchors(i % 4).map(_ + r.nextGaussian().toFloat * 0.2f)))
  }
  private lazy val (ivf, pq) = {
    val docs = vecs.toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(docs, nlist = 4)
    (ivf, PqIndex.buildIvfAdc(IvfIndex.assign(docs, ivf), ivf, m = 2, ksub = 8)._2)
  }
  private def slice(id: Long): DataFrame =
    vecs.slice(id.toInt * 20, id.toInt * 20 + 20).toDF("doc_id", "embedding")

  private def text(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
  // batch 1 repeats a batch-0 text and batch 2 a batch-1 text, so the
  // screens flag real cross-batch duplicates
  private def docs(id: Long): DataFrame =
    ((0 until 4).map(i => (id * 10 + i, text(s"b$id-d$i-"))) :+
      (id * 10 + 9, text(s"b${math.max(id - 1, 0)}-d0-"))).toDF("doc_id", "text")

  private val base = 0x7A5C3E1D0B090807L
  private def assets(id: Long): DataFrame =
    (0 until 6).map(i => (id * 10 + i, base ^ (1L << (id * 6 + i).toInt)))
      .toDF("asset_id", "h")

  private val stores = Seq(
    StoreCase("IVF-PQ codes",
      (root, id) => IndexIngest.ingestBatch(slice(id), id, ivf, pq, root,
        s"${root}_stats", "doc_id", "embedding"),
      root => IndexIngest.compactQuantizedCorpus(spark, root),
      _ => IndexIngest.corpusFold),
    StoreCase("served results",
      { (root, id) =>
        val index = s"${root}_index"
        if (!new java.io.File(index).exists())
          PqIndex.encode(IvfIndex.assign(vecs.toDF("doc_id", "embedding"), ivf)
              .withColumn("__res", PqIndex.residualColumn(ivf,
                org.apache.spark.sql.functions.col("embedding"),
                org.apache.spark.sql.functions.col("cell_id"))), pq, "__res")
            .select("doc_id", "cell_id", "codes")
            .write.partitionBy("cell_id").parquet(index)
        QueryServe.serveBatch(
          Seq((100L + id) -> vecs(id.toInt * 7)._2).toDF("query_id", "embedding"),
          id, ivf, pq, spark.read.parquet(index), root, 5, 2,
          "query_id", "embedding")
      },
      root => QueryServe.compactResults(spark, root),
      _ => QueryServe.resultsFold),
    StoreCase("signatures",
      (root, id) => Dedup.screenBatch(docs(id), id, root, s"${root}_flagged",
        "text", "doc_id", 3, 4, 1, 250, 1000),
      { root =>
        spark.sql(s"DROP TABLE IF EXISTS " +
          Dedup.compactSignatureStore(spark, root, buckets = 4))
      },
      root => Dedup.signatureFold(spark, root, 4, Dedup.DefaultMaxBucketSize),
      flagged = true),
    StoreCase("Hamming hashes",
      (root, id) => Dedup.hammingScreenBatch(assets(id), id, root,
        s"${root}_flagged", "h", "asset_id", 4, 16, 2, 1000),
      root => Dedup.compactHammingStore(spark, root, keepNewest = 0),
      root => Dedup.hammingFold(spark, root, 0L),
      flagged = true))

  private val steps: Seq[(BatchStore.Snapshot, BatchStore.Fold) => Unit] = Seq(
    (snap, fold) => BatchStore.stage(spark, snap, fold),
    (snap, _) => BatchStore.commit(spark, snap),
    (snap, _) => BatchStore.mark(spark, snap),
    (snap, _) => BatchStore.sweep(spark, snap))

  /** The store's rows as a sorted multiset (the `batch` dir dropped). */
  private def rows(root: String): Seq[String] =
    spark.read.parquet(root).drop("batch").collect().map(_.toString).toSeq.sorted

  private def flags(root: String): Seq[(Long, Long)] = {
    val dir = new java.io.File(s"${root}_flagged")
    if (!dir.exists()) Nil
    else spark.read.parquet(dir.toString).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex(
        if (r.schema.fieldNames.contains("stored_id")) "stored_id"
        else "top_match_id"))))
      .sorted
  }

  private def fixture(c: StoreCase, tag: String): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft-bs-$tag")
      .toString + "/store"
    (0L to 2L).foreach(id => c.ingest(root, id))
    root
  }

  for (c <- stores) test(s"${c.name}: a crash after any compaction step heals to the uncrashed rows; absorbed replays are no-ops") {
    val clean = fixture(c, "clean")
    val flagsBefore = flags(clean)
    c.compact(clean)
    val want = rows(clean)
    assert(want.nonEmpty)
    assert(new java.io.File(clean).list().filter(_.startsWith("batch=")).toSet ==
      Set("batch=-1"))
    for (k <- 1 to steps.length) {
      val root = fixture(c, s"crash$k")
      val snap = BatchStore.snapshot(spark, root)
      steps.take(k).foreach(_(snap, c.fold(root)))
      c.compact(root)
      assert(rows(root) == want, s"crash after step $k: rows differ")
      assert(!new java.io.File(root, "_compact_stage").exists())
    }
    // replay every absorbed id: nothing changes, nothing self-flags
    (0L to 2L).foreach(id => c.ingest(clean, id))
    assert(rows(clean) == want, "replay of an absorbed batch changed the store")
    if (c.flagged) {
      assert(flagsBefore.nonEmpty, "fixture should flag cross-batch duplicates")
      assert(flags(clean) == flagsBefore, "replay rewrote the screen output")
      assert(flags(clean).forall { case (a, b) => a != b }, "replay self-flagged")
    }
  }

  test("prior lists the other batch dirs; markers past MarkerRetention are pruned") {
    val root = java.nio.file.Files.createTempDirectory("graft-bs-prior").toString
    Seq(-2L, 0L, 3L, 7L).foreach(id => new java.io.File(s"$root/batch=$id").mkdirs())
    new java.io.File(s"$root/_compact_stage").mkdirs()
    assert(BatchStore.prior(spark, root, 3L).map(_._1) == Seq(-2L, 0L, 7L))
    assert(BatchStore.snapshot(spark, root, keepNewest = 1).gen == -3L)
    assert(BatchStore.snapshot(spark, root, keepNewest = 1).dirs.map(_._1) ==
      Seq(-2L, 0L, 3L))
    val fs = BatchStore.fs(spark, root)
    (0 until BatchStore.MarkerRetention + 5).foreach(i =>
      fs.create(new org.apache.hadoop.fs.Path(root, s"_m_$i"), true).close())
    BatchStore.pruneMarkers(fs, root, "_m_")
    val left = new java.io.File(root).list().filter(_.startsWith("_m_"))
      .map(_.stripPrefix("_m_").toInt).sorted.toSeq
    assert(left == (5 until BatchStore.MarkerRetention + 5))
  }

  test("relist: a store frame sees a new batch dir and survives a compaction") {
    val root = java.nio.file.Files.createTempDirectory("graft-bs-relist").toString
    (0 until 10).map(i => (i.toLong, i)).toDF("id", "v")
      .write.parquet(s"$root/batch=0")
    val frame = spark.read.parquet(root)
    assert(frame.count() == 10L)
    (10 until 25).map(i => (i.toLong, i)).toDF("id", "v")
      .write.parquet(s"$root/batch=1")
    assert(BatchStore.relist(frame).count() == 25L)
    BatchStore.compact(spark, root, QueryServe.resultsFold)
    assert(BatchStore.relist(frame).count() == 25L)
    assert(frame.select("batch").distinct().as[Int].collect().toSeq == Seq(-1))
  }
}
