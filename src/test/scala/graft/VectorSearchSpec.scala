package graft

import graft.operators.{TopKByScore, VectorSearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorSearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def randVec(seed: Int, dim: Int = 8): Array[Float] = {
    val r = new scala.util.Random(seed)
    val v = Array.fill(dim)(r.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x * x.toDouble).sum)
    v.map(x => (x / n).toFloat)
  }

  private lazy val corpus = (0 until 100).map(i => (i.toLong, randVec(i)))
    .toDF("doc_id", "embedding")

  test("knnSingle matches brute-force scala ranking") {
    val q = randVec(999)
    val got = VectorSearch.knnSingle(corpus, q, 5)
      .select("doc_id").as[Long].collect().toSeq
    val expected = (0 until 100)
      .map(i => (i.toLong, randVec(i).zip(q).map { case (a, b) => a * b.toDouble }.sum))
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(got == expected)
  }

  test("knnSingle clamps k to corpus size") {
    assert(VectorSearch.knnSingle(corpus.limit(3), randVec(7), 10).count() == 3)
  }

  /** 30 rows in 3 partitions of 10: ids 5, 15, 25 hold the query itself
    * (an exact top-score tie across all three partitions), ids 8 and 18
    * share a vector (a mid-rank tie), id 12 has a null embedding. */
  private def tiedCorpus(q: Array[Float]) = {
    val rows = (0 until 30).map { i =>
      val v = if (i % 10 == 5) q else if (i == 8 || i == 18) randVec(8) else randVec(i)
      (i.toLong, if (i == 12) null else v, s"text $i")
    }
    spark.sparkContext.parallelize(rows, 3).toDF("doc_id", "embedding", "text")
  }

  /** The two-phase plan `knnSingle` had: narrow top-k, broadcast join
    * back to the corpus, range sort. */
  private def twoPhase(corpus: org.apache.spark.sql.DataFrame, q: Array[Float], k: Int) =
    corpus.join(broadcast(VectorSearch.knnScores(corpus, q, k)), Seq("doc_id"))
      .orderBy(desc("score"), col("doc_id").asc)

  test("knnSingle equals the two-phase plan: rows, order, schema") {
    val q = randVec(999)
    val corpus = tiedCorpus(q)
    assert(corpus.rdd.getNumPartitions == 3)
    for (k <- Seq(0, 2, 3, 10, 29, 30, 45)) {
      val got = VectorSearch.knnSingle(corpus, q, k)
      val want = twoPhase(corpus, q, k)
      assert(got.schema == want.schema, s"k = $k")
      assert(got.collect().toSeq == want.collect().toSeq, s"k = $k")
    }
    // the planted tie breaks by id, and the null score ranks last
    val all = VectorSearch.knnSingle(corpus, q, 45).select("doc_id").as[Long].collect()
    assert(all.take(3).toSeq == Seq(5L, 15L, 25L) && all.last == 12L)
    assert(all.indexOf(8L) + 1 == all.indexOf(18L))
  }

  test("knnSingle runs as one TakeOrderedAndProject: no exchange, no broadcast") {
    val q = randVec(999)
    val hits = VectorSearch.knnSingle(tiedCorpus(q), q, 5)
    hits.collect()
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange") && !plan.contains("BroadcastHashJoin"), plan)
  }

  test("knnBatch and knnBatchAggregated agree") {
    val queries = (900 to 903).map(i => (i.toLong, randVec(i)))
      .toDF("query_id", "q_embedding")
    val a = VectorSearch.knnBatch(queries, corpus, 7)
      .select("query_id", "doc_id", "doc_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = VectorSearch.knnBatchAggregated(queries, corpus, 7)
      .select("query_id", "doc_id", "doc_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b)
    assert(a.size == 4 * 7)
  }

  test("dynamic threshold: reaches target at the first satisfying step") {
    val scores = Seq(0.92, 0.87, 0.81, 0.4, 0.1)
    val st = VectorSearch.dynamicThresholdSelect(scores, hitTarget = 3, step = 0.05)
    assert(st.target_reached)
    assert(st.final_threshold == 0.8)
    assert(st.final_hits == 3)
    // grid: 1.0, 0.95, 0.9, 0.85, 0.8 -> 5 attempts
    assert(st.attempts == 5)
    assert(st.progression.length == 5)
    assert(st.progression.last.target_reached)
  }

  test("dynamic threshold: fallback to best-seen when target unreachable") {
    val scores = Seq(0.9, 0.2)
    val st = VectorSearch.dynamicThresholdSelect(scores, hitTarget = 5, step = 0.05)
    assert(!st.target_reached)
    assert(st.final_hits == 2)
    // first threshold where count hit its max (2): t = 0.2
    assert(st.final_threshold == 0.2)
    assert(st.attempts == 21)
  }

  test("dynamic threshold: empty scores") {
    val st = VectorSearch.dynamicThresholdSelect(Nil, 3, 0.05)
    assert(!st.target_reached && st.final_hits == 0 && st.attempts == 21)
  }

  test("batch threshold form matches driver-loop form per query") {
    val hits = Seq(
      (1L, 0.92), (1L, 0.87), (1L, 0.81), (1L, 0.4),
      (2L, 0.3), (2L, 0.1)
    ).toDF("query_id", "score")
    val got = VectorSearch.dynamicThresholdBatch(hits, hitTarget = 3, step = 0.05)
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getInt(2), r.getBoolean(3), r.getInt(4))))
      .toMap
    val exp1 = VectorSearch.dynamicThresholdSelect(Seq(0.92, 0.87, 0.81, 0.4), 3, 0.05)
    val exp2 = VectorSearch.dynamicThresholdSelect(Seq(0.3, 0.1), 3, 0.05)
    assert(got(1L) == ((exp1.final_threshold, exp1.final_hits, exp1.target_reached, exp1.attempts)))
    assert(got(2L) == ((exp2.final_threshold, exp2.final_hits, exp2.target_reached, exp2.attempts)))
  }

  test("threshold grid is exact decimals") {
    val g = VectorSearch.thresholdGrid(0.05)
    assert(g.length == 21 && g.head == 1.0 && g.last == 0.0)
    assert(g.contains(0.85) && g.contains(0.05))
    assert(VectorSearch.thresholdGrid(0.01).length == 101)
  }

  test("TopKByScore keeps bounded buffer and total order") {
    val agg = new TopKByScore(3)
    var buf = agg.zero
    Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1), (5L, 0.7), (6L, 0.95), (7L, 0.2))
      .foreach(x => buf = agg.reduce(buf, x))
    val out = agg.finish(buf)
    assert(out.map(_.id) == Seq(6L, 2L, 3L)) // 0.95, then 0.9 tie broken by id
  }

  test("fixedThreshold filters on score") {
    val hits = Seq((1L, 0.9), (2L, 0.5)).toDF("doc_id", "score")
    assert(VectorSearch.fixedThreshold(hits, 0.55).count() == 1)
  }

  test("knnSharded: N shards merge to the flat-scan result, one bounded shuffle") {
    val q = randVec(999)
    val shards = (0 until 4).map(i =>
      corpus.filter(col("doc_id") % 4 === i))
    val sharded = VectorSearch.knnSharded(shards, q, k = 8)
    val got = sharded.select("doc_id", "score").as[(Long, Double)].collect().toSeq
    val flat = VectorSearch.knnScores(corpus, q, k = 8)
      .as[(Long, Double)].collect().toSeq
    assert(got == flat, "shard merge must equal the flat scan")
    // the shard tag is the id slice each hit came from
    sharded.select("shard", "doc_id").as[(Long, Long)].collect()
      .foreach { case (s, id) => assert(s == id % 4) }
    // a degenerate single "shard" is exactly the flat search
    val one = VectorSearch.knnSharded(Seq(corpus), q, k = 8)
      .select("doc_id", "score").as[(Long, Double)].collect().toSeq
    assert(one == flat)
    // plan shape: the ONE shuffle is the per-shard partial top-k
    // aggregation; the global merge is a TakeOrdered, never a sort of
    // the scored corpus (AQE hides exchanges pre-run — string-inspect
    // the executed plan, KnnGraphSpec idiom)
    val ran = VectorSearch.knnSharded(shards, q, k = 8)
    ran.collect()
    val plan = ran.queryExecution.executedPlan.toString
    // AQE prints the same node in both the initial and final plan —
    // count DISTINCT exchange plan_ids, not string occurrences
    val exIds = "Exchange [^\\[]*\\[plan_id=(\\d+)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exIds.size == 1,
      s"expected exactly one exchange (the bounded top-k agg):\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global merge must be a TakeOrdered:\n$plan")
  }

  test("mmrSelect: diversity beats a duplicate; lambda=1 is plain top-k") {
    val a = Array(1f, 0f, 0f, 0f)
    val b = Array(0.99f, 0.1f, 0f, 0f) // near-duplicate of a, 2nd by score
    val c = Array(0f, 1f, 0f, 0f)      // diverse, 3rd by score
    val cands = Seq((1L, 0.95, a), (2L, 0.94, b), (3L, 0.5, c))
    // with diversity pressure, pick 2 must skip the near-duplicate
    val sel = VectorSearch.mmrSelect(cands, lambda = 0.5, k = 2)
    assert(sel.map(_._1) == Seq(1L, 3L))
    // lambda = 1: pure relevance, identical to score order
    val rel = VectorSearch.mmrSelect(cands, lambda = 1.0, k = 3)
    assert(rel.map(_._1) == Seq(1L, 2L, 3L))
    // first pick's mmr is lambda*score; k > n returns all; deterministic
    assert(rel.head._3 == 1.0 * 0.95)
    assert(VectorSearch.mmrSelect(cands, 0.5, 10).size == 3)
    assert(VectorSearch.mmrSelect(cands, 0.5, 2) == sel)
  }

  test("pairwiseDistances: full matrix, driver-replay exact values") {
    val docs = Seq(
      (10L, Array(1f, 0f, 2f)), (11L, Array(0f, 3f, 1f)), (12L, Array(2f, 2f, 2f))
    ).toDF("doc_id", "embedding")
    val qs = Seq((0L, Array(1f, 1f, 1f)), (1L, Array(0f, 0f, 1f)))
      .toDF("query_id", "q_embedding")
    val got = VectorSearch.pairwiseDistances(qs, docs)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    assert(got.size == 6)
    val qv = Map(0L -> Array(1f, 1f, 1f), 1L -> Array(0f, 0f, 1f))
    val dv = Map(10L -> Array(1f, 0f, 2f), 11L -> Array(0f, 3f, 1f),
      12L -> Array(2f, 2f, 2f))
    for (((qi, di), (l2sq, ip)) <- got) {
      val q = qv(qi); val d = dv(di)
      val el2 = q.indices.foldLeft(0.0)((a, j) =>
        a + (q(j).toDouble - d(j).toDouble) * (q(j).toDouble - d(j).toDouble))
      val eip = q.indices.foldLeft(0.0)((a, j) =>
        a + d(j).toDouble * q(j).toDouble)
      assert(l2sq == el2 && ip == eip, s"($qi,$di): $l2sq/$ip vs $el2/$eip")
    }
  }
}
