package perfbench

/** The benchmark's own reference computations. They share no code with
  * the program, so a check built on them can catch a program fault. */
object Reference {

  /** Inner product accumulated in double, element order. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Exact inner-product top-k over (id, vector) rows, ordered by score
    * descending, then id ascending. */
  def topKByDot(rows: Array[(Long, Array[Float])], q: Array[Float], k: Int): Seq[(Long, Double)] =
    rows.iterator.map { case (id, v) => (id, dot(v, q)) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k)

  /** Exact squared-L2 top-k, ordered by distance ascending, then id. */
  def topKByL2(rows: Array[(Long, Array[Float])], q: Array[Float], k: Int): Seq[Long] =
    rows.iterator.map { case (id, v) => (id, l2sq(v, q)) }.toSeq
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)

  /** The dynamic-threshold rule of the reference RAG system: walk the
    * thresholds 1.000, 1.000 − step, … down to 0 (three-decimal values);
    * stop at the first where at least `hitTarget` scores reach it. If none
    * does, take the threshold with the most hits, the highest on ties.
    * Returns (threshold, attempts). */
  def dynamicThreshold(scores: Seq[Double], hitTarget: Int, step: Double): (Double, Int) = {
    val stepMilli = math.round(step * 1000).toInt
    require(stepMilli > 0, s"step too small: $step")
    var milli = 1000
    var attempts = 0
    var best = (-1, 1.0)
    while (milli >= 0) {
      val t = milli / 1000.0
      attempts += 1
      val hits = scores.count(_ >= t)
      if (hits >= hitTarget) return (t, attempts)
      if (hits > best._1) best = (hits, t)
      milli -= stepMilli
    }
    (best._2, attempts)
  }

  /** Share of `exact` found in `got`. */
  def recall(exact: Seq[Long], got: Seq[Long]): Double = {
    require(exact.nonEmpty, "recall against an empty exact list")
    val g = got.toSet
    exact.count(g.contains).toDouble / exact.length
  }

  /** Word n-gram shingles under the dedup screen's tokenisation: trimmed,
    * lower-cased, split on whitespace. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size
}
