package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PCA dimensionality-reduction pre-transform — FAISS `PCAMatrix`
  * (faiss/VectorTransform.cpp), the standard front of a transform+index
  * chain (`IndexPreTransform`): train a mean + top-k eigenbasis on the
  * corpus, project every vector to k dims, search in the reduced space.
  * At 64→16 dims the float corpus shrinks 4× and every downstream dot
  * product does 4× less work, at the cost of recall measured against the
  * exact scan (the engine reports it the same way as IVF/LSH recall).
  *
  * Spark shape:
  *  - TRAIN is MLlib's `RowMatrix`: column means + the Gram-based
  *    covariance are `treeAggregate`s (one d×d accumulator per
  *    partition — nothing corpus-sized crosses the wire), and the
  *    d×d eigendecomposition runs on the driver, exactly where a
  *    64×64 symmetric eigenproblem belongs. Train is ingest-time work;
  *    the artifact persists like the IVF quantizer.
  *  - Component signs are canonicalized (largest-|loading| element
  *    positive) so retrains on the same data reproduce the same
  *    artifact — eigenvector sign is otherwise arbitrary.
  *  - PROJECT is the codegen'd [[graft.functions.PcaProjectF32]]: a
  *    narrow per-row map with the (mean, matrix) baked into the
  *    generated class, no shuffle, whole-stage codegen.
  *  - SEARCH in the projected space is [[VectorSearch.knnScores]]
  *    verbatim — the projected corpus is just a smaller float corpus.
  */
object PcaTransform {

  /** Trained transform: `components` is k rows × d cols, rows in
    * descending-eigenvalue order (FAISS stores the same layout). */
  final case class Pca(mean: Array[Double], components: Array[Array[Double]]) {
    def outDim: Int = components.length
  }

  /** Train mean + top-k principal components. Requires at least
    * [[IvfIndex.TrainMin]] rows (the index family's shared floor) — PCA
    * from fewer rows than dims is noise. */
  def train(corpus: DataFrame, k: Int, embCol: String = "embedding"): Pca = {
    require(corpus.limit(IvfIndex.TrainMin).count() >= IvfIndex.TrainMin,
      s"PCA needs >= ${IvfIndex.TrainMin} training vectors")
    val rows = corpus.select(col(embCol)).rdd
      .map(r => MlVectors.dense(r.getSeq[Float](0).toArray.map(_.toDouble)))
    val mat = new RowMatrix(rows)
    val mean = mat.computeColumnSummaryStatistics().mean.toArray
    val pc = mat.computePrincipalComponents(k) // d × k, descending variance
    val comps = Array.tabulate(pc.numCols) { j =>
      canonicalSign(Array.tabulate(pc.numRows)(i => pc(i, j)))
    }
    Pca(mean, comps)
  }

  /** Flip a component so its largest-|loading| element (first occurrence)
    * is positive — eigenvector sign is arbitrary; pinning it makes
    * retrains reproducible and the persisted artifact stable. */
  private def canonicalSign(row: Array[Double]): Array[Double] = {
    var best = 0
    var i = 1
    while (i < row.length) {
      if (math.abs(row(i)) > math.abs(row(best))) best = i
      i += 1
    }
    if (row(best) < 0) row.map(-_) else row
  }

  /** Persist as a text artifact (`k dim` header, mean line, k component
    * lines) — same shape as the IVF quantizer's, and the source the
    * generated DuckDB oracle replays from. */
  def save(spark: SparkSession, pca: Pca, path: String): Unit = {
    val sb = new StringBuilder
    sb.append(s"${pca.outDim} ${pca.mean.length}\n")
    sb.append(pca.mean.mkString(" ")).append('\n')
    pca.components.foreach(c => sb.append(c.mkString(" ")).append('\n'))
    IvfIndex.writeArtifact(spark, path, sb.toString)
  }

  def load(spark: SparkSession, path: String): Pca =
    IvfIndex.readArtifact(spark, path) { rows =>
      require(rows.nonEmpty && rows.head.length == 2, "header is not `k dim`")
      val Array(k, dim) = rows.head.map(_.toInt)
      require(rows.length == k + 2, s"${rows.length - 1} lines, not a mean and $k components")
      require(rows.tail.forall(_.length == dim), s"a line without $dim values")
      Pca(rows(1), rows.drop(2).toArray)
    }

  def buildOrLoad(spark: SparkSession, corpus: DataFrame, k: Int,
                  path: String, embCol: String = "embedding"): Pca =
    if (IvfIndex.exists(spark, path)) load(spark, path)
    else {
      val pca = train(corpus, k, embCol)
      save(spark, pca, path)
      pca
    }

  /** Project `embCol` to the k-dim PCA space as `outCol` (array<float>).
    * Narrow codegen map — no shuffle; project-at-ingest and persist the
    * reduced corpus when it feeds more than one query. */
  def project(df: DataFrame, pca: Pca, embCol: String = "embedding",
              outCol: String = "pca"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn(outCol,
      GraftFunctions.pcaProjectF32(col(embCol),
        typedLit(pca.mean.toSeq),
        typedLit(pca.components.map(_.toSeq).toSeq)))
  }

  /** Driver-side single-vector projection (query path) — the exact
    * per-dim left fold the codegen kernel runs. */
  def projectOne(pca: Pca, v: Array[Float]): Array[Float] =
    pca.components.map { row =>
      val n = math.min(math.min(v.length, row.length), pca.mean.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += row(i) * (v(i).toDouble - pca.mean(i)); i += 1 }
      acc.toFloat
    }

  /** Exact top-k inner-product search in the projected space: project the
    * query on the driver, scan the (4× smaller) projected corpus with the
    * zero-shuffle top-k. */
  def search(projected: DataFrame, pca: Pca, queryVec: Array[Float], k: Int,
             idCol: String = "doc_id", pcaCol: String = "pca"): DataFrame =
    VectorSearch.knnScores(projected, projectOne(pca, queryVec), k,
      embCol = pcaCol, idCol = idCol)
}
