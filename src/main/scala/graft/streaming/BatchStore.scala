package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQuery

/** The one micro-batch store protocol shared by every `batch=<id>`
  * store: the signature store ([[graft.operators.Dedup.screenedIngest]]),
  * the banded Hamming store ([[graft.operators.Dedup.hammingScreenedIngest]]),
  * the IVF-PQ codes corpus ([[IndexIngest.quantizedIngest]]) and the
  * served results ([[QueryServe.servedSearch]]).
  *
  * Layout: `root/batch=<id>/…`, one dir per micro-batch, written with
  * OVERWRITE — `foreachBatch` is at-least-once, so a retried batch id
  * rewrites its own dir instead of appending duplicates. Stream ids are
  * non-negative; compacted generations take successive NEGATIVE ids,
  * `min(min id, 0) - 1`, so they never collide with a stream id.
  *
  * Crash/racing discipline (every store's compaction, see [[compact]]):
  *  0. [[snapshot]] the `batch=*` dirs — ONLY those are folded and later
  *     deleted, so a micro-batch landing mid-compaction is neither
  *     folded nor dropped;
  *  1. [[stage]]: fold the snapshot with a full-row `dropDuplicates` into
  *     the `_compact_stage` dir (underscore-prefixed: readers skip it);
  *  2. [[commit]]: rename the stage into `batch=<gen>`, `require`d — a
  *     failure leaves the store intact;
  *  3. [[mark]]: write `_absorbed_batch_<id>` for every absorbed stream
  *     id — from here a replay of that id is a NO-OP ([[absorbed]]; its
  *     rows already live in the generation);
  *  4. [[sweep]]: delete the snapshot dirs, then prune markers beyond
  *     [[MarkerRetention]].
  * A crash after (2) leaves absorbed rows visible twice until the next
  * compaction, whose dedup folds them back to exactly the uncrashed rows
  * (every store's per-batch write is deterministic); a crash anywhere
  * else re-runs from a clean stage. Markers tie the store to its
  * checkpoint's lifecycle: deleting the checkpoint but keeping the store
  * shadows new ids that still carry a marker. */
object BatchStore {

  /** How many replay markers a store keeps (newest ids): markers exist to
    * no-op an at-least-once REPLAY, and Structured Streaming replays only
    * ids near the checkpoint head — an unbounded marker pile is the
    * small-files problem wearing a different hat. Shared by the
    * `_absorbed_batch_<id>` markers here and RpForest's `_rpf_batch_<id>`
    * commit markers. */
  val MarkerRetention = 64

  private val AbsorbedPrefix = "_absorbed_batch_"
  private val StageName = "_compact_stage"

  /** The `writeStream … foreachBatch … start()` scaffold: `perBatch`
    * receives each micro-batch and its id. */
  def stream(df: DataFrame, checkpoint: String, what: String)
            (perBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    require(df.isStreaming, s"$what expects a streaming DataFrame")
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        perBatch(batch.toDF(), batchId)
      }
      .start()
  }

  private[graft] def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every `batch=<id>` dir under `root`, by id. */
  private[graft] def batchDirs(spark: SparkSession, root: String): Seq[(Long, Path)] =
    Option(fs(spark, root).globStatus(new Path(s"$root/batch=*")))
      .getOrElse(Array.empty)
      .flatMap(s => s.getPath.getName.stripPrefix("batch=").toLongOption
        .map(_ -> s.getPath))
      .toSeq.sortBy(_._1)

  /** The batch dirs other than `batchId`'s own — what a micro-batch
    * screens against (its own dir may hold a failed attempt's rows). */
  def prior(spark: SparkSession, root: String, batchId: Long): Seq[(Long, Path)] =
    batchDirs(spark, root).filterNot(_._1 == batchId)

  /** The replay guard: true once a compaction absorbed `batchId`, whose
    * replay must then write nothing. */
  def absorbed(spark: SparkSession, root: String, batchId: Long): Boolean =
    fs(spark, root).exists(new Path(root, s"$AbsorbedPrefix$batchId"))

  /** Re-list the files behind a store frame: refreshes the `FileIndex` of
    * every `HadoopFsRelation` in its analyzed plan, so a long-lived frame
    * (a served stream's corpus) sees batches written since it was built
    * and stops listing dirs a compaction deleted. Returns `df`. */
  def relist(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed.foreach {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.refresh()
        case _ =>
      }
      case _ =>
    }
    df
  }

  /** A store's own compaction layout: `write` lays the folded rows out
    * under the stage path; `derive` re-derives columns before the dedup
    * (rows that differ only in a derived column are the same row). */
  private[graft] final case class Fold(write: (DataFrame, String) => Unit,
                                       derive: DataFrame => DataFrame = identity)

  /** A compaction's input: the snapshot dirs it folds, and the
    * generation id it writes. */
  private[graft] final case class Snapshot(root: String, dirs: Seq[(Long, Path)],
                                           gen: Long) {
    def stagePath: Path = new Path(root, StageName)
    def genDir: Path = new Path(root, s"batch=$gen")
  }

  /** Step 0: list the dirs to fold. `keepNewest` leaves the newest stream
    * ids out (the checkpoint head a running stream may still rewrite). */
  private[graft] def snapshot(spark: SparkSession, root: String,
                              keepNewest: Int = 0): Snapshot = {
    val all = batchDirs(spark, root)
    val keep = all.map(_._1).filter(_ >= 0).takeRight(keepNewest).toSet
    val gen = math.min(all.headOption.map(_._1).getOrElse(0L), 0L) - 1L
    Snapshot(root, all.filterNot(d => keep(d._1)), gen)
  }

  /** Step 1: fold the snapshot rows (its `batch` column dropped, the
    * fold's `derive` applied, full-row `dropDuplicates`) through the
    * fold's `write` into the stage dir. */
  private[graft] def stage(spark: SparkSession, snap: Snapshot, fold: Fold): Unit = {
    fs(spark, snap.root).delete(snap.stagePath, true)
    val rows = spark.read.option("basePath", snap.root)
      .parquet(snap.dirs.map(_._2.toString): _*)
      .drop("batch")
    fold.write(fold.derive(rows).dropDuplicates(), snap.stagePath.toString)
  }

  /** Step 2: rename the stage in as the new generation. */
  private[graft] def commit(spark: SparkSession, snap: Snapshot): Unit =
    require(fs(spark, snap.root).rename(snap.stagePath, snap.genDir),
      s"compaction rename failed: ${snap.stagePath} -> ${snap.genDir} " +
        "(store left untouched)")

  /** Step 3: mark every absorbed stream id, so its replay is a no-op. */
  private[graft] def mark(spark: SparkSession, snap: Snapshot): Unit = {
    val f = fs(spark, snap.root)
    for ((id, _) <- snap.dirs if id >= 0)
      f.create(new Path(snap.root, s"$AbsorbedPrefix$id"), true).close()
  }

  /** Step 4: delete the absorbed dirs and prune old markers. */
  private[graft] def sweep(spark: SparkSession, snap: Snapshot): Unit = {
    val f = fs(spark, snap.root)
    snap.dirs.foreach(d => f.delete(d._2, true))
    pruneMarkers(f, snap.root, AbsorbedPrefix)
  }

  /** Keep only the newest [[MarkerRetention]] `<prefix><id>` markers. */
  private[graft] def pruneMarkers(f: FileSystem, root: String, prefix: String): Unit =
    Option(f.globStatus(new Path(s"$root/$prefix*"))).getOrElse(Array.empty)
      .flatMap(m => m.getPath.getName.stripPrefix(prefix).toLongOption
        .map(_ -> m.getPath))
      .sortBy(_._1)
      .dropRight(MarkerRetention)
      .foreach { case (_, p) => f.delete(p, false) }

  /** Fold a store's `batch=*` dirs into its next negative generation
    * (the steps above) through the store's `fold`. Returns the
    * snapshot, or None when it holds fewer than `minDirs` dirs. */
  private[graft] def compact(spark: SparkSession, root: String, fold: Fold,
                             keepNewest: Int = 0,
                             minDirs: Int = 1): Option[Snapshot] = {
    val snap = snapshot(spark, root, keepNewest)
    if (snap.dirs.size < minDirs) None
    else {
      stage(spark, snap, fold)
      commit(spark, snap)
      mark(spark, snap)
      sweep(spark, snap)
      Some(snap)
    }
  }
}
