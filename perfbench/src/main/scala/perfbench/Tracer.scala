package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable

/** The per-layer calls the benchmark times from outside, with the
  * measures each one reports. */
object Calls {
  /** Calls that run no Spark job: self time only. */
  val DriverOnly = Seq("hashembedder.embed", "vectorsearch.threshold",
    "promptassembly.context")
  /** Calls answered by a streaming micro-batch. */
  val Streaming = Seq("dedup.screen_batch", "indexingest.ingest_batch",
    "queryserve.serve_batch")
  val WithJobs = Seq("ragpipeline.query", "vectorsearch.knn_single",
    "ivfindex.train", "ivfindex.assign", "pqindex.train",
    "pqindex.encode_write",
    "textingest.build_corpus", "dedup.compact", "indexingest.compact",
    "queryserve.compact") ++ Streaming
  /** Per-layer counts, reported as the mean of the recorded values. */
  val Counts = Seq("vectorsearch.threshold.attempts",
    "dedup.screen_batch.flagged_pairs",
    "dedup.screen_batch.dup_recall", "dedup.store.files",
    "indexingest.store.files", "queryserve.results.files",
    "queryserve.serve_batch.fresh_lag_ms")
}

/** Spans recorded around calls into the program's layers, kept in memory
  * and written once when the run ends. With tracing off a call is just
  * its body. With tracing on, each non-streaming call runs under its own
  * Spark job group, and a listener attributes jobs, tasks, shuffle bytes
  * and stage time to it; a streaming call owns the jobs its query's run
  * id submitted while the call was open, plus the durations the query
  * reported for that micro-batch. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var stack = List.empty[Int]
  private var nextId = 0

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val jobsEnded = new java.util.concurrent.atomic.AtomicInteger()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.put(e.jobId, JobRec(g, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = Option(si.taskMetrics)
      stages.put(si.stageId, StageRec(
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.numTasks, m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Time `body` as one call of `name`. `stream` names the streaming query
    * whose next micro-batch `body` adds and waits for. */
  def call[T](name: String, stream: StreamingQuery = null)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val group = if (stream != null) stream.runId.toString else s"perfbench-$id"
    val sc = spark.sparkContext
    val outerGroup = sc.getLocalProperty("spark.jobGroup.id")
    if (stream == null) sc.setJobGroup(group, name, interruptOnCancel = false)
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dur = (System.nanoTime() - t0) / 1e6
      val endMs = System.currentTimeMillis()
      stack = stack.tail
      if (stream == null) {
        if (outerGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(outerGroup, "", interruptOnCancel = false)
      }
      val progress = if (stream != null) batchDurations(stream) else Map.empty[String, Double]
      spans += Span(id, name, parent, startMs, endMs, dur, group, stream != null, progress)
    }
  }

  def count(name: String, v: Double): Unit =
    if (enabled) counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** The last micro-batch of each query whose durations a call took. */
  private val consumed = mutable.Map.empty[java.util.UUID, Long]

  /** The reported durations of the query's first data-carrying micro-batch
    * that no earlier call took. The progress event is posted when the
    * batch finishes, which can trail `processAllAvailable` by a moment, so
    * this polls briefly. */
  private def batchDurations(q: StreamingQuery): Map[String, Double] = {
    val after = consumed.getOrElse(q.runId, -1L)
    val deadline = System.nanoTime() + 3000L * 1000000L
    while (System.nanoTime() < deadline) {
      q.recentProgress.find(p => p.batchId > after && p.durationMs.containsKey("addBatch")) match {
        case Some(p) =>
          consumed(q.runId) = p.batchId
          val d = p.durationMs
          def g(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
          return Map("add_batch_ms" -> g("addBatch"),
            "commit_ms" -> (g("walCommit") + g("commitOffsets")),
            "planning_ms" -> g("queryPlanning"))
        case None => Thread.sleep(5)
      }
    }
    throw new IllegalStateException(s"no progress reported for the batch after $after of query ${q.runId}")
  }

  /** Wait for the listener to see the end of every job it saw start. */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (jobsEnded.get() < jobs.size() && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(200) // stage-completed events of the last job trail its end
  }

  /** Per-layer metrics: for each call, median self time, mean jobs, tasks
    * and shuffle bytes per call, median driver gap, and for streaming calls
    * the median reported micro-batch durations; then the mean of each
    * recorded count. Calls the workload never made read 0. */
  def metrics(): Map[String, Double] = {
    drain()
    import scala.jdk.CollectionConverters._
    val jobList = jobs.asScala.toSeq.sortBy(_._1)
    // A stage belongs to the first job listing it; later jobs skip it.
    val stageOwner = mutable.Map.empty[Int, Int]
    jobList.foreach { case (jid, j) => j.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, jid)) }
    val stagesOfJob = stageOwner.toSeq.groupBy(_._2).map { case (j, ss) => j -> ss.map(_._1) }
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durMs).sum }

    val out = mutable.LinkedHashMap.empty[String, Double]
    val byName = spans.groupBy(_.name)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    (Calls.DriverOnly ++ Calls.WithJobs).foreach { name =>
      val ss = byName.getOrElse(name, mutable.ArrayBuffer.empty).toSeq
      out(s"$name.ms") = med(ss.map(s => s.durMs - childMs.getOrElse(s.id, 0.0)))
      if (Calls.WithJobs.contains(name)) {
        val per = ss.map { s =>
          val js = jobList.filter { case (_, j) =>
            j.group == s.group && (!s.streaming || (j.startMs >= s.startMs && j.startMs <= s.endMs))
          }.map(_._1)
          val st = js.flatMap(j => stagesOfJob.getOrElse(j, Nil)).flatMap(i => Option(stages.get(i)))
          val busy = unionMs(st.map(r => (math.max(r.startMs, s.startMs), math.min(r.endMs, s.endMs))))
          (js.length.toDouble, st.map(_.tasks).sum.toDouble,
            st.map(_.shuffleBytes).sum.toDouble, math.max(0.0, s.durMs - busy))
        }
        out(s"$name.jobs") = mean(per.map(_._1))
        out(s"$name.tasks") = mean(per.map(_._2))
        out(s"$name.shuffle_bytes") = mean(per.map(_._3))
        out(s"$name.driver_gap_ms") = med(per.map(_._4))
      }
      if (Calls.Streaming.contains(name))
        Seq("add_batch_ms", "commit_ms", "planning_ms").foreach { k =>
          out(s"$name.$k") = med(ss.map(_.progress(k)))
        }
    }
    Calls.Counts.foreach(c => out(c) = mean(counts.getOrElse(c, mutable.ArrayBuffer.empty).toSeq))
    out.toMap
  }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Write every span as one JSON line. */
  def writeSpans(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durMs,
        "group" -> s.group) ++ s.progress))
    } finally w.close()
  }
}

object Tracer {
  private final case class Span(id: Int, name: String, parent: Int,
                                startMs: Long, endMs: Long, durMs: Double,
                                group: String, streaming: Boolean,
                                progress: Map[String, Double])

  private final case class JobRec(group: String, startMs: Long, stageIds: Seq[Int])
  private final case class StageRec(startMs: Long, endMs: Long, tasks: Int,
                                    shuffleBytes: Long)
}
