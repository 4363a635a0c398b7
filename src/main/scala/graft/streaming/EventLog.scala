package graft.streaming

import graft.operators.VectorSearch.ThresholdStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Progress-event emission (SURVEY §2.10 ST1): engine operators append
  * typed rows to the `events` table instead of pushing WebSocket frames
  * (emit sites mirrored: `components/core/search_service.py:120-129`,
  * `components/retrieval/dynamic_retriever.py:67-76,138-152`). The serving
  * edge turns this table into a stream (`EventStream`). */
object EventLog {

  /** The retrieval lifecycle for one query as event rows:
    * retrieval_start → threshold_attempt* → retrieval_complete. */
  def retrievalEvents(spark: SparkSession, queryId: Long,
                      stats: ThresholdStats): DataFrame = {
    import spark.implicits._
    val rows =
      Seq(("retrieval_start", queryId,
        s"""{"hit_target": ${stats.hit_target}, "step": ${stats.step}}""")) ++
      stats.progression.map { a =>
        ("threshold_attempt", queryId,
          s"""{"threshold": ${a.threshold}, "hits": ${a.hits}, "target_reached": ${a.target_reached}}""")
      } ++
      Seq(("retrieval_complete", queryId,
        s"""{"final_threshold": ${stats.final_threshold}, "final_hits": ${stats.final_hits}, "attempts": ${stats.attempts}, "target_reached": ${stats.target_reached}}"""))
    // one select: each Dataset step is analyzed as it is built, per question
    rows.toDF("event_type", "query_id", "data").select(col("event_type"),
      current_timestamp().as("ts"), lit(null).cast("string").as("agent_id"),
      lit(null).cast("int").as("task_id"), col("query_id"), col("data"))
  }

  /** Append events to the events table path. */
  def append(events: DataFrame, path: String): Unit =
    events.write.mode("append").parquet(path)

  // -------------------------------------------------------------------
  // Full ST1 catalog. Every event row carries a canonical integer `value`
  // (milli-units for thresholds/scores, centi for temperatures, lengths
  // for responses/chunks) so event streams can be aggregated and
  // oracle-checked exactly, plus the reference-shaped JSON `data`.
  // -------------------------------------------------------------------

  /** The complete event log of one `FullMode.fullQuery` run:
    * retrieval lifecycle (`search_service.py:120-129`), temperature sweep
    * (`optimization_coordinator.py:122-131,153-162,209-218`), improvement
    * iterations (`improvement_coordinator.py:176-248`) and llm streaming
    * (`llm_service.py:312-358`). */
  def fullQueryEvents(spark: SparkSession, queryId: Long,
                      stats: ThresholdStats,
                      sweep: graft.operators.Optimization.SweepResult[Double],
                      imp: graft.operators.Optimization.ImprovementResult,
                      chunks: Seq[String]): DataFrame = {
    import spark.implicits._
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    def add(tpe: String, value: Long, data: String): Unit = rows += ((tpe, value, data))

    add("retrieval_start", stats.hit_target,
      s"""{"hit_target": ${stats.hit_target}, "step": ${stats.step}}""")
    stats.progression.foreach { a =>
      add("threshold_attempt", math.round(a.threshold * 1000),
        s"""{"threshold": ${a.threshold}, "hits": ${a.hits}, "target_reached": ${a.target_reached}}""")
    }
    add("retrieval_complete", math.round(stats.final_threshold * 1000),
      s"""{"final_threshold": ${stats.final_threshold}, "final_hits": ${stats.final_hits}, "attempts": ${stats.attempts}, "target_reached": ${stats.target_reached}}""")

    val total = sweep.attempts.length
    sweep.attempts.zipWithIndex.foreach { case ((t, resp, score), i) =>
      add("temperature_test", math.round(t * 100),
        s"""{"temperature": $t, "test_number": ${i + 1}, "total_tests": $total}""")
      add("temperature_response", resp.length,
        s"""{"temperature": $t, "response_len": ${resp.length}}""")
      add("temperature_evaluation", math.round(score * 1000),
        s"""{"temperature": $t, "score": $score}""")
    }

    imp.history.drop(1).zipWithIndex.foreach { case ((resp, score), i0) =>
      val i = i0 + 1
      add("improvement_iteration", i, s"""{"iteration": $i, "action": "improving"}""")
      add("improvement_response", resp.length,
        s"""{"iteration": $i, "response_len": ${resp.length}}""")
      add("improvement_iteration", i, s"""{"iteration": $i, "action": "evaluating"}""")
      add("improvement_evaluation", math.round(score * 1000),
        s"""{"iteration": $i, "score": $score}""")
    }

    add("llm_stream_start", 0L, "{}")
    chunks.zipWithIndex.foreach { case (c, i) =>
      add("llm_stream_chunk", c.length,
        s"""{"chunk_number": ${i + 1}, "chunk_len": ${c.length}}""")
    }
    add("llm_stream_complete", chunks.map(_.length.toLong).sum,
      s"""{"total_length": ${chunks.map(_.length).sum}, "total_chunks": ${chunks.length}}""")

    rows.toSeq.zipWithIndex
      .map { case ((tpe, v, data), seq) => (seq, tpe, queryId, v, data) }
      .toDF("seq", "event_type", "query_id", "value", "data")
  }

  /** Task lifecycle + tool-call events of one workflow run
    * (`components2/workflow_executor.py:170-215`,
    * `components2/task_executor.py:358-400`): task_running →
    * [tool_call_start → tool_call_complete] → task_completed|task_failed →
    * task_validation, per executed task. */
  def workflowEvents(spark: SparkSession,
                     wf: graft.plans.WorkflowExecutor.WorkflowResult): DataFrame = {
    import spark.implicits._
    val agentId = wf.agent.agentId
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, String)]
    def add(tpe: String, taskId: Int, value: Long, data: String): Unit =
      rows += ((tpe, taskId, value, data))
    wf.taskResults.foreach { tr =>
      val t = tr.task
      add("task_running", t.id, t.id, s"""{"name": ${jstr(t.name)}}""")
      t.toolCall.foreach { tc =>
        add("tool_call_start", t.id, 0,
          s"""{"tool_type": ${jstr(tc.toolType)}, "query": ${jstr(tc.query)}}""")
        add("tool_call_complete", t.id, tc.numDocuments,
          s"""{"tool_type": ${jstr(tc.toolType)}, "num_documents": ${tc.numDocuments}, "threshold_used": ${tc.thresholdUsed}}""")
      }
      add(s"task_${t.status}", t.id, t.output.length,
        s"""{"output_len": ${t.output.length}}""")
      t.validation.foreach { v =>
        add("task_validation", t.id, v.score,
          s"""{"is_valid": ${v.isValid}, "score": ${v.score}}""")
      }
    }
    rows.toSeq.zipWithIndex
      .map { case ((tpe, taskId, v, data), seq) => (seq, tpe, agentId, taskId, v, data) }
      .toDF("seq", "event_type", "agent_id", "task_id", "value", "data")
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
