package perfbench

import graft.MeasureGuard

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints a detail line, then the result line
  * `{"correct", "attempted", "failed", "metrics"}` with metric values only;
  * `run.py` attaches the units declared in BENCHMARK.json. With tracing
  * on, the metrics are the per-layer ones and the end-to-end figures move
  * to the detail line. */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "rag_query" -> RagQuery, "ingest_serve" -> IngestServe)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val workload = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}; " +
        s"expected one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val foreignJvms = MeasureGuard.checkQuietHost("perfbench")
    val loadAtStart = MeasureGuard.loadAvg1()
    val spark = Session.start(args.work)
    val code = try {
      val tracer = new Tracer(spark, args.trace)
      val ctx = new Ctx(spark, args, tracer)
      val out = workload.run(ctx)
      val e2e = out.e2e + ("setup_s" -> ctx.setupS)
      val metrics = if (args.trace) tracer.metrics() else e2e
      tracer.writeSpans(s"${args.work}/spans.jsonl")
      println(Json(Map("detail" -> (Map(
        "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
        "cores" -> Session.Cores, "ops" -> ctx.ops.asJson,
        "end_to_end" -> e2e, "timed_s" -> ctx.timedS, "timed_cpu_ms" -> ctx.cpuMsTimed,
        "foreign_jvms" -> foreignJvms.length, "load_avg_1m_at_start" -> loadAtStart,
        "external_load_cores" -> ctx.externalLoadCores,
        "violations" -> ctx.violationCount, "first_violations" -> ctx.violations.toSeq) ++ out.detail))))
      ctx.violations.foreach(v => System.err.println(s"[perfbench] check failed: $v"))
      val correct = ctx.violationCount == 0
      println(Json(Map("correct" -> correct, "attempted" -> ctx.ops.attempted,
        "failed" -> ctx.ops.failed, "metrics" -> metrics)))
      if (correct) 0 else 1
    } finally spark.stop()
    sys.exit(code)
  }
}
