package perfbench

import graft.MeasureGuard
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What a workload needs during its run, and what it leaves behind. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  /** Operations of the timed phase only, so that the failed share does
    * not depend on how many whole rounds fit in the run. */
  val ops = new OpCounts
  private var timing = false
  private val meter = new MeasureGuard.ExternalLoadMeter
  private var timedStart = 0L
  private var cpuStart = 0L
  /** Seconds from JVM start to the first timed operation, less any timed
    * index build in between. */
  var setupS = 0.0
  var cpuMsTimed = 0.0
  var timedS = 0.0
  var externalLoadCores = -1.0
  val violations = mutable.ArrayBuffer.empty[String]
  var violationCount = 0

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      violationCount += 1
      if (violations.length < 20) violations += what
    }

  /** Marks the first timed operation; `excludedS` is timed set-up work
    * (an index build) reported as its own metric. */
  def startTimed(excludedS: Double): Unit = {
    setupS = Clock.sinceJvmStartMs() / 1000.0 - excludedS
    meter.sample()
    cpuStart = Clock.cpuNs()
    timedStart = System.nanoTime()
    timing = true
  }

  def attempt(op: String, n: Long = 1, failed: Long = 0): Unit =
    if (timing) ops.attempt(op, n, failed)

  def timeLeft: Boolean = System.nanoTime() - timedStart < args.seconds * 1000000000L

  def endTimed(): Unit = {
    timing = false
    cpuMsTimed = (Clock.cpuNs() - cpuStart) / 1e6
    timedS = (System.nanoTime() - timedStart) / 1e9
    externalLoadCores = meter.sample()
  }
}

/** End-to-end figures of one run, plus whatever the workload wants to
  * record beside them. */
final case class Outcome(e2e: Map[String, Double], detail: Map[String, Any])

trait Workload {
  def run(c: Ctx): Outcome
}
