package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --name value pairs, got: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      }, need("work"))
    require(a.seconds >= 1, s"--seconds must be >= 1: ${a.seconds}")
    a
  }
}

object Session {
  /** Cores given to Spark: `local[k]` with k = min(2, available cores).
    * Two task threads leave cores for the JIT compiler, the collector and
    * other tenants of a shared host: on a 4-vCPU host with up to one core
    * stolen, local[2] runs measured faster and far steadier than local[4]. */
  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors())

  def start(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Clock {
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Wall milliseconds since the JVM started. */
  def sinceJvmStartMs(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime).toDouble

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest sample with at least ten samples above it; None below
    * forty samples, where such a percentile would be no tail. */
  def tail(xs: Seq[Double]): Option[Double] =
    if (xs.length < 40) None else Some(xs.sorted.apply(xs.length - 11))
}

object Files {
  /** Bytes and count of the data files (not `_SUCCESS`, `.crc` or other
    * hidden files) under a directory tree. */
  def dataFiles(dir: String): (Long, Int) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val fs = walk(new File(dir)).filter { f =>
      val n = f.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    (fs.map(_.length()).sum, fs.length)
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).toSeq.flatten.foreach(c => copyTree(c, new File(dst, c.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)
}

/** A minimal JSON writer for the run's output lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in output: $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Operations attempted and failed, per operation type. */
final class OpCounts {
  private val counts = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
  def attempt(op: String, n: Long = 1, failed: Long = 0): Unit = {
    val (a, f) = counts.getOrElse(op, (0L, 0L))
    counts(op) = (a + n, f + failed)
  }
  def attempted: Long = counts.values.map(_._1).sum
  def failed: Long = counts.values.map(_._2).sum
  def asJson: Map[String, Any] = counts.map { case (k, (a, f)) =>
    k -> Map("attempted" -> a, "failed" -> f)
  }.toMap
}
