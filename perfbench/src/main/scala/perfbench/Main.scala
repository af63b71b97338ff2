package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one JVM, one seed.
  *
  * usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                       --trace <0|1> --work <dir> --bench <perfbench dir>
  *                       --python <python3> [--smoke 1]
  *
  * Load shape: `local[N]` with N = available processors and N shuffle
  * partitions, one closed-loop client (the next run starts when the previous
  * one has returned), no other load. Writes `result.json` (metrics, counts,
  * host stamp) and, when tracing, `trace.json` into the work directory.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val smoke = args.getOrElse("smoke", "0") == "1"
    val work = new File(args("work")).getAbsoluteFile
    val benchDir = new File(args("bench")).getAbsoluteFile
    work.mkdirs()
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, cores, work, benchDir, args("python"), seed, seconds,
      smoke, trace)
    ctx.setupSample("session_s", sessionS)
    val shape = workload match {
      case "etl_batch_csv_2x30k" => Etl.batch(ctx)
      case "gate_queries_mix" => Gate.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val m = ctx.metrics
    val setup = ctx.setup.map { case (k, v) => k -> Ctx.median(v.toSeq) }
    if (trace) {
      for (k <- Seq("session_s", "input_s", "warmup_s"))
        m(s"setup.$k") = setup.getOrElse(k, 0.0)
    } else {
      m("setup_s") = setup("session_s") + setup("input_s") + setup("warmup_s")
      m("peak_rss_mb") = Ctx.peakRssMb()
    }
    val stamp = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "smoke" -> smoke,
      "cores" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "shape" -> shape, "load_avg_start" -> loadAvg,
      "input_reps" -> ctx.inputReps, "timed_runs_s" -> ctx.walls,
      "notes" -> ctx.notes.toList)
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> m,
      "stamp" -> stamp)
    if (trace) Ctx.write(new File(work, "trace.json").toPath, ctx.traceRecord)
    Ctx.write(new File(work, "result.json").toPath, result)
    spark.stop()
  }
}

/** Shared state of one benchmark invocation. */
final class Ctx(val spark: SparkSession, val cores: Int, val work: File,
                benchDir: File, val python: String, val seed: Long,
                val seconds: Double, val smoke: Boolean, val trace: Boolean) {
  /** How many times set-up makes fresh inputs (the median is reported). */
  val inputReps: Int = if (smoke) 1 else 3
  def benchFile(name: String): String = new File(benchDir, name).getPath
  /** Reported metrics by name (units are BENCHMARK.json's). */
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Set-up phase samples (session_s, input_s, warmup_s). */
  val setup: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  def setupSample(phase: String, seconds: Double): Unit = {
    setup.getOrElseUpdate(phase, mutable.ArrayBuffer.empty) += seconds
    log(f"setup $phase $seconds%.3f s")
  }
  /** Progress line on stderr (the JVM log). */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  var attempted = 0
  var failed = 0
  /** Wall times of the timed runs (stamped with the result). */
  var walls: Seq[Double] = Nil
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Everything the traced run records, written to trace.json. */
  var traceRecord: Any = Nil
  private var dirs = 0

  /** Records one operation and the problems its output check found. */
  def check(op: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (notes.size < 20) notes += s"$op: ${problems.take(3).mkString("; ")}"
    }
  }

  /** A new empty directory under the work directory. */
  def freshDir(prefix: String): File = {
    dirs += 1
    val d = new File(work, f"$prefix-$dirs%04d")
    Ctx.delete(d)
    d.mkdirs()
    d
  }

  /** Seconds `f` takes, with `f`'s result. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Runs `op` in a closed loop until `seconds` have passed and at least
    * `minRuns` runs are done; returns each run's wall time. A collection
    * before each run keeps one run's garbage out of the next one's time.
    */
  def loop(minRuns: Int)(op: Int => Double): Seq[Double] = {
    val until = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.size < minRuns || System.nanoTime() < until) {
      System.gc()
      out += op(out.size)
      log(f"run ${out.size} ${out.last}%.3f s")
    }
    out.toSeq
  }
}

object Ctx {
  /** Timed runs per invocation at least; the median is reported. */
  val TimedRuns = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** (files, bytes) of every regular file under `f`. */
  def footprint(f: File): (Long, Long) =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).map(footprint)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (1L, f.length())
    else (0L, 0L)

  def json(x: Any): String = x match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => json(k.toString) + ": " + json(v) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }

  def write(path: Path, x: Any): Unit = Files.writeString(path, json(x) + "\n")
}
