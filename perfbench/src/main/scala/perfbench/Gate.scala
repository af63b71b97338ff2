package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.SparkEntry

/** `gate_queries_mix`: five gate queries over seeded tables (gen_tables.py,
  * a tenth of the sf0.1 row counts), each fully materialized through the
  * `noop` sink — a `count()` would let Catalyst prune the columns the query
  * computes. One run is one pass over the five. The two iterative queries
  * are the connected-components and label-propagation loops; the three
  * single-pass ones are two whose cost `count()` hides (span dedup,
  * bootstrap CI) and the as-of join operator.
  */
object Gate {
  val Queries: Seq[String] = Seq("q290_graph_components",
    "q314_label_propagation", "q77_span_dedup", "q194_bootstrap_ci",
    "q44_asof_operator")

  /** Table sizes as a share of the sf0.1 row counts. */
  val Scale = 0.1
  val SmokeScale = 0.01

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val scale = if (ctx.smoke) SmokeScale else Scale
    var dir: File = null
    var inputRows = 0L

    // one checked pass over the mix, each query through the noop sink
    def pass(tag: String, tr: Option[Tracer]): Double = {
      val (sec, _) = ctx.timed(Queries.foreach { q =>
        val problems = try {
          tr match {
            case Some(t) => t.span(q) {
              val df = t.span(s"$q.build")(SparkEntry.queries(q)(spark, dir.getPath))
              t.span(s"$q.run")(df.write.format("noop").mode("overwrite").save())
            }
            case None =>
              SparkEntry.queries(q)(spark, dir.getPath)
                .write.format("noop").mode("overwrite").save()
          }
          Nil
        } catch { case e: Exception => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        ctx.check(s"$tag/$q", problems)
      })
      sec
    }

    // set-up: fresh tables several times, then one full-size warm-up pass
    // that also dumps every result for the DuckDB parity check (each query
    // result as parquet plus its oracle SQL, read by tools/check_parity.py)
    for (_ <- 0 until ctx.inputReps) {
      val (inS, rows) = ctx.timed {
        if (dir != null) Ctx.delete(dir)
        dir = ctx.freshDir("tables")
        genTables(ctx, scale, dir)
      }
      inputRows = rows
      ctx.setupSample("input_s", inS)
    }
    val verifyDir = new File(ctx.work, "verify")
    val (warmS, _) = ctx.timed(graft.Verify.main(Array(dir.getPath,
      verifyDir.getPath, Queries.mkString(","))))
    ctx.setupSample("warmup_s", warmS)
    ctx.check("parity_dump", Option(verifyDir.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith("_ERROR.txt")).toSeq)

    if (!ctx.trace) {
      val walls = ctx.loop(Ctx.TimedRuns)(i => pass(s"run$i", None))
      val wall = Ctx.median(walls)
      ctx.metrics("wall_s") = wall
      ctx.metrics("rows_per_s") = inputRows / wall
      // the queries write nothing themselves: count their results' bytes,
      // as the parity dump wrote them
      ctx.metrics("output_bytes") = Queries.map(q =>
        Ctx.footprint(new File(verifyDir, q))._2).sum.toDouble
      ctx.walls = walls
    } else traced(ctx, dir, pass)
    Map("scale_of_sf0.1" -> scale, "tables" -> dir.getPath.stripPrefix(
      ctx.work.getPath + "/"), "input_rows" -> inputRows, "queries" -> Queries)
  }

  /** Runs the seeded table generator; returns the total row count. */
  private def genTables(ctx: Ctx, scale: Double, dir: File): Long = {
    val p = new ProcessBuilder(ctx.python, ctx.benchFile("gen_tables.py"),
      "--seed", ctx.seed.toString, "--scale", scale.toString, "--out", dir.getPath)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    require(p.waitFor() == 0, s"gen_tables.py failed: $out")
    "\"\\w+\": (\\d+)".r.findAllMatchIn(out).map(_.group(1).toLong).sum
  }

  /** Untraced and traced passes in turn, until the time is up: per-query
    * metrics are medians over the traced passes, and the traced-minus-
    * untraced pass time is the tracing overhead.
    */
  private def traced(ctx: Ctx, dir: File,
                     pass: (String, Option[Tracer]) => Double): Unit = {
    val sc = ctx.spark.sparkContext
    val plain = mutable.ArrayBuffer.empty[Double]
    val withTrace = mutable.ArrayBuffer.empty[Double]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val record = mutable.ArrayBuffer.empty[Any]
    ctx.loop(1) { i =>
      plain += pass(s"untraced$i", None)
      val tr = new Tracer
      tr.run = i + 1
      sc.addSparkListener(tr)
      val sec = tr.span("pass")(pass(s"traced$i", Some(tr)))
      tr.drain(sc)
      sc.removeSparkListener(tr)
      withTrace += sec
      val by = tr.workBySpan()
      record += tr.records(by)
      perPass += queryMetrics(ctx, tr, by, sec)
      plain.last + sec
    }
    val m = ctx.metrics
    for (k <- perPass.head.keys)
      m(k) = Ctx.median(perPass.map(_(k)).toSeq)
    m("trace.overhead_s") = Ctx.median(withTrace.toSeq) - Ctx.median(plain.toSeq)
    ctx.traceRecord = ListMap("untraced_pass_s" -> plain.toList,
      "traced_pass_s" -> withTrace.toList, "runs" -> record.toList)
  }

  private def queryMetrics(ctx: Ctx, tr: Tracer, by: Map[Int, Work],
                           passSec: Double): Map[String, Double] = {
    val spans = tr.spans
    val out = mutable.LinkedHashMap.empty[String, Double]
    def one(name: String) = spans.find(_.name == name).get
    for (q <- Queries) {
      val s = one(q)
      val w = tr.totalWork(s.id, by)
      out(s"queries.$q.s") = s.seconds
      out(s"queries.$q.build_s") = one(s"$q.build").seconds
      out(s"queries.$q.run_s") = one(s"$q.run").seconds
      out(s"queries.$q.jobs") = w.jobs.toDouble
      out(s"queries.$q.shuffle_bytes") = w.shuffleWriteBytes.toDouble
      out(s"queries.$q.skew") = w.skew
    }
    val all = tr.totalWork(spans.find(_.name == "pass").get.id, by)
    out("spark.task_s") = all.taskMs / 1e3
    out("spark.core_util") = all.taskMs / 1e3 / (passSec * ctx.cores)
    out("spark.spill_bytes") = all.spillBytes.toDouble
    out("spark.gc_s") = all.gcMs / 1e3
    out.toMap
  }
}
