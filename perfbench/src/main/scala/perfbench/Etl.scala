package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.core.{GraftConfig, Json, Rules, Sizing}
import graft.operators.{Exporter, Gaps, Normalize, Reporting, Resample, Runner}
import graft.sources.Readers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `etl_batch_csv_2x30k`: `Runner.runBatch` with the default (correct-mode)
  * configuration over a raw directory of two one-symbol CSV files, each a
  * 30k-row 1-minute grid with 1% of rows removed (naive stamps). This is how
  * a user runs the pipeline, one file per instrument: `Readers` parses each
  * CSV (inference pass plus quarantine scan), `Resample` runs a shuffled
  * aggregation, and `Exporter` makes eight small writes, so per-file and
  * per-job cost dominates.
  *
  * Every run's output is checked: no `RunResult.errors`, export row counts
  * equal to the grid arithmetic, and the same `content_hash` per
  * (symbol, timeframe) on every run of the invocation.
  */
object Etl {
  val Timeframes: Seq[String] = Seq("1T", "5T", "15T", "1H")
  private val SeriesKeys = Seq("SYMBOL")

  def batch(ctx: Ctx): Map[String, Any] = {
    val symbols = (0 until 2).map(i => f"SYM$i%02d")
    val gridRows = if (ctx.smoke) 1500 else 30000
    val cfg = GraftConfig()
    val hashes = mutable.Map.empty[(String, String), String]
    var raw: File = null
    var inputRows = 0L
    // one checked run: (wall seconds, bytes written)
    def checkedRun(tag: String): (Double, Long) = {
      val out = ctx.freshDir("out")
      val (sec, results) = ctx.timed(Runner.runBatch(ctx.spark,
        cfg.copy(rawPath = raw.getPath, processedPath = out.getPath), dryRun = false))
      val bytes = Ctx.footprint(out)._2
      ctx.check(tag, verify(results, out, symbols, gridRows, hashes))
      Ctx.delete(out)
      (sec, bytes)
    }

    // set-up: fresh CSV files several times, then one full-size warm-up run
    for (_ <- 0 until ctx.inputReps) {
      val (inS, rows) = ctx.timed {
        if (raw != null) Ctx.delete(raw)
        raw = ctx.freshDir("raw")
        symbols.zipWithIndex.map { case (sym, i) =>
          val s = Gen.series(ctx.seed * 1000 + i, gridRows)
          Gen.writeCsv(s, sym, new File(raw, s"$sym.csv"))
          s.rows.toLong
        }.sum
      }
      inputRows = rows
      ctx.setupSample("input_s", inS)
    }
    ctx.setupSample("warmup_s", checkedRun("warmup")._1)

    if (!ctx.trace) {
      val bytes = mutable.ArrayBuffer.empty[Double]
      val runs = ctx.loop(Ctx.TimedRuns) { i =>
        val (sec, b) = checkedRun(s"run$i")
        bytes += b.toDouble
        sec
      }
      val wall = Ctx.median(runs)
      ctx.metrics("wall_s") = wall
      ctx.metrics("rows_per_s") = inputRows / wall
      ctx.metrics("output_bytes") = Ctx.median(bytes.toSeq)
      ctx.walls = runs
    } else traced(ctx, checkedRun, (tr, out) => {
      val c = cfg.copy(rawPath = raw.getPath, processedPath = out.getPath)
      val files = Option(raw.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).map(_.getPath).sorted
      files.foreach { p =>
        val r = tr.span("sources") { Readers.read(ctx.spark, p) }
        tr.counts("sources.rows") += r.meta("rows").asInstanceOf[Long].toDouble
        try replayOne(ctx, tr, r.df, r.filename, c, out)
        finally r.release()
      }
    })
    Map("input_rows" -> inputRows, "grid_rows_per_symbol" -> gridRows,
      "symbols" -> symbols.size, "resample_mode" -> cfg.resampleMode)
  }

  /** The traced run: one `Runner` run with only the listener attached, for
    * the real concurrent program's Spark totals, then single-threaded
    * replays with one span per layer call, until the time is up.
    */
  private def traced(ctx: Ctx, checkedRun: String => (Double, Long),
                     replay: (Tracer, File) => Unit): Unit = {
    val sc = ctx.spark.sparkContext
    val tr = new Tracer
    sc.addSparkListener(tr)
    val runnerWall = tr.span("runner") { checkedRun("traced_runner")._1 }
    tr.drain(sc)
    val runnerWork = tr.totalWork(tr.spans.head.id, tr.workBySpan())
    val m = ctx.metrics
    val cores = ctx.cores
    m("spark.task_s") = runnerWork.taskMs / 1e3
    m("spark.core_util") = runnerWork.taskMs / 1e3 / (runnerWall * cores)
    m("spark.spill_bytes") = runnerWork.spillBytes.toDouble
    m("spark.gc_s") = runnerWork.gcMs / 1e3
    val record = mutable.ArrayBuffer[Any](tr.records(tr.workBySpan()))

    // replays: per-layer metrics are medians over replays
    val perReplay = mutable.ArrayBuffer.empty[Map[String, Double]]
    ctx.loop(1) { i =>
      tr.reset()
      tr.run = i + 1
      val out = ctx.freshDir("replay")
      val (sec, _) = ctx.timed(tr.span("replay") { replay(tr, out) })
      tr.drain(sc)
      val by = tr.workBySpan()
      record += tr.records(by)
      perReplay += layerMetrics(tr, by, runnerWall)
      Ctx.delete(out)
      sec
    }
    sc.removeSparkListener(tr)
    for (k <- perReplay.head.keys)
      m(k) = Ctx.median(perReplay.map(_(k)).toSeq)
    ctx.traceRecord = ListMap("runner_wall_s" -> runnerWall, "runs" -> record.toList)
  }

  private val Layers = Seq("sources", "normalize", "reporting", "gaps",
    "resample", "exporter")

  /** Per-layer metrics of one replay. */
  private def layerMetrics(tr: Tracer, by: Map[Int, Work],
                           runnerWall: Double): Map[String, Double] = {
    val spans = tr.spans
    val out = mutable.LinkedHashMap.empty[String, Double]
    var busy = 0.0
    for (layer <- Layers) {
      val ss = spans.filter(_.name == layer)
      val w = new Work
      ss.foreach(s => w.add(tr.totalWork(s.id, by)))
      val sec = ss.map(_.seconds).sum
      busy += sec
      out(s"$layer.busy_s") = sec
      out(s"$layer.jobs") = w.jobs.toDouble
      layer match {
        case "reporting" => out("reporting.task_s") = w.taskMs / 1e3
        case "gaps" | "resample" =>
          out(s"$layer.shuffle_write_bytes") = w.shuffleWriteBytes.toDouble
        case _ =>
      }
    }
    out("normalize.report_s") = spans.filter(_.name == "normalize.report")
      .map(_.seconds).sum
    for (k <- Seq("sources.rows", "gaps.rows_added", "exporter.files",
      "exporter.bytes")) out(k) = tr.counts.getOrElse(k, 0.0)
    out("runner.fanout_gain") = busy / runnerWall
    out.toMap
  }

  /** One input frame through the layers, in `Runner.processDataFrame`'s
    * order and with its arguments for a correct-mode configuration, one span
    * per layer call. This mirrors the Runner's call sequence and must follow
    * it when that changes.
    */
  private def replayOne(ctx: Ctx, tr: Tracer, input: DataFrame, basename: String,
                        cfg: GraftConfig, out: File): Unit = {
    val spark = ctx.spark
    val symbol = Runner.inferSymbol(input, basename)
    val injected =
      if (input.columns.exists(_.equalsIgnoreCase("SYMBOL")))
        input.withColumn("SYMBOL", upper(col("SYMBOL")))
      else input.withColumn("SYMBOL", lit(symbol))
    val (ndf, postRows, estBytes) = tr.span("normalize") {
      val n = Normalize(injected, cfg.columnsMap, cfg.requiredColumns,
        cfg.sourceTzDefault, cfg.targetTz, computeReport = true,
        partitionCols = SeriesKeys, policyIfNa = cfg.policyIfNa)
      val est = Sizing.planEstimate(n.unsorted)
      val cached = n.unsorted.persist(Sizing.storageFor(est))
      val rows = cached.count()
      tr.span("normalize.report") { n.reportWithPostCount(rows) }
      n.unpersistSource()
      (cached, rows, est)
    }
    val baseName = Runner.outputBasename(ndf, symbol)
    val quality = tr.span("reporting") {
      Reporting.dataQualityReport(ndf, partitionCols = SeriesKeys,
        knownDistinctTs = true, layoutSorted = true, knownRows = Some(postRows))
    }
    // correct mode (the batch's configuration): one repair at the finest
    // rule, then every timeframe aggregates that repaired base. Rows added
    // are the repair's output rows minus the input rows already on the
    // rule's grid (counted outside the layer's span).
    val gp = cfg.gapPolicy.get
    val baseRule = cfg.timeframes.minBy(Rules.stepSeconds)
    val onGridRows = ndf.filter(unix_timestamp(col(Normalize.TsCol)) %
      Rules.stepSeconds(baseRule) === 0).count()
    val (base, baseRows) = tr.span("gaps") {
      val df = Gaps.repairGaps(ndf, baseRule, gp.useFfillFor, gp.interpolatePrices,
        gp.shortGapMinutes, partitionCols = SeriesKeys, computeReport = false,
        cacheResult = true, assumeSorted = true, crossPartition = true,
        approxResultBytes = estBytes).df
      (df, df.count())
    }
    tr.counts("gaps.rows_added") += (baseRows - onGridRows).toDouble
    for (tf <- cfg.timeframes) {
      val onGrid = tf == baseRule
      val spillSized = onGrid && Sizing.storageFor(estBytes) == StorageLevel.DISK_ONLY
      val res = tr.span("resample") {
        val plain = Resample.resampleOhlc(base, tf, partitionCols = SeriesKeys,
          inputOnBucketGrid = onGrid)
        if (spillSized) plain else { val c = plain.cache(); c.count(); c }
      }
      val path = s"${out.getPath}/${baseName}_${Rules.suffix(tf)}.parquet"
      tr.span("exporter") {
        val report = Exporter.writeParquetWithMetadata(res, path, cfg.compression,
          cfg.partitionCols, Json.obj("exporter_version" -> "v1",
            "timeframe" -> tf, "symbol" -> symbol),
          knownDistinctTs = true, writeMode = cfg.writeMode,
          rowGroupSize = cfg.rowGroupSize)
        Exporter.appendExportLog(s"${out.getPath}/exports", report)
      }
      val (files, bytes) = Ctx.footprint(new File(path))
      val (sFiles, sBytes) = Ctx.footprint(new File(path + ".meta.json"))
      tr.counts("exporter.files") += (files + sFiles).toDouble
      tr.counts("exporter.bytes") += (bytes + sBytes).toDouble
      if (!spillSized) res.unpersist()
    }
    Reporting.saveReport(quality,
      s"${out.getPath}/reports/${basename}_quality.json")
    base.unpersist()
    ndf.unpersist()
  }

  /** Problems with one run's output: errors, row counts, content hashes. */
  private def verify(results: Seq[Runner.RunResult], out: File,
                     symbols: Seq[String], gridRows: Int,
                     hashes: mutable.Map[(String, String), String]): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    if (results.map(_.symbol).sorted != symbols.sorted)
      problems += s"symbols ${results.map(_.symbol).mkString(",")}"
    for (r <- results; (stage, msg) <- r.errors) problems += s"${r.symbol} $stage: $msg"
    val log = new File(out, "exports/export_log.ndjson")
    val entries =
      if (log.isFile) scala.io.Source.fromFile(log).getLines().toList.map(field)
      else Nil
    if (entries.size != symbols.size * Timeframes.size)
      problems += s"${entries.size} export log entries"
    for (e <- entries) {
      val key = (e("symbol"), e("timeframe"))
      val want = gridRows * 60L / Rules.stepSeconds(e("timeframe"))
      if (e("rows") != want.toString) problems += s"$key rows ${e("rows")} != $want"
      val h = e("content_hash")
      if (hashes.getOrElseUpdate(key, h) != h) problems += s"$key content_hash changed"
    }
    problems.toSeq
  }

  private val FieldRe = "\"(symbol|timeframe|rows|content_hash)\"\\s*:\\s*\"?([^\",}]*)".r
  private def field(line: String): Map[String, String] =
    FieldRe.findAllMatchIn(line).map(m => m.group(1) -> m.group(2).trim).toMap
      .withDefaultValue("")
}
