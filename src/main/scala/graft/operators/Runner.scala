package graft.operators

import scala.collection.immutable.ListMap

import graft.core.{GraftConfig, Json, Rules}
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pipeline orchestration (reference O22–O24: src/run.py:60-340): per input
  * — normalize → QA report → per timeframe: gap repair then resample →
  * export with sidecar + NDJSON log. Each stage is isolated so one
  * file/timeframe failing never stops the run (src/run.py:74,189,249,252).
  *
  * The transform graph stays lazy end-to-end; the normalized frame is
  * cached before the multi-timeframe fan-out so the rename/cast/tz/dedup
  * work executes once, not once per timeframe.
  */
object Runner {

  val TsCol: String = Normalize.TsCol

  /** Driver-side pool for concurrent timeframe chains (bounded: each task
    * mostly waits on Spark jobs, not CPU). Daemon threads — the pool must
    * never keep a driver JVM alive after main() returns.
    */
  lazy val tfExecutionContext: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(12,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-tf-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        }))

  private val timing = sys.env.get("GRAFT_TIMING").contains("1")
  /** Optional per-stage timing hook: when set, every timed stage also
    * reports (name, seconds) here — tools/ScaleBench uses it to break the
    * pipeline's scale ratio down by stage (a super-linear stage must not
    * hide inside a healthy total). Called from the concurrent timeframe
    * chains, so the sink must be thread-safe.
    */
  @volatile var timingSink: Option[(String, Double) => Unit] = None
  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    if (timing)
      System.err.println(f"[graft-timing] $name%-28s $sec%8.2f s")
    timingSink.foreach(_(name, sec))
    r
  }

  /** O22: symbol inference — first value of a symbol-ish column, else the
    * basename prefix before '_' (src/run.py:31-49).
    */
  def inferSymbol(df: DataFrame, fallback: String): String =
    Readers.symbolColumn(df.columns.toSeq) match {
      case Some(c) =>
        df.select(col(c)).filter(col(c).isNotNull).limit(1)
          .collect().headOption.map(_.get(0).toString.toUpperCase)
          .getOrElse(fallbackSymbol(fallback))
      case None => fallbackSymbol(fallback)
    }

  private def fallbackSymbol(basename: String): String =
    (if (basename.contains("_")) basename.split("_")(0) else basename).toUpperCase

  /** O23: output name `{symbol}_{minYYYYMMDD}_{maxYYYYMMDD}` + timeframe
    * suffix (src/run.py:280-302).
    */
  def outputBasename(df: DataFrame, symbol: String): String = {
    val r = df.agg(min(col(TsCol)), max(col(TsCol))).collect()(0)
    outputName(symbol, r.getAs[java.sql.Timestamp](0),
      r.getAs[java.sql.Timestamp](1))
  }

  private def outputName(symbol: String, t0: java.sql.Timestamp,
                       t1: java.sql.Timestamp): String = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd").withZone(java.time.ZoneOffset.UTC)
    def day(t: java.sql.Timestamp) =
      Option(t).map(t => fmt.format(t.toInstant)).getOrElse("NA")
    s"${symbol}_${day(t0)}_${day(t1)}"
  }

  final case class StageResult(name: String, rows: Long, path: String)
  final case class RunResult(
      symbol: String,
      normalizationReport: ListMap[String, Any],
      qualityReport: ListMap[String, Any],
      exports: Seq[StageResult],
      errors: Seq[(String, String)])

  /** O24: process one input frame end-to-end (src/run.py:60-253).
    * `firstSymbol` is the symbol column's first non-null value when the
    * caller already measured it ([[Readers.ReadResult.firstSymbol]]); it
    * saves [[inferSymbol]]'s query.
    */
  def processDataFrame(spark: SparkSession, input: DataFrame,
                       cfg: GraftConfig, sourceTz: Option[String],
                       basename: String, outDir: String,
                       computeReports: Boolean = true,
                       firstSymbol: Option[String] = None): RunResult = {

    var errors = Vector.empty[(String, String)]

    // symbol inference + injection (src/run.py:304-319)
    val symbol = firstSymbol.map(_.toUpperCase)
      .getOrElse(inferSymbol(input, basename))
    val injected =
      if (input.columns.exists(_.equalsIgnoreCase("SYMBOL")))
        input.withColumn("SYMBOL", upper(col("SYMBOL")))
      else input.withColumn("SYMBOL", lit(symbol))

    // every window/join/scan below is keyed on the series column — a
    // multi-symbol frame never serializes through one task (the injected
    // SYMBOL column always exists; single-symbol frames are one partition
    // either way, so reference parity is unaffected)
    val seriesKeys = Seq("SYMBOL")

    val normalized0 = timed("normalize")(
      Normalize(injected, cfg.columnsMap, cfg.requiredColumns,
        sourceTz.orElse(cfg.sourceTzDefault), cfg.targetTz,
        computeReport = computeReports,
        partitionCols = seriesKeys,
        policyIfNa = cfg.policyIfNa))
    // cache before the per-timeframe fan-out — the reference re-reads its
    // in-memory frame for free; Spark must not re-run the normalize graph
    // once per timeframe. A narrow pass over the filled cache's own rows
    // (no generated aggregation code) yields both the post-dedup count for
    // the duplicates report and the time extent for the output name.
    // Persist level is size-aware (core.Sizing): in-memory columnar at
    // gate scale, DISK_ONLY past the spill threshold — the 60M-row probe
    // spent >25% of wall in GC with this cache (plus the repair cache)
    // heap-resident. DISK_ONLY keeps the RDD partitioning, so the
    // assumeSorted repair contract below is unaffected.
    val ndfPlain = normalized0.unsorted
    val ndfEstBytes = graft.core.Sizing.planEstimate(ndfPlain)
    val ndf = ndfPlain.persist(graft.core.Sizing.storageFor(ndfEstBytes))
    val (postRows, baseName) = timed("materialize_cache") {
      materialize(ndf)
      val tsIdx = ndf.schema.fieldIndex(TsCol)
      val parts = graft.core.Scan.partitions(ndf) { (_, it) =>
        var n = 0L
        var lo = Long.MaxValue
        var hi = Long.MinValue
        while (it.hasNext) {
          val r = it.next()
          n += 1
          if (!r.isNullAt(tsIdx)) {
            lo = math.min(lo, r.getLong(tsIdx)); hi = math.max(hi, r.getLong(tsIdx))
          }
        }
        Iterator.single((n, lo, hi))
      }
      def stamp(us: Long) =
        if (us == Long.MaxValue || us == Long.MinValue) null
        else DateTimeUtils.toJavaTimestamp(us)
      (parts.map(_._1).sum, outputName(symbol,
        stamp(parts.map(_._2).foldLeft(Long.MaxValue)(math.min)),
        stamp(parts.map(_._3).foldLeft(Long.MinValue)(math.max))))
    }
    // defeated-policy tripwire (ADVICE r15): a LogicalRDD-bridged lineage
    // has no plan size estimate, so the persist above silently kept
    // MEMORY_AND_DISK. Now that the count has run we have a REAL row
    // count — if rows × schema row width lands past the spill threshold,
    // this is exactly the huge-frame case the DISK_ONLY policy targets,
    // running heap-resident with no signal. Warn unconditionally (not
    // just in timing mode) so a defeated policy is visible in any record.
    if (ndfEstBytes.isEmpty) {
      val approxBytes = postRows * ndfPlain.schema.defaultSize
      if (approxBytes > graft.core.Sizing.spillBytes)
        System.err.println("[graft] WARN: normalize cache has no Catalyst " +
          s"size estimate (bridged lineage) but measured $postRows rows " +
          s"(~$approxBytes bytes by schema width) past the spill threshold " +
          s"(${graft.core.Sizing.spillBytes}); persist stayed " +
          "MEMORY_AND_DISK — set GRAFT_MAT_SPILL_BYTES or feed a sized " +
          "lineage if this run GC-thrashes")
    }
    if (timing)
      System.err.println(s"[graft-timing] ndf partitions: ${ndf.rdd.getNumPartitions}" +
        s", est bytes: ${ndfEstBytes.getOrElse(-1L)}" +
        s", level: ${ndf.storageLevel.description}")

    val timeframes = if (cfg.timeframes.nonEmpty) cfg.timeframes else Seq("1T")

    // The per-timeframe chains are independent reads of the cached
    // normalized frame — run them CONCURRENTLY (the reference loops
    // sequentially, src/run.py:192-250; Spark schedules concurrent jobs on
    // one session, so the repair→resample→export chains overlap their
    // shuffle/write latencies instead of stacking them). Failure isolation
    // is unchanged: each chain fails independently. No task here blocks on
    // another task of the pool, so the shared pool cannot starve.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = Runner.tfExecutionContext
    // the normalization-report aggregation reads the cached pre-dedup frame
    // — overlap it with the timeframe chains; the source cache is released
    // only after the agg has run (Normalize's deferred-report contract)
    val normReportF: Future[ListMap[String, Any]] =
      if (computeReports) Future {
        val r = timed("normalize_report")(
          normalized0.reportWithPostCount(postRows))
        normalized0.unpersistSource()
        r
      }
      else { normalized0.unpersistSource()
        Future.successful(ListMap.empty[String, Any]) }
    // the QA report reads only the cached frame — overlap it with the
    // timeframe chains
    val qualityF: Future[ListMap[String, Any]] =
      if (computeReports) Future(timed("quality_report")(
        Reporting.dataQualityReport(ndf, partitionCols = seriesKeys,
          knownDistinctTs = true, layoutSorted = true,
          knownRows = Some(postRows))))
      else Future.successful(ListMap.empty[String, Any])
    // Resample mode (O26 `resampleMode`, SURVEY §7.3). "correct" (default):
    // ONE gap repair at the finest configured rule, then every timeframe is
    // a TRUE aggregation of that repaired base — coarse candles aggregate
    // all base rows (industry semantics), and the pipeline runs one
    // full-frame repair instead of one per timeframe. "faithful": replicate
    // the reference's repair-at-target-rule → grid-sample order
    // (src/run.py:194-216, the §2.2.4 quirk) per timeframe.
    //
    // The per-tf repair report is deliberately not computed: the reference
    // attaches it to DataFrame.attrs (run.py:206) but never persists it —
    // exporter.py only forwards `normalization_report` — so skipping the
    // report aggregation is parity AND removes two jobs per timeframe.
    //
    // `assumeSorted + crossPartition` is sound here: `ndf` is Normalize's
    // keyed-dedup output, guaranteed RANGE-partitioned on (keys, TIMESTAMP)
    // and sorted within partitions — the repair scan runs as a narrow
    // mapPartitions with no shuffle and no sort, parallel across a single
    // symbol's time ranges (cross-boundary state via FastFill's seeds).
    val correctMode = cfg.resampleMode != "faithful"
    val baseRule: Option[String] =
      if (correctMode && cfg.gapPolicy.isDefined)
        Some(timeframes.minBy(Rules.stepSeconds))
      else None
    val baseRepaired: Option[DataFrame] = baseRule.map { rule =>
      val gp = cfg.gapPolicy.get
      // the repaired frame is the normalized frame plus synthesized grid
      // rows — same magnitude, so ndf's estimate serves as its size hint
      val df = Gaps.repairGaps(ndf, rule, gp.useFfillFor,
        gp.interpolatePrices, gp.shortGapMinutes, partitionCols = seriesKeys,
        computeReport = false, cacheResult = true, assumeSorted = true,
        crossPartition = true, approxResultBytes = ndfEstBytes).df
      // materialize BEFORE the fan-out: the chains read this cache
      // concurrently, and racing an unmaterialized cache serializes them
      // all on the partition lock
      timed(s"repair_base_$rule")(materialize(df))
      df
    }

    def export(tf: String, res: DataFrame): ListMap[String, Any] =
      timed(s"export_$tf")(
        Exporter.writeParquetWithMetadata(res,
          s"$outDir/${baseName}_${Rules.suffix(tf)}.parquet",
          cfg.compression, cfg.partitionCols,
          Json.obj("exporter_version" -> "v1",
            "timeframe" -> tf, "symbol" -> symbol),
          knownDistinctTs = true,
          writeMode = cfg.writeMode,
          rowGroupSize = cfg.rowGroupSize))

    // Every timeframe resampled from the shared source — correct mode's
    // base rule and every rule aggregated from that base (or from the
    // normalized frame without a gap policy) — comes from ONE multi-rule
    // resample into ONE cached frame tagged by rule: on this sorted range
    // layout a narrow scan with no shuffle, one materialization, and one
    // export plan shape (a rule slice), so code is generated once instead
    // of once per rule. The cache is materialized before any slice is
    // exported: racing the FIRST computation of a cached plan serializes
    // the jobs on the cache's partition locks.
    // EXCEPTION — at spill scale the base rule's projection is the
    // pipeline's largest frame, and caching it again builds a second
    // full-size copy (the row-linear `resample_1T` build the 30× record
    // shows at 0.16 s -> 4.5 s) that a DISK_ONLY source re-read serves
    // just as well — so past the Sizing threshold it stays an uncached
    // chain of its own and its export reads the spilled repair cache.
    val spillSized =
      graft.core.Sizing.storageFor(ndfEstBytes) == StorageLevel.DISK_ONLY
    val aggregated =
      if (correctMode || cfg.gapPolicy.isEmpty) timeframes.filterNot(baseRule.contains)
      else Nil
    val projected = if (spillSized) Nil else baseRule.toSeq
    val fusedF: Option[Future[DataFrame]] =
      if (aggregated.isEmpty && projected.isEmpty) None
      else Some(Future {
        val all = Resample.resampleOhlcRules(baseRepaired.getOrElse(ndf),
          projected ++ aggregated, partitionCols = seriesKeys,
          layoutSorted = true).cache()
        try timed("resample")(materialize(all))
        catch { case e: Throwable => all.unpersist(); throw e }
        all
      })
    val fused = (projected ++ aggregated).toSet

    // The other timeframes resample an on-grid frame of their own: faithful
    // mode's per-timeframe repair, or the spill-sized base rule.
    def ownChain(tf: String): ListMap[String, Any] = {
      val (src, repairedHere) = baseRepaired match {
        case Some(base) => (base, false)
        case None =>
          val gp = cfg.gapPolicy.get
          val r = Gaps.repairGaps(ndf, tf, gp.useFfillFor,
            gp.interpolatePrices, gp.shortGapMinutes,
            partitionCols = seriesKeys, computeReport = false,
            cacheResult = true, assumeSorted = true,
            crossPartition = true, approxResultBytes = ndfEstBytes).df
          // materialize here so the export's write and hash read a hot
          // cache instead of racing its first computation
          timed(s"repair_$tf")(materialize(r))
          (r, true)
      }
      val resPlain = Resample.resampleOhlc(src, tf,
        partitionCols = seriesKeys, inputOnBucketGrid = true)
      // cached (below spill scale, see above) so the export's write and
      // hash read a hot cache: measured at the gate scale, dropping this
      // cache re-scans the repair cache per action × concurrent chains
      // and the pipeline went 3.6 s -> 5.0 s
      val res = if (spillSized) resPlain else resPlain.cache()
      try {
        if (!spillSized) timed(s"resample_$tf")(materialize(res))
        export(tf, res)
      } finally {
        if (!spillSized) res.unpersist()
        if (repairedHere) src.unpersist()
      }
    }

    val results: Seq[(String, Future[ListMap[String, Any]])] = timeframes.map { tf =>
      tf -> (fusedF match {
        case Some(f) if fused.contains(tf) =>
          f.map(m => export(tf, Resample.ruleSlice(m, tf)))
        case _ => Future(ownChain(tf))
      })
    }
    var reports = Vector.empty[(String, ListMap[String, Any])]
    for ((tf, f) <- results) {
      try reports :+= tf -> Await.result(f, Duration.Inf)
      catch { case e: Exception => errors :+= s"timeframe_$tf" -> e.getMessage }
    }
    // the NDJSON log gets this input's entries as ONE block in timeframe
    // order — concurrent files never interleave their lines
    Exporter.appendExportLogBlock(s"$outDir/exports", reports.map(_._2))
    val exports = reports.map { case (tf, r) =>
      StageResult(s"${baseName}_${Rules.suffix(tf)}",
        r("rows").asInstanceOf[Long], r("path").toString)
    }
    val quality =
      try Await.result(qualityF, Duration.Inf)
      catch { case e: Exception => errors :+= "quality_report" -> e.getMessage
        ListMap.empty[String, Any] }
    val normReport =
      try Await.result(normReportF, Duration.Inf)
      catch { case e: Exception => errors :+= "normalize_report" -> e.getMessage
        ListMap.empty[String, Any] }
    if (computeReports && cfg.saveReports)
      try Reporting.saveReport(quality, s"$outDir/reports/${basename}_quality.json")
      catch { case e: Exception => errors :+= "save_report" -> e.getMessage }

    fusedF.flatMap(_.value).flatMap(_.toOption).foreach(_.unpersist())
    baseRepaired.foreach(_.unpersist())
    ndf.unpersist()
    RunResult(symbol, normReport, quality, exports, errors)
  }

  /** Fill a cached frame's cache by writing it to the no-op sink: unlike
    * `count()` it generates no aggregation code, and unlike a raw RDD
    * action it runs as a SQL execution — a cache built from outside one
    * runs its shuffle stages in a context whose generated classes are not
    * reused by the next run (measured: ~14 classes recompiled per run).
    */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Admission of batch files into the pipeline: at most `maxFiles` in
    * flight, and their summed `bytes` within `budgetBytes` — except that
    * one file is always admitted, however large. Acquire and release
    * calls must pair; admission is first come, first served.
    */
  private final class FileAdmission(maxFiles: Int, budgetBytes: Long) {
    private var files = 0
    private var bytes = 0L
    def acquire(size: Long): Unit = synchronized {
      while (files > 0 && (files >= maxFiles || bytes + size > budgetBytes))
        wait()
      files += 1; bytes += size
    }
    def release(size: Long): Unit = synchronized {
      files -= 1; bytes -= size
      notifyAll()
    }
  }

  /** EP1: full batch run over a raw directory.
    *
    * Each file is read and processed as its own concurrent chain, so the
    * jobs of several files overlap and a file reuses the generated code
    * the one before it compiled moments earlier (concurrent loads of one
    * class are deduplicated by Spark's codegen cache). Results come back
    * in sorted file order; an unreadable or unsupported file is
    * quarantined (skipped), never failing the batch (extractor.py:56-59).
    *
    * Files in flight are bounded by the two limits Sizing already rests
    * on. Memory: one file's pipeline keeps two large frames cached at once
    * (normalized + repaired), and Sizing keeps that pair within half the
    * heap by spilling any frame past `spillBytes`. Concurrent files share
    * that budget: a file is admitted while the in-flight files' on-disk
    * bytes (the stand-in for their frames' size) sum to at most
    * `spillBytes`, so their pairs together stay near half the heap; a
    * file larger than that runs alone. CPU: at most one file per core —
    * a file's pipeline is a chain of small jobs, so more files than cores
    * only queue tasks. File chains run on their own pool, sized to that
    * bound: they block on their timeframe chains, and must never hold
    * threads of the pool those chains need.
    */
  def runBatch(spark: SparkSession, cfg: GraftConfig,
               dryRun: Boolean = true): Seq[RunResult] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val files = Option(new java.io.File(cfg.rawPath).listFiles())
      .getOrElse(Array.empty).filter(_.isFile).sortBy(_.getPath).toSeq
    val cores = Runtime.getRuntime.availableProcessors
    val admission = new FileAdmission(cores, graft.core.Sizing.spillBytes)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(cores, files.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)

    def runFile(path: String): Option[RunResult] =
      scala.util.Try(Readers.read(spark, path)).toOption.map { r =>
        try
          if (dryRun)
            RunResult(r.firstSymbol.map(_.toUpperCase)
              .getOrElse(inferSymbol(r.df, r.filename)), ListMap.empty,
              ListMap.empty, Nil, Nil)
          else
            processDataFrame(spark, r.df, cfg, cfg.sourceTzDefault,
              r.filename, cfg.processedPath, firstSymbol = r.firstSymbol)
        // the pipeline materialized (and cached) everything it derives
        // from the source frame — the read-time parse cache can go
        finally r.release()
      }

    try {
      val futures = files.map { f =>
        val size = f.length()
        admission.acquire(size)
        Future(try runFile(f.getPath) finally admission.release(size))
      }
      // wait for every file before surfacing the first failure, so no
      // pipeline keeps running after this call returns
      val outcomes = futures.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      outcomes.flatMap(_.get)
    } finally pool.shutdown()
  }
}
