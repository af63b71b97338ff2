package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.GraftConfig
import graft.operators.Runner

/** End-to-end EP1 run on a synthetic OHLC CSV: extract → normalize → QA →
  * repair+resample per timeframe → export + NDJSON log (src/run.py shape).
  */
class RunnerSpec extends SparkSpec {

  test("full batch pipeline produces per-timeframe parquet + logs") {
    val work = Files.createTempDirectory("graft_e2e")
    val raw = Files.createDirectories(work.resolve("raw"))
    val outDir = work.resolve("processed").toString

    // 30 one-minute candles with a 3-minute hole, duplicated stamp, symbol col
    val sb = new StringBuilder("timestamp,open,high,low,close,volume,symbol\n")
    for (m <- 0 until 30 if m < 10 || m > 12) {
      val o = 1.10 + m * 0.001
      sb.append(f"2024-01-01 00:$m%02d:00,$o%.4f,${o + 0.0005}%.4f," +
        f"${o - 0.0005}%.4f,${o + 0.0002}%.4f,${100 + m},eurusd\n")
    }
    sb.append("2024-01-01 00:05:00,9.9,9.9,9.9,9.9,1,eurusd\n") // dup stamp
    Files.writeString(raw.resolve("EURUSD_202401.csv"), sb.toString)

    val cfg = GraftConfig(
      rawPath = raw.toString,
      processedPath = outDir,
      timeframes = Seq("1T", "5T"),
      partitionCols = Nil)

    val results = Runner.runBatch(spark, cfg, dryRun = false)
    assert(results.length == 1)
    val r = results.head
    assert(r.symbol == "EURUSD")
    assert(r.errors.isEmpty, s"no stage errors: ${r.errors}")
    assert(r.exports.length == 2)

    // 1T export: full 30-stamp repaired grid
    val e1 = r.exports.find(_.name.endsWith("_1m")).get
    assert(e1.rows == 30, "gap-repaired to the full minute grid")
    assert(spark.read.parquet(e1.path).count() == 30)
    // dedup keep-first: the 9.9 duplicate row lost
    assert(spark.read.parquet(e1.path)
      .filter(org.apache.spark.sql.functions.col("OPEN") === 9.9).count() == 0)

    val e5 = r.exports.find(_.name.endsWith("_5m")).get
    assert(e5.rows == 6)

    // sidecar + ndjson written
    assert(Files.exists(Paths.get(e1.path + ".meta.json")))
    val log = Files.readAllLines(
      Paths.get(s"$outDir/exports/export_log.ndjson"))
    assert(log.size() == 2)
    // quality report saved
    assert(Files.list(Paths.get(s"$outDir/reports")).toArray.nonEmpty)
    // dry-run writes nothing
    val dryDir = work.resolve("dry").toString
    Runner.runBatch(spark, cfg.copy(processedPath = dryDir), dryRun = true)
    assert(!Files.exists(Paths.get(dryDir)))
  }

  /** `n` one-minute candles of `sym` from 2024-01-01 (every 7th minute
    * after the first missing), with a symbol column, as `<sym>.csv`.
    */
  private def writeSeries(dir: java.nio.file.Path, sym: String, n: Int,
                          seed: Int): Unit = {
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val sb = new StringBuilder("timestamp,open,high,low,close,volume,symbol\n")
    for (m <- 0 until n if m % 7 != 3) {
      val o = 1.0 + seed * 0.1 + ((m * 37 + seed) % 101) * 0.001
      sb.append(f"${fmt.format(t0.plusMinutes(m.toLong))},$o%.5f," +
        f"${o + 0.0007}%.5f,${o - 0.0006}%.5f,${o + 0.0001}%.5f," +
        s"${100 + (m * 13 + seed) % 50},$sym\n")
    }
    Files.writeString(dir.resolve(s"$sym.csv"), sb.toString)
  }

  /** The export log's (symbol, timeframe, rows, content_hash) per line. */
  private def exportLog(outDir: String): Seq[Map[String, String]] = {
    val field = "\"(symbol|timeframe|rows|content_hash)\"\\s*:\\s*\"?([^\",}]*)".r
    Files.readAllLines(Paths.get(s"$outDir/exports/export_log.ndjson"))
      .asScala.toSeq.map(l =>
        field.findAllMatchIn(l).map(m => m.group(1) -> m.group(2).trim).toMap)
  }

  test("batch of files: sorted results, one-file parity, one log block per file") {
    val work = Files.createTempDirectory("graft_multi")
    val raw = Files.createDirectories(work.resolve("raw"))
    val syms = Seq("AAA", "BBB", "CCC")
    for ((sym, i) <- syms.zipWithIndex) writeSeries(raw, sym, 240 + 60 * i, i)
    Files.writeString(raw.resolve("bad.xyz"), "not a supported file")
    val cfg = GraftConfig(rawPath = raw.toString,
      processedPath = work.resolve("all").toString)

    val results = Runner.runBatch(spark, cfg, dryRun = false)
    assert(results.map(_.symbol) == syms, "sorted file order, bad.xyz skipped")
    assert(results.forall(_.errors.isEmpty), results.flatMap(_.errors))
    val log = exportLog(cfg.processedPath)
    val tfs = cfg.timeframes
    assert(log.size == syms.size * tfs.size)
    // one contiguous block per file, in configured timeframe order
    for (block <- log.grouped(tfs.size)) {
      assert(block.map(_("symbol")).distinct.size == 1, block)
      assert(block.map(_("timeframe")) == tfs, block)
    }
    assert(log.map(_("symbol")).distinct.sorted == syms)

    // every (symbol, timeframe) equals a one-file run of that file
    def rows(path: String) =
      spark.read.parquet(path).orderBy("TIMESTAMP").collect().toSeq
    for ((sym, r) <- syms.zip(results)) {
      val solo = Files.createDirectories(work.resolve(s"solo_$sym"))
      Files.copy(raw.resolve(s"$sym.csv"), solo.resolve(s"$sym.csv"))
      val out = work.resolve(s"out_$sym").toString
      val one = Runner.runBatch(spark,
        cfg.copy(rawPath = solo.toString, processedPath = out), dryRun = false)
      assert(one.map(_.symbol) == Seq(sym))
      def entries(l: Seq[Map[String, String]]) =
        l.filter(_("symbol") == sym)
          .map(e => (e("timeframe"), e("rows"), e("content_hash")))
      assert(entries(log) == entries(exportLog(out)), sym)
      assert(r.exports.map(_.name) == one.head.exports.map(_.name))
      for ((a, b) <- r.exports.zip(one.head.exports))
        assert(rows(a.path) == rows(b.path), a.name)
    }
  }

  test("a steady-state batch run compiles no generated code") {
    // Spark's codegen cache holds 100 classes (default): one file's
    // pipeline must fit it, or every run of a batch recompiles its code
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val work = Files.createTempDirectory("graft_codegen")
    val raw = Files.createDirectories(work.resolve("raw"))
    for (i <- 0 until 2) writeSeries(raw, f"SYM$i%02d", 600, i)
    val cfg = GraftConfig(rawPath = raw.toString)
    def run(tag: String): Long = {
      val c0 = METRIC_COMPILATION_TIME.getCount
      val r = Runner.runBatch(spark,
        cfg.copy(processedPath = work.resolve(tag).toString), dryRun = false)
      assert(r.size == 2 && r.forall(_.errors.isEmpty), r.flatMap(_.errors))
      METRIC_COMPILATION_TIME.getCount - c0
    }
    run("first")
    assert(run("second") == 0, "the second run recompiled generated classes")
  }

  test("resample modes: correct aggregates the base grid, faithful grid-samples") {
    import org.apache.spark.sql.functions.col
    val work = Files.createTempDirectory("graft_modes")
    val raw = Files.createDirectories(work.resolve("raw"))
    // 30 one-minute candles, no gaps: minute m has OPEN=1.10+m*0.001,
    // HIGH=OPEN+0.0005, VOLUME=100+m
    val sb = new StringBuilder("timestamp,open,high,low,close,volume\n")
    for (m <- 0 until 30) {
      val o = 1.10 + m * 0.001
      sb.append(f"2024-01-01 00:$m%02d:00,$o%.4f,${o + 0.0005}%.4f," +
        f"${o - 0.0005}%.4f,${o + 0.0002}%.4f,${100 + m}\n")
    }
    Files.writeString(raw.resolve("EURUSD_modes.csv"), sb.toString)

    def run(mode: String): org.apache.spark.sql.DataFrame = {
      val out = work.resolve(s"out_$mode").toString
      val cfg = GraftConfig(rawPath = raw.toString, processedPath = out,
        timeframes = Seq("1T", "5T"), partitionCols = Nil,
        resampleMode = mode)
      val r = Runner.runBatch(spark, cfg, dryRun = false).head
      assert(r.errors.isEmpty, s"$mode errors: ${r.errors}")
      spark.read.parquet(r.exports.find(_.name.endsWith("_5m")).get.path)
    }

    // correct mode: the 00:00 5T candle aggregates minutes 0-4
    val c = run("correct").orderBy("TIMESTAMP").collect()
    assert(c.length == 6)
    assert(math.abs(c(0).getAs[Double]("OPEN") - 1.1) < 1e-9)
    assert(math.abs(c(0).getAs[Double]("HIGH") - 1.1045) < 1e-9, "max of m=0..4")
    assert(math.abs(c(0).getAs[Double]("CLOSE") - 1.1042) < 1e-9, "last of m=0..4")
    assert(math.abs(c(0).getAs[Double]("VOLUME") - 510.0) < 1e-9, "sum 100..104")

    // faithful mode: the 00:00 candle is the boundary-minute grid sample
    // (the reference's §2.2.4 repair-at-rule quirk)
    val f = run("faithful").orderBy("TIMESTAMP").collect()
    assert(f.length == 6)
    assert(math.abs(f(0).getAs[Double]("HIGH") - 1.1005) < 1e-9, "m=0 row only")
    assert(math.abs(f(0).getAs[Double]("VOLUME") - 100.0) < 1e-9, "m=0 row only")
  }

  test("ndjson reader: malformed lines quarantine, clean docs round-trip") {
    import org.apache.spark.sql.types._
    val work = Files.createTempDirectory("graft_ndjson")
    val sb = new StringBuilder
    for (i <- 0 until 5)
      sb.append(s"""{"doc_id": $i, "text": "doc body $i"}\n""")
    sb.append("{not json at all\n")
    sb.append("""{"doc_id": "boom", "text": "type-corrupt id"}""" + "\n")
    val p = work.resolve("docs.jsonl")
    Files.writeString(p, sb.toString)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val r = graft.sources.Readers.readNdjson(spark, p.toString, Some(schema))
    assert(r.meta("corrupt_rows") == 2L, s"meta: ${r.meta}")
    assert(r.meta("rows") == 5L && r.df.count() == 5)
    val rows = r.df.orderBy(graft.sources.Readers.FileOrderCol).collect()
    assert(rows(0).getAs[Long]("doc_id") == 0L &&
      rows(4).getAs[String]("text") == "doc body 4")
    r.release()
    assert(r.df.count() == 5, "recompute after release identical")

    // first-contact read: no declared schema → inference pre-pass (CSV
    // parity). The inferred schema must not leak Spark's default corrupt
    // column, and only the parser-breaking line quarantines (the
    // "boom" id is VALID JSON — inference widens doc_id to string,
    // value badness flows to Normalize's try_cast like dirty CSV)
    val inf = graft.sources.Readers.readNdjson(spark, p.toString)
    assert(!inf.df.columns.contains("_corrupt_record"), inf.df.columns.toSeq)
    assert(inf.meta("corrupt_rows") == 1L, s"meta: ${inf.meta}")
    assert(inf.meta("rows") == 6L && inf.df.count() == 6)
    inf.release()
  }

  test("row quarantine: malformed CSV rows drop and are counted, good rows survive") {
    import org.apache.spark.sql.types._
    val work = Files.createTempDirectory("graft_rowquar")
    // 5 good rows + 2 value-corrupt rows under the DECLARED ingestion
    // schema — the reference contract (extractor.py:56-59) is that a dirty
    // file never fails the batch; the scale note demands the bad ROWS drop
    // instead of the whole file
    val sb = new StringBuilder("timestamp,open,close\n")
    for (m <- 0 until 5)
      sb.append(f"2024-01-01 00:0$m:00,1.1$m,1.2$m\n")
    sb.append("2024-01-01 00:05:00,boom,1.25\n")
    sb.append("2024-01-01 00:06:00,1.16,also-not-a-price\n")
    val p = work.resolve("mixed.csv")
    Files.writeString(p, sb.toString)

    val declared = StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("open", DoubleType), StructField("close", DoubleType)))
    val r = graft.sources.Readers.readCsv(spark, p.toString, Some(declared))
    assert(r.meta("corrupt_rows") == 2L, s"meta: ${r.meta}")
    // sidecar parity with the reference reader metadata (csv_reader.py:
    // 29-35): rows = clean count, plus path/format/columns/status
    assert(r.meta("rows") == 5L, s"meta: ${r.meta}")
    assert(Seq("path", "format", "rows", "columns", "status")
      .forall(r.meta.contains), s"meta: ${r.meta}")
    assert(r.df.count() == 5)
    r.release() // post-materialization: recompute must be identical
    assert(r.df.count() == 5)
    // surviving rows keep typed columns and in-file order; any downstream
    // query shape is legal (no corrupt column in the plan)
    val rows = r.df.orderBy(graft.sources.Readers.FileOrderCol).collect()
    assert(rows.length == 5)
    assert(math.abs(rows(0).getAs[Double]("open") - 1.10) < 1e-9)
    assert(math.abs(rows(4).getAs[Double]("close") - 1.24) < 1e-9)

    // inferred-schema path: the dirty column widens to string (pandas
    // to_numeric-coerce parity downstream), nothing quarantines
    val inferred = graft.sources.Readers.readCsv(spark, p.toString)
    assert(inferred.meta("corrupt_rows") == 0L)
    assert(inferred.meta("rows") == 7L)
    assert(inferred.df.count() == 7)
    inferred.release()

    // O27 parity: pipeline activity lands in $LOG_DIR/etl.log (the
    // classpath log4j2 config ships a rolling-file appender; LOG_DIR
    // defaults to ./logs like the reference's utils/logger.py:11-27)
    val logFile = new java.io.File(
      sys.env.getOrElse("LOG_DIR", "logs"), "etl.log")
    assert(logFile.isFile && logFile.length() > 0,
      s"rolling log expected at $logFile")
  }

  test("glob ingestion: one scan over a drop directory with file provenance") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val work = Files.createTempDirectory("graft_glob")
    val raw = Files.createDirectories(work.resolve("raw"))
    for (f <- Seq("a", "b")) {
      val sb = new StringBuilder("timestamp,close\n")
      for (m <- 0 until 4)
        sb.append(f"2024-01-0${if (f == "a") 1 else 2} 00:0$m:00,1.$m$m\n")
      Files.writeString(raw.resolve(s"$f.csv"), sb.toString)
    }
    val declared = StructType(Seq(
      StructField("timestamp", TimestampType), StructField("close", DoubleType)))
    val df = graft.sources.Readers.loadGlob(spark, raw.toString,
      schema = Some(declared))
    assert(df.count() == 8)
    val perFile = df.groupBy(graft.sources.Readers.SourceFileCol).count()
      .collect().map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(perFile == Map("a.csv" -> 4L, "b.csv" -> 4L))
    // in-file order: ids ascend within each file
    val orders = df.filter(col(graft.sources.Readers.SourceFileCol).endsWith("a.csv"))
      .orderBy("timestamp")
      .select(graft.sources.Readers.FileOrderCol).collect().map(_.getLong(0))
    assert(orders.toSeq == orders.sorted.toSeq)
  }

  test("glob ingestion: ndjson and orc globs read with provenance") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val work = Files.createTempDirectory("graft_glob_fmt")
    val nd = Files.createDirectories(work.resolve("nd"))
    for (f <- Seq("a", "b"))
      Files.writeString(nd.resolve(s"$f.jsonl"),
        (0 until 3).map(i => s"""{"doc_id": ${if (f == "a") i else i + 10}, "text": "$f $i"}""")
          .mkString("", "\n", "\n"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val ndDf = graft.sources.Readers.loadGlob(spark, nd.toString,
      format = "ndjson", schema = Some(schema))
    assert(ndDf.count() == 6)
    val perFile = ndDf.groupBy(graft.sources.Readers.SourceFileCol).count()
      .collect().map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(perFile == Map("a.jsonl" -> 3L, "b.jsonl" -> 3L))

    import spark.implicits._
    val orcDir = work.resolve("orc").toString
    (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.orc(orcDir)
    val orcDf = graft.sources.Readers.loadGlob(spark, orcDir, format = "orc")
    assert(orcDf.count() == 5)
    assert(orcDf.select(col("doc_id")).collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L, 4L, 5L)))
  }

  test("quarantine: a corrupt file is skipped, not fatal") {
    val work = Files.createTempDirectory("graft_quar")
    val raw = Files.createDirectories(work.resolve("raw"))
    Files.writeString(raw.resolve("good.csv"),
      "timestamp,open,high,low,close\n2024-01-01 00:00:00,1,2,0.5,1.5\n")
    Files.writeString(raw.resolve("bad.xyz"), "not a supported file")
    val scan = graft.sources.Readers.loadAll(spark, raw.toString)
    assert(scan.loaded.length == 1)
    assert(scan.quarantined.length == 1)
    assert(scan.quarantined.head._1.endsWith("bad.xyz"))
  }

  test("mixed drop dir: csv+parquet+ndjson+orc all dispatch, zero quarantined") {
    import org.apache.spark.sql.functions.col
    val work = Files.createTempDirectory("graft_mixed")
    val raw = Files.createDirectories(work.resolve("raw"))
    Files.writeString(raw.resolve("a.csv"), "doc_id,text\n1,csv doc\n2,csv two\n")
    Files.writeString(raw.resolve("b.jsonl"),
      """{"doc_id": 3, "text": "json doc"}""" + "\n")
    import spark.implicits._
    // single-file parquet/orc: write to a scratch dir, move the part file in
    for ((fmt, name, id) <- Seq(("parquet", "c.parquet", 4L), ("orc", "d.orc", 5L))) {
      val tmp = Files.createTempDirectory(s"graft_mixed_$fmt")
      val w = Seq((id, s"$fmt doc")).toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite")
      (if (fmt == "orc") w.orc(tmp.toString) else w.parquet(tmp.toString))
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      Files.move(part, raw.resolve(name))
    }
    val scan = graft.sources.Readers.loadAll(spark, raw.toString)
    assert(scan.quarantined.isEmpty, s"quarantined: ${scan.quarantined}")
    assert(scan.loaded.length == 4)
    val formats = scan.loaded.map(_.meta("format")).toSet
    assert(formats == Set("csv", "parquet", "ndjson", "orc"), formats)
    val ids = scan.loaded.flatMap(
      _.df.select(col("doc_id").cast("long")).collect().map(_.getLong(0))).sorted
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L), ids)
    scan.loaded.foreach(_.release())
  }
}
