package graft.operators

import scala.collection.immutable.ListMap

import graft.core.Json
import graft.sources.Readers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.DateTimeUtils
// Spark's double ordering (max/min/percentile): NaN above every number
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Data-quality report + SMA indicator summaries (reference O15–O17:
  * src/etl/utils/reporting.py:26-142).
  *
  * Cost shape: ONE scan over the frame computes the whole profile (rows,
  * extent, per-column NaNs, range stats, CLOSE stats + exact median) and,
  * on the Runner's sorted range layout, the SMA summaries too — one job
  * where the reference runs ~10 separate pandas passes. Other layouts add
  * one SMA job (a sorted single-series scan or a per-series window).
  * Reports are fixed-size driver merges of per-partition partials.
  */
object Reporting {

  val TsCol: String = Normalize.TsCol

  /** Above this row count the CLOSE median switches from exact value
    * counts (the per-partition value→count maps that `median()` itself
    * merges, here merged on the driver — state grows with distinct values)
    * to ExactMedian's bounded histogram selection. Same exact value either
    * way — proven by ExactMedianSpec. Crossover measured on a cached
    * all-distinct column: at 600 k rows the in-agg `median()` costs
    * 1.5–1.9 s steady-state vs 0.45–0.55 s for the histogram path (whose
    * two extra fixed-size jobs dominate below ~10^5 rows).
    */
  val ExactMedianRowThreshold: Long = 200_000L

  /** `knownDistinctTs`: callers holding a frame whose timestamps are
    * distinct by construction (anything post-dedup) can skip the
    * distinct-count job — the reported value is identically 0.
    */
  def dataQualityReport(df: DataFrame,
                        computeIndicators: Boolean = true,
                        smaWindows: Seq[Int] = Seq(10, 50),
                        partitionCols: Seq[String] = Nil,
                        knownDistinctTs: Boolean = false,
                        /** caller knows the keyed frame holds ONE series —
                          * routes to the single-pass scan (no window
                          * shuffle) without giving up the keyed API */
                        knownSingleSeries: Boolean = false,
                        /** input is RANGE-partitioned on (keys, ts) and
                          * sorted within partitions (Normalize's layout) —
                          * SMA rides the profile scan, seeded across
                          * partition boundaries on the driver, instead of a
                          * per-key window (which would re-serialize a hot
                          * symbol through one task) */
                        layoutSorted: Boolean = false,
                        /** row count the caller already holds (e.g. the
                          * Runner's cache-materialization count) — lets the
                          * CLOSE-median path pick its implementation before
                          * the scan */
                        knownRows: Option[Long] = None): ListMap[String, Any] = {

    val cols = df.columns.filterNot(_ == Readers.FileOrderCol).toSeq
    val dataCols = cols.filterNot(_ == TsCol)
    val hasHL = cols.contains("HIGH") && cols.contains("LOW")
    val hasClose = cols.contains("CLOSE")
    val singleSeries = partitionCols.isEmpty || knownSingleSeries
    // exact CLOSE median, two implementations:
    //  - below ExactMedianRowThreshold: exact value counts from the scan
    //  - above it: ExactMedian's histogram selection — value counts grow
    //    with EVERY distinct value (unbounded on a 100 TB column), so large
    //    frames take count/min/finite-max/NaN stats from the scan and
    //    locate the middle ranks with fixed-size follow-up jobs
    // provisional, from the caller-claimed TOTAL row count — the real gate
    // is the non-null CLOSE count, known only after the scan, so frames
    // claimed large skip the value counts here and the final
    // histogram-vs-median() choice is made post-scan
    val maybeExactMedian = hasClose &&
      knownRows.exists(_ > ExactMedianRowThreshold)
    val fusedSma = computeIndicators && hasClose && layoutSorted && !singleSeries
    val t0 = System.nanoTime()
    val (p, fusedIndicators) = profileScan(df, dataCols, hasHL, hasClose,
      closeValues = hasClose && !maybeExactMedian,
      smaWindows = if (fusedSma) smaWindows else Nil, partitionCols)
    if (sys.env.get("GRAFT_TIMING").contains("1"))
      System.err.println(f"[graft-timing] qr_profile_scan ${(System.nanoTime()-t0)/1e9}%8.2f s")

    val rows = p.rows
    val dups =
      if (knownDistinctTs) 0L
      else rows - df.agg(countDistinct(col(TsCol))).collect()(0).getLong(0) -
        (if (p.tsNull > 0) 1 else 0)
    def ts(micros: Long): String =
      if (micros == Long.MaxValue || micros == Long.MinValue) null
      else fmtTs(DateTimeUtils.toJavaTimestamp(micros))

    var report = Json.obj(
      "rows" -> rows,
      "start" -> ts(p.tsMin),
      "end" -> ts(p.tsMax),
      "columns" -> dataCols,
      "nans_per_column" -> ListMap(dataCols.zip(p.nulls.toSeq): _*),
      "dups_timestamps" -> dups,
      "candles_count" -> rows,
      "mean_range" -> (if (hasHL && p.rngN > 0) p.rngSum / p.rngN else null),
      "max_range" -> (if (hasHL) p.rngMax else null))

    // CLOSE stats + the reference's outlier heuristic (reporting.py:68-104)
    if (hasClose && p.cN > 0) {
      val cmin = p.cMin.doubleValue
      val cmax = p.cMax.doubleValue
      val cmed =
        if (maybeExactMedian) {
          if (p.cN > ExactMedianRowThreshold)
            graft.functions.ExactMedian.median(df, "CLOSE",
              n = p.cN, lo = cmin,
              hiFinite = Option(p.cMaxFinite).fold(Double.NaN)(_.doubleValue),
              nNaN = p.cNaN).getOrElse(Double.NaN)
          else
            // the frame is large but its non-null CLOSE count is below the
            // crossover: one small median() job (merge state bounded by
            // the non-null count's distinct values) beats the histogram
            // path's two full-frame selection scans
            df.agg(median(col("CLOSE"))).collect()(0).getDouble(0)
        } else exactMedian(p.closeCounts, p.cN)
      val ratios =
        if (cmed != 0.0) Some((cmax / cmed, cmin / cmed)) else None
      val suspicious = ratios.exists { case (rx, rn) => rx > 100 || rn < 0.01 }
      report ++= Json.obj(
        "close_min" -> cmin, "close_max" -> cmax, "close_median" -> cmed,
        "close_max_over_median" -> ratios.map(_._1).orNull,
        "close_min_over_median" -> ratios.map(_._2).orNull,
        "suspicious_price_jump" -> suspicious)
    } else {
      report ++= Json.obj(
        "close_min" -> null, "close_max" -> null, "close_median" -> null,
        "close_max_over_median" -> null, "close_min_over_median" -> null,
        "suspicious_price_jump" -> false)
    }

    // SMA summaries — all windows in one pass (reporting.py:106-123)
    var indicators = ListMap.empty[String, Any]
    if (computeIndicators && hasClose && rows > 0) {
      val t1 = System.nanoTime()
      indicators =
        if (fusedSma) fusedIndicators
        else if (singleSeries) smaSummariesSinglePass(df, smaWindows)
        else smaSummariesWindowed(df, smaWindows, partitionCols)
      if (sys.env.get("GRAFT_TIMING").contains("1"))
        System.err.println(f"[graft-timing] qr_sma_agg ${(System.nanoTime()-t1)/1e9}%8.2f s")
    }
    report += "indicators" -> indicators

    var notes = Vector.empty[String]
    if (dups > 0) notes :+= s"$dups duplicated timestamps"
    if (p.nulls.exists(_ > 0)) notes :+= "There are NaNs in some columns"
    if (report("suspicious_price_jump") == true)
      notes :+= "Suspicious price jump detected (check max/min vs median)"
    report += "notes" -> notes

    report
  }

  /** Exact `percentile(CLOSE, 0.5)` from value counts, with Spark's
    * interpolation formula (not ExactMedian's average) so the value is
    * bit-identical to the `median()` aggregate.
    */
  private def exactMedian(counts: java.util.HashMap[java.lang.Double, java.lang.Long],
                          n: Long): Double = {
    import scala.jdk.CollectionConverters._
    val sorted = counts.asScala.toArray.sortWith((a, b) => compareDoubles(a._1, b._1) < 0)
    val position = (n - 1) * 0.5
    val lower = position.floor.toLong
    val higher = position.ceil.toLong
    def at(rank: Long): Double = {
      var cum = 0L
      var i = 0
      while (cum + sorted(i)._2 <= rank) { cum += sorted(i)._2; i += 1 }
      sorted(i)._1
    }
    val lo = at(lower)
    if (higher == lower) lo
    else {
      val hi = at(higher)
      if (lo.equals(hi)) lo
      else (higher - position) * lo + (position - lower) * hi
    }
  }

  /** One partition's share of the profile. */
  private final class ProfilePartial(nData: Int) extends Serializable {
    var rows = 0L
    var tsNull = 0L
    var tsMin = Long.MaxValue
    var tsMax = Long.MinValue
    val nulls = new Array[Long](nData)
    var rngSum = 0.0
    var rngN = 0L
    var rngMax: java.lang.Double = null
    var cN = 0L
    var cMin: java.lang.Double = null
    var cMax: java.lang.Double = null
    var cMaxFinite: java.lang.Double = null
    var cNaN = 0L
    var closeCounts: java.util.HashMap[java.lang.Double, java.lang.Long] = null
    var sma: SmaPartial = null

    def merge(o: ProfilePartial): Unit = {
      rows += o.rows; tsNull += o.tsNull
      tsMin = math.min(tsMin, o.tsMin); tsMax = math.max(tsMax, o.tsMax)
      for (i <- nulls.indices) nulls(i) += o.nulls(i)
      rngSum += o.rngSum; rngN += o.rngN
      rngMax = maxOf(rngMax, o.rngMax)
      cN += o.cN; cNaN += o.cNaN
      cMin = minOf(cMin, o.cMin); cMax = maxOf(cMax, o.cMax)
      cMaxFinite = maxOf(cMaxFinite, o.cMaxFinite)
      if (closeCounts != null)
        o.closeCounts.forEach((v, c) => closeCounts.merge(v, c, (a, b) => a + b))
    }
  }
  private def maxOf(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null) b else if (b == null || compareDoubles(b, a) <= 0) a else b
  private def minOf(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null) b else if (b == null || compareDoubles(b, a) >= 0) a else b

  /** The report scan: one narrow job over the frame's own rows
    * (`queryExecution.toRdd`) — no per-row objects, no shuffle, and no
    * generated aggregation code. Each partition returns a fixed-size partial
    * (plus, below the median crossover, its CLOSE value counts); the
    * driver merges them in partition order, as Spark's aggregate merges
    * its partial sums.
    *
    * With `smaWindows` non-empty the input must be Normalize's range
    * layout: each partition runs the ring-buffer SMA over its series runs.
    * Only a partition's FIRST run can continue a series from the previous
    * partition, and only its first `w - 1` rows have windows reaching back
    * there — those rows are deferred: the partition returns them (at most
    * `max(w) - 1` values) with its last run's trailing values, and the
    * driver evaluates them against the predecessors' trailing values.
    */
  private def profileScan(df: DataFrame, dataCols: Seq[String],
                          hasHL: Boolean, hasClose: Boolean,
                          closeValues: Boolean, smaWindows: Seq[Int],
                          partitionCols: Seq[String])
      : (ProfilePartial, ListMap[String, Any]) = {
    // the price columns are read as doubles: cast any that are not (a
    // frame whose prices already are — every pipeline frame — is scanned
    // as is, so the scan adds no generated code beyond the cache's own
    // row iterator)
    val priceCols = Seq("CLOSE", "HIGH", "LOW").filter(df.columns.contains)
    val src = df.withColumns(priceCols
      .filter(c => df.schema(c).dataType != org.apache.spark.sql.types.DoubleType)
      .map(c => c -> col(c).cast("double")).toMap)
    val schema = src.schema
    val tsIdx = schema.fieldIndex(TsCol)
    val cIdx = if (hasClose) schema.fieldIndex("CLOSE") else -1
    val (hIdx, lIdx) =
      if (hasHL) (schema.fieldIndex("HIGH"), schema.fieldIndex("LOW")) else (-1, -1)
    val nullIdx = dataCols.map(schema.fieldIndex).toArray
    val nData = nullIdx.length
    val keys = if (smaWindows.nonEmpty) partitionCols else Nil
    val kTypes = keys.map(k => schema(k).dataType).toArray
    val kIdx = keys.map(schema.fieldIndex).toArray
    val ws = smaWindows.toArray
    val partials = graft.core.Scan.partitions(src) { (_, it) =>
      val p = new ProfilePartial(nData)
      if (closeValues) p.closeCounts = new java.util.HashMap()
      val sma = if (ws.nonEmpty) new SmaScan(ws, kIdx, kTypes) else null
      while (it.hasNext) {
        val r = it.next()
        p.rows += 1
        val tsP = !r.isNullAt(tsIdx)
        val ts = if (tsP) r.getLong(tsIdx) else 0L
        if (tsP) {
          if (ts < p.tsMin) p.tsMin = ts
          if (ts > p.tsMax) p.tsMax = ts
        } else p.tsNull += 1
        var i = 0
        while (i < nData) { if (r.isNullAt(nullIdx(i))) p.nulls(i) += 1; i += 1 }
        if (hIdx >= 0 && !r.isNullAt(hIdx) && !r.isNullAt(lIdx)) {
          val v = r.getDouble(hIdx) - r.getDouble(lIdx)
          p.rngSum += v; p.rngN += 1
          if (p.rngMax == null || compareDoubles(v, p.rngMax) > 0) p.rngMax = v
        }
        val cP = cIdx >= 0 && !r.isNullAt(cIdx)
        val c = if (cP) r.getDouble(cIdx) else 0.0
        if (cP) {
          p.cN += 1
          if (p.cMin == null || compareDoubles(c, p.cMin) < 0) p.cMin = c
          if (p.cMax == null || compareDoubles(c, p.cMax) > 0) p.cMax = c
          if (c.isNaN) p.cNaN += 1
          else if (p.cMaxFinite == null || c > p.cMaxFinite) p.cMaxFinite = c
          if (p.closeCounts != null)
            p.closeCounts.merge(c, 1L, (a, b) => a + b)
        }
        if (sma != null) sma.push(r, cP, c, tsP, ts)
      }
      if (sma != null) p.sma = sma.result()
      Iterator.single(p)
    }
    val merged = new ProfilePartial(nData)
    if (closeValues) merged.closeCounts = new java.util.HashMap()
    partials.foreach(merged.merge)
    (merged,
      if (ws.isEmpty) ListMap.empty else mergeSma(ws, partials.map(_.sma)))
  }

  /** A partition's SMA share: per-window stats over its non-deferred rows,
    * its first run's deferred head and its last run's trailing values
    * (both as (present, value) slots, oldest first).
    */
  private final case class SmaPartial(
      firstKey: List[Any], firstRunLen: Long,
      headP: Array[Boolean], headV: Array[Double],
      headTsP: Array[Boolean], headTs: Array[Long],
      lastKey: List[Any], lastIsFirst: Boolean,
      tailP: Array[Boolean], tailV: Array[Double],
      nans: Array[Long], mins: Array[Double], maxs: Array[Double],
      lasts: Array[java.lang.Double], lastTs: Array[java.lang.Long])

  /** Per-partition ring-buffer SMA over series runs — min_periods=1
    * semantics (value = mean of the non-null entries of the trailing
    * window; null only when the whole window is null). Primitive ring
    * slots, no per-row allocation; task memory is bounded by max(w).
    */
  private final class SmaScan(ws: Array[Int], kIdx: Array[Int],
                              kTypes: Array[org.apache.spark.sql.types.DataType]) {
    import org.apache.spark.sql.catalyst.InternalRow
    private val k = ws.length
    private val maxW = ws.max
    private val h = maxW - 1
    private val ringV = Array.fill(k)(new Array[Double](maxW))
    private val ringP = Array.fill(k)(new Array[Boolean](maxW))
    private val sums = new Array[Double](k)
    private val counts = new Array[Int](k)
    private val nans = new Array[Long](k)
    private val mins = Array.fill(k)(Double.MaxValue)
    private val maxs = Array.fill(k)(Double.MinValue)
    private val lasts = new Array[java.lang.Double](k)
    private val lastTs = new Array[java.lang.Long](k)
    private val headP = new Array[Boolean](h)
    private val headV = new Array[Double](h)
    private val headTsP = new Array[Boolean](h)
    private val headTs = new Array[Long](h)
    private val tailP = new Array[Boolean](math.max(h, 1))
    private val tailV = new Array[Double](math.max(h, 1))
    private var key: Array[Any] = null
    private var firstKey: List[Any] = null
    private var run = -1
    private var n = 0L
    private var firstRunLen = 0L

    private def sameKey(r: InternalRow): Boolean = {
      if (key == null) return false
      var i = 0
      while (i < kIdx.length) {
        val ci = kIdx(i)
        val v = if (r.isNullAt(ci)) null else r.get(ci, kTypes(i))
        if (v != key(i)) return false
        i += 1
      }
      true
    }

    def push(r: InternalRow, present: Boolean, v: Double,
             tsP: Boolean, ts: Long): Unit = {
      if (!sameKey(r)) {
        key = kIdx.indices.map(i => if (r.isNullAt(kIdx(i))) null
          else InternalRow.copyValue(r.get(kIdx(i), kTypes(i)))).toArray
        run += 1
        if (run == 0) firstKey = externalize(key)
        ringP.foreach(a => java.util.Arrays.fill(a, false))
        java.util.Arrays.fill(sums, 0.0); java.util.Arrays.fill(counts, 0)
        n = 0L
      }
      val deferredRow = run == 0 && n < h
      if (deferredRow) {
        val i = n.toInt
        headP(i) = present; headV(i) = v; headTsP(i) = tsP; headTs(i) = ts
      }
      var j = 0
      while (j < k) {
        val w = ws(j)
        val slot = (n % w).toInt
        if (ringP(j)(slot)) { sums(j) -= ringV(j)(slot); counts(j) -= 1 }
        ringV(j)(slot) = v
        ringP(j)(slot) = present
        if (present) { sums(j) += v; counts(j) += 1 }
        if (!(run == 0 && n < w - 1)) {
          if (counts(j) == 0) nans(j) += 1
          else {
            val sma = sums(j) / counts(j)
            if (tsP && (lastTs(j) == null || ts > lastTs(j))) {
              lasts(j) = sma; lastTs(j) = ts
            }
            if (sma < mins(j)) mins(j) = sma
            if (sma > maxs(j)) maxs(j) = sma
          }
        }
        j += 1
      }
      if (h > 0) {
        val slot = (n % h).toInt
        tailP(slot) = present; tailV(slot) = v
      }
      n += 1
      if (run == 0) firstRunLen = n
    }

    def result(): SmaPartial =
      if (key == null) null
      else {
        // unroll the tail ring, oldest first
        val len = math.min(n, h.toLong).toInt
        val start = if (n <= h) 0 else (n % h).toInt
        val head = math.min(firstRunLen, h.toLong).toInt
        SmaPartial(firstKey, firstRunLen,
          headP.take(head), headV.take(head), headTsP.take(head),
          headTs.take(head), externalize(key), run == 0,
          Array.tabulate(len)(i => tailP((start + i) % h)),
          Array.tabulate(len)(i => tailV((start + i) % h)),
          nans, mins, maxs, lasts, lastTs)
      }
  }

  /** Series key as driver-side map keys: strings externalized, integral
    * keys as is (the FastFill seed-key convention).
    */
  private def externalize(a: Array[Any]): List[Any] = a.map {
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case x => x
  }.toList

  /** Driver merge of the SMA partials, in partition order: each
    * partition's deferred head rows are evaluated against the trailing
    * values its series carried out of the previous partitions, then the
    * partition's own stats fold in. `last` is the SMA at the latest stamp
    * (first such row in layout order on ties) — the windowed form's
    * `max_by(sma, ts)`.
    */
  private def mergeSma(ws: Array[Int], partials: Array[SmaPartial])
      : ListMap[String, Any] = {
    val h = ws.max - 1
    val k = ws.length
    val nans = new Array[Long](k)
    val mins = new Array[java.lang.Double](k)
    val maxs = new Array[java.lang.Double](k)
    val lasts = new Array[java.lang.Double](k)
    val lastTs = new Array[java.lang.Long](k)
    def emit(j: Int, sma: java.lang.Double, tsP: Boolean, ts: Long): Unit =
      if (sma == null) nans(j) += 1
      else {
        if (tsP && (lastTs(j) == null || ts > lastTs(j))) {
          lasts(j) = sma; lastTs(j) = ts
        }
        if (mins(j) == null || sma < mins(j)) mins(j) = sma
        if (maxs(j) == null || sma > maxs(j)) maxs(j) = sma
      }
    // trailing (present, value) slots of each series seen so far
    val carry = scala.collection.mutable.Map.empty[List[Any], Vector[(Boolean, Double)]]
    for (p <- partials if p != null) {
      val before = carry.getOrElse(p.firstKey, Vector.empty)
      val head = p.headP.indices.map(i => (p.headP(i), p.headV(i))).toVector
      val seq = before ++ head
      for (i <- head.indices; j <- 0 until k if i < ws(j) - 1) {
        val pos = before.length + i
        val win = seq.slice(math.max(0, pos - ws(j) + 1), pos + 1).filter(_._1)
        emit(j, if (win.isEmpty) null
          else java.lang.Double.valueOf(win.map(_._2).sum / win.length),
          p.headTsP(i), p.headTs(i))
      }
      for (j <- 0 until k) {
        nans(j) += p.nans(j)
        if (p.lasts(j) != null) emit(j, p.lasts(j), tsP = true, p.lastTs(j))
        if (p.mins(j) != Double.MaxValue &&
            (mins(j) == null || p.mins(j) < mins(j))) mins(j) = p.mins(j)
        if (p.maxs(j) != Double.MinValue &&
            (maxs(j) == null || p.maxs(j) > maxs(j))) maxs(j) = p.maxs(j)
      }
      val tail = p.tailP.indices.map(i => (p.tailP(i), p.tailV(i))).toVector
      carry(p.lastKey) =
        if (p.lastIsFirst && p.firstRunLen <= h) seq.takeRight(h) else tail
    }
    ListMap(ws.toIndexedSeq.zipWithIndex.map { case (w, j) =>
      s"SMA_$w" -> Json.obj(
        "last" -> lasts(j), "nan_count" -> nans(j),
        "min" -> mins(j), "max" -> maxs(j))
    }: _*)
  }

  /** Rolling-mean summaries for a single series in ONE sorted scan —
    * min_periods=1 semantics. A sliding window over a single symbol
    * serializes onto one task anyway, so a ring-buffer scan beats a
    * WindowExec sort+frame evaluation. Task memory is bounded by
    * max(smaWindows) ring slots — never by series length. The scan runs
    * over `queryExecution.toRdd` with primitive ring slots: no per-row
    * objects at all.
    */
  private def smaSummariesSinglePass(df: DataFrame, smaWindows: Seq[Int])
      : ListMap[String, Any] = {
    val ws = smaWindows.toArray
    val partials = df.select(col(TsCol), col("CLOSE").cast("double"))
      .coalesce(1)
      .sortWithinPartitions(col(TsCol).asc_nulls_last)
      .queryExecution.toRdd.mapPartitions { it =>
        val scan = new SmaScan(ws, Array.empty, Array.empty)
        while (it.hasNext) {
          val r = it.next()
          val present = !r.isNullAt(1)
          scan.push(r, present, if (present) r.getDouble(1) else 0.0,
            !r.isNullAt(0), if (r.isNullAt(0)) 0L else r.getLong(0))
        }
        Iterator.single(scan.result())
      }.collect()
    mergeSma(ws, partials)
  }

  /** Multi-series SMA summaries via per-series windows (the declarative
    * form; partitioned by the series key so no global single-task window).
    */
  private def smaSummariesWindowed(df: DataFrame, smaWindows: Seq[Int],
                                   partitionCols: Seq[String]): ListMap[String, Any] = {
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(TsCol)
    val smaCols = smaWindows.map { w =>
      s"_sma_$w" -> avg(col("CLOSE")).over(base.rowsBetween(-(w - 1), 0))
    }
    val withSma = df.withColumns(smaCols.toMap)
    val smaAggs = smaWindows.flatMap { w =>
      val c = col(s"_sma_$w")
      Seq(
        max_by(c, when(c.isNotNull, col(TsCol))).as(s"_last_$w"),
        sum(when(c.isNull, 1).otherwise(0)).as(s"_nans_$w"),
        min(c).as(s"_min_$w"),
        max(c).as(s"_max_$w"))
    }
    val sr = withSma.agg(smaAggs.head, smaAggs.tail: _*).collect()(0)
    def sopt(n: String): Any =
      if (sr.isNullAt(sr.fieldIndex(n))) null else sr.getAs[Double](n)
    ListMap(smaWindows.map { w =>
      s"SMA_$w" -> Json.obj(
        "last" -> sopt(s"_last_$w"),
        "nan_count" -> sr.getAs[Long](s"_nans_$w"),
        "min" -> sopt(s"_min_$w"),
        "max" -> sopt(s"_max_$w"))
    }: _*)
  }

  /** Fixed-width histogram of an integer-valued column: bucket width is
    * the integer ceil of the value range over `buckets`, so bucket edges
    * are exact integers — no float boundary can disagree between engines
    * or runs (the ExactMedian lesson applied to profiling output). Two
    * aggregations total: one min/max row broadcast back, one group-count
    * keyed on the bucket (partial-agg collapses map-side — at most
    * `buckets` rows reach the reduce side per task). Empty buckets are
    * absent from the output.
    *
    * @return (`bucket`, `bucket_lo` inclusive lower edge, `cnt`)
    */
  def histogram(df: DataFrame, valueCol: String, buckets: Int): DataFrame = {
    val mm = df.agg(min(col(valueCol)).cast("long").as("_lo"),
      max(col(valueCol)).cast("long").as("_hi"))
    df.select(col(valueCol).cast("long").as("_v"))
      .crossJoin(broadcast(mm))
      .select(col("_lo"),
        floor((col("_hi") - col("_lo") + buckets) / lit(buckets.toDouble))
          .as("_w"),
        col("_v"))
      .select(floor((col("_v") - col("_lo")) / col("_w").cast("double"))
          .as("bucket"),
        col("_lo"), col("_w"))
      .groupBy(col("bucket"), col("_lo"), col("_w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("bucket"),
        (col("_lo") + col("bucket") * col("_w")).as("bucket_lo"),
        col("cnt"))
  }

  def saveReport(report: ListMap[String, Any], outPath: String): Unit = {
    val p = java.nio.file.Paths.get(outPath)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, Json.write(report))
  }

  /** pandas str(Timestamp) rendering under UTC. */
  def fmtTs(t: java.sql.Timestamp): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(t.toInstant) + "+00:00"

  /** Key-skew profile: the numbers that decide salting, bucketing and
    * AQE skew-join thresholds BEFORE a job dies at 100 TB — per-key row
    * counts summarized as exact type-1 p50/p90/p99 quantiles, the max,
    * and the top-k heaviest keys (`key:count`, count desc / key asc).
    *
    * Shape: one keyed partial aggregate (per-key counts) → a
    * count-of-counts census bounded by DISTINCT count values, not keys —
    * the only keyless window runs over that census (a q86-style bounded
    * frame, thousands of rows for billions of keys). Quantiles are
    * integer threshold math (`cum·den ≥ num·n_keys` — no float
    * boundary); the top-k list is a struct-sorted fold, order-stable on
    * any engine. Output: ONE row.
    */
  def skewProfile(df: DataFrame, keyCol: String, topK: Int = 5): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("_k"))
      .agg(count(lit(1)).as("_c"))
    val census = counts.groupBy(col("_c")).agg(count(lit(1)).as("_nk"))
    val tot = census.agg(
      sum(col("_c") * col("_nk")).cast("long").as("n_rows"),
      sum(col("_nk")).cast("long").as("n_keys"),
      max(col("_c")).as("max_key_rows"))
    val cum = census.withColumn("_cum",
      sum(col("_nk")).over(Window.orderBy(col("_c"))))
    val qs = cum.crossJoin(broadcast(tot.select(col("n_keys").as("_n"))))
      .agg(
        min(when(col("_cum") * 2 >= col("_n"), col("_c")))
          .as("p50_key_rows"),
        min(when(col("_cum") * 10 >= col("_n") * 9, col("_c")))
          .as("p90_key_rows"),
        min(when(col("_cum") * 100 >= col("_n") * 99, col("_c")))
          .as("p99_key_rows"))
    val top = counts.orderBy(col("_c").desc, col("_k")).limit(topK)
      .agg(concat_ws(",", transform(
        array_sort(collect_list(struct((col("_c") * -1).as("_nc"),
          col("_k"), col("_c")))),
        e => concat(e.getField("_k"), lit(":"), e.getField("_c"))))
        .as("top_keys"))
    tot.crossJoin(qs).crossJoin(top)
  }
}
