package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass per-series gap filling: forward-fill + pandas-style linear
  * positional interpolation (limit_direction="both") in ONE partition scan.
  *
  * The window-algebra form ([[Interpolate]]) needs two global sorts per
  * pass (asc + desc running frames); for a single-symbol series those
  * serialize onto one task and dominate the pipeline. This operator instead
  * repartitions by the series key, sorts within partitions once, and runs a
  * linear forward scan with a per-gap backward fix-up — the same O(n) shape
  * pandas uses, but distributed across series.
  *
  * This is the deliberate `mapPartitions` escape hatch (SURVEY.md §7.4
  * preference order (d)): fill semantics are inherently sequential per
  * series, and one imperative scan replaces 3 window exchanges.
  *
  * Execution runs at the `InternalRow` level — `queryExecution.toRdd` in,
  * [[GraftSqlBridge.internalCreateDataFrame]] out — NOT through
  * `Dataset.mapPartitions`'s external-Row encoder. The encoder boundary
  * boxed every field of every row twice (deserializer in, serializer out:
  * a `GenericRowWithSchema`, an `Array[Any]`, ~8 boxes and a
  * `java.sql.Timestamp` per row); the 100× probe measured the repair stage
  * GC-bound on exactly that churn (34–41 s of GC per 60M-row chain).
  * Internally a timestamp is a bare `long` of epoch micros and a buffered
  * row is one `UnsafeRow.copy()` — compact bytes, no per-field objects —
  * so per-task retention for a 250k-row partition drops from ~2M boxes to
  * 250k byte arrays, and fills mutate fixed-width slots in place.
  *
  * Two distribution modes:
  *  - default (`crossPartition = false`): each series is fully contained in
  *    one partition (hash-by-key layout). Per-series memory is bounded by
  *    series length — fine when series are small, a straggler/spill risk
  *    for one huge series.
  *  - `crossPartition = true`: the input is RANGE-partitioned on
  *    (keys, ts) — one series may span many consecutive partitions, so a
  *    hot series parallelizes across tasks (the 100 TB skew answer). The
  *    scan stays narrow; cross-boundary state (grid continuation, ffill
  *    carry, interpolation neighbors) is computed by two cheap metadata
  *    jobs (per-series anchors + per-partition boundary summaries, both
  *    fixed-size per (partition, series)) and broadcast as seeds. Requires
  *    `assumeSorted` and `reindexStepMicros` (positions are grid indices,
  *    which are globally consistent; row-positional interpolation without a
  *    grid would need global row numbering).
  */
object FastFill {

  /** Cross-boundary state for one (partition, series): everything the
    * partition-local scan needs to behave exactly like a single global scan.
    * `ffillCarry` holds INTERNAL values (e.g. `UTF8String`, boxed
    * primitives) — they are written back with the same setters the scan
    * uses.
    */
  private final case class Seed(
      anchorUs: Long,                     // series' global first stamp
      prevGridUs: Long,                   // last on-grid stamp in earlier partitions (MinValue = none)
      ffillCarry: Array[Any],             // last non-null per ffill col in earlier partitions (null = none)
      inUs: Array[Long], inV: Array[Double],   // per interp col: last non-null (stamp, value) before
      inHas: Array[Boolean],
      outUs: Array[Long], outV: Array[Double], // per interp col: first non-null (stamp, value) after
      outHas: Array[Boolean])

  /** One (partition, series-run) boundary summary from the metadata scan. */
  private final case class SeedSummary(
      pid: Int, key: List[Any], lastGrid: java.lang.Long, ff: Array[Any],
      inUs: Array[java.lang.Long], inV: Array[java.lang.Double],
      outUs: Array[java.lang.Long], outV: Array[java.lang.Double])

  private def isFixedWidth(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** Internal → external for partition-key values, matching what a
    * DataFrame `collect()` yields for the same column: the two seed jobs
    * and the fill scan must agree on map keys. Supported key types are
    * checked by `fill`.
    */
  private def externalizeKey(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case x => x
  }

  /** @param ffillCols   columns forward-filled (nulls take the previous
    *                    non-null value)
    * @param interpCols  columns linearly interpolated over row position
    *                    with both-direction edge fill (must be DOUBLE)
    * @param reindexStepMicros when set, the scan also performs the pandas
    *                    `reindex` inline: missing grid stamps (anchored at
    *                    each series' first stamp) are emitted as null rows
    *                    and off-grid source rows are dropped — no dense
    *                    grid materialization, no join
    * @param trueOnGenerated columns set to boolean true on generated grid
    *                    rows (pre-fill null flags for repair accounting)
    * @param assumeSorted caller guarantees the input is already partitioned
    *                    and sorted by (partitionCols, tsCol) within
    *                    partitions — the scan runs as a narrow mapPartitions
    *                    with NO shuffle and NO sort
    * @param crossPartition series may span consecutive ordered partitions
    *                    (range layout); see scaladoc above. The layout MUST
    *                    be pinned (cached/materialized): an uncached
    *                    repartitionByRange re-samples its bounds per job,
    *                    and the seed pass and fill scan must observe one
    *                    partitioning (a drift tripwire throws otherwise)
    */
  def fill(df: DataFrame, ffillCols: Seq[String], interpCols: Seq[String],
           tsCol: String, partitionCols: Seq[String] = Nil,
           reindexStepMicros: Option[Long] = None,
           trueOnGenerated: Seq[String] = Nil,
           assumeSorted: Boolean = false,
           crossPartition: Boolean = false): DataFrame = {
    if (ffillCols.isEmpty && interpCols.isEmpty && reindexStepMicros.isEmpty)
      return df
    require(!crossPartition || (assumeSorted && reindexStepMicros.isDefined &&
      partitionCols.nonEmpty),
      "crossPartition needs a sorted keyed layout and a reindex grid")
    val schema = df.schema
    val types: Array[DataType] = schema.fields.map(_.dataType)
    val nCols = schema.length
    val fIdx = ffillCols.map(schema.fieldIndex).toArray
    val iIdx = interpCols.map(schema.fieldIndex).toArray
    val kIdx = partitionCols.map(schema.fieldIndex).toArray
    val tsIdx = schema.fieldIndex(tsCol)
    val genIdx = trueOnGenerated.map(schema.fieldIndex).toArray
    require(types(tsIdx) == TimestampType || types(tsIdx) == TimestampNTZType,
      s"FastFill: $tsCol must be a timestamp column")
    require(iIdx.forall(i => types(i) == DoubleType),
      "FastFill: interpolation columns must be DOUBLE")
    require(!crossPartition || kIdx.forall(i => types(i) match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType => true
      case _ => false
    }), "FastFill crossPartition: partition keys must be string/integral " +
      "(seed-map key equality across the internal and external views)")
    // fast path: every MUTATED column is fixed-width, so buffered rows stay
    // UnsafeRow byte copies and fills are in-place primitive writes. A
    // var-length fill column (e.g. a string ffill) buffers via
    // GenericInternalRow instead — `update` works there, UnsafeRow throws.
    val fastPath = (fIdx ++ iIdx ++ genIdx).forall(i => isFixedWidth(types(i)))
    // synthesized grid rows null every column except keys, stamp, gen flags
    val nullOutIdx: Array[Int] = (0 until nCols)
      .filterNot(i => i == tsIdx || kIdx.contains(i) || genIdx.contains(i))
      .toArray
    // synthesized rows carry nulls in data columns regardless of the
    // input's nullability flags
    val outSchema = StructType(schema.fields.map(_.copy(nullable = true)))

    val prepared =
      if (assumeSorted && partitionCols.nonEmpty) df
      else
        (if (partitionCols.isEmpty) df.coalesce(1)
         else df.repartition(partitionCols.map(col): _*))
          .sortWithinPartitions((partitionCols :+ tsCol).map(col): _*)

    val seeds: Map[(Int, List[Any]), Seed] =
      if (crossPartition)
        buildSeeds(prepared, fIdx, iIdx, tsIdx, kIdx, types,
          reindexStepMicros.get)
      else Map.empty

    // generic deep copy for the non-fast path (internal values cloned so
    // nothing references the scan's reused buffer row)
    def genericCopy(r: InternalRow): InternalRow = {
      val a = new Array[Any](nCols)
      var i = 0
      while (i < nCols) {
        if (!r.isNullAt(i)) a(i) = InternalRow.copyValue(r.get(i, types(i)))
        i += 1
      }
      new GenericInternalRow(a)
    }

    val inRdd = graft.core.Scan.inSession(prepared)(prepared.queryExecution.toRdd)
    val filledRdd = inRdd.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      // write one internal value into a fixed-width slot (fast path) or a
      // generic slot (buffered rows are GenericInternalRow there)
      def writeValue(r: InternalRow, ci: Int, v: Any): Unit =
        if (v == null) r.setNullAt(ci)
        else if (fastPath) types(ci) match {
          case DoubleType => r.setDouble(ci, v.asInstanceOf[Double])
          case LongType | TimestampType | TimestampNTZType =>
            r.setLong(ci, v.asInstanceOf[Long])
          case IntegerType | DateType => r.setInt(ci, v.asInstanceOf[Int])
          case BooleanType => r.setBoolean(ci, v.asInstanceOf[Boolean])
          case FloatType => r.setFloat(ci, v.asInstanceOf[Float])
          case ShortType => r.setShort(ci, v.asInstanceOf[Short])
          case ByteType => r.setByte(ci, v.asInstanceOf[Byte])
          case dt => throw new IllegalStateException(s"non-fixed $dt")
        }
        else r.update(ci, v)

      new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty
        private var pending: InternalRow = _ // already an owned copy

        // Per-series rows are buffered ONCE, as owned row copies — on the
        // production path each is one UnsafeRow byte copy (~row-width
        // bytes, two objects), not a field array of boxes; there is no
        // encoder at either boundary. Per-task retention is the
        // unavoidable minimum for a scan whose interpolation needs the
        // gap's far edge.
        private def processSeries(rows: ArrayBuffer[InternalRow]): Iterator[InternalRow] = {
          val seed: Seed =
            if (seeds.isEmpty) null
            else {
              val k = kIdx.map(i =>
                externalizeKey(rows.head.get(i, types(i)))).toList
              seeds.getOrElse((pid, k), null)
            }
          var firstEmitUs = Long.MinValue
          val vals = reindexStepMicros match {
            case None => rows
            case Some(stepUs) =>
              // inline reindex: keep on-grid rows, synthesize null rows for
              // missing stamps; anchor = first observed stamp of the SERIES
              // (seed-supplied when the series started in an earlier
              // partition). Stamps are bare epoch-micros longs here — no
              // Timestamp objects anywhere in the loop.
              val out = new ArrayBuffer[InternalRow](rows.length)
              if (rows.head.isNullAt(tsIdx))
                throw new IllegalStateException(
                  "FastFill: null timestamp in a reindex scan — filter " +
                    "null stamps before filling")
              val anchorUs =
                if (seed != null) seed.anchorUs else rows.head.getLong(tsIdx)
              // grid continuation: synthesis resumes right after the last
              // on-grid stamp of the previous partitions
              var prevUs =
                if (seed != null && seed.prevGridUs != Long.MinValue)
                  seed.prevGridUs
                else anchorUs - stepUs
              var firstOnGrid = true
              for (r <- rows) {
                // per-row, not head-only: under assumeSorted a mid-buffer
                // null stamp (nulls-last layouts) would read as epoch-0 and
                // silently drop as off-grid instead of failing loudly
                if (r.isNullAt(tsIdx))
                  throw new IllegalStateException(
                    "FastFill: null timestamp in a reindex scan — filter " +
                      "null stamps before filling")
                val us = r.getLong(tsIdx)
                if ((us - anchorUs) % stepUs == 0 && us >= anchorUs) {
                  // tripwire: a seed pointing at-or-past the first local
                  // on-grid stamp means the exchange re-sampled different
                  // range bounds between the seed jobs and this scan — the
                  // caller must pin the layout (cache/materialize) first
                  if (firstOnGrid && seed != null &&
                      seed.prevGridUs != Long.MinValue && us <= seed.prevGridUs)
                    throw new IllegalStateException(
                      "FastFill crossPartition: input partitioning drifted " +
                        "between the seed pass and the fill scan — cache the " +
                        "layout before filling (range bounds are re-sampled " +
                        "per job on uncached plans)")
                  firstOnGrid = false
                  var g = prevUs + stepUs
                  while (g < us) { // synthesize the missing stamps
                    val a = r.copy() // keys ride along; data slots nulled
                    var j = 0
                    while (j < nullOutIdx.length) {
                      a.setNullAt(nullOutIdx(j)); j += 1
                    }
                    a.setLong(tsIdx, g)
                    j = 0
                    while (j < genIdx.length) {
                      a.setBoolean(genIdx(j), true); j += 1
                    }
                    if (firstEmitUs == Long.MinValue) firstEmitUs = g
                    out += a
                    g += stepUs
                  }
                  if (firstEmitUs == Long.MinValue) firstEmitUs = us
                  out += r
                  prevUs = us
                } // off-grid rows drop (pandas reindex semantics)
              }
              out
          }
          val n = vals.length
          if (n == 0) return Iterator.empty
          val stepUs = reindexStepMicros.getOrElse(1L)
          // forward-fill columns (carry-in = last non-null of earlier
          // partitions — identical to one uninterrupted scan). DOUBLE (the
          // production shape) runs a primitive-register loop; other types
          // carry one boxed value.
          var j = 0
          while (j < fIdx.length) {
            val ci = fIdx(j)
            if (types(ci) == DoubleType) {
              var has = false
              var lastV = 0.0
              if (seed != null && seed.ffillCarry(j) != null) {
                has = true; lastV = seed.ffillCarry(j).asInstanceOf[Double]
              }
              var i = 0
              while (i < n) {
                val r = vals(i)
                if (r.isNullAt(ci)) { if (has) r.setDouble(ci, lastV) }
                else { lastV = r.getDouble(ci); has = true }
                i += 1
              }
            } else {
              var lastV: Any = if (seed != null) seed.ffillCarry(j) else null
              var i = 0
              while (i < n) {
                val r = vals(i)
                if (r.isNullAt(ci)) {
                  if (lastV != null) writeValue(r, ci, lastV)
                } else lastV = InternalRow.copyValue(r.get(ci, types(ci)))
                i += 1
              }
            }
            j += 1
          }
          // linear positional interpolation, both-direction edge fill.
          // Positions are grid indices (globally consistent), so virtual
          // neighbors from other partitions slot into the same arithmetic:
          // prev/next default to the seed's boundary points when the run
          // touches the partition edge.
          j = 0
          while (j < iIdx.length) {
            val ci = iIdx(j)
            var havePrev = false
            var prevPos = 0L
            var prevV = 0.0
            if (seed != null && seed.inHas(j)) {
              havePrev = true
              prevPos = (seed.inUs(j) - firstEmitUs) / stepUs
              prevV = seed.inV(j)
            }
            val haveOut = seed != null && seed.outHas(j)
            val outPos = if (haveOut) (seed.outUs(j) - firstEmitUs) / stepUs else 0L
            val outV = if (haveOut) seed.outV(j) else 0.0
            var runStart = 0
            var i = 0
            while (i <= n) {
              val isVal = i < n && !vals(i).isNullAt(ci)
              if (isVal || i == n) {
                if (runStart < i) { // a run of nulls in [runStart, i)
                  val haveNext = isVal || haveOut
                  val nextPos = if (isVal) i.toLong else outPos
                  val nextV = if (isVal) vals(i).getDouble(ci) else outV
                  var k = runStart
                  while (k < i) {
                    if (havePrev && haveNext)
                      vals(k).setDouble(ci,
                        prevV + (nextV - prevV) * (k - prevPos).toDouble /
                          (nextPos - prevPos))
                    else if (havePrev) vals(k).setDouble(ci, prevV) // trailing -> ffill
                    else if (haveNext) vals(k).setDouble(ci, nextV) // leading -> backfill
                    // else: all-null series stays null
                    k += 1
                  }
                }
                if (isVal) {
                  havePrev = true
                  prevPos = i
                  prevV = vals(i).getDouble(ci)
                }
                runStart = i + 1
              }
              i += 1
            }
            j += 1
          }
          vals.iterator
        }

        private def bufferRow(r: InternalRow): InternalRow =
          if (fastPath) r.copy() else genericCopy(r)

        private def refill(): Unit = {
          if (pending == null && it.hasNext) pending = bufferRow(it.next())
          if (pending != null) {
            // key values held from the OWNED pending copy (iterator rows
            // are reused buffers); comparison is on internal values
            val keyArr: Array[Any] =
              kIdx.map(i => pending.get(i, types(i)))
            def sameKey(r: InternalRow): Boolean = {
              var i = 0
              while (i < kIdx.length) {
                val ci = kIdx(i)
                val v = if (r.isNullAt(ci)) null else r.get(ci, types(ci))
                if (v != keyArr(i)) return false
                i += 1
              }
              true
            }
            val buf = ArrayBuffer(pending)
            pending = null
            var break = false
            while (!break && it.hasNext) {
              val r = it.next()
              if (sameKey(r)) buf += bufferRow(r)
              else { pending = bufferRow(r); break = true }
            }
            out = processSeries(buf)
          }
        }

        override def hasNext: Boolean = {
          if (!out.hasNext) refill()
          out.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) Iterator.empty.next(); out.next()
        }
      }
    }

    val filled =
      GraftSqlBridge.internalCreateDataFrame(df.sparkSession, filledRdd,
        outSchema)

    // The degenerate single-series path ran on one partition; fan the result
    // back out so downstream aggregation/writes regain parallelism.
    if (partitionCols.isEmpty)
      filled.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions)
    else filled
  }

  /** Two fixed-size metadata jobs over the (cached) layout, then a driver
    * prefix/suffix scan — never row-shaped data:
    *  1. per-series anchors (min stamp): a narrow scan emitting one record
    *     per series-run, folded to one stamp per series;
    *  2. per-(partition, series) boundary summary: last on-grid stamp,
    *     last non-null per ffill col, first/last non-null per interp col —
    *     a narrow InternalRow scan over the same physical RDD as the fill
    *     (same `queryExecution.toRdd` instance, so the two jobs observe one
    *     partitioning by construction), emitting one record per series-run.
    * The driver folds summaries in partition order into per-partition
    * carry-in/carry-out seeds. Driver memory is O(partitions × series) —
    * series-count ceilings are documented at the call sites (Runner keys by
    * SYMBOL; a catalog of millions of series should pre-split by key range).
    */
  private def buildSeeds(prepared: DataFrame, fIdx: Array[Int],
                         iIdx: Array[Int], tsIdx: Int, kIdx: Array[Int],
                         types: Array[DataType],
                         stepUs: Long): Map[(Int, List[Any]), Seed] = {
    val nK = kIdx.length; val nF = fIdx.length; val nI = iIdx.length

    // planned and run in the session's scope, like the session's queries
    // (graft.core.Scan.inSession): the classes they share compile once
    def inSession[T](f: => T): T = graft.core.Scan.inSession(prepared)(f)
    val rows = inSession(prepared.queryExecution.toRdd)
    def sameKey(r: InternalRow, keyInt: Array[Any]): Boolean = {
      if (keyInt == null) return false
      var i = 0
      while (i < nK) {
        val ci = kIdx(i)
        val v = if (r.isNullAt(ci)) null else r.get(ci, types(ci))
        if (v != keyInt(i)) return false
        i += 1
      }
      true
    }
    def ownedKey(r: InternalRow): Array[Any] =
      kIdx.map(i => if (r.isNullAt(i)) null
        else InternalRow.copyValue(r.get(i, types(i))))

    // job 1: series anchors (min non-null stamp per series) — a narrow scan
    // of the same RDD as job 2, keys externalized exactly as job 2 does;
    // it generates no aggregation code
    val anchors: Map[List[Any], Long] = inSession(rows.mapPartitions { it =>
      val acc = ArrayBuffer.empty[(List[Any], Long)]
      var keyInt: Array[Any] = null
      var lo = Long.MaxValue
      def flush(): Unit = if (keyInt != null && lo != Long.MaxValue)
        acc += ((keyInt.map(externalizeKey).toList, lo))
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(tsIdx)) {
          if (!sameKey(r, keyInt)) { flush(); keyInt = ownedKey(r); lo = Long.MaxValue }
          lo = math.min(lo, r.getLong(tsIdx))
        }
      }
      flush()
      acc.iterator
    }.collect()).groupMapReduce(_._1)(_._2)(math.min)
    val anchorsB = prepared.sparkSession.sparkContext.broadcast(anchors)

    // job 2: per-(partition, series) boundary summaries — plain RDD of a
    // small case class, no DataFrame/encoder detour
    val summaries: Array[SeedSummary] = inSession(
      rows.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val acc = ArrayBuffer.empty[SeedSummary]
        var key: List[Any] = null     // externalized, owned
        var keyInt: Array[Any] = null // internal, owned (run comparison)
        var lastGrid: java.lang.Long = null
        var ff: Array[Any] = null
        var inUs: Array[java.lang.Long] = null
        var inV: Array[java.lang.Double] = null
        var outUs: Array[java.lang.Long] = null
        var outV: Array[java.lang.Double] = null
        def flush(): Unit = if (key != null)
          acc += SeedSummary(pid, key, lastGrid, ff, inUs, inV, outUs, outV)
        while (it.hasNext) {
          val r = it.next()
          if (r.isNullAt(tsIdx)) { /* null stamps never repair */ }
          else {
            if (!sameKey(r, keyInt)) {
              flush()
              keyInt = ownedKey(r)
              key = keyInt.map(externalizeKey).toList
              lastGrid = null
              ff = new Array[Any](nF)
              inUs = new Array[java.lang.Long](nI)
              inV = new Array[java.lang.Double](nI)
              outUs = new Array[java.lang.Long](nI)
              outV = new Array[java.lang.Double](nI)
            }
            anchorsB.value.get(key).foreach { anchorUs =>
              val us = r.getLong(tsIdx)
              if ((us - anchorUs) % stepUs == 0 && us >= anchorUs) {
                lastGrid = us
                var j = 0
                while (j < nF) {
                  val ci = fIdx(j)
                  if (!r.isNullAt(ci))
                    ff(j) = InternalRow.copyValue(r.get(ci, types(ci)))
                  j += 1
                }
                j = 0
                while (j < nI) {
                  val ci = iIdx(j)
                  if (!r.isNullAt(ci)) {
                    val v = r.getDouble(ci)
                    if (outUs(j) == null) { outUs(j) = us; outV(j) = v }
                    inUs(j) = us; inV(j) = v
                  }
                  j += 1
                }
              }
            }
          }
        }
        flush()
        acc.iterator
      }.collect())

    // driver fold: partition-ordered prefix (anchor, grid continuation,
    // ffill carry, interp carry-in) + suffix (interp carry-out) per series
    val byKey = summaries.groupBy(_.key)
    val seeds = scala.collection.mutable.Map.empty[(Int, List[Any]), Seed]
    for ((k, rows0) <- byKey) {
      val anchorUs = anchors.getOrElse(k, Long.MinValue)
      if (anchorUs != Long.MinValue) {
        val rows = rows0.sortBy(_.pid)
        // prefix pass
        var prevGrid = Long.MinValue
        val ffC = new Array[Any](nF)
        val ciUs = new Array[Long](nI); val ciV = new Array[Double](nI)
        val ciHas = new Array[Boolean](nI)
        val pre = rows.map { s =>
          val seed = Seed(anchorUs, prevGrid, ffC.clone(),
            ciUs.clone(), ciV.clone(), ciHas.clone(),
            new Array[Long](nI), new Array[Double](nI), new Array[Boolean](nI))
          if (s.lastGrid != null) prevGrid = s.lastGrid
          var j = 0
          while (j < nF) {
            if (s.ff(j) != null) ffC(j) = s.ff(j)
            j += 1
          }
          j = 0
          while (j < nI) {
            if (s.inUs(j) != null) { // last non-null of this partition
              ciUs(j) = s.inUs(j); ciV(j) = s.inV(j); ciHas(j) = true
            }
            j += 1
          }
          (s.pid, seed)
        }
        // suffix pass for carry-out
        val coUs = new Array[Long](nI); val coV = new Array[Double](nI)
        val coHas = new Array[Boolean](nI)
        for (idx <- rows.indices.reverse) {
          val (pid, s) = pre(idx)
          System.arraycopy(coUs, 0, s.outUs, 0, nI)
          System.arraycopy(coV, 0, s.outV, 0, nI)
          System.arraycopy(coHas, 0, s.outHas, 0, nI)
          val r = rows(idx)
          var j = 0
          while (j < nI) {
            if (r.outUs(j) != null) { // first non-null of this partition
              coUs(j) = r.outUs(j); coV(j) = r.outV(j); coHas(j) = true
            }
            j += 1
          }
          seeds((pid, k)) = s
        }
      }
    }
    anchorsB.destroy()
    seeds.toMap
  }
}
