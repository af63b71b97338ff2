package graft.operators

import graft.core.Rules
import graft.sources.Readers
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, NumericType}

/** OHLCV time-bucket resampling (reference O14:
  * src/etl/transform/resample.py:39-100).
  *
  * Aggregation map over present columns: OPEN→first, HIGH→max, LOW→min,
  * CLOSE→last, VOLUME/TICKVOL/VOL→sum, SYMBOL→last; unmapped numeric
  * columns follow `extraNumericPolicy` (mean default / sum); unmapped
  * non-numeric columns are dropped (resample.py:13-36, 74-88).
  *
  * pandas parity micro-semantics (SURVEY.md §2.2.1-3):
  *  - first/last skip NaN → `min_by`/`max_by` keyed on the timestamp only
  *    where the value is non-null (one hash aggregate, no row_number
  *    pre-pass; buckets have unique stamps post-normalize);
  *  - sum of an all-NaN/empty bucket is 0.0 → `coalesce(sum, 0.0)`;
  *  - pandas emits EMPTY in-range buckets (NaN aggs, 0.0 sums);
  *    `emitEmpty = true` joins the bucket grid to replicate that, and
  *    `dropIncomplete` then removes NaN-CLOSE buckets (resample.py:90-95).
  *
  * Buckets are left-closed/left-labeled epoch-aligned floors — identical to
  * pandas' minute/hour anchoring (all reference rules divide 24 h).
  * One shuffle: the groupBy on (series, bucket); Spark's partial
  * aggregation gives the map-side combine the reference's single pass has
  * implicitly.
  */
object Resample {

  val TsCol: String = Normalize.TsCol

  /** Left-closed, left-labeled bucket start for the rule. */
  def bucket(ts: Column, rule: String): Column =
    timestamp_micros(
      (unix_micros(ts) - pmod(unix_micros(ts), lit(Rules.stepMicros(rule)))))

  // aggregate kinds of the OHLCV map, as ints so scan state stays primitive
  private final val First = 0
  private final val Last = 1
  private final val Max = 2
  private final val Min = 3
  private final val Sum0 = 4 // coalesce(sum, 0.0): pandas' empty-bucket sum
  private final val Mean = 5

  /** The aggregation map over present columns, (output name, kind), plus
    * the unmapped numeric columns it covers.
    */
  private def ohlcSpec(df: DataFrame, extraNumericPolicy: String,
                       partitionCols: Seq[String])
      : (Vector[(String, Int)], Seq[String]) = {
    val cols = df.columns.toSeq
    var spec = Vector.empty[(String, Int)]
    if (cols.contains("OPEN")) spec :+= "OPEN" -> First
    if (cols.contains("HIGH")) spec :+= "HIGH" -> Max
    if (cols.contains("LOW")) spec :+= "LOW" -> Min
    if (cols.contains("CLOSE")) spec :+= "CLOSE" -> Last
    for (v <- Seq("VOLUME", "TICKVOL", "VOL") if cols.contains(v))
      spec :+= v -> Sum0
    if (cols.contains("SYMBOL") && !partitionCols.contains("SYMBOL"))
      spec :+= "SYMBOL" -> Last

    val mapped = spec.map(_._1).toSet ++ partitionCols +
      TsCol + Readers.FileOrderCol
    val extras = df.schema.fields
      .filter(f => !mapped.contains(f.name))
      .filter(_.dataType.isInstanceOf[NumericType])
      .map(_.name).toSeq
    for (c <- extras)
      spec :+= c -> (if (extraNumericPolicy == "sum") Sum0 else Mean)
    (spec, extras)
  }

  /** The aggregation map as Spark aggregates. first/last skip NaN-free
    * nulls via `min_by`/`max_by` keyed on the stamp where the value is
    * non-null.
    */
  private def ohlcAggs(df: DataFrame, extraNumericPolicy: String,
                       partitionCols: Seq[String])
      : (Vector[(String, Column)], Seq[String]) = {
    val ts = col(TsCol)
    val (spec, extras) = ohlcSpec(df, extraNumericPolicy, partitionCols)
    (spec.map { case (c, kind) => c -> (kind match {
      case First => min_by(col(c), when(col(c).isNotNull, ts))
      case Last  => max_by(col(c), when(col(c).isNotNull, ts))
      case Max   => max(col(c))
      case Min   => min(col(c))
      case Sum0  => coalesce(sum(col(c)), lit(0.0))
      case _     => avg(col(c))
    })}, extras)
  }

  /** `inputOnBucketGrid`: caller guarantees the input already has exactly
    * one row per `rule` bucket (e.g. it was just gap-repaired at the same
    * rule — the reference pipeline's shape, src/run.py:194-216). Every
    * aggregate over a single-row bucket is the row itself, so the groupBy
    * shuffle is replaced by a projection: first/last/max/min = value,
    * sum(null) = 0.0 via coalesce, unmapped non-numeric columns drop.
    */
  def resampleOhlc(df: DataFrame, rule: String,
                   dropIncomplete: Boolean = true,
                   extraNumericPolicy: String = "mean",
                   emitEmpty: Boolean = false,
                   partitionCols: Seq[String] = Nil,
                   inputOnBucketGrid: Boolean = false): DataFrame = {
    val cols = df.columns.toSeq
    val ts = col(TsCol)
    val (aggs, extras) = ohlcAggs(df, extraNumericPolicy, partitionCols)

    val keyCols = partitionCols.map(col) :+ bucket(ts, rule).as(TsCol)
    val agged =
      if (inputOnBucketGrid) {
        // single-row buckets: aggregation degenerates to a projection. The
        // label is still the epoch-aligned bucket floor — gap repair anchors
        // its grid at each series' first stamp, so a series starting
        // off-boundary (00:02 at 5T) has rows one-per-bucket but NOT on the
        // bucket labels pandas resample emits; flooring here restores them.
        val sumSet = (Seq("VOLUME", "TICKVOL", "VOL").filter(cols.contains) ++
          (if (extraNumericPolicy == "sum") extras else Nil)).toSet
        df.filter(ts.isNotNull)
          .select(partitionCols.map(col) ++ Seq(bucket(ts, rule).as(TsCol)) ++
            aggs.map { case (n, _) =>
              if (sumSet.contains(n)) coalesce(col(n), lit(0.0)).as(n)
              else col(n)
            }: _*)
      } else df
        .filter(ts.isNotNull)
        .groupBy(keyCols: _*)
        .agg(aggs.head._2.as(aggs.head._1),
          aggs.tail.map { case (n, c) => c.as(n) }: _*)

    val withEmpty =
      if (!emitEmpty) agged
      else {
        // bucket grid between each series' min/max bucket; empty buckets
        // surface with null OHLC and 0.0 sums (pandas resample shape)
        val grid = Gaps.expectedGrid(
          df.filter(ts.isNotNull)
            .select((partitionCols.map(col) :+ bucket(ts, rule).as(TsCol)): _*),
          rule, partitionCols)
        val sumCols = (Seq("VOLUME", "TICKVOL", "VOL").filter(cols.contains) ++
          (if (extraNumericPolicy == "sum") extras else Nil)).toSet
        val joined = grid.join(agged, partitionCols :+ TsCol, "left")
        joined.withColumns(
          sumCols.map(c => c -> coalesce(col(c), lit(0.0))).toMap)
      }

    val dropped =
      if (dropIncomplete && cols.contains("CLOSE"))
        withEmpty.filter(col("CLOSE").isNotNull)
      else withEmpty

    // canonical column order regardless of keying: bucket, values, keys —
    // a keyed run exports the same schema shape as the single-series run
    val projected = dropped
      .select((Seq(TsCol) ++ aggs.map(_._1) ++ partitionCols).map(col): _*)
    // the projection fast path preserves the input's per-series order and
    // partitioning (narrow ops over a monotone bucket floor) — a partition-
    // local sort gives the same per-series time order WITHOUT the range-
    // partitioner sampling pass + shuffle a global orderBy costs per export
    if (inputOnBucketGrid && !emitEmpty)
      projected.sortWithinPartitions((partitionCols :+ TsCol).map(col): _*)
    else projected.orderBy((partitionCols :+ TsCol).map(col): _*)
  }

  /** Rule tag column of [[resampleOhlcRules]]' output. */
  val RuleCol = "_rule"

  /** [[resampleOhlc]] for several rules over ONE input, each candle
    * tagged with its rule in [[RuleCol]]. On the sorted range layout the
    * candles of every rule come from one narrow scan with no shuffle (see
    * [[rulesByScan]]); otherwise each rule is its own plan, unioned. Per
    * rule, the rows and values equal `resampleOhlc(df, rule)`;
    * [[ruleSlice]] selects one rule's candles, in (keys, time) order.
    */
  def resampleOhlcRules(df: DataFrame, rules: Seq[String],
                        dropIncomplete: Boolean = true,
                        extraNumericPolicy: String = "mean",
                        partitionCols: Seq[String] = Nil,
                        /** input is RANGE-partitioned on (keys, stamp) and
                          * sorted within partitions (Normalize's layout,
                          * kept by gap repair): candles come from a narrow
                          * scan when every aggregated column is a double */
                        layoutSorted: Boolean = false): DataFrame = {
    require(rules.nonEmpty, "resampleOhlcRules needs at least one rule")
    val (spec, _) = ohlcSpec(df, extraNumericPolicy, partitionCols)
    if (layoutSorted &&
        spec.forall { case (c, _) => df.schema(c).dataType == DoubleType })
      rulesByScan(df, rules, spec, dropIncomplete, partitionCols)
    else rules
      .map(r => resampleOhlc(df, r, dropIncomplete, extraNumericPolicy,
        partitionCols = partitionCols).withColumn(RuleCol, lit(r)))
      .reduce(_ unionByName _)
  }

  /** One rule's open bucket while scanning: per aggregate, the value
    * (first/last/extreme, or the running sum), whether a non-null input was
    * seen, and the non-null count (the mean's divisor).
    */
  private final class Bucket(val key: Array[Any], val id: Long, nAggs: Int)
      extends Serializable {
    val v = new Array[Double](nAggs)
    val has = new Array[Boolean](nAggs)
    val n = new Array[Long](nAggs)

    def add(j: Int, kind: Int, x: Double): Unit = {
      kind match {
        case First => if (!has(j)) v(j) = x
        case Last => v(j) = x
        case Max => if (!has(j) || SQLOrderingUtil.compareDoubles(x, v(j)) > 0) v(j) = x
        case Min => if (!has(j) || SQLOrderingUtil.compareDoubles(x, v(j)) < 0) v(j) = x
        case _ => v(j) = (if (has(j)) v(j) else 0.0) + x
      }
      has(j) = true
      n(j) += 1
    }

    /** This bucket's rows, followed by `later`'s (the same bucket's rows
      * in the next partition), in Spark's merge order.
      */
    def merged(later: Bucket, kinds: Array[Int]): Bucket = {
      val m = new Bucket(key, id, v.length)
      for (j <- v.indices) {
        m.v(j) = v(j); m.has(j) = has(j); m.n(j) = n(j) + later.n(j)
        if (later.has(j)) {
          kinds(j) match {
            case First => if (!has(j)) m.v(j) = later.v(j)
            case Last => m.v(j) = later.v(j)
            case Max => if (!has(j) ||
              SQLOrderingUtil.compareDoubles(later.v(j), v(j)) > 0) m.v(j) = later.v(j)
            case Min => if (!has(j) ||
              SQLOrderingUtil.compareDoubles(later.v(j), v(j)) < 0) m.v(j) = later.v(j)
            case _ => m.v(j) = (if (has(j)) v(j) else 0.0) + later.v(j)
          }
          m.has(j) = true
        }
      }
      m
    }

    def sameBucket(o: Bucket): Boolean =
      o != null && o.id == id && o.key.sameElements(key)
  }

  /** [[resampleOhlcRules]] on the sorted range layout, without a shuffle:
    * within a partition every (series, bucket) is a contiguous run of rows,
    * so each rule's candles close as the scan moves on. Only a partition's
    * first and last bucket per rule can continue across a partition
    * boundary: a first scan returns those (fixed-size metadata), the
    * driver chains continuing buckets in partition order, and the emitting
    * scan gives each partition its carried-in state and tells it which
    * last buckets the next partition completes. Values equal the
    * aggregation plan's, including its merge order for sums.
    */
  private def rulesByScan(df: DataFrame, rules: Seq[String],
                          spec: Vector[(String, Int)], dropIncomplete: Boolean,
                          partitionCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{StringType, StructField, StructType,
      TimestampType}
    import org.apache.spark.unsafe.types.UTF8String
    val schema = df.schema
    val tsIdx = schema.fieldIndex(TsCol)
    val kIdx = partitionCols.map(schema.fieldIndex).toArray
    val kTypes = kIdx.map(i => schema.fields(i).dataType)
    val aIdx = spec.map(s => schema.fieldIndex(s._1)).toArray
    val kinds = spec.map(_._2).toArray
    val steps = rules.map(Rules.stepMicros).toArray
    val closeJ = spec.indexWhere(_._1 == "CLOSE")
    val nR = steps.length
    val rows = graft.core.Scan.inSession(df)(graft.core.Scan.rows(df))

    // Runs `f(rule, bucket, isFirst)` on every bucket that closes inside
    // the partition; returns the first and last bucket per rule.
    def scan(it: Iterator[InternalRow], f: (Int, Bucket, Boolean) => Unit)
        : (Array[Bucket], Array[Bucket]) = {
      val first = new Array[Bucket](nR)
      val cur = new Array[Bucket](nR)
      var key: Array[Any] = null
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(tsIdx)) {
          val newKey = key == null || kIdx.indices.exists { i =>
            val v = if (r.isNullAt(kIdx(i))) null else r.get(kIdx(i), kTypes(i))
            v != key(i)
          }
          if (newKey) key = kIdx.indices.map(i => if (r.isNullAt(kIdx(i))) null
            else InternalRow.copyValue(r.get(kIdx(i), kTypes(i)))).toArray
          val us = r.getLong(tsIdx)
          var q = 0
          while (q < nR) {
            val id = us - java.lang.Math.floorMod(us, steps(q))
            if (newKey || cur(q) == null || cur(q).id != id) {
              if (cur(q) != null) f(q, cur(q), cur(q) eq first(q))
              cur(q) = new Bucket(key, id, kinds.length)
              if (first(q) == null) first(q) = cur(q)
            }
            var j = 0
            while (j < kinds.length) {
              if (!r.isNullAt(aIdx(j))) cur(q).add(j, kinds(j), r.getDouble(aIdx(j)))
              j += 1
            }
            q += 1
          }
        }
      }
      (first, cur)
    }

    // pass 1: each partition's first/last bucket per rule (complete over
    // the partition), and whether they are one bucket
    val ends = graft.core.Scan.inSession(df)(rows.mapPartitionsWithIndex { (pid, it) =>
      val (first, last) = scan(it, (_, _, _) => ())
      if (last(0) == null) Iterator.empty
      else Iterator.single((pid, first, last, first.indices.map(q => first(q) eq last(q))))
    }.collect())

    // driver: chain buckets that continue into the next non-empty partition
    val carryIn = scala.collection.mutable.Map.empty[(Int, Int), Bucket]
    val continues = scala.collection.mutable.Set.empty[(Int, Int)]
    for (q <- 0 until nR) {
      var open: Bucket = null // state of the bucket ending the previous partition
      var openPid = -1
      for ((pid, first, last, single) <- ends) {
        if (first(q).sameBucket(open)) {
          carryIn((pid, q)) = open
          continues += ((openPid, q))
        }
        open = if (single(q) && carryIn.contains((pid, q)))
          carryIn((pid, q)).merged(last(q), kinds) else last(q)
        openPid = pid
      }
    }
    val carry = carryIn.toMap
    val cont = continues.toSet
    val ruleNames = rules.map(UTF8String.fromString).toArray
    val nK = kIdx.length

    // pass 2: emit every bucket this partition completes
    val out = rows.mapPartitionsWithIndex { (pid, it) =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      def emit(q: Int, b0: Bucket, isFirst: Boolean): Unit = {
        val b = if (isFirst) carry.get((pid, q)).fold(b0)(_.merged(b0, kinds))
                else b0
        if (!dropIncomplete || closeJ < 0 || b.has(closeJ)) {
          val vals = new Array[Any](1 + kinds.length + nK + 1)
          vals(0) = b.id
          for (j <- kinds.indices) vals(1 + j) =
            if (kinds(j) == Sum0) (if (b.has(j)) b.v(j) else 0.0)
            else if (!b.has(j)) null
            else if (kinds(j) == Mean) b.v(j) / b.n(j)
            else b.v(j)
          for (i <- 0 until nK) vals(1 + kinds.length + i) = b.key(i)
          vals(vals.length - 1) = ruleNames(q)
          buf += new GenericInternalRow(vals)
        }
      }
      val (first, last) = scan(it, emit)
      for (q <- 0 until nR if last(q) != null && !cont.contains((pid, q)))
        emit(q, last(q), last(q) eq first(q))
      buf.iterator
    }
    val outSchema = StructType(
      Seq(StructField(TsCol, TimestampType)) ++
        spec.map { case (c, _) => StructField(c, DoubleType) } ++
        kIdx.map(i => schema.fields(i).copy(nullable = true)) :+
        StructField(RuleCol, StringType))
    org.apache.spark.sql.graft.GraftSqlBridge
      .internalCreateDataFrame(df.sparkSession, out, outSchema)
  }

  /** One rule's candles from [[resampleOhlcRules]]' output. */
  def ruleSlice(multi: DataFrame, rule: String): DataFrame =
    multi.filter(col(RuleCol) === rule).drop(RuleCol)

  /** Faithful-mode pipeline step (SURVEY.md §2.2.4 / §7.3): the reference
    * runs `repair_gaps(rule=tf)` BEFORE `resample_ohlc(rule=tf)`, which
    * reindexes onto the target-frequency grid and silently drops every
    * source row not exactly on it — so coarse candles are grid-samples, not
    * true aggregates. Kept as an explicit, documented mode for parity.
    */
  def faithful(df: DataFrame, rule: String,
               useFfillFor: Seq[String] = Seq("VOLUME"),
               interpolatePrices: Boolean = true,
               dropIncomplete: Boolean = true,
               partitionCols: Seq[String] = Nil): DataFrame = {
    val repaired = Gaps.repairGaps(df, rule, useFfillFor, interpolatePrices,
      partitionCols = partitionCols, computeReport = false).df
    resampleOhlc(repaired, rule, dropIncomplete, partitionCols = partitionCols)
  }
}
