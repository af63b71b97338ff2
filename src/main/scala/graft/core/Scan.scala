package graft.core

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlBridge

/** Narrow, driver-merged scans over a frame's own rows: one job, no
  * shuffle, and no generated code beyond the frame's plan — a cached
  * frame's plan is its cache's row iterator.
  */
object Scan {

  /** `df`'s rows as Spark's internal rows, planned afresh: a frame planned
    * before it was persisted (a size estimate, then `persist`) keeps its
    * uncached plan, so reading `df.queryExecution` directly would recompute
    * the frame instead of reading — or filling — its cache. Plan it inside
    * [[inSession]] when a session query shares its code.
    */
  def rows(df: DataFrame): RDD[InternalRow] =
    df.select(df.columns.map(c => col(s"`$c`")).toSeq: _*).queryExecution.toRdd

  /** Runs `f` over every partition of `df`'s rows (partition index, rows)
    * and returns the results in partition order.
    */
  def partitions[T: ClassTag](df: DataFrame)(
      f: (Int, Iterator[InternalRow]) => Iterator[T]): Array[T] =
    inSession(df)(rows(df).mapPartitionsWithIndex(f).collect())

  /** Builds plans and runs jobs in `df`'s session scope, as the session's
    * own queries do — so the generated classes a scan shares with them
    * are compiled and loaded once, not once per class loader.
    */
  def inSession[T](df: DataFrame)(f: => T): T =
    GraftSqlBridge.withSessionArtifacts(df.sparkSession)(f)
}
