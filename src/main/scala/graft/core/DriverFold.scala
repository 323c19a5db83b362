package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/** A frame folded to a few longs in ONE Spark job with no exchange: each
  * partition reduces its rows to a `long[]` partial, the driver merges
  * the partials as they arrive (`Dataset.reduce`: a tracked SQL
  * execution, so query listeners see it). A SQL aggregate would plan an
  * exchange, which adaptive execution runs as a stage plus a result job. */
object DriverFold {

  /** `part` must accept an empty iterator: a frame with no partition
    * folds to `part(Iterator.empty)`. `merge` may update its left side. */
  def apply(df: DataFrame)(part: Iterator[Row] => Array[Long])(
      merge: (Array[Long], Array[Long]) => Array[Long]): Array[Long] = {
    import df.sparkSession.implicits._
    try df.mapPartitions(it => Iterator(part(it))).reduce(merge)
    catch { // zero partitions; a failed task or merge never throws this
      case e: UnsupportedOperationException
          if e.getMessage.contains("empty collection") => part(Iterator.empty)
    }
  }

  /** The distinct values of `df`'s first column (a non-null long), at
    * most `cap` of them: a result of `cap` values means "at least
    * `cap`". Executors and driver each hold at most about 2·`cap`. */
  def distinctLongs(df: DataFrame, cap: Int = Int.MaxValue): Array[Long] =
    apply(df) { it =>
      val s = scala.collection.mutable.HashSet[Long]()
      while (it.hasNext && s.size < cap) s += it.next().getLong(0)
      s.toArray
    }((a, b) => (a ++ b).distinct.take(cap))
}
