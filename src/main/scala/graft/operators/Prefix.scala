package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed prefix scan: appends `outCol` = the running `agg` of `value`
  * over the rows in `sortCols` order — the column that
  * `agg(value).over(Window.orderBy(sortCols: _*).rowsBetween(
  * unboundedPreceding, currentRow))` (or `-1` when `strict`) gives, without
  * that form's single-partition exchange. A 1-based row number is `Sum`
  * over `lit(1L)`.
  *
  * Shape (that of `RDD.zipWithIndex`): range-partition on the sort key and
  * sort within partitions, with the partition id pinned as a column of the
  * persisted frame; one job folds each partition to at most one long — the
  * only values that reach the driver; one narrow pass seeds each partition
  * with the fold of all earlier partitions and emits the running value row
  * by row. ROWS-frame semantics: rows with equal sort keys each see the
  * rows sorted before them, in an unspecified but fixed order. Null values
  * are skipped; `outCol` is null where no value precedes (up to and
  * including the row, or strictly before it when `strict`).
  */
object Prefix {

  sealed trait Agg extends Serializable { def apply(a: Long, b: Long): Long }
  case object Sum extends Agg { def apply(a: Long, b: Long): Long = a + b }
  case object Max extends Agg { def apply(a: Long, b: Long): Long = math.max(a, b) }

  def scan(df: DataFrame, outCol: String, sortCols: Seq[Column], value: Column,
      agg: Agg, strict: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    // persist the input FIRST so repartitionByRange's boundary-sampling job
    // reads the cache instead of recomputing the upstream pipeline — unless
    // the caller already cached it, whose cache is the caller's to release
    val ownInput = df.storageLevel == StorageLevel.NONE
    val input = if (ownInput) df.persist() else df
    val ranged = input.repartitionByRange(nParts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      // pin partition assignment and order across the two passes; the
      // cache backs the returned (lazy) frame, so CacheTracker.releaseAll
      // frees it after the query's action
      .transform(graft.CacheTracker.persist)
    val n = input.columns.length // row layout below: input columns, __pid, __v
    val src = ranged.withColumn("__v", value.cast(LongType))

    val folds = src.select("__pid", "__v").queryExecution.toRdd.mapPartitions { rows =>
      var pid = -1; var has = false; var acc = 0L
      rows.foreach { r =>
        pid = r.getInt(0)
        if (!r.isNullAt(1)) {
          acc = if (has) agg(acc, r.getLong(1)) else r.getLong(1)
          has = true
        }
      }
      if (has) Iterator((pid, acc)) else Iterator.empty
    }.collect().toMap
    // the folds job materialized `ranged`; the input cache is done
    if (ownInput) input.unpersist(blocking = false)
    // seeds(p) = fold over every partition before p (None: no value yet)
    val seeds = (0 until nParts).scanLeft(Option.empty[Long]) { (acc, p) =>
      folds.get(p).fold(acc)(v => Some(acc.fold(v)(agg(_, v))))
    }.toArray

    val outSchema = StructType(input.schema.fields :+
      StructField(outCol, LongType, nullable = strict || src.schema("__v").nullable))
    src.mapPartitions { (rows: Iterator[Row]) =>
      var first = true; var has = false; var acc = 0L
      rows.map { r =>
        if (first) {
          seeds(r.getInt(n)).foreach { s => has = true; acc = s }
          first = false
        }
        val before: Any = if (has) acc else null
        if (!r.isNullAt(n + 1)) {
          acc = if (has) agg(acc, r.getLong(n + 1)) else r.getLong(n + 1)
          has = true
        }
        val out: Any = if (strict) before else if (has) acc else null
        Row.fromSeq((0 until n).map(r.get) :+ out)
      }
    }(Encoders.row(outSchema))
  }
}
