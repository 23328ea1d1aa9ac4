package graft.store

import java.time.YearMonth

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned store layout: the 100 TB read-path for Q4-style
  * range scans (SURVEY §2.5). [[PartitionedEmailStore]] writes rows
  * under `date_month=yyyy-MM/` directories (null dates under
  * `date_month=unknown`), so a month-bounded query prunes whole
  * partitions at planning time instead of reading and filtering —
  * verify with `PartitionFilters` in the scan plan (ScaleOpsSpec).
  */
object Partitioning {

  /** Month-pruned date-range read: derives the partition predicate from
    * the range (the partition column must appear in the filter for
    * pruning to engage) plus the exact row-level date bounds. */
  def readDateRange(spark: SparkSession, path: String,
      from: java.sql.Timestamp, until: java.sql.Timestamp): DataFrame = {
    val first = YearMonth.from(from.toLocalDateTime)
    val last = YearMonth.from(until.toLocalDateTime)
    val months = Iterator.iterate(first)(_.plusMonths(1))
      .takeWhile(!_.isAfter(last)).map(_.toString).toSeq
    spark.read.parquet(path)
      .filter(col("date_month").isin(months: _*))
      .filter(col("date") >= lit(from) && col("date") < lit(until))
  }
}
