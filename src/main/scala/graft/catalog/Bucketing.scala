package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * Bucketed table layout — the co-located join path. Two tables bucketed
 * by the same key into the same bucket count join WITHOUT a shuffle: the
 * scan exposes the bucket hash-partitioning to the planner, so the
 * SortMergeJoin reads matching buckets side by side. At 100 TB this turns
 * every fact-to-fact join on the bucket key from a full two-sided shuffle
 * into a local merge — the biggest shuffle saving a lakehouse layout can
 * buy, and the right home for the CDC snapshots (bucket by PK: every
 * apply-merge joins on it).
 *
 * Bucketing rides Spark's session catalog (`bucketBy` metadata only
 * exists for catalog tables), so these are registered tables with an
 * explicit external `path`, unlike the path-based [[MergeSnapshotStore]].
 */
object Bucketing {

  /** Write `df` as an external bucketed+sorted parquet table. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit =
    df.write.format("parquet").mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Equi-join two same-bucketed tables on the bucket key — planner emits
   * no shuffle on either side. */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    leftKey: String, rightKey: String): DataFrame = {
    // Aliases make the join-key resolution positional — `l(k) === r(k)`
    // relies on dataset-id disambiguation, which degrades to a trivially
    // true predicate when left == right (self-join of one bucketed table).
    val l = spark.table(left).alias("__cj_l")
    val r = spark.table(right).alias("__cj_r")
    l.join(r, col(s"__cj_l.$leftKey") === col(s"__cj_r.$rightKey"))
  }
}
