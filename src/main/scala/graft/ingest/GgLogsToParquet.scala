package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType, TimestampType}

import graft.catalog.MergeSnapshotStore

/**
 * Stage 1 — raw GoldenGate JSON event logs -> hashed, date-partitioned
 * parquet landing zone (reference src/gg_logs_to_parquet.py).
 *
 * Pure narrow transformations: schema-inferred (or explicit-schema) JSON
 * scan, Murmur3 content hashes of the before/after images, drop the
 * variable-key `tokens` object, derive the `part_date` partition column
 * from the op timestamp string, write partitioned parquet. One
 * driver->executor boundary at the write; everything stays inside
 * whole-stage codegen. At 100 TB the only knobs that matter are input
 * split size and output partition count — there is no shuffle here.
 */
object GgLogsToParquet {

  /**
   * Landing layout: `table=<src>/part_date=<date>/part-*.parquet`.
   *
   * The reference partitions by date only (src/gg_logs_to_parquet.py:35) and
   * its CDC stage then re-reads the WHOLE log once per target table. Leading
   * with the source-table column means the applier's per-table
   * `filter(col("table").isin(...))` prunes to that table's files at
   * planning time — at 100 TB each target's merge scans only its own slice
   * of the landing zone, no cache or rescan of the full log.
   */
  val PartitionBy: Seq[String] = Seq("table", "part_date")

  /** Schema-inferred raw scan (reference src/gg_logs_to_parquet.py:70-85).
   * Inference is a separate scan — pass `schema` in production. */
  def readRaw(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read.json(path))(s => spark.read.schema(s).json(path))

  /**
   * 32-bit Murmur3 content hash of the full before/after row images, then
   * drop `tokens` (reference `add_hash_drop_tokens`,
   * src/gg_logs_to_parquet.py:162-173). `functions.hash` is the same
   * Murmur3 PySpark exposes, so golden values match bit-for-bit
   * (e.g. -1007943897, reference tests/test_1_gg_logs_to_parquet.py:23-34).
   * Insert-only / delete-only logs lack `before` / `after`; hash what exists.
   */
  def withHashesDropTokens(df: DataFrame): DataFrame = {
    val cols = df.columns.map(_.toLowerCase).toSet
    val d0 = if (cols.contains("tokens")) df.drop("tokens") else df
    val d1 = if (cols.contains("after")) d0.withColumn("after_hash", hash(col("after"))) else d0
    if (cols.contains("before")) d1.withColumn("before_hash", hash(col("before"))) else d1
  }

  /** Derive partition columns from the op-timestamp string (reference
   * `add_partitions_from_op_ts`, src/gg_logs_to_parquet.py:176-198):
   * `part_date` = first 19 chars cast to date; optional `part_time` HH:mm. */
  def withPartitions(df: DataFrame, withTime: Boolean = false): DataFrame = {
    val ts = substring(col("op_ts"), 1, 19)
    val d = df.withColumn("part_date", ts.cast(DateType))
    if (withTime) d.withColumn("part_time", date_format(ts.cast(TimestampType), "HH:mm")) else d
  }

  /** Ragged union across I/U/D logs — inserts lack `before`, deletes lack
   * `after` (reference `union_dfs`, src/gg_logs_to_parquet.py:216-226). */
  def unionRagged(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionRagged of zero frames")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  def ingest(df: DataFrame): DataFrame = withPartitions(withHashesDropTokens(df))

  /** Full stage: read raw logs, transform, append to the landing table,
   * and register the landed schema in the catalog — parity with the
   * reference's `write_catalog(enableUpdateCatalog=True, partitionKeys=
   * PARTITION_BY)` at ingest (src/gg_logs_to_parquet.py:106-123), which
   * keeps the Glue table definition in step with every landing write. */
  def run(spark: SparkSession, store: MergeSnapshotStore, rawPath: String,
          db: String, table: String, schema: Option[StructType] = None): Unit = {
    // jobs labelled `ingest: <db.table> <phase>`: the schema inference
    // (none with an explicit schema), then the landing write
    val landed = store.jobLabel(s"ingest: $db.$table infer") {
      ingest(readRaw(spark, rawPath, schema))
    }
    val meta = store.catalog(db, table)
    val fresh = holdsNoData(spark, meta.location)
    store.jobLabel(s"ingest: $db.$table write") {
      store.appendPartitioned(db, table, landed)
    }
    store.catalog.register(meta.copy(schema = landedSchema(meta.schema, landed.schema, fresh)))
  }

  /** The schema to register after one more append to a landing table,
   * such that it covers every file the table holds (readers scan with
   * it): the append's own schema when the table held no data before;
   * otherwise the field-by-name union (nested image structs included)
   * of what was registered and what this append wrote — an insert-only
   * batch must not hide an earlier batch's `before` images. An unknown
   * prior schema, or a type conflict between the two, yields `None`:
   * readers then infer the schema from the files. */
  def landedSchema(prior: Option[StructType], landed: StructType,
                   fresh: Boolean): Option[StructType] =
    if (fresh) Some(landed) else prior.flatMap(unionSchema(_, landed))

  /** True when `location` does not exist or holds only hidden entries
   * (`_`/`.`-prefixed markers), i.e. no landed data. */
  def holdsNoData(spark: SparkSession, location: String): Boolean = {
    val p = new Path(location)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(p) || fs.listStatus(p).forall { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
  }

  private def unionSchema(a: StructType, b: StructType): Option[StructType] = {
    val bByName = b.fields.map(f => f.name.toLowerCase -> f).toMap
    val merged = a.fields.toSeq.map { fa =>
      bByName.get(fa.name.toLowerCase) match {
        case None => Some(fa.copy(nullable = true))
        case Some(fb) => ((fa.dataType, fb.dataType) match {
          case (sa: StructType, sb: StructType) => unionSchema(sa, sb)
          case (ta, tb) if ta == tb => Some(ta)
          case _ => None
        }).map(dt => fa.copy(dataType = dt, nullable = fa.nullable || fb.nullable))
      }
    }
    val aNames = a.fieldNames.map(_.toLowerCase).toSet
    val added = b.fields.toSeq.filterNot(f => aNames(f.name.toLowerCase))
      .map(f => Some(f.copy(nullable = true)))
    val all = merged ++ added
    if (all.forall(_.isDefined)) Some(StructType(all.map(_.get))) else None
  }
}
