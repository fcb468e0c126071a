package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.MergeSnapshotStore
import graft.model.DomainDef

/**
 * Stage 4 — materialize "domain" reporting tables from SQL statements
 * stored as data (reference src/apply_to_domains.py).
 *
 * A definition row carries Status,Type,Domain,Dependancies,Target,
 * Resolution (tests/data/dummy/database/domain_definitions CSVs). Only
 * definitions whose dependency list intersects the changed-table set are
 * re-materialized (incremental-view activation, reference
 * `filter_statements` via rdd.map :76-106 — here a plain Dataset filter,
 * no RDD/Python boundary). Each active definition's Resolution SQL runs
 * through the full Catalyst lifecycle over temp views of its dependencies,
 * gets a `process_id` stamp, and snapshot-overwrites its target with
 * schema evolution (mergeSchema, :213-228).
 */
final class DomainRunner(spark: SparkSession, store: MergeSnapshotStore) {
  import spark.implicits._

  /** CSV scan with header (reference src/apply_to_domains.py:181-197).
   * The file's six string columns are declared, so Spark runs no job to
   * read the header for the column names; the header line is skipped
   * and the columns bind by position. */
  def loadDefs(path: String): Dataset[DomainDef] =
    spark.read.option("header", "true").schema(DomainRunner.DefsSchema).csv(path)
      .select(
        col("Status").as("status"),
        col("Type").as("defType"),
        col("Domain").as("domain"),
        split(col("Dependancies"), ",").as("dependencies"),
        col("Target").as("target"),
        col("Resolution").as("resolution"))
      .as[DomainDef]

  /** Activation: a definition is due iff any dependency saw change events
   * (reference `filter_statements`, src/apply_to_domains.py:76-94). */
  def activate(defs: Dataset[DomainDef], changedTables: Seq[String]): Dataset[DomainDef] = {
    val changed = changedTables.map(_.toLowerCase).toSet
    defs.filter(d => d.dependencies.exists(dep => changed.contains(dep.trim.toLowerCase)))
  }

  /** Run one definition: temp views for dependencies, Catalyst SQL,
   * process-id stamp (reference `run_statement`, src/apply_to_domains.py:54-68).
   * The dependency views are SKIPPING scans
   * ([[graft.catalog.MergeSnapshotStore.read]]):
   * any predicate the Resolution SQL pushes to a scan prunes files
   * through the manifest stats before a footer opens — results are
   * identical (pruning is a sound superset), only the file list
   * shrinks. */
  def runStatement(db: String, d: DomainDef, processId: Long): DataFrame =
    runStatement(db, d, processId, Map.empty)

  /** [[runStatement]] with per-dependency version pins (AS-OF domain
   * SQL): a pinned dependency's temp view is the SKIPPING scan of that
   * committed-and-retained version, so time-travel resolutions prune
   * files exactly as HEAD resolutions do; unpinned dependencies read
   * HEAD as before. */
  def runStatement(db: String, d: DomainDef, processId: Long,
                   pins: Map[String, Int]): DataFrame = {
    d.dependencies.foreach { dep =>
      store.read(db, dep.trim, pins.get(dep.trim))
        .createOrReplaceTempView(dep.trim)
    }
    spark.sql(d.resolution).withColumn("process_id", lit(processId))
  }

  /** Full stage (reference start(), src/apply_to_domains.py:252-282).
   * After each write the target's narrowed output schema is registered in
   * the catalog, matching the reference's per-run Glue column-list update
   * (`update_column_list_in_glue`, src/apply_to_domains.py:147-166,
   * invoked at :279-281). */
  def run(db: String, defsPath: String, changedTables: Seq[String],
          processId: Long = System.currentTimeMillis()): Seq[String] = {
    // defs are tiny config rows; the targets are not known until they
    // are read, so the collect is labelled with the db
    val active = store.jobLabel(s"domain: $db defs") {
      activate(loadDefs(defsPath), changedTables).collect().toSeq
    }
    active.map { d =>
      val out = runStatement(db, d, processId)
      store.overwrite(db, d.target, out, mergeSchema = true)
      val meta = store.catalog(db, d.target)
      store.catalog.register(meta.copy(
        schema = Some(DomainRunner.narrowForCatalog(store.committedSchema(db, d.target)))))
      d.target
    }
  }
}

object DomainRunner {
  /** The definitions CSV's columns, in file order. */
  private val DefsSchema: StructType = StructType(
    Seq("Status", "Type", "Domain", "Dependancies", "Target", "Resolution")
      .map(StructField(_, StringType)))

  /**
   * Catalog-registration type narrowing (reference `glue_datatypes` +
   * `schema_to_columns`, src/apply_to_domains.py:121-144): anything outside
   * {integer, date, timestamp, string} — including structs — registers as
   * string.
   */
  def narrowForCatalog(schema: StructType): StructType = StructType(schema.map { f =>
    val t = f.dataType match {
      case IntegerType | DateType | TimestampType | StringType => f.dataType
      case _ => StringType
    }
    StructField(f.name, t)
  })
}
