package graft.catalog

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.types.StructType

/**
 * Table metadata: the engine-side replacement for the reference's AWS Glue
 * catalog lookups (`get_table_location`, reference
 * src/apply_change_log_to_delta.py:102-111) and its hardcoded primary-key
 * registry (`get_primary_key`, src/apply_change_log_to_delta.py:141-150,
 * dev/_get_schema_from_glue.py:108-123 stores it as table parameter "PK").
 *
 * At cluster scale the catalog is a metadata service (Glue / HMS / Unity);
 * here it is a trait so the engine code never hardcodes paths.
 */
final case class TableMeta(
    db: String,
    name: String,
    location: String,
    format: String = "parquet",
    primaryKey: Seq[String] = Nil,
    partitionBy: Seq[String] = Nil,
    properties: Map[String, String] = Map.empty,
    schema: Option[StructType] = None) {
  def qualified: String = s"$db.$name"
  /** True when the table has a registered (possibly composite) key. */
  def hasPrimaryKey: Boolean = primaryKey.nonEmpty
}

trait Catalog {
  def get(db: String, table: String): Option[TableMeta]
  def register(meta: TableMeta): Unit
  def list(db: String): Seq[TableMeta]
  /** Every registered table across databases — used at CLONE time to
   * find which registered table owns a borrowed absolute reference
   * (clone-of-a-clone borrows the ORIGINAL's files). Default: none —
   * an external Catalog that does not override this still gets
   * borrower protection for direct clones (the source table is known
   * without a listing); only chained-clone owner discovery degrades,
   * and [[graft.catalog.MergeSnapshotStore.registerHold]] covers that
   * explicitly. */
  def listAll: Seq[TableMeta] = Nil

  /** Remove a registration (metadata only — data lifecycle belongs to
   * the store's [[graft.catalog.MergeSnapshotStore.dropTable]], which
   * calls this). Absent tables are a silent no-op. Default: refuse —
   * an external Catalog must opt in explicitly rather than silently
   * keep a table its caller believes dropped. */
  def unregister(db: String, table: String): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getName} does not implement unregister — " +
        "override it to support DROP TABLE")

  def apply(db: String, table: String): TableMeta =
    get(db, table).getOrElse(
      throw new NoSuchElementException(s"table not registered: $db.$table"))

  /** The registered key columns (size >= 1; composite keys supported). */
  def primaryKey(db: String, table: String): Seq[String] = {
    val pks = apply(db, table).primaryKey
    if (pks.isEmpty)
      throw new IllegalStateException(s"no PK registered for $db.$table")
    pks
  }
}

/** Driver-side metadata map; thread-safe so parallel per-table jobs can register. */
final class InMemoryCatalog extends Catalog {
  private val tables = TrieMap.empty[(String, String), TableMeta]
  override def get(db: String, table: String): Option[TableMeta] =
    tables.get((db.toLowerCase, table.toLowerCase))
  override def register(meta: TableMeta): Unit =
    tables.update((meta.db.toLowerCase, meta.name.toLowerCase), meta)
  override def list(db: String): Seq[TableMeta] =
    tables.collect { case ((d, _), m) if d == db.toLowerCase => m }.toSeq
  override def listAll: Seq[TableMeta] = tables.values.toSeq
  override def unregister(db: String, table: String): Unit =
    tables.remove((db.toLowerCase, table.toLowerCase))
}

/** What one maintenance rewrite ([[MergeSnapshotStore.compact]] /
 * [[MergeSnapshotStore.compactClustered]]) accomplished: the version it
 * published, and the merge-on-read delete debt it folded away —
 * `clearedSidecars` sidecar directories whose keys stop riding every
 * read's anti-join, carrying `clearedDeletedRows` recorded keys (the sum
 * of the cleared sidecars' KNOWN counts; sidecars from manifests
 * predating the count field contribute 0 here while still counting in
 * `clearedSidecars`). Pairs with [[MergeSnapshotStore.deleteDebt]]: the
 * advisor says when to run maintenance, the report says what it paid
 * off. */
case class CompactionReport(version: Int, clearedSidecars: Int,
                            clearedDeletedRows: Long)

/** What one [[MergeSnapshotStore.vacuum(db:String*]] pass did —
 * `manifestsExpired` versions aged past the keepVersions floor,
 * `dirsReclaimed` unreferenced data directories whose tombstones
 * cleared the retention horizon (physical erasure), plus
 * `carryFilesReclaimed` individual leftovers under carry-only dirs.
 * `dirsAwaitingHorizon` counts directories tombstoned but still inside
 * the window — nonzero means a re-run after the horizon finishes the
 * job, the number a retention cron alerts on. `borrowedSkipped` counts
 * directories a sibling table's shallow clone still borrows (released
 * once the borrower severs or leaves the catalog). */
case class VacuumReport(manifestsExpired: Int, dirsReclaimed: Int,
                        carryFilesReclaimed: Int, dirsAwaitingHorizon: Int,
                        borrowedSkipped: Int = 0) {
  def reclaimed: Int = dirsReclaimed + carryFilesReclaimed
}
