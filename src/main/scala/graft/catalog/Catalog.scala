package graft.catalog

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
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

/**
 * Versioned snapshot table store.
 *
 * The reference's mutable tables are Delta with full-snapshot overwrite
 * semantics only (`write.format("delta").mode("overwrite")`, reference
 * src/apply_change_log_to_delta.py:218-245) — it never uses MERGE or
 * time-travel. Those semantics are exactly reproducible without the delta
 * jar (not present in this environment) by writing each overwrite as a new
 * immutable version directory `<location>/v=NNNNNN` and reading the max
 * version. This also fixes the read-overlaps-write hazard a naive
 * parquet-overwrite would have, and keeps the door open for a Delta/Iceberg
 * backend that slots in behind the same interface (then `overwrite` becomes
 * MERGE INTO and `read` a snapshot scan).
 *
 * Scale notes: a version commit is one atomic directory rename plus a
 * bounded vacuum; readers always see a complete snapshot. Data files are
 * written by executors in parallel (plain parquet), so 1000-executor writes
 * work unchanged.
 */
class SnapshotStore(spark: SparkSession, val catalog: Catalog, keepVersions: Int = 2) {
  private val VersionRe = "^v=(\\d{6})$".r

  protected def fs(path: Path) =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Runs `body` with the thread's Spark jobs labeled `desc` — the
   * store's multi-job mutators attribute their phases in the UI and in
   * listeners (optimization guide §1.5). OUTERMOST label wins: a
   * mutator called inside an already-labeled operation (insertInto →
   * mergeScoped, a registry commit fanning table writes) keeps the
   * caller's label, so attribution reads at the operation the user
   * invoked. Thread-local, hence safe under concurrent writers. */
  protected[graft] def jobLabel[T](desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    if (sc.getLocalProperty("spark.job.description") != null) body
    else {
      sc.setJobDescription(desc)
      try body finally sc.setJobDescription(null)
    }
  }

  /** Runs `body` with the thread's Spark jobs labelled by one PHASE of
   * the enclosing store operation: the head `store: <op> <db.table>`
   * that [[jobLabel]] set stays first and the phase follows it
   * (`store: merge db.t write`), so trace readers that key on the op
   * keep working. The operation's label comes back after `body`; a
   * nested phase replaces the outer one for its own extent. Outside a
   * store label `body` runs as it is. */
  protected[graft] def jobPhase[T](phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    val cur = sc.getLocalProperty("spark.job.description")
    if (cur == null || !cur.startsWith("store: ")) body
    else {
      sc.setJobDescription(cur.split(' ').take(3).mkString(" ") + " " + phase)
      try body finally sc.setJobDescription(cur)
    }
  }

  private def versions(location: String): Seq[Int] = {
    val p = new Path(location)
    val f = fs(p)
    if (!f.exists(p)) Nil
    else
      f.listStatus(p).toSeq.flatMap { st =>
        st.getPath.getName match {
          case VersionRe(n) if st.isDirectory => Some(n.toInt)
          case _ => None
        }
      }.sorted
  }

  def exists(db: String, table: String): Boolean =
    catalog.get(db, table).exists(m => versions(m.location).nonEmpty)

  def read(db: String, table: String): DataFrame = {
    val meta = catalog(db, table)
    val vs = versions(meta.location)
    require(vs.nonEmpty, s"no snapshot versions at ${meta.location}")
    readVersion(meta, vs.last)
  }

  /** The read a SQL surface should register views over: stores with
   * manifest-stats data skipping override it ([[MergeSnapshotStore]]'s
   * StoreFileIndex-backed scan); the base contract is the plain
   * snapshot read. A CAPABILITY on this seam — not an instanceof test
   * at the call sites — so wrappers and future stores keep (or opt
   * into) skipping without the runners knowing their class. */
  def readSkipping(db: String, table: String): DataFrame = read(db, table)

  /** [[readSkipping]] pinned to a committed version (`None` = latest):
   * the seam AS-OF SQL surfaces route through, so stores with
   * manifest-stats skipping ([[MergeSnapshotStore]]'s override) prune a
   * pinned read's files exactly as they prune HEAD's. Base contract:
   * the plain versioned snapshot read, under the same pinned-read
   * validation the override gives — an uncommitted or vacuumed version
   * fails HERE with the retention-window message, not lazily with a
   * path-not-found at action time. */
  def readSkipping(db: String, table: String,
                   version: Option[Int]): DataFrame = version match {
    case None => readSkipping(db, table)
    case Some(v) =>
      val meta = catalog(db, table)
      val vs = versions(meta.location)
      require(vs.contains(v),
        s"version $v of ${meta.qualified} is not committed/retained " +
          s"(have ${vs.mkString(",")}) — pinned readers must finish " +
          "inside the vacuum retention window")
      readVersion(meta, v)
  }

  def readVersion(meta: TableMeta, version: Int): DataFrame =
    spark.read.format(meta.format).load(f"${meta.location}/v=$version%06d")

  /** Latest committed version id, or -1 for a table with no snapshot yet
   * — lets a caller PIN a version (with [[readVersion]]) so a retried
   * computation re-reads the same bases instead of its own output. */
  def latestVersion(db: String, table: String): Int = {
    val vs = versions(catalog(db, table).location)
    if (vs.isEmpty) -1 else vs.last
  }

  /**
   * Snapshot-overwrite (reference parity). With `mergeSchema=true` the new
   * snapshot's schema is the union of the existing schema and `df`'s —
   * matching Delta's `.option("mergeSchema","true")` used for domain outputs
   * (reference src/apply_to_domains.py:213-228).
   */
  def overwrite(db: String, table: String, df: DataFrame, mergeSchema: Boolean = false): Unit = {
    val meta = catalog(db, table)
    val vs = versions(meta.location)
    val out =
      if (mergeSchema && vs.nonEmpty) SnapshotStore.alignToUnion(read(db, table).schema, df)
      else df
    val next = vs.lastOption.getOrElse(-1) + 1
    val tmp = new Path(f"${meta.location}/.tmp-v=$next%06d")
    val fin = new Path(f"${meta.location}/v=$next%06d")
    out.write.format(meta.format).mode("overwrite").save(tmp.toString)
    val f = fs(fin)
    if (!f.rename(tmp, fin))
      throw new IllegalStateException(s"commit rename failed: $tmp -> $fin")
    // bounded vacuum: keep the last `keepVersions` snapshots
    vs.dropRight(keepVersions - 1).foreach { v =>
      f.delete(new Path(f"${meta.location}/v=$v%06d"), true)
    }
  }

  /**
   * Append-only partitioned write for the landing zone (reference
   * gg_logs_to_parquet partitions by `part_date`,
   * src/gg_logs_to_parquet.py:35,126-159). Not versioned: the event log is
   * immutable, and date partitions give partition pruning downstream.
   */
  def appendPartitioned(db: String, table: String, df: DataFrame): Unit = {
    val meta = catalog(db, table)
    val w = df.write.format(meta.format).mode("append")
    (if (meta.partitionBy.nonEmpty) w.partitionBy(meta.partitionBy: _*) else w)
      .save(meta.location)
  }

  /** Read a non-versioned (landing-zone) table. The schema the ingest
   * registered is handed to the reader, so planning the read runs no
   * schema-inference job over the files' footers. */
  def readFlat(db: String, table: String): DataFrame = {
    val meta = catalog(db, table)
    val reader = spark.read.format(meta.format)
    meta.schema.fold(reader)(reader.schema).load(meta.location)
  }

  /** JSON write to a raw path (reference dev event-log generation,
   * dev/_dummy_records_offenders.py:185-211 — raw GG logs are JSON files,
   * not catalog tables). */
  def writeJson(path: String, df: DataFrame, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /**
   * Change data feed between two committed versions: the I/U/D
   * changelog ([[graft.operators.Scd.snapshotDiff]] contract, keyed by
   * the registered PK) that turns `fromVersion`'s snapshot into
   * `toVersion`'s — the Delta/Iceberg CDF surface rebuilt from plain
   * snapshots, so any pair of RETAINED versions feeds delta-sized
   * consumers ([[graft.operators.Ivm]] folds, downstream replication,
   * audits) even though the writer recorded no changelog at commit
   * time. Cost is one full-outer join of the two version scans (on the
   * merge store both are manifest-resolved pruned reads); both versions
   * must still be inside the store's retention window.
   */
  def changesBetween(db: String, table: String, fromVersion: Int,
                     toVersion: Int): DataFrame = {
    val meta = catalog(db, table)
    if (!meta.hasPrimaryKey) throw new IllegalStateException(
      s"changesBetween needs a registered PK for ${meta.qualified} — " +
        "PK-less tables get the multiset feed (multisetChangesBetween)")
    graft.operators.Scd.snapshotDiff(
      readVersion(meta, fromVersion), readVersion(meta, toVersion),
      meta.primaryKey)
  }

  /**
   * The PK-LESS change feed: the exact MULTISET delta between two
   * retained versions — per distinct ROW IMAGE, how many physical
   * copies arrived (`change` = I) or left (D), with the net `copies`
   * count. Raw crawl shards and log dumps have no row identity for
   * the keyed diff, but takedown audits ("which physical rows did the
   * out-of-band commits remove, and how many copies?") and downstream
   * replication still need what-changed; counting by the full row is
   * the only identity such a table has. A row whose copy count is
   * unchanged does not appear; an UPDATE has no meaning here (it reads
   * as one D and one I, which is exactly what replaying the delta onto
   * `fromVersion`'s multiset needs to reach `toVersion`'s). Cost: one
   * count-aggregate per version scan plus a null-safe full-outer join
   * on the row image — the same class as the keyed diff. Both versions
   * must be inside the retention window.
   */
  def multisetChangesBetween(db: String, table: String, fromVersion: Int,
                             toVersion: Int): DataFrame = {
    val meta = catalog(db, table)
    SnapshotStore.multisetDiff(readVersion(meta, fromVersion),
      readVersion(meta, toVersion), meta.qualified, fromVersion, toVersion)
  }

  /**
   * Compaction: rewrite the latest snapshot into `targetFiles` files (a
   * new version — readers never see a partial state). Addresses the
   * reference's own "Large number of small files not efficient"
   * (README.md:53): frequent small CDC batches fragment snapshots;
   * periodic compaction restores scan-sized files. The version vacuum
   * already bounds the "large number of generations" complaint
   * (README.md:54). Returns what the pass accomplished — the base
   * store carries no delete sidecars, so its report only names the new
   * version; [[MergeSnapshotStore]]'s override reports the
   * merge-on-read debt it folded away.
   */
  def compact(db: String, table: String, targetFiles: Int): CompactionReport = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    overwrite(db, table, read(db, table).repartition(targetFiles))
    CompactionReport(latestVersion(db, table), 0, 0L)
  }
}

/** What one maintenance rewrite ([[SnapshotStore.compact]] /
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

object SnapshotStore {
  /** The multiset-delta core [[SnapshotStore.multisetChangesBetween]]
   * and its column-mapping-aware override share: per distinct row
   * image, copies arrived/left between the two frames. */
  private[catalog] def multisetDiff(old0: DataFrame, new0: DataFrame,
                                    qualified: String, fromVersion: Int,
                                    toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.{abs, col, lit, when}
    val cols = old0.columns.toSeq
    require(cols.nonEmpty && new0.columns.toSeq == cols,
      s"multiset diff needs identical schemas on both versions of " +
        s"$qualified (a schema-evolving overwrite sits between " +
        s"$fromVersion and $toVersion — diff within one schema era)")
    val o = old0.groupBy(cols.map(col): _*).count()
      .withColumnRenamed("count", "__n0")
    val n = new0.groupBy(cols.map(col): _*).count()
      .withColumnRenamed("count", "__n1")
    // null-safe equality: NULL-valued cells are part of the row image
    // (groupBy already grouped them), so the join must match them too
    val cond = cols.map(c => o(c) <=> n(c)).reduce(_ && _)
    val joined = o.join(n, cond, "full_outer")
    val n0 = org.apache.spark.sql.functions.coalesce(col("__n0"), lit(0L))
    val n1 = org.apache.spark.sql.functions.coalesce(col("__n1"), lit(0L))
    joined
      .select(cols.map(c =>
        org.apache.spark.sql.functions.coalesce(o(c), n(c)).as(c)) ++
        Seq((n1 - n0).as("__d")): _*)
      .filter(col("__d") =!= 0L)
      .withColumn("change", when(col("__d") > 0, lit("I")).otherwise(lit("D")))
      .withColumn("copies", abs(col("__d")))
      .drop("__d")
  }

  /** Align `df` to the union of `existing` and `df.schema` (nulls for gaps). */
  private[catalog] def alignToUnion(existing: StructType, df: DataFrame): DataFrame = {
    val have = df.schema.map(f => f.name.toLowerCase).toSet
    val missing = existing.filterNot(f => have.contains(f.name.toLowerCase))
    missing.foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }
}
