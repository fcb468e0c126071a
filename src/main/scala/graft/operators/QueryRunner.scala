package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

import graft.catalog.MergeSnapshotStore

/**
 * Stage 3 — structured -> curated promotion (reference
 * src/apply_to_curated.py). The reference transform is the identity
 * placeholder (`apply_changes`, :153-161): with no `transform` each
 * curated table is promoted BY REFERENCE
 * ([[graft.catalog.MergeSnapshotStore.promote]]) — one manifest that
 * borrows the structured snapshot's files, no parquet written and no
 * Spark job run. A `transform` (PII masking, conforming) is the hook
 * point real curation logic slots into: its output overwrites the
 * curated table with files of its own.
 */
final class CuratedApplier(store: MergeSnapshotStore,
                           transform: Option[DataFrame => DataFrame] = None) {
  /** `onTableDone` fires after each curated write — the reference's
   * Kinesis-notify stub runs here too (`trigger_kinesis_event`,
   * src/apply_to_curated.py:143-150, invoked after the curated loop). */
  def run(db: String, tables: Seq[String], suffix: String = "_curated",
          onTableDone: String => Unit = _ => ()): Seq[String] =
    tables.map { t =>
      transform match {
        case None => store.promote(db, t, db, t + suffix)
        case Some(f) => store.overwrite(db, t + suffix, f(store.read(db, t)))
      }
      onTableDone(t + suffix)
      t + suffix
    }
}

/**
 * Stage 5 — ad-hoc query entry point (reference dev/glue_query +
 * docs/demo_querys): table name, projection list, SQL predicate string
 * (default "1=1"). The predicate parses through Catalyst (`expr`), so
 * pushdown/pruning are free; e.g.
 * `run("offenders", Seq("offender_id","last_name"), "offender_id>15")`.
 */
final class QueryRunner(store: MergeSnapshotStore) {
  /** The scan is the store's SKIPPING read: the parsed
   * `where` prunes files through the manifest stats and, for equality
   * or IN on the whole primary key, to the keys' hash buckets (same
   * walk as the typed readWhere) before any footer opens. `asOfVersion` pins the
   * read to a committed-and-retained version — AS-OF queries prune
   * through the pinned manifest exactly as HEAD queries do. */
  def run(db: String, table: String, fields: Seq[String],
          where: String = "1=1",
          asOfVersion: Option[Int] = None): DataFrame =
    QueryRunner.select(
      store.read(db, table, asOfVersion), fields, where)

  /** [[run]] pinned by WALL-CLOCK instant instead of version number:
   * the epoch resolves through the provenance stamps
   * ([[graft.catalog.MergeSnapshotStore.versionAt]]) and the read is
   * the same pinned skipping scan an AS-OF version query gets. */
  def runAt(db: String, table: String, fields: Seq[String],
            where: String, asOfEpochMs: Long): DataFrame =
    run(db, table, fields, where,
      asOfVersion = Some(store.versionAt(db, table, asOfEpochMs)))

  def apply(df: DataFrame, fields: Seq[String], where: String): DataFrame =
    QueryRunner.select(df, fields, where)

  /** SQL DML on the same ad-hoc surface: `DELETE FROM t WHERE …` /
   * `UPDATE t SET … WHERE …` route to the store's row-level operators.
   * See [[QueryRunner.dml]]. */
  def dml(db: String, statement: String,
          mode: MergeSnapshotStore.DeleteMode =
            MergeSnapshotStore.CopyOnWrite): Long =
    QueryRunner.dml(store, db, statement, mode)

  /** Frame-returning statement surface (`DESCRIBE HISTORY` / `SELECT *
   * FROM files(t)` / everything [[dml]] runs as a one-row `affected`
   * frame). See [[QueryRunner.sql]]. */
  def sql(db: String, statement: String,
          mode: MergeSnapshotStore.DeleteMode =
            MergeSnapshotStore.CopyOnWrite): DataFrame =
    QueryRunner.sql(store, db, statement, mode)
}

object QueryRunner {
  /** Maintenance-statement dialect (Delta's shapes), driver-parsed
   * because Spark's grammar lacks them. Anchored end-to-end with an
   * optional trailing `;`; names are bare `[db.]table` identifiers. */
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+TABLE\s+([\w.`]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  private val RestoreTsRe =
    """(?is)^\s*RESTORE\s+TABLE\s+([\w.`]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""".r
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+([\w.`]+)(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?""" +
      """(?:\s+OPTIONS\s*\(([^)]+)\))?\s*;?\s*$""").r
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+([\w.`]+)\s+SHALLOW\s+CLONE\s+([\w.`]+)""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?""" +
      """\s+LOCATION\s+'([^']+)'\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+([\w.`]+)(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?""" +
      """(\s+DRY\s+RUN)?\s*;?\s*$""").r
  private val DescribeHistoryRe =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+([\w.`]+)\s*;?\s*$""".r
  private val DescribeDetailRe =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+([\w.`]+)\s*;?\s*$""".r
  private val ShowPropsRe =
    """(?is)^\s*SHOW\s+TBLPROPERTIES\s+([\w.`]+)\s*;?\s*$""".r
  private val FilesTableRe =
    ("""(?is)^\s*SELECT\s+\*\s+FROM\s+files\s*\(\s*([\w.`]+)""" +
      """(?:\s*,\s*(\d+))?\s*\)\s*;?\s*$""").r
  private val AddConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+ADD\s+CONSTRAINT\s+(\w+)""" +
      """\s+CHECK\s*\((.+)\)\s*;?\s*$""").r
  private val DropConstraintRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*$""".r
  private val RenameColumnRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+RENAME\s+COLUMN\s+""" +
      """([\w`]+)\s+TO\s+([\w`]+)\s*;?\s*$""").r
  private val DropColumnRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+COLUMN\s+([\w`]+)\s*;?\s*$""".r
  private val AddColumnRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+ADD\s+COLUMN\s+([\w`]+)""" +
      """\s+([^;]+?)\s*;?\s*$""").r
  private val AlterTypeRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+ALTER\s+COLUMN\s+([\w`]+)""" +
      """\s+TYPE\s+([^;]+?)\s*;?\s*$""").r
  private val SetPropsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+SET\s+TBLPROPERTIES\s*""" +
      """\((.+)\)\s*;?\s*$""").r
  private val UnsetPropsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+UNSET\s+TBLPROPERTIES\s*""" +
      """\(([^)]+)\)\s*;?\s*$""").r
  private val PropPairRe = """'([^']*)'\s*=\s*'([^']*)'""".r
  private val PropKeyRe = """'([^']*)'""".r
  private val DropTableRe =
    """(?is)^\s*DROP\s+TABLE\s+([\w.`]+)(\s+PURGE)?\s*;?\s*$""".r
  private val ShowTablesRe =
    """(?is)^\s*SHOW\s+TABLES(?:\s+IN\s+([\w`]+))?\s*;?\s*$""".r
  private val DescribeTableRe =
    """(?is)^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([\w.`]+)\s*;?\s*$""".r
  private val ShowCreateRe =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+([\w.`]+)\s*;?\s*$""".r

  /** `TIMESTAMP AS OF` operand → epoch ms: `'yyyy-MM-dd[ HH:mm:ss[.f]]'`
   * (JDBC escape forms) or bare epoch-millisecond digits. */
  private def epochOf(ts: String): Long = {
    val t = ts.trim
    if (t.matches("\\d+")) t.toLong
    else try java.sql.Timestamp.valueOf(t).getTime
    catch {
      case _: IllegalArgumentException =>
        try java.sql.Date.valueOf(t).getTime
        catch {
          case _: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"cannot parse TIMESTAMP AS OF '$t' — use " +
                "'yyyy-MM-dd[ HH:mm:ss[.fff]]' or epoch milliseconds")
        }
    }
  }

  /** Bare `[db.]table` identifier → table name, refusing a foreign db. */
  private def tableName(db: String, raw: String): String =
    raw.replace("`", "").split('.') match {
      case Array(tbl) => tbl
      case Array(d, tbl) =>
        require(d == db,
          s"statement names database $d but this runner is bound to $db")
        tbl
      case parts => throw new IllegalArgumentException(
        s"unsupported table name ${parts.mkString(".")} — use [db.]table")
    }

  /**
   * The statement surface that RETURNS A FRAME — `spark.sql`'s shape
   * over the store dialect. `DESCRIBE HISTORY t` is the commit log
   * ([[graft.catalog.MergeSnapshotStore.history]]); `SELECT * FROM
   * files(t[, version])` is the files metadata table
   * ([[graft.catalog.MergeSnapshotStore.filesOf]] — Iceberg `$files`).
   * Any other statement routes through [[dml]] and comes back as a
   * one-row `affected` frame, so one entry point runs the whole
   * dialect. Both metadata forms are driver-side manifest reads — no
   * data job at any table size.
   */
  def sql(store: MergeSnapshotStore, db: String, statement: String,
          mode: MergeSnapshotStore.DeleteMode =
            MergeSnapshotStore.CopyOnWrite): DataFrame = {
    statement match {
      case DescribeHistoryRe(raw) => store.history(db, tableName(db, raw))
      case DescribeDetailRe(raw) => store.describeDetail(db, tableName(db, raw))
      case ShowCreateRe(raw) => store.showCreateTable(db, tableName(db, raw))
      case DescribeTableRe(raw) => store.describeTable(db, tableName(db, raw))
      case ShowPropsRe(raw) => store.showProperties(db, tableName(db, raw))
      case ShowTablesRe(dbRaw) =>
        // the catalog listing as a frame: name, key, format, location —
        // the registration-level fields an operator browses
        val d = Option(dbRaw).map(_.replace("`", "")).getOrElse(db)
        val spark = org.apache.spark.sql.SparkSession.active
        val rows = store.catalog.list(d).sortBy(_.name).map(m =>
          org.apache.spark.sql.Row(m.name, m.primaryKey.mkString(","),
            m.format, m.location))
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("table",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("primary_key",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("format",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("location",
              org.apache.spark.sql.types.StringType, nullable = false))))
      case FilesTableRe(raw, v) =>
        store.filesOf(db, tableName(db, raw), Option(v).map(_.toInt))
      case s if s.trim.take(6).equalsIgnoreCase("SELECT") ||
          s.trim.take(5).equalsIgnoreCase("WITH ") =>
        select(store, db, statement)
      case _ =>
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        Seq(dml(store, db, statement, mode)).toDF("affected")
    }
  }

  /**
   * `SELECT` statements over STORE tables with PER-TABLE-REFERENCE
   * time travel: Spark's own grammar already parses `FROM t VERSION AS
   * OF n` and `FROM t TIMESTAMP AS OF '<ts>'` (the Delta reader
   * syntax), so the statement parses once and each table reference is
   * SPLICED with the store's resolved scan — pinned references through
   * the pinned SKIPPING read (same manifest-stats file pruning as a
   * HEAD read, same loud refusal past retention), unpinned references
   * through the HEAD skipping read, and names that are NOT registered
   * store tables left untouched for Spark's own resolution (temp
   * views keep working). A mixed-version join — HEAD fact against a
   * pinned dimension — is one statement, each side pruning through
   * its own manifest.
   *
   * The splice is the temp-view substitution Spark's analyzer performs
   * internally, done eagerly: each reference becomes a
   * `SubqueryAlias(table, <analyzed store scan>)`, so qualified
   * attributes (`t.col`) resolve and the outer statement analyzes
   * normally over the already-resolved children.
   */
  private def select(store: MergeSnapshotStore, db: String,
                     statement: String): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    org.apache.spark.sql.graftbridge.ColumnBridge.dataset(spark,
      spliceStorePlans(store, db,
        spark.sessionState.sqlParser.parsePlan(statement)))
  }

  /** The table-reference SPLICE [[select]] and the INSERT arm share:
   * every store-table reference in `plan` (pinned or HEAD) is replaced
   * with its resolved skipping scan; non-store names stay for Spark's
   * own resolution. */
  private def spliceStorePlans(store: MergeSnapshotStore,
                               db: String,
                               plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    def named(parts: Seq[String]): Option[String] = parts match {
      case Seq(t) => Some(t)
      case Seq(d0, t) if d0.equalsIgnoreCase(db) => Some(t)
      case _ => None
    }
    def registered(t: String): Boolean = store.catalog.get(db, t).nonEmpty
    def splice(tbl: String, pin: Option[Int]) =
      SubqueryAlias(tbl,
        store.read(db, tbl, pin).queryExecution.analyzed)
    // CTE aliases SHADOW table names in SQL (CTESubstitution runs at
    // analysis time) — an eager splice of a bare reference whose name a
    // CTE binds would silently read the store table and drop the CTE's
    // derivation: wrong results, no error. Bare references to CTE-bound
    // names are therefore left for Spark's own resolution (the CTE
    // wins); a reference inside the colliding CTE's OWN definition —
    // where SQL scoping says the store table is meant — must spell the
    // qualified `db.table` form, which CTEs can never capture (the
    // analyzer otherwise refuses the unresolved name LOUDLY rather
    // than this splice guessing). Collected across all subquery
    // scopes; case-insensitive like Spark's resolution.
    val cteBound: Set[String] = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    def shadowed(parts: Seq[String]): Boolean =
      parts.length == 1 && cteBound(parts.head.toLowerCase)
    // CTE DEFINITIONS are innerChildren, not children — the transform
    // below never descends into them, so a qualified store reference
    // inside a CTE body (the supported spelling under a colliding
    // alias) must be spliced by explicit recursion into cteRelations
    def go(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      p.transformUpWithSubqueries {
        case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
          w.copy(cteRelations = w.cteRelations.map { case (n, sa, rest) =>
            (n, sa.copy(child = go(sa.child)), rest) })
      case RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
        require(!shadowed(u.multipartIdentifier),
          s"FROM ${u.multipartIdentifier.mkString(".")} VERSION/TIMESTAMP " +
            "AS OF names a CTE alias — time travel reads a STORE table; " +
            s"qualify it as $db.${u.multipartIdentifier.head} or rename " +
            "the CTE")
        val tbl = named(u.multipartIdentifier).getOrElse(
          throw new IllegalArgumentException(
            s"time travel names ${u.multipartIdentifier.mkString(".")} — " +
              s"use [db.]table within the bound db $db"))
        require(registered(tbl),
          s"FROM $tbl VERSION/TIMESTAMP AS OF: $db.$tbl is not a " +
            "registered store table (time travel resolves through the " +
            "store's manifests)")
        val pin = ver match {
          case Some(v) =>
            try v.toInt catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"VERSION AS OF wants a version number, got '$v'")
            }
          case None => ts match {
            case Some(l: Literal)
                if l.dataType == org.apache.spark.sql.types.StringType =>
              store.versionAt(db, tbl, epochOf(String.valueOf(l.value)))
            case Some(l: Literal)
                if l.dataType == org.apache.spark.sql.types.LongType ||
                  l.dataType == org.apache.spark.sql.types.IntegerType =>
              store.versionAt(db, tbl, String.valueOf(l.value).toLong)
            case other => throw new IllegalArgumentException(
              s"TIMESTAMP AS OF wants a '<ts>' string (or epoch-ms) " +
                s"literal, got $other")
          }
        }
        splice(tbl, Some(pin))
      case u: UnresolvedRelation if !shadowed(u.multipartIdentifier) =>
        named(u.multipartIdentifier).filter(registered)
          .map(t => splice(t, None)).getOrElse(u)
      }
    go(plan)
  }

  /** The projection + predicate core, store-free for direct frames. */
  def select(df: DataFrame, fields: Seq[String], where: String): DataFrame = {
    val projected = if (fields.isEmpty || fields == Seq("*")) df
                    else df.selectExpr(fields: _*)
    projected.where(expr(if (where.trim.isEmpty) "1=1" else where))
  }

  /**
   * SQL DML dispatch — the takedown operator's natural dialect: the
   * reference's users live in SQL (domain SQL over temp views,
   * reference src/apply_to_domains.py:54-68; the glue_query CLI,
   * dev/glue_query:5-9), so `DELETE FROM t WHERE …` and
   * `UPDATE t SET … WHERE …` must work as statements, not only as
   * typed calls. Parsing is Spark's OWN SQL grammar
   * (`sessionState.sqlParser.parsePlan` — quoted identifiers, full
   * predicate syntax, type-correct literals), pattern-matched on the
   * catalyst DML plans and routed to
   * [[graft.catalog.MergeSnapshotStore.deleteWhere]] /
   * [[graft.catalog.MergeSnapshotStore.updateWhere]], which keep every
   * storage-engine guarantee (stats-pruned find, scoped rewrite or MoR
   * sidecar, CAS adjudication). Returns the affected row count.
   *
   * Scope: single-table statements with plain (non-subquery)
   * predicates — the same contract the typed operators carry. A
   * statement naming `db.table` must agree with the bound `db`;
   * `DELETE FROM t` with no WHERE deletes every row (SQL semantics).
   * `mode` picks the delete's physical realization (copy-on-write
   * rewrite or merge-on-read sidecar) exactly like the typed call.
   *
   * MAINTENANCE statements ride the same dispatch in the dialect Delta
   * established, parsed driver-side because Spark's own grammar lacks
   * them (Delta adds them through its extension parser — same seam,
   * same shape):
   *
   *  - `RESTORE TABLE t TO VERSION AS OF n` (or `TO TIMESTAMP AS OF
   *    '<ts>'`, resolved through the provenance stamps) →
   *    [[graft.catalog.MergeSnapshotStore.restore]]; returns the NEW
   *    head version (the rewind is itself a commit).
   *  - `OPTIMIZE t [OPTIONS (targetFiles = n)]` →
   *    [[graft.catalog.MergeSnapshotStore.compact]] (bin-pack;
   *    targetFiles defaults to the session's shuffle parallelism);
   *    `OPTIMIZE t ZORDER BY (c1, c2) [OPTIONS (filesPerBucket = n)]` →
   *    [[graft.catalog.MergeSnapshotStore.compactClustered]]. Both
   *    return the committed version.
   *  - `VACUUM t [RETAIN n HOURS]` →
   *    [[graft.catalog.MergeSnapshotStore.vacuum(db:String*]]; the
   *    horizon is the table's own retention unless RETAIN overrides
   *    this pass; returns directories + files reclaimed. Consumes no
   *    version.
   *  - `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n |
   *    TIMESTAMP AS OF '<ts>'] LOCATION '<path>'` →
   *    [[graft.catalog.MergeSnapshotStore.cloneTable]] within the
   *    bound db; returns the clone's first version.
   *  - `CREATE TABLE [IF NOT EXISTS] t (cols) USING fmt [PARTITIONED
   *    BY (c, …)] LOCATION '<path>' [TBLPROPERTIES (…)]` →
   *    [[graft.catalog.MergeSnapshotStore.createTable]] (registration
   *    only — external-table semantics; the PRIMARY KEY rides the
   *    `graft.pk` property, the reference's own Glue-parameter
   *    convention); returns 0.
   *  - `DROP TABLE t [PURGE]` →
   *    [[graft.catalog.MergeSnapshotStore.dropTable]] (metadata-only
   *    by default; PURGE deletes the location and refuses while
   *    shallow clones still borrow it); returns 0.
   *  - `ALTER TABLE t SET TBLPROPERTIES ('k'='v', …)` /
   *    `UNSET TBLPROPERTIES ('k', …)` →
   *    [[graft.catalog.MergeSnapshotStore.setProperties]] /
   *    `unsetProperties` (catalog policy — retention, time-travel
   *    window, bloom/set-stats knobs; typed values validate at SET,
   *    the store's own bookkeeping keys refuse); both return 0.
   *  - `ALTER TABLE t ALTER COLUMN c TYPE <wider>` →
   *    [[graft.catalog.MergeSnapshotStore.alterColumnType]]
   *    (metadata-only type widening; unsafe conversions refuse with
   *    the safe-set message); returns the new head version.
   *  - `ALTER TABLE t ADD CONSTRAINT name CHECK (pred)` /
   *    `ALTER TABLE t DROP CONSTRAINT name` →
   *    [[graft.catalog.MergeSnapshotStore.addCheckConstraint]] /
   *    `dropCheckConstraint` (ADD validates the existing snapshot
   *    first, like Delta); both return 0.
   */
  def dml(store: MergeSnapshotStore, db: String, statement: String,
          mode: MergeSnapshotStore.DeleteMode =
            MergeSnapshotStore.CopyOnWrite): Long = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, LogicalPlan, UpdateTable}
    // the dialect statements Spark's grammar cannot parse dispatch
    // FIRST (parsePlan would throw on them); a name here is the bare
    // identifier form only — quoted/exotic names go through the typed
    // API, which takes the name as data rather than as syntax
    def namedTable(raw: String): String = tableName(db, raw)
    statement match {
      case RestoreRe(raw, v) =>
        return store.restore(db, namedTable(raw), v.toInt).toLong
      case RestoreTsRe(raw, ts) =>
        val tbl = namedTable(raw)
        return store.restore(db, tbl, store.versionAt(db, tbl, epochOf(ts))).toLong
      case CloneRe(dstRaw, srcRaw, v, ts, loc) =>
        val src = namedTable(srcRaw)
        val pinned =
          if (v != null) Some(v.toInt)
          else Option(ts).map(t => store.versionAt(db, src, epochOf(t)))
        return store.cloneTable(db, src, db, namedTable(dstRaw),
          loc, version = pinned).toLong
      case VacuumRe(raw, hours, dry) =>
        // Delta's VACUUM statement: the retention horizon stays the
        // table's own (property, else store default) unless RETAIN
        // overrides it for this pass; DRY RUN reports without touching
        // anything. Returns how much was (or would be) reclaimed.
        val report = store.vacuum(db, namedTable(raw),
          retainMs = Option(hours).map(h =>
            (h.toDouble * 3600 * 1000).toLong),
          dryRun = dry != null)
        return report.reclaimed.toLong
      case AddConstraintRe(raw, name, pred) =>
        store.addCheckConstraint(db, namedTable(raw), name, pred.trim)
        return 0L
      case DropConstraintRe(raw, name) =>
        store.dropCheckConstraint(db, namedTable(raw), name)
        return 0L
      case RenameColumnRe(raw, o, n) =>
        // metadata-only column mapping (Delta ALTER TABLE RENAME
        // COLUMN): returns the new head version. A PRIMARY KEY column
        // routes through the guided path, which moves the catalog
        // registration and the sidecar-binding record with the schema
        val tbl = namedTable(raw)
        val oldName = o.replace("`", "")
        val isPk = store.catalog.get(db, tbl)
          .exists(_.primaryKey.exists(_.equalsIgnoreCase(oldName)))
        return (if (isPk)
          store.renamePrimaryKeyColumn(db, tbl, oldName, n.replace("`", ""))
        else store.renameColumn(db, tbl, oldName, n.replace("`", ""))).toLong
      case DropColumnRe(raw, c) =>
        return store.dropColumn(db, namedTable(raw),
          c.replace("`", "")).toLong
      case AddColumnRe(raw, c, typeDdl) =>
        // the type parses through Spark's OWN DDL grammar (decimal
        // precision, nested types, intervals all come for free)
        val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(typeDdl.trim)
        return store.addColumn(db, namedTable(raw),
          c.replace("`", ""), dt).toLong
      case DropTableRe(raw, purge) =>
        // metadata-only by default (external-table semantics: the
        // location survives, re-registering re-attaches); PURGE deletes
        // the bytes and refuses while shallow clones still borrow them
        store.dropTable(db, namedTable(raw), purge = purge != null)
        return 0L
      case SetPropsRe(raw, body) =>
        // 'k'='v' pairs, Delta's spelling; the store validates typed
        // values (retention/window numbers, bloom shapes) and refuses
        // its own bookkeeping keys
        val pairs = PropPairRe.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2)).toSeq
        require(pairs.nonEmpty,
          s"SET TBLPROPERTIES wants 'key'='value' pairs, got: $body")
        store.setProperties(db, namedTable(raw), pairs.toMap)
        return 0L
      case UnsetPropsRe(raw, body) =>
        val keys = PropKeyRe.findAllMatchIn(body).map(_.group(1)).toSeq
        require(keys.nonEmpty,
          s"UNSET TBLPROPERTIES wants 'key' entries, got: $body")
        store.unsetProperties(db, namedTable(raw), keys)
        return 0L
      case AlterTypeRe(raw, c, typeDdl) =>
        // metadata-only type WIDENING (Delta ALTER COLUMN … TYPE):
        // returns the new head version; unsafe conversions refuse in
        // the store with the safe-set message
        val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(typeDdl.trim)
        return store.alterColumnType(db, namedTable(raw),
          c.replace("`", ""), dt).toLong
      case OptimizeRe(raw, zorder, opts) =>
        val tbl = namedTable(raw)
        // OPTIONS exposes the typed knobs the bare statement defaults:
        // targetFiles (bin-pack width) and filesPerBucket (clustered
        // slice count) — a driver-side dialect, since Delta's grammar
        // has no spelling for either
        val knobs: Map[String, Int] = Option(opts).map { s =>
          s.split(',').iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
            kv.split('=') match {
              case Array(k, n) if n.trim.matches("\\d+") =>
                k.trim.toLowerCase -> n.trim.toInt
              case _ => throw new IllegalArgumentException(
                s"OPTIMIZE OPTIONS entry '$kv' is not key = <int>")
            }
          }.toMap
        }.getOrElse(Map.empty)
        val known = Set("targetfiles", "filesperbucket")
        val unknown = knobs.keySet -- known
        require(unknown.isEmpty,
          s"unknown OPTIMIZE option(s) ${unknown.mkString(", ")} — " +
            "supported: targetFiles, filesPerBucket")
        val report =
          if (zorder == null) {
            require(!knobs.contains("filesperbucket"),
              "filesPerBucket applies to ZORDER BY compaction — plain " +
                "OPTIMIZE takes targetFiles")
            store.compact(db, tbl, targetFiles = knobs.getOrElse("targetfiles",
              org.apache.spark.sql.SparkSession.active.sessionState.conf
                .numShufflePartitions))
          } else {
            require(!knobs.contains("targetfiles"),
              "targetFiles applies to plain OPTIMIZE — ZORDER BY takes " +
                "filesPerBucket")
            val dims = zorder.split(',').toSeq
              .map(_.trim.replace("`", "")).filter(_.nonEmpty)
            require(dims.nonEmpty, "ZORDER BY needs at least one column")
            store.compactClustered(db, tbl, dims.map(_ -> None),
              filesPerBucket = knobs.getOrElse("filesperbucket", 4))
          }
        return report.version.toLong
      case _ => ()
    }
    val spark = org.apache.spark.sql.SparkSession.active
    val plan = spark.sessionState.sqlParser.parsePlan(statement)
    def tableOf(t: LogicalPlan): String = t match {
      case u: UnresolvedRelation => u.multipartIdentifier match {
        case Seq(tbl) => tbl
        case Seq(d, tbl) =>
          require(d == db,
            s"statement names database $d but this runner is bound to $db")
          tbl
        case parts => throw new IllegalArgumentException(
          s"unsupported table name ${parts.mkString(".")} — " +
            "use [db.]table")
      }
      case other => throw new IllegalArgumentException(
        s"unsupported DML target (aliases/subqueries don't name a " +
          s"store table): ${other.nodeName}")
    }
    // parsed-but-unresolved expressions round-trip faithfully through
    // their own SQL rendering (attributes re-quote, literals re-type);
    // expr() then hands the store the same lazy Column a typed caller
    // would have built
    def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      expr(e.sql)
    plan match {
      case ct: org.apache.spark.sql.catalyst.plans.logical.CreateTable =>
        // `CREATE TABLE t (cols) USING fmt [PARTITIONED BY (c,…)]
        // LOCATION '<path>' [TBLPROPERTIES (…)]` — Spark's own grammar
        // parses it; the PRIMARY KEY rides the reference's own
        // convention (the Glue `PK` table parameter) as the `graft.pk`
        // property, pulled into the typed registration here
        import org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
        val tbl = ct.name match {
          case u: UnresolvedIdentifier => u.nameParts match {
            case Seq(t) => t
            case Seq(d, t) =>
              require(d.equalsIgnoreCase(db),
                s"statement names database $d but this runner is bound to $db")
              t
            case parts => throw new IllegalArgumentException(
              s"unsupported table name ${parts.mkString(".")}")
          }
          case other => throw new IllegalArgumentException(
            s"unsupported CREATE TABLE name node: ${other.nodeName}")
        }
        val spec = ct.tableSpec match {
          case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec => u
          case other => throw new IllegalArgumentException(
            s"unsupported table spec: ${other.getClass.getSimpleName}")
        }
        val partCols = ct.partitioning.map {
          case t if t.name == "identity" && t.references.length == 1 =>
            t.references.head.fieldNames.mkString(".")
          case other => throw new IllegalArgumentException(
            s"unsupported PARTITIONED BY transform ${other.describe} — " +
              "the store partitions by plain columns (PK-hash bucketing " +
              "is the graft.nbuckets layout, not a partition transform)")
        }
        val pk = spec.properties.get("graft.pk")
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)
        val schema = org.apache.spark.sql.types.StructType(
          ct.columns.map(c =>
            org.apache.spark.sql.types.StructField(c.name, c.dataType,
              c.nullable)))
        store.createTable(db, tbl,
          location = spec.location.getOrElse(
            throw new IllegalArgumentException(
              "CREATE TABLE needs a LOCATION — the store's tables are " +
                "external (the store owns the files)")),
          schema = Some(schema), primaryKey = pk, partitionBy = partCols,
          format = spec.provider.getOrElse("parquet").toLowerCase,
          properties = spec.properties - "graft.pk",
          ifNotExists = ct.ignoreIfExists)
        return 0L
      case ins: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement =>
        // `INSERT INTO t [(c1, …)] VALUES … / SELECT …` and
        // `INSERT OVERWRITE t …` — the query side resolves through the
        // same store-plan splice SELECT uses (an INSERT … SELECT over
        // store tables prunes through their manifests); bare VALUES
        // bind POSITIONALLY to the table schema (SQL semantics), a
        // column list binds the listed names, missing nullable columns
        // fill NULL in the store's aligner
        require(ins.partitionSpec.isEmpty,
          "INSERT with a PARTITION spec is not supported — the store " +
            "routes rows by its own layout")
        val tbl = tableOf(ins.table)
        val qdf0 = org.apache.spark.sql.graftbridge.ColumnBridge.dataset(
          spark, spliceStorePlans(store, db, ins.query))
        val named =
          if (ins.userSpecifiedCols.nonEmpty) {
            require(qdf0.columns.length == ins.userSpecifiedCols.length,
              s"INSERT INTO $tbl names ${ins.userSpecifiedCols.length} " +
                s"column(s) but the query produces ${qdf0.columns.length}")
            qdf0.toDF(ins.userSpecifiedCols: _*)
          } else if (ins.byName) qdf0
          else {
            val tableCols = store.committedSchema(db, tbl).fieldNames.toSeq
            require(qdf0.columns.length == tableCols.length,
              s"INSERT INTO $tbl supplies ${qdf0.columns.length} " +
                s"positional column(s); the table has ${tableCols.length}" +
                " — name the columns (INSERT INTO t (c1, …) …)")
            qdf0.toDF(tableCols: _*)
          }
        if (ins.overwrite) {
          // align to the COMMITTED schema first (NULL-fill missing
          // nullable, cast, refuse extras) — a raw overwrite publishes
          // the frame's schema and would silently shrink/retype the
          // table under a column-list or drifted-type INSERT OVERWRITE
          store.overwrite(db, tbl,
            store.alignToCommittedSchema(db, tbl, named, "INSERT OVERWRITE"))
          store.countRows(db, tbl)
        } else store.insertInto(db, tbl, named)
      case DeleteFromTable(t, condition) =>
        store.deleteWhere(db, tableOf(t), columnOf(condition), mode)
      case UpdateTable(t, assignments, condition) =>
        val sets = assignments.map {
          case Assignment(k: UnresolvedAttribute, v) => k.name -> columnOf(v)
          case a => throw new IllegalArgumentException(
            s"unsupported assignment target: ${a.key.sql}")
        }.toMap
        require(sets.size == assignments.size,
          "duplicate assignment targets in UPDATE")
        store.updateWhere(db, tableOf(t),
          condition.map(columnOf).getOrElse(expr("true")), sets)
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable =>
        mergeInto(store, db, m, tableOf)
      case other => throw new IllegalArgumentException(
        s"not a DML statement (DELETE FROM … / UPDATE … SET … / " +
          s"MERGE INTO …): parsed as ${other.nodeName}; run queries " +
          "through QueryRunner.run or spark.sql over a registered view")
    }
  }

  /**
   * `MERGE INTO target USING source ON … WHEN MATCHED [AND …] THEN
   * UPDATE/DELETE … WHEN NOT MATCHED [AND …] THEN INSERT …` — the CDC
   * apply surface (the reference's apply_events fold IS a merge) as a
   * statement, routed through [[graft.catalog.MergeSnapshotStore
   * .mergeScoped]] so it keeps the scoped-commit physics: only the
   * source keys' hash buckets rewrite, everything else carries by
   * reference, CAS adjudication unchanged. Scope and contract:
   *
   *  - the ON clause must be the target PRIMARY KEY equated to source
   *    columns (AND of equalities) — that is what makes the merge
   *    SCOPABLE (source keys name the touched buckets); anything else
   *    refuses loudly.
   *  - `source` is a registered store table (read at its snapshot) or
   *    a session temp view; subqueries refuse — stage them as a view.
   *  - matched/not-matched actions apply in statement order,
   *    first-match-wins (the SQL rule); a matched row no action claims
   *    passes through; a source row no insert action claims is
   *    ignored. `UPDATE/INSERT *` map columns by name. Assignments
   *    cast to the column's existing type (the carried buckets pin the
   *    schema, exactly like updateWhere).
   *  - WHEN NOT MATCHED BY SOURCE refuses: its semantics sweep the
   *    WHOLE table while a scoped merge rewrites only the source
   *    keys' buckets — express table-wide sweeps as deleteWhere /
   *    updateWhere.
   *  - more than one source row per key refuses (the SQL cardinality
   *    violation — the update would be nondeterministic).
   *
   * Returns the number of rows the merge changed (matched rows an
   * action claimed + inserted rows).
   */
  private def mergeInto(store: MergeSnapshotStore, db: String,
      m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable,
      tableOf: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => String)
      : Long = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, LogicalPlan, SubqueryAlias, UpdateAction, UpdateStarAction}
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val spark = org.apache.spark.sql.SparkSession.active
    require(m.notMatchedBySourceActions.isEmpty,
      "WHEN NOT MATCHED BY SOURCE sweeps the whole table; a scoped " +
        "merge rewrites only the source keys' buckets — express " +
        "table-wide sweeps as DELETE FROM / UPDATE statements")
    require(!m.schemaEvolutionEnabled,
      "MERGE WITH SCHEMA EVOLUTION is not supported on this surface — " +
        "evolve through mergeScoped directly (nullable adds) or " +
        "overwrite(mergeSchema)")
    def unwrap(p: LogicalPlan): (Option[String], LogicalPlan) = p match {
      case SubqueryAlias(ident, child) => (Some(ident.name), child)
      case other => (None, other)
    }
    val (tAliasOpt, tPlan) = unwrap(m.targetTable)
    val target = tableOf(tPlan)
    val tAlias = tAliasOpt.getOrElse(target)
    val (sAliasOpt, sPlan) = unwrap(m.sourceTable)
    val (sName, source0) = sPlan match {
      case u: UnresolvedRelation =>
        val n = u.multipartIdentifier.last
        val df =
          if (store.exists(db, n)) store.read(db, n)
          else spark.table(u.multipartIdentifier.map(q => s"`$q`").mkString("."))
        (n, df)
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE source (${other.nodeName}) — use a store " +
          "table or register the query as a temp view first")
    }
    val sAlias = sAliasOpt.getOrElse(sName)
    val meta = store.catalog(db, target)
    require(meta.primaryKey.nonEmpty,
      s"MERGE INTO needs a registered PK on ${meta.qualified} — the ON " +
        "clause scopes by key buckets")
    val pks = meta.primaryKey
    // the ON clause: an AND-tree of target-PK = source-column
    // equalities, classified by qualifier (or, unqualified, by which
    // side owns the name — ambiguity refuses)
    def flat(e: Expression): Seq[Expression] = e match {
      case And(l, r) => flat(l) ++ flat(r)
      case x => Seq(x)
    }
    val sCols = source0.columns.map(_.toLowerCase).toSet
    val keyMap: Map[String, String] = flat(m.mergeCondition).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        def side(x: UnresolvedAttribute): Option[Char] =
          x.nameParts match {
            case Seq(q, _) if q.equalsIgnoreCase(tAlias) => Some('t')
            case Seq(q, _) if q.equalsIgnoreCase(sAlias) => Some('s')
            case Seq(n) =>
              val inT = pks.exists(_.equalsIgnoreCase(n))
              val inS = sCols.contains(n.toLowerCase)
              if (inT && !inS) Some('t')
              else if (inS && !inT) Some('s')
              else None
            case _ => None
          }
        (side(a), side(b)) match {
          case (Some('t'), Some('s')) => a.nameParts.last -> b.nameParts.last
          case (Some('s'), Some('t')) => b.nameParts.last -> a.nameParts.last
          case _ => throw new IllegalArgumentException(
            s"cannot classify ON term ${a.sql} = ${b.sql} — qualify " +
              s"both sides ($tAlias.…, $sAlias.…)")
        }
      case other => throw new IllegalArgumentException(
        s"MERGE ON must be an AND of key equalities (got ${other.sql}) " +
          "— the key columns are what make the merge bucket-scopable")
    }.toMap
    val missing = pks.filterNot(k => keyMap.keys.exists(_.equalsIgnoreCase(k)))
    require(missing.isEmpty,
      s"MERGE ON must equate the FULL primary key of ${meta.qualified} " +
        s"(missing: ${missing.mkString(", ")})")
    val srcKeyOf = pks.map(k =>
      k -> keyMap.find(_._1.equalsIgnoreCase(k)).get._2).toMap
    // SQL cardinality rule: more than one source row per key would make
    // the matched-row update nondeterministic — refuse before writing
    require(source0.groupBy(srcKeyOf.values.toSeq.map(col): _*).count()
        .filter(col("count") > 1).limit(1).collect().isEmpty,
      s"MERGE source has more than one row per key — the SQL " +
        "cardinality violation; dedup the source first")
    val onExpr = columnOfSql(m.mergeCondition)
    def firstMatch(conds: Seq[Option[Expression]]): org.apache.spark.sql.Column =
      coalesce(conds.zipWithIndex.map { case (c, i) =>
        when(c.map(columnOfSql).getOrElse(lit(true)), lit(i))
      } :+ lit(null).cast("int"): _*)
    val fieldType = store.committedSchema(db, target).fields
      .map(f => f.name -> f.dataType).toMap
    def assignedCol(name: String,
                    byAction: Seq[(Int, Option[org.apache.spark.sql.Column])],
                    fallback: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val c = byAction.foldLeft(org.apache.spark.sql.functions
          .when(lit(false), lit(null))) { case (acc, (i, vOpt)) =>
        acc.when(col("__act") === i,
          vOpt.getOrElse(fallback).cast(fieldType(name)))
      }
      c.otherwise(fallback).as(name)
    }
    var affected = 0L
    // keys CAST to the target PK types: the bucket hash is type-
    // sensitive (hash(300: int) != hash(300L)), so an uncast source
    // key of a wider type would scope the wrong buckets silently
    store.mergeScoped(db, target,
        source0.select(pks.map(k =>
          col(srcKeyOf(k)).cast(fieldType(k)).as(k)): _*)) { old =>
      val cols = old.columns.toSeq
      val oldA = old.alias(tAlias)
      val srcA = source0.alias(sAlias)
      val keep = oldA.join(srcA, onExpr, "left_anti")
      // ---- matched rows: first action whose condition holds claims
      // the row (update rewrites, delete drops); unclaimed rows pass
      val matchedActs = m.matchedActions
      val matched0 = oldA.join(srcA, onExpr, "inner")
        .withColumn("__act", firstMatch(matchedActs.map {
          case u: UpdateAction => u.condition
          case d: DeleteAction => d.condition
          case u: UpdateStarAction => u.condition
          case a => throw new IllegalArgumentException(
            s"unsupported WHEN MATCHED action: ${a.getClass.getSimpleName}")
        }))
      val deleteIdx = matchedActs.zipWithIndex.collect {
        case (_: DeleteAction, i) => i
      }.toSet
      val updates: Map[String, Seq[(Int, Option[org.apache.spark.sql.Column])]] =
        cols.map { c =>
          c -> matchedActs.zipWithIndex.flatMap {
            case (u: UpdateAction, i) =>
              u.assignments.collectFirst {
                case Assignment(k: UnresolvedAttribute, v)
                    if k.nameParts.last.equalsIgnoreCase(c) =>
                  (i, Some(columnOfSql(v)))
              }
            case (_: UpdateStarAction, i) =>
              Some((i, Some(col(s"$sAlias.$c"))))
            case _ => None
          }
        }.toMap
      val survivors = (if (deleteIdx.isEmpty) matched0
        else matched0.filter(col("__act").isNull ||
          !col("__act").isin(deleteIdx.toSeq: _*)))
        .select(cols.map(c =>
          assignedCol(c, updates(c), col(s"$tAlias.$c"))): _*)
      // ---- not-matched source rows: first insert action claims the
      // row; unassigned target columns NULL-fill (the Delta rule)
      val inserts0 = srcA.join(oldA, onExpr, "left_anti")
        .withColumn("__act", firstMatch(m.notMatchedActions.map {
          case ia: InsertAction => ia.condition
          case ia: InsertStarAction => ia.condition
          case a => throw new IllegalArgumentException(
            s"unsupported WHEN NOT MATCHED action: ${a.getClass.getSimpleName}")
        }))
        .filter(col("__act").isNotNull)
      val insertAssigns: Map[String, Seq[(Int, Option[org.apache.spark.sql.Column])]] =
        cols.map { c =>
          c -> m.notMatchedActions.zipWithIndex.flatMap {
            case (ia: InsertAction, i) =>
              ia.assignments.collectFirst {
                case Assignment(k: UnresolvedAttribute, v)
                    if k.nameParts.last.equalsIgnoreCase(c) =>
                  (i, Some(columnOfSql(v)))
              }.orElse(Some((i, Some(lit(null).cast(fieldType(c))))))
            case (_: InsertStarAction, i) =>
              Some((i, Some(col(s"$sAlias.$c"))))
            case _ => None
          }
        }.toMap
      val inserted = inserts0.select(cols.map(c =>
        assignedCol(c, insertAssigns(c), lit(null).cast(fieldType(c)))): _*)
      // affected = matched rows an action claimed + inserted rows —
      // delta-sized counts (source-bucket joins), recomputed per rebase
      affected = matched0.filter(col("__act").isNotNull).count() +
        inserted.count()
      keep.select(cols.map(c => col(s"$tAlias.$c")): _*)
        .unionByName(survivors).unionByName(inserted)
    }
    affected
  }

  /** Parsed-but-unresolved expression → lazy Column via its own SQL
   * rendering (shared by every DML route in this object). */
  private def columnOfSql(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column = expr(e.sql)
}
