package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.SortedMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array, coalesce, col, concat, countDistinct, element_at, expr, hash, input_file_name, lit, pmod, raise_error, struct, to_json, when}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, NumericType, ShortType, StringType, StructField, StructType, TimestampType}

/**
 * Incremental MERGE-style table store: the scale answer to the reference's
 * full-snapshot Delta overwrite (reference src/apply_change_log_to_delta.py
 * :218-245), whose README names the full rewrite as its worst property
 * (reference README.md:56 "Whole table is re-written for every batch").
 *
 * Layout (Delta/Iceberg manifest pattern, no table-format jar needed):
 *
 *   <location>/data/c<NNNNNN>-<nonce>/__b=<bucket>/part-*.parquet  immutable files
 *   <location>/v=<NNNNNN>.manifest                                 version commit
 *
 * Rows are hash-bucketed by primary key (`pmod(hash(pk), nBuckets)`). A
 * version is a tiny manifest file mapping bucket -> the data directory that
 * currently holds it; untouched buckets keep pointing at their old files.
 * A CDC batch therefore rewrites ONLY the buckets containing changed keys
 * — commit cost is proportional to the change set, not the table. At
 * 100 TB with 4096 buckets a 1-row batch rewrites ~1/4096th of the table
 * instead of all of it; the version commit is one atomic manifest
 * publish.
 *
 * Readers resolve the latest manifest and scan exactly the referenced
 * directories — always a complete, consistent snapshot. Vacuum retains the
 * last `keepVersions` manifests and deletes data directories no retained
 * manifest references — but only after `vacuumRetentionMs` has passed
 * since the directory was FIRST observed unreferenced (a hidden
 * `_expired_at` tombstone records that instant, the same deletion-
 * timestamp idea as Delta's deletedFileRetentionDuration). Without the
 * horizon, a reader that resolved version N−2 just before a commit
 * expired it could have its data directories deleted mid-scan; with it,
 * any scan that starts while its manifest is still resolvable has
 * `vacuumRetentionMs` to finish. The default is a conservative 30
 * minutes, so a default-constructed store is safe next to concurrent
 * readers out of the box; single-writer batch jobs and tests that want
 * eager space reclaim pass 0 explicitly. The tombstone epoch is the
 * vacuuming WRITER's wall clock: with several writers and clock skew
 * the effective horizon shrinks by the skew, so keep the horizon well
 * above any plausible drift (minutes, not milliseconds).
 *
 * CONCURRENT WRITERS commit optimistically (the Delta/Iceberg
 * optimistic-concurrency story): every commit writes its data under a
 * nonce-unique directory (no two attempts ever share a path), then
 * publishes `v=N+1.manifest` with a compare-and-swap — on filesystems
 * with an atomic create-if-absent primitive (hard-link on local
 * filesystems, rename-refuses-existing on HDFS-semantics stores) the
 * publish succeeds only if no other writer has already committed N+1;
 * on object stores whose rename overwrites (s3a and friends) the
 * DEFAULT log's CAS is ADVISORY — an exists pre-check narrows but
 * cannot close the race and a loud warning fires. Multi-writer
 * deployments there pass a [[ManifestLog]] built on the store's
 * conditional-put API (S3 If-None-Match, GCS generation-match), which
 * makes the publish a true CAS with no rename assumption. Every publish
 * goes through one commit funnel (`publish`): it
 * stamps the operation, publishes at base + 1 (a base whose successor
 * vacuum has already expired loses without a CAS: the create-if-absent
 * would re-create that version below the head), vacuums on success,
 * and on a lost race hands the winner to the commit's policy, one of
 * three:
 *  - REFUSE with [[java.util.ConcurrentModificationException]]: the
 *    metadata-only DDL, RESTORE, and the base-pinned maintenance
 *    rewrites (compact, compactClustered, rebucket, compactFilesClustered,
 *    the PK-less debt fold and the dead-sidecar clear) — the caller
 *    re-runs against the new snapshot;
 *  - REBASE AFTER ADJUDICATION: the scoped commits (CDC merge, insert,
 *    copy-on-write delete/update, bucket-scoped compaction, keyed debt
 *    fold) and merge-on-read deletes check the winner's manifest at
 *    BUCKET granularity; if every bucket this commit depends on still
 *    points at the exact directories it read from (and the schema
 *    shape and bucket count are unchanged), its written output is still
 *    valid verbatim and it republishes against the winner's manifest,
 *    carrying the winner's untouched-bucket work; otherwise it refuses;
 *  - RETRY UNCHANGED: a plain [[overwrite]] and a [[promote]] replace
 *    the table wholesale, so losing the race only bumps the version
 *    number (last writer wins). A [[cloneTable]] targets a fresh
 *    location and refuses instead.
 * A refused or crashed attempt's data directories are unreferenced by
 * any manifest and are reclaimed by the normal vacuum tombstone cycle. Because a commit's data directories
 * are orphans to every OTHER writer's vacuum until its manifest
 * publishes, concurrent writers additionally require
 * `vacuumRetentionMs` to exceed the longest write-to-publish window
 * (the same rule Delta's deletedFileRetentionDuration imposes) — the
 * default horizon satisfies this for any sane batch; only
 * explicitly-eager (retention 0) stores must stay single-writer.
 */
class MergeSnapshotStore(spark: SparkSession, val catalog: Catalog,
                         val nBuckets: Int = 32, keepVersions: Int = 2,
                         vacuumRetentionMs: Long = MergeSnapshotStore.DefaultRetentionMs,
                         manifestLog: ManifestLog = HadoopManifestLog) {
  import MergeSnapshotStore.{TombstoneEpoch, TombstoneGarbled, TombstoneRead, TombstoneUnreadable}
  require(nBuckets >= 1, "nBuckets must be >= 1")
  require(vacuumRetentionMs >= 0, "vacuumRetentionMs must be >= 0")
  private val ManifestRe = "^v=(\\d{6})\\.manifest$".r

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

  /** Bucket assignment — deterministic Murmur3 of the PK value(s).
   * Composite keys hash every key column in registered order; the
   * single-column form is the same function (`hash(c)` ==
   * `hash(Seq(c): _*)`), so pre-composite tables' layouts are
   * unchanged byte-for-byte. */
  /** Bucket id under the STORE DEFAULT count — only valid for tables
   * without a [[MergeSnapshotStore.BucketsProp]] override; a table
   * carrying one must go through [[bucketOf(meta:TableMeta*]], or the
   * ids come out under the wrong modulus with no error. */
  def bucketOf(pk: Column): Column = bucketOf(Seq(pk))
  def bucketOf(pks: Seq[Column]): Column = pmod(hash(pks: _*), lit(nBuckets))

  /** The bucket function of ONE TABLE — the store default unless the
   * table overrides it ([[MergeSnapshotStore.BucketsProp]]). */
  def bucketOf(meta: TableMeta, pks: Seq[Column]): Column =
    pmod(hash(pks: _*), lit(nBucketsOf(meta)))

  /** A table's bucket count: its `graft.nbuckets` property, else this
   * store's default. Per-table counts matter at scale: one store mixes
   * a 10^10-row fact (thousands of buckets so each file stays
   * scan-sized) with config-scale dimensions and registry aggregate
   * tables — giving THOSE the fact's bucket count turns every tiny
   * table into thousands of near-empty files and every tiny commit
   * into a thousands-of-task write job. The count travels with the
   * TABLE (meta property, validated against the committed manifest's
   * own nbuckets line), so a store opened with a different DEFAULT
   * still reads and merges an overridden table correctly; changing the
   * property on committed data refuses at the merge seam until an
   * overwrite re-buckets. */
  private[graft] def nBucketsOf(meta: TableMeta): Int =
    meta.properties.get(MergeSnapshotStore.BucketsProp) match {
      case None => nBuckets
      case Some(s) =>
        val n = try s.trim.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"${MergeSnapshotStore.BucketsProp}='$s' on ${meta.qualified} " +
              "is not an integer")
        }
        require(n >= 1,
          s"${MergeSnapshotStore.BucketsProp} must be >= 1 for ${meta.qualified}")
        n
    }

  // ---------------------------------------------------------------- manifest

  /** Per-file column stat in DOUBLE space (the [[Layout]] zone-map
   * discipline: exact within ±2^53; values beyond round the same way in
   * the stats and in the promoted range predicate, so pruning stays
   * self-consistent — integer-exact boundary queries re-filter in the
   * column's own type after the read). */
  private case class ColStat(column: String, mn: Double, mx: Double)

  /** Per-file TRUNCATED string bounds (the Iceberg `truncate(16)`
   * pattern): `lo` is a prefix of the file's minimum (so `lo <= min`),
   * `hi` is the truncated maximum with its last code point incremented
   * (so `hi >= max`; None when no prefix can be incremented — the file
   * is then unbounded above and never pruned by an upper bound). Bounds
   * compare in UTF-8 byte order — the order Spark's UTF8String AND
   * parquet's UNSIGNED binary stats both use. */
  private case class StrStat(column: String, lo: String, hi: Option[String])

  /** Per-file exact VALUE SET of one opted-in column ([[MergeSnapshotStore
   * .SetStatsProp]]): values are the column's rows cast to string
   * (Spark's canonical form — the same form probe values canonicalize
   * to), at most [[MergeSnapshotStore.SetStatsMaxValues]] of them; a
   * file past the cap records no SetStat at all. An EMPTY set is
   * meaningful: the column is all-null in this file, so every equality
   * probe prunes it. */
  private case class SetStat(column: String, values: Seq[String])

  /** A merge-on-read delete sidecar (Iceberg v2 equality-delete shape):
   * `rel` is a directory of parquet key files (the deleted rows' PK
   * tuples), `version` the manifest version the delete committed at.
   * The sidecar applies ONLY to data files whose commit number (the
   * `cNNNNNN` in their directory name) is BELOW `version` — files
   * written at or after it are exempt, so a later re-insert of a
   * deleted key survives (the sequence-number rule that makes equality
   * deletes sound under continued writes). `rows` is the sidecar's key
   * count, recorded at write time so [[deleteDebt]] can price the
   * read-time anti-join from the manifest alone (-1 on manifests from
   * before the field existed — count unknown, never zero). `kind`
   * distinguishes equality sidecars (PK tuples, keyed tables) from
   * position sidecars ((file, row-ordinal) addresses, PK-less tables)
   * — Iceberg v2's two delete-file kinds. */
  private case class DeleteFile(rel: String, version: Int, rows: Long = -1L,
                                kind: String = MergeSnapshotStore.EqDeleteKind)

  /** `carries` are CARRIED FILES: per bucket, individual data files
   * (table-relative paths, living under OLDER commit dirs) that belong
   * to the bucket IN ADDITION to its directory entry — the
   * file-granular carry a partial position-delete fold needs on a
   * PK-less table (one logical bucket, so bucket-granular carry would
   * be the whole table). A carried file keeps its original path, so the
   * equality sequence rule (commit number parsed from the path at read
   * time) and its per-file stats (keyed by exact path) stay exact. A
   * bucket may have carries with or without a directory entry (a fold
   * whose rewrite emitted no survivors leaves only carries).
   * Manifests from before the field simply carry none. */
  private case class Manifest(schema: StructType, buckets: SortedMap[Int, String],
                              nBuckets: Int,
                              stats: Map[String, Seq[ColStat]] = Map.empty,
                              strStats: Map[String, Seq[StrStat]] = Map.empty,
                              setStats: Map[String, Seq[SetStat]] = Map.empty,
                              deletes: Seq[DeleteFile] = Nil,
                              carries: Map[Int, Seq[String]] = Map.empty,
                              // commit provenance (DESCRIBE HISTORY):
                              // the operation that published this
                              // version and its wall-clock stamp;
                              // manifests from before the field read
                              // as ""/-1 and report "unknown"
                              op: String = "", at: Long = -1L,
                              // per-file row counts (footer-lifted at
                              // write, carried with the stats): the
                              // manifest-only count(*) fast path; a
                              // file without a line forces the scan
                              // fallback
                              rows: Map[String, Long] = Map.empty,
                              // RETIRED physical column names (column-
                              // mapping DROP): carried files still hold
                              // these on-disk columns, so an evolution
                              // ADD under any of them would silently
                              // RESURRECT dropped data — the add
                              // refuses while any carry era survives; a
                              // whole-table rewrite resets the list
                              retired: Seq[String] = Nil) {
    // rel -> bucket lookups, built once per (cached, write-once)
    // manifest on first use: a bucket dir's files resolve through
    // their parent dir, carried files through their own line
    private lazy val bucketOfDir: Map[String, Int] =
      buckets.iterator.map(_.swap).toMap
    private lazy val bucketOfCarry: Map[String, Int] =
      carries.iterator.flatMap { case (b, rels) => rels.map(_ -> b) }.toMap

    /** The bucket a table-relative file path belongs to — its bucket
     * dir's, or its carry line's. None for a path outside both
     * (callers treat that as the error it is, or keep the file). */
    def bucketOf(rel: String): Option[Int] = {
      val i = rel.lastIndexOf('/')
      (if (i < 0) None else bucketOfDir.get(rel.substring(0, i)))
        .orElse(bucketOfCarry.get(rel))
    }
  }

  private def manifestVersions(location: String): Seq[Int] = {
    val p = new Path(location)
    val f = fs(p)
    if (!f.exists(p)) Nil
    else
      f.listStatus(p).toSeq.flatMap { st =>
        st.getPath.getName match {
          case ManifestRe(n) if st.isFile => Some(n.toInt)
          case _ => None
        }
      }.sorted
  }

  private def manifestPath(location: String, v: Int) =
    new Path(f"$location/v=$v%06d.manifest")

  /** Parsed manifests, LRU-bounded, instance-scoped. Manifest files are
   * WRITE-ONCE (publishManifest goes through the log's putIfAbsent —
   * a version file is created exactly once and never rewritten), so the
   * parse is cacheable without revalidation: no per-hit exists() probe,
   * which a lagging object store's list-after-put inconsistency would
   * falsify anyway (ManifestLogSpec's fixture models exactly that).
   * Expiry is handled where it happens: this store's OWN vacuum removes
   * the entries for the manifests it deletes, so a same-store read of a
   * vacuumed version still fails loudly (the keepVersions contract).
   * A version another WRITER's vacuum expired may keep serving from
   * this store's cache: inside the retention window that is the
   * pinned-reader promise working as documented (the data dirs outlive
   * the manifest file, so a reader that resolved its manifest keeps
   * answering — previously it failed the moment the file vanished,
   * earlier than the promise); PAST the window a cached cross-writer
   * read fails at scan time with a missing-path error rather than the
   * retention message — the cross-store trade the cache makes (no
   * wrong data is possible: version paths never recur). Version
   * resolution for NEW pins still goes through the live listing
   * (resolveVersion) and refuses expired versions loudly. The win at scale: serving paths
   * resolve four manifests per query batch — one GET + parse of a
   * 10^4-file manifest each, every batch, without the cache. Out of
   * contract: wiping a location's ENTIRE history out-of-band and
   * re-creating version files at the same paths (the store itself never
   * does — vacuum always keeps the newest manifest, so version numbers
   * never reset) requires a fresh store instance. */
  private val manifestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Manifest](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Manifest]): Boolean =
        size() > MergeSnapshotStore.ManifestCacheEntries
    })

  /** Test hook: how many manifest files this store has actually parsed
   * (cache misses). */
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong

  private def readManifest(location: String, v: Int): Manifest = {
    val p = manifestPath(location, v)
    val key = p.toString
    val cached = manifestCache.get(key)
    if (cached != null) return cached
    manifestParses.incrementAndGet()
    val in = fs(p).open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split('\n').toSeq.filter(_.nonEmpty)
    val schema = lines.collectFirst { case s if s.startsWith("schema\t") =>
      DataType.fromJson(s.drop("schema\t".length)).asInstanceOf[StructType]
    }.getOrElse(throw new IllegalStateException(s"manifest $p lacks schema line"))
    val buckets = lines.collect { case s if s.startsWith("b\t") =>
      val Array(_, b, dir) = s.split('\t')
      b.toInt -> dir
    }
    val nb = lines.collectFirst { case s if s.startsWith("nbuckets\t") =>
      s.drop("nbuckets\t".length).toInt
    }.getOrElse(throw new IllegalStateException(s"manifest $p lacks nbuckets line"))
    val stats = lines.collect { case s if s.startsWith("s\t") =>
      val Array(_, f, c, mn, mx) = s.split('\t')
      f -> ColStat(c, mn.toDouble, mx.toDouble)
    }.groupBy(_._1).map { case (f, ss) => f -> ss.map(_._2).toSeq }
    // string bounds travel base64-coded: a bound is arbitrary user text
    // and must not be able to inject the manifest's own separators.
    // Splits use limit -1 — b64("") is "" so a bound/value field may be
    // EMPTY, and the default split would drop the trailing empty field
    // and brick every read of a successfully-committed version.
    def unb64(s: String) = new String(
      java.util.Base64.getDecoder.decode(s), UTF_8)
    val strStats = lines.collect { case s if s.startsWith("y\t") =>
      val parts = s.split("\t", -1)
      parts(1) -> StrStat(parts(2), unb64(parts(3)),
        if (parts(4) == "*") None else Some(unb64(parts(4))))
    }.groupBy(_._1).map { case (f, ss) => f -> ss.map(_._2).toSeq }
    // set lines carry an explicit count so an empty set (all-null file,
    // prunes every probe) survives tab-splitting and a lone
    // empty-string VALUE (b64 "" == "") stays distinguishable from it
    val setStats = lines.collect { case s if s.startsWith("v\t") =>
      val parts = s.split("\t", -1)
      val n = parts(3).toInt
      val vals =
        if (n == 0) Nil
        else parts(4).split(",", -1).iterator.take(n).map(unb64).toSeq
      parts(1) -> SetStat(parts(2), vals)
    }.groupBy(_._1).map { case (f, ss) => f -> ss.map(_._2).toSeq }
    // delete sidecars (paths are store-generated, no encoding needed);
    // manifests from before the MoR feature simply carry none, 3-field
    // lines from before the row-count field read as unknown, and the
    // kind field defaults to equality (the only kind that predates it)
    val deletes = lines.collect { case s if s.startsWith("d\t") =>
      s.split('\t') match {
        case Array(_, rel, ver) => DeleteFile(rel, ver.toInt)
        case Array(_, rel, ver, rows) => DeleteFile(rel, ver.toInt, rows.toLong)
        case Array(_, rel, ver, rows, kind) =>
          DeleteFile(rel, ver.toInt, rows.toLong, kind)
        case other => throw new IllegalStateException(
          s"malformed delete-sidecar manifest line: ${other.mkString("\\t")}")
      }
    }
    // carried files (paths are store-generated like sidecar rels — no
    // encoding needed); sorted so a manifest round-trips bit-stably
    val carries = lines.collect { case s if s.startsWith("f\t") =>
      val Array(_, b, rel) = s.split('\t')
      b.toInt -> rel
    }.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).toSeq.sorted }
    // commit provenance: absent on pre-history manifests (op stays "")
    val (op, at) = lines.collectFirst { case s if s.startsWith("o\t") =>
      val parts = s.split("\t", -1)
      (parts(1), parts(2).toLong)
    }.getOrElse(("", -1L))
    val rowsMap = lines.collect { case s if s.startsWith("r\t") =>
      val Array(_, fp, n) = s.split('\t')
      fp -> n.toLong
    }.toMap
    val retired = lines.collect { case s if s.startsWith("x\t") =>
      s.split('\t')(1)
    }
    val m = Manifest(schema, SortedMap(buckets: _*), nb, stats, strStats,
      setStats, deletes, carries, op, at, rowsMap, retired)
    manifestCache.put(key, m)
    // close the parse-vs-vacuum race: a concurrent vacuum that deleted
    // this file and swept the cache BETWEEN our open and our put would
    // leave the entry resurrecting a vacuumed version forever; one
    // exists() per MISS (never per hit) catches every interleaving —
    // on a store whose exists() lags (the object-store fixture) this
    // merely disables caching there, which is the safe direction
    if (!fs(p).exists(p)) manifestCache.remove(key)
    m
  }

  /** Compare-and-swap manifest publish: commit `m` as version `v` iff no
   * other writer has already committed `v`, via the store's
   * [[ManifestLog]] create-if-absent primitive (default
   * [[HadoopManifestLog]]: local hard-link / HDFS rename; object-store
   * deployments pass a conditional-put log). Returns false when the
   * version was already taken — the caller rebases or refuses. */
  private def publishManifest(location: String, v: Int, m: Manifest): Boolean = {
    def b64(s: String) =
      java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
    val content = (Seq(s"schema\t${m.schema.json}", s"nbuckets\t${m.nBuckets}") ++
      m.buckets.toSeq.map { case (b, dir) => s"b\t$b\t$dir" } ++
      m.carries.toSeq.sortBy(_._1).flatMap { case (b, rels) =>
        rels.sorted.map(rel => s"f\t$b\t$rel")
      } ++
      m.stats.toSeq.sortBy(_._1).flatMap { case (f, ss) =>
        ss.map(s => s"s\t$f\t${s.column}\t${s.mn}\t${s.mx}")
      } ++
      m.strStats.toSeq.sortBy(_._1).flatMap { case (f, ss) =>
        ss.map(s =>
          s"y\t$f\t${s.column}\t${b64(s.lo)}\t${s.hi.map(b64).getOrElse("*")}")
      } ++
      m.setStats.toSeq.sortBy(_._1).flatMap { case (f, ss) =>
        ss.map(s => s"v\t$f\t${s.column}\t${s.values.size}" +
          (if (s.values.isEmpty) "" else s"\t${s.values.map(b64).mkString(",")}"))
      } ++
      m.deletes.map(d =>
        s"d\t${d.rel}\t${d.version}\t${d.rows}\t${d.kind}") ++
      m.rows.toSeq.sorted.map { case (fp, n) => s"r\t$fp\t$n" } ++
      m.retired.sorted.map(r => s"x\t$r") ++
      // provenance line last: optional, so pre-history manifests (and
      // their golden fixtures) round-trip unchanged
      (if (m.op.isEmpty) Nil else Seq(s"o\t${m.op}\t${m.at}"))).mkString("\n")
    val fin = manifestPath(location, v)
    manifestLog.putIfAbsent(fs(fin), fin, content)
  }

  /** The commit number a data directory was written at, parsed from
   * writeData's `data/cNNNNNN-<nonce>` naming; None for a name outside
   * it (callers treat that conservatively). */
  private def commitNumberOf(dir: String): Option[Int] =
    MergeSnapshotStore.CommitDirRe.findFirstMatchIn(dir).map(_.group(1).toInt)

  /** A manifest file reference joined to its table location. References
   * are normally TABLE-RELATIVE (writeData's `data/cNNNNNN-…/b=K`
   * naming, plus per-file carry lines under it); a SHALLOW CLONE's
   * manifest ([[cloneTable]]) references the SOURCE table's files
   * ABSOLUTELY (rooted `/…` or scheme-qualified `scheme://…`), and an
   * absolute reference resolves as itself. One rule for every
   * read/maintenance path, so a clone is indistinguishable from a
   * native table everywhere past the manifest — and a clone's own new
   * commits (relative, under its own location) mix freely with
   * borrowed absolute references in the same manifest. */
  private def refPath(location: String, rel: String): String =
    if (MergeSnapshotStore.isAbsoluteRef(rel)) rel else s"$location/$rel"

  /** Test/diagnostic hook: the bucket->directory map of one version. */
  private[graft] def manifestEntries(db: String, table: String, version: Int): Map[Int, String] =
    readManifest(catalog(db, table).location, version).buckets

  /** Test/diagnostic hook: the per-bucket CARRIED-FILE lists of one
   * version (files from older commit dirs carried by reference). */
  private[graft] def manifestCarries(db: String, table: String,
                                     version: Int): Map[Int, Seq[String]] =
    readManifest(catalog(db, table).location, version).carries

  /** Test/diagnostic hook: (sidecar dir, applies-below version) of one
   * version's merge-on-read delete files. */
  private[graft] def manifestDeletes(db: String, table: String,
                                     version: Int): Seq[(String, Int)] =
    readManifest(catalog(db, table).location, version).deletes
      .map(d => (d.rel, d.version))

  /** Test/diagnostic hook: per-file (column, min, max) stats of one version. */
  private[graft] def manifestStats(db: String, table: String,
                                   version: Int): Map[String, Seq[(String, Double, Double)]] =
    readManifest(catalog(db, table).location, version).stats
      .map { case (f, ss) => f -> ss.map(s => (s.column, s.mn, s.mx)) }

  /** Test/diagnostic hook: per-file truncated string bounds of one version. */
  private[graft] def manifestStrStats(db: String, table: String,
                                      version: Int): Map[String, Seq[(String, String, Option[String])]] =
    readManifest(catalog(db, table).location, version).strStats
      .map { case (f, ys) => f -> ys.map(y => (y.column, y.lo, y.hi)) }

  /** Test/diagnostic hook: per-file value sets of one version. */
  private[graft] def manifestSetStats(db: String, table: String,
                                      version: Int): Map[String, Seq[(String, Seq[String])]] =
    readManifest(catalog(db, table).location, version).setStats
      .map { case (f, ss) => f -> ss.map(s => (s.column, s.values)) }

  /** Latest committed manifest version, -1 when the table has none —
   * lets a caller PIN a version (with [[readVersion]]) so a retried
   * computation re-reads the same bases instead of its own output. */
  def latestVersion(db: String, table: String): Int = {
    val vs = manifestVersions(catalog(db, table).location)
    if (vs.isEmpty) -1 else vs.last
  }

  // ------------------------------------------------------------ landing zone

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

  // ------------------------------------------------------------------- reads

  def exists(db: String, table: String): Boolean =
    catalog.get(db, table).exists(m => manifestVersions(m.location).nonEmpty)

  /**
   * The latest snapshot, or the `version` pinned (committed AND
   * retained: [[resolveVersion]]'s loud message, so a serving pin past
   * the vacuum horizon fails with the finish-inside-the-retention-window
   * error instead of a raw FileNotFoundException from a reclaimed
   * directory) — the store's one snapshot read, the one seam both
   * serving modes route through. The frame is the [[skippingFrame]]
   * scan: any predicate Catalyst pushes down to it (directly, or through
   * a join via filter pushdown) reaches [[StoreFileIndex.listFiles]] as
   * the resolved, constant-folded Catalyst expression and is judged per
   * file by the SAME `fileMayMatch` walk the typed [[readWhere]] runs —
   * footer bounds, truncated string bounds, value sets, the
   * negation/prefix/IN shapes and the primary-key bucket arm included.
   * An AS-OF query prunes through the pinned manifest's stats exactly
   * as HEAD SQL does: a pin changes WHICH manifest answers, never how
   * much it scans. Evaluation-time clock expressions need no refusal
   * here (unlike the DML paths): Catalyst's ComputeCurrentTime folds
   * them to one literal per query BEFORE planning, so pruning and scan
   * see the same instant.
   *
   * The reference's primary query surface is exactly this shape —
   * domain SQL over temp views (reference src/apply_to_domains.py:54-68)
   * and the glue_query CLI predicate (reference dev/glue_query:5-9) —
   * so [[graft.operators.DomainRunner]] and
   * [[graft.operators.QueryRunner]] route through it.
   */
  def read(db: String, table: String, version: Option[Int] = None): DataFrame =
    skippingScan(db, table, version)._1

  /** [[read]] of `meta` at `version`, under the same retention
   * contract. */
  def readVersion(meta: TableMeta, version: Int): DataFrame = {
    val m = readManifest(meta.location, resolveVersion(meta, Some(version)))
    skippingFrame(meta, m, listDataFileStatuses(meta, m, None))._1
  }

  /** The latest committed schema under its logical column names, read
   * from the manifest — what a caller that only needs the table's
   * shape asks for, without planning a scan. */
  def committedSchema(db: String, table: String): StructType = {
    val meta = catalog(db, table)
    val vs = manifestVersions(meta.location)
    require(vs.nonEmpty, s"no manifest versions at ${meta.location}")
    MergeSnapshotStore.plainLogical(readManifest(meta.location, vs.last).schema)
  }

  /**
   * PK point lookup: the rows of `keys` (any frame exposing the table's
   * PK column(s) — composite keys look up on the full tuple; values are
   * cast to the committed PK types, so a caller's
   * literal ints match a bigint table) from the latest (or pinned)
   * snapshot, read by scanning ONLY the keys' hash buckets. At 100 TB
   * with 4096 buckets a one-key lookup plans a scan over 1/4096th of
   * the table's files — the index-free point-read a keyed store owes
   * its callers. Driver-sized key sets (the point-lookup contract)
   * become one `pk IN (…)` predicate (an OR of per-tuple conjunctions
   * for composite keys) over the skipping scan: the walk's bucket arm
   * hashes the literals to their buckets in the driver and keeps only
   * those buckets' files, and the predicate is PUSHED into the parquet
   * scan, so row-group min/max stats skip most of the surviving
   * buckets too. A key frame already on the driver (its optimized
   * plan is a local relation) is read and deduplicated there, so
   * planning such a lookup runs no Spark job; other frames pay one
   * bounded distinct collect. A key set too large to inline falls back
   * to a semi-join over a scan of the keys' buckets. A non-empty
   * `ranges` conjoins [[readRange]]'s exact predicate, which the same
   * walk judges.
   */
  def pointLookup(db: String, table: String, keys: DataFrame,
                  ranges: Map[String, (Double, Double)] = Map.empty,
                  version: Option[Int] = None): DataFrame = {
    val meta = catalog(db, table)
    if (!meta.hasPrimaryKey) throw new IllegalStateException(
      s"pointLookup needs a registered PK for ${meta.qualified}")
    val pks = meta.primaryKey
    val m = readManifest(meta.location, resolveVersion(meta, version))
    requireBucketCount(meta, m)
    val pkTypes = pks.map(k => m.schema(k).dataType)
    val typedKeys = keys.select(pks.zip(pkTypes).map { case (k, t) =>
      col(k).cast(t).as(k) }: _*).na.drop()
    // loop control: the keys themselves, fetched only up to the inline
    // bound — a caller passing a whole table's worth of "point" keys
    // cannot OOM the driver, it just loses the pushdown form
    val inline = typedKeys.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        typedKeys.collect().toSeq.distinct // already driver-resident
      case _ =>
        typedKeys.distinct().limit(MergeSnapshotStore.MaxInlineKeys + 1)
          .collect().toSeq
    }
    val rangePred = if (ranges.isEmpty) None else Some(rangesPredicate(m, ranges))
    val inlined: Option[DataFrame] =
      if (inline.length > MergeSnapshotStore.MaxInlineKeys) None
      else
        // functions.lit cannot encode every JVM representation a
        // collected PK value can take; a key set whose literals will
        // not build must fall back to the semi-join path (which never
        // round-trips values through literals) instead of failing a
        // lookup the fallback would have answered
        try {
          val keyPred = MergeSnapshotStore.keyIn(pks, pkTypes, inline)
          Some(skippingWhere(meta, m, rangePred.fold(keyPred)(keyPred && _)))
        } catch { case scala.util.control.NonFatal(_) => None }
    inlined.getOrElse {
      // bucket ids of the lookup keys (<= nBuckets values)
      val touched = typedKeys.select(bucketOf(meta, pks.map(col)).as("__b"))
        .distinct().collect().map(_.getInt(0)).toSet
      // UNHINTED semi-join: the inline cap exists so an over-large key
      // frame cannot land on the driver — a forced broadcast here would
      // collect it anyway. AQE broadcasts when the measured size allows.
      skippingWhere(meta, m, rangePred.getOrElse(lit(true)),
        rel => m.bucketOf(rel).forall(touched))
        .join(typedKeys, pks, "left_semi")
    }
  }

  /** Physical-named scan output → the manifest's LOGICAL spelling.
   * Identity when the schema has no renames (zero plan change for every
   * pre-rename table); otherwise one aliasing projection Catalyst folds
   * filters straight through, so pushdown and pruning are unaffected.
   * `extras` survive the projection (a find scan's row address). */
  private def toLogical(df: DataFrame, s: StructType,
                        extras: Seq[String] = Nil): DataFrame =
    if (!MergeSnapshotStore.hasRenames(s)) df
    else df.select(s.fields.toSeq.map(f =>
      // Metadata.empty: an Alias inherits its child attribute's field
      // metadata, and the mapping key must NOT leak into read output —
      // a whole-table rewrite republishes the read's schema, and a
      // stale mapping over logically-named fresh files would NULL the
      // column on every later scan
      df(MergeSnapshotStore.physicalOf(f))
        .as(f.name, org.apache.spark.sql.types.Metadata.empty)) ++
      extras.map(c => df(c)): _*)

  /** The merge-on-read delete view — the read-time half of
   * [[deleteWhere]]'s MergeOnRead mode, applied by the one scan builder
   * ([[skippingFrame]]) and so by every read. Two sidecar kinds,
   * Iceberg v2's pair:
   *
   *  - EQUALITY deletes (keyed tables): anti-join away rows whose PK
   *    appears in a sidecar that APPLIES to the row's file, under the
   *    sequence-number rule — a sidecar committed at version D erases
   *    only rows in files whose commit number (parsed from the
   *    `data/cNNNNNN-` directory the writer named) is BELOW D, so a CDC
   *    merge that re-inserts a deleted key is not silently re-deleted.
   *  - POSITION deletes (PK-less tables): anti-join away exact
   *    (file, row-ordinal) addresses. Addresses bind to the physical
   *    file identity, so re-inserts are exempt BY CONSTRUCTION (new
   *    files are new paths) and no version rule is needed.
   *
   * One broadcast anti-join per kind regardless of how many sidecars
   * exist (the keys union delete-sized by the MoR contract); zero cost
   * when the manifest carries none. Scan-stage address columns
   * (file commit number, row address) are captured BEFORE any join —
   * metadata columns resolve on the relation, not through join output.
   * `withAddress` (a DML find) keeps the row address in the output. */
  private def applyDeletes(meta: TableMeta, m: Manifest, df: DataFrame,
                           withAddress: Boolean): DataFrame =
    if (m.deletes.isEmpty)
      if (withAddress) df.withColumns(rowAddress) else df
    else {
      import org.apache.spark.sql.functions.{broadcast, coalesce, regexp_extract_all, try_element_at}
      val (eqDels, posDels) =
        m.deletes.partition(_.kind == MergeSnapshotStore.EqDeleteKind)
      // ---- scan-stage address capture (both kinds, before any join)
      // the row's file commit number, read in the scan stage; every
      // data file lives under data/cNNNNNN-<nonce>/ by writeData's
      // naming (sidecar dirs are d-prefixed, so they can never match).
      // The LAST match in the absolute path is the table's own data
      // dir: nothing below it can contain '/', while a table LOCATION
      // that itself contains a "data/c<digits>-" segment would fool a
      // first-match parse into one constant commit number — silently
      // breaking the sequence rule in both directions. The path comes
      // from the scan's `_metadata` column, not the file-name function:
      // a nondeterministic projection would stop Catalyst pushing a
      // filter above the mask down into the scan, and with it every
      // file the skipping walk could have pruned
      val addressed = df.withColumns(
        (if (eqDels.isEmpty) Map.empty[String, Column]
        else Map("__fv" -> try_element_at(regexp_extract_all(
          col("_metadata.file_path"), lit("data/c(\\d+)-"), lit(1)),
          lit(-1)).cast("int"))) ++
          (if (posDels.isEmpty && !withAddress) Map.empty else rowAddress))
      // ---- equality kind
      val afterEq =
        if (eqDels.isEmpty) addressed
        else {
          val pks = meta.primaryKey
          require(pks.nonEmpty,
            s"${meta.qualified} carries equality-delete sidecars but no " +
              "PK — equality deletes are keyed; the manifest is corrupt")
          // the anti-join binds the PK's ON-DISK spelling: `addressed`
          // is the raw physical-named scan, sidecars write the physical
          // spelling, and the spelling survives a PK rename by
          // construction (PkPhysicalProp) — so a manifest pinned BEFORE
          // the rename masks identically to head
          val pkDisk = pks.map(k => MergeSnapshotStore.pkPhysicalOf(meta, k))
          val dels = eqDels.map { d =>
            val raw = spark.read.parquet(refPath(meta.location, d.rel))
            // a sidecar written before its PK's rename was recorded may
            // spell the then-logical name — resolve physical first,
            // then the current logical, loudly if neither
            raw.select(pkDisk.zip(pks).map { case (phys, k) =>
              val have = raw.columns.find(_.equalsIgnoreCase(phys))
                .orElse(raw.columns.find(_.equalsIgnoreCase(k)))
                .getOrElse(throw new IllegalStateException(
                  s"delete sidecar ${d.rel} of ${meta.qualified} spells " +
                    s"neither $phys nor $k for the PRIMARY KEY — the " +
                    "sidecar predates an unrecorded key restructure"))
              col(have).as(phys)
            } :+ lit(d.version).as("__dv"): _*)
          }.reduce(_.unionByName(_))
          val keyed = pkDisk.foldLeft(dels)((f, k) =>
            f.withColumnRenamed(k, s"__dk_$k"))
          val cond = pkDisk.map(k => addressed(k) <=> keyed(s"__dk_$k"))
            .reduce(_ && _) &&
            coalesce(addressed("__fv") < keyed("__dv"), lit(false))
          addressed.join(broadcast(keyed), cond, "left_anti")
        }
      // ---- position kind
      val afterPos =
        if (posDels.isEmpty) afterEq
        else {
          val addrs = posDels.map { d =>
            spark.read.parquet(refPath(meta.location, d.rel))
              .select(col("__file"), col("__pos"))
          }.reduce(_.unionByName(_))
          val cond =
            afterEq(MergeSnapshotStore.PosFileCol) === addrs("__file") &&
              afterEq(MergeSnapshotStore.PosPosCol) === addrs("__pos")
          afterEq.join(broadcast(addrs), cond, "left_anti")
        }
      afterPos.drop(
        (Seq("__fv") ++ (if (withAddress) Nil
          else Seq(MergeSnapshotStore.PosFileCol,
            MergeSnapshotStore.PosPosCol))): _*)
    }

  /** The row's physical ADDRESS — its file's table-relative tail
   * (`data/cNNNNNN-<nonce>/__b=<bucket>/<file>`, the form every reader
   * compares: the position-delete anti-join, the debt fold's footprint,
   * the finds' bucket mapping) and its ordinal within that file —
   * captured from the scan's metadata columns (`_metadata.file_path` /
   * `_metadata.row_index`, the parquet reader's row-position support).
   * The tail survives a table LOCATION move, normalizes scheme
   * differences, and is the same for a file read natively and read
   * borrowed by a shallow clone (whose manifest names it absolutely).
   * An unmatched path yields "" and the position-delete WRITER refuses
   * it loudly (a silent empty address would drop the delete at read
   * time). */
  private def rowAddress: Map[String, Column] = Map(
    MergeSnapshotStore.PosFileCol -> org.apache.spark.sql.functions.regexp_extract(
      col("_metadata.file_path"), MergeSnapshotStore.AddressRe.regex, 1),
    MergeSnapshotStore.PosPosCol -> col("_metadata.row_index"))

  /**
   * Data skipping over a committed snapshot: the exact predicate of
   * EVERY requested `[lo, hi]` range (inclusive, double space — the
   * [[graft.catalog.Layout.readPruned]] contract) read through the
   * skipping walk ([[readWhere]]), so the result equals a full-scan
   * filter while whole files are dropped before any parquet footer is
   * read. A range on a column the layout does not correlate with
   * prunes little but still filters exactly.
   *
   * What actually prunes at 100 TB: PK-hash bucketing randomizes most
   * columns across buckets, so on a PK table this prunes when the
   * predicate column correlates with the key's hash — rarely. The real
   * wins are (a) PK-LESS tables committed with a caller-chosen layout
   * (sort or [[Layout.cluster]] output: files carry tight disjoint
   * ranges and a box query plans a handful of them), and (b) serving
   * tables whose bucket contents are value-homogeneous by construction
   * (a term-bucketed postings table, a cell-bucketed vector index).
   * Exactly Delta/Iceberg's story: stats are always recorded; layout
   * decides how much they bite.
   */
  def readRange(db: String, table: String,
                ranges: Map[String, (Double, Double)],
                version: Option[Int] = None): DataFrame = {
    require(ranges.nonEmpty, "readRange needs at least one column range")
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    skippingWhere(meta, m, rangesPredicate(m, ranges))
  }

  /** The manifest version a read should resolve: the caller's explicit
   * PIN if given (it must still be committed AND retained — a pin past
   * the retention horizon fails loudly here instead of scanning
   * directories a vacuum may already have reclaimed), else latest. */
  private def resolveVersion(meta: TableMeta, version: Option[Int]): Int = {
    val vs = manifestVersions(meta.location)
    require(vs.nonEmpty, s"no manifest versions at ${meta.location}")
    version match {
      case None => vs.last
      case Some(v) =>
        require(vs.contains(v),
          s"version $v of ${meta.qualified} is not committed/retained " +
            s"(have ${vs.mkString(",")}) — pinned readers must finish " +
            "inside the vacuum retention window (" +
            s"${retentionMsOf(meta)} ms for this table)")
        v
    }
  }

  /** The data-file STATUSES of the selected buckets, enumerated from
   * the bucket directories — never from the stats maps alone, so a file
   * that produced no stats lines is still read. The ONE enumeration
   * (visibility rule included) the name-only listing, the file-scoped
   * commit's dir grouping and every scan's [[StoreFileIndex]] derive
   * from, so the hidden-file rule can never drift between paths. */
  private def listDataFileStatuses(meta: TableMeta, m: Manifest,
                                   only: Option[Set[Int]])
      : Seq[(String, FileStatus)] = {
    val relDirs = m.buckets.toSeq
      .collect { case (b, dir) if only.forall(_.contains(b)) => dir }
    val f = fs(new Path(meta.location))
    val fromDirs = relDirs.flatMap { dir =>
      f.listStatus(new Path(refPath(meta.location, dir))).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(st => (s"$dir/${st.getPath.getName}", st))
    }
    // carried files enumerate alongside (one getFileStatus per carry —
    // carry-count-sized driver I/O, same scale as the dir listings)
    val fromCarries = m.carries.toSeq
      .collect { case (b, rels) if only.forall(_.contains(b)) => rels }
      .flatten
      .map(rel => (rel, f.getFileStatus(new Path(refPath(meta.location, rel)))))
    fromDirs ++ fromCarries
  }

  private def listDataFiles(meta: TableMeta, m: Manifest,
                            only: Option[Set[Int]]): Seq[String] =
    listDataFileStatuses(meta, m, only).map(_._1)

  /** The exact predicate of `ranges` (non-empty). The epoch-based
   * double bounds re-type into the column's own literal space (a
   * date/timestamp literal keeps the comparison PUSHED into the parquet
   * scan, where a promoted `unix_date(col) >= x` function-of-column form
   * would not); dates are integral, so the bound tightens to
   * [ceil(lo), floor(hi)], and timestamps likewise in micros. A numeric
   * column compares with the double itself: the analyzer wraps a
   * non-double column in `cast(c AS double)`, which the walk judges
   * like `c`. On a date or timestamp column a bound at or beyond the
   * type's value range (`Int` days, `Long` micros; ±Infinity included)
   * is an open side when it lies beyond its own end — a low bound
   * below, a high bound above — and an empty read when it lies beyond
   * the other end; a range whose both sides are open still refuses
   * NULL. A NaN bound is refused: Spark orders NaN above every value,
   * so it names no range. */
  private def rangesPredicate(m: Manifest,
                              ranges: Map[String, (Double, Double)]): Column =
    ranges.map { case (c, (lo, hi)) =>
      require(!lo.isNaN && !hi.isNaN,
        s"range [$lo, $hi] on '$c' has a NaN bound — NaN orders above " +
          "every value and names no range")
      val temporal: Option[(Double, Double, Long => Any)] = m.schema(c).dataType match {
        case DateType => Some((Int.MinValue.toDouble, Int.MaxValue.toDouble,
          (d: Long) => java.time.LocalDate.ofEpochDay(d)))
        case TimestampType => Some((Long.MinValue.toDouble, Long.MaxValue.toDouble,
          (micros: Long) => java.time.Instant.ofEpochSecond(
            Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)))
        case _ => None
      }
      temporal match {
        case None => col(c) >= lit(lo) && col(c) <= lit(hi)
        case Some((min, max, _)) if math.ceil(lo) > max || math.floor(hi) < min =>
          lit(false)
        case Some((min, max, literal)) =>
          val l = math.ceil(lo)
          val h = math.floor(hi)
          (Option.when(l > min)(col(c) >= lit(literal(l.toLong))) ++
            Option.when(h < max)(col(c) <= lit(literal(h.toLong))))
            .reduceOption(_ && _).getOrElse(col(c).isNotNull)
      }
    }.reduce(_ && _)

  /**
   * Data skipping on STRING columns: the exact `[lo, hi]` predicate of
   * every requested range (inclusive, UTF-8 byte order — Spark's own
   * string order) read through the skipping walk, which judges it
   * against each file's truncated lexicographic bounds ([[StrStat]],
   * the Iceberg `truncate(16)` pattern). What prunes at 100 TB:
   * string-keyed layouts with locality — a URL table committed
   * clustered by canonical URL, lexicographic id ranges — exactly the
   * numeric [[readRange]] story. A null bound is refused: no row
   * compares TRUE against NULL.
   */
  def readStringRange(db: String, table: String,
                      ranges: Map[String, (String, String)],
                      version: Option[Int] = None): DataFrame = {
    require(ranges.nonEmpty, "readStringRange needs at least one column range")
    ranges.foreach { case (c, (lo, hi)) =>
      require(lo != null && hi != null,
        s"readStringRange on '$c' has a null bound — no row compares " +
          "TRUE against NULL; pass both bounds")
    }
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    skippingWhere(meta, m, ranges.map { case (c, (lo, hi)) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _))
  }

  /**
   * Equality / IN read: the exact `isin` predicate read through the
   * skipping walk, whose VALUE-SET arm ([[SetStat]], for columns opted
   * in via [[MergeSnapshotStore.SetStatsProp]]) plans only the files
   * whose recorded set intersects EVERY probe list. Probes are typed to
   * the column first, so coercion never wraps the column in a cast the
   * walk cannot judge; an integral probe outside a narrower column's
   * range matches nothing and is dropped. What prunes at 100 TB: the
   * enum-dimension point read — segment / status / language /
   * source-tagged corpora where a commit's files each carry a handful
   * of classes; min/max bounds cannot separate interleaved class
   * VALUES, the exact set can.
   */
  def readEquals(db: String, table: String, probes: Map[String, Seq[Any]],
                 version: Option[Int] = None): DataFrame = {
    require(probes.nonEmpty, "readEquals needs at least one probed column")
    require(probes.values.forall(_.nonEmpty),
      "every probed column needs at least one value")
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    // probe values must match the column's own type family: the set
    // judge compares canonical STRINGS while the exact predicate
    // compares in Spark's coercion rules, and the two disagree across
    // types (an int column probed with the string "05" canonicalizes to
    // "05", misses the set's "5", and prunes a file the coercing filter
    // would match)
    val pred = probes.map { case (c, vs) =>
      require(m.schema.fieldNames.contains(c),
        s"readEquals column '$c' is not in ${meta.qualified}'s schema")
      val dt = m.schema(c).dataType
      vs.foreach(v => require(MergeSnapshotStore.probeMatches(dt, v),
        s"readEquals probe ${Option(v).map(_.getClass.getSimpleName)
          .getOrElse("null")} '$v' does not match column '$c' of type " +
          s"${dt.simpleString} — pass the column's own type so the " +
          "set-stats skip and the exact predicate agree"))
      val typed = vs.flatMap(MergeSnapshotStore.probeAs(dt, _))
      if (typed.isEmpty) lit(false) else col(c).isin(typed: _*)
    }.reduce(_ && _)
    skippingWhere(meta, m, pred)
  }

  /**
   * Prefix read — the string stats' headline use (URL prefixes,
   * lexicographic ids): an exact `startswith` read through the skipping
   * walk, which keeps the files whose bounds admit a value in
   * `[prefix, incrementLast(prefix))`.
   */
  def readPrefix(db: String, table: String, column: String, prefix: String,
                 version: Option[Int] = None): DataFrame = {
    require(prefix.nonEmpty, "readPrefix needs a non-empty prefix")
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    skippingWhere(meta, m, col(column).startsWith(prefix))
  }

  /**
   * Expression-derived data skipping — the one pruned read the typed
   * forms ([[readRange]]/[[readStringRange]]/[[readEquals]]/
   * [[readPrefix]]) and [[pointLookup]] build their exact predicates
   * for: the caller hands an arbitrary `Column`
   * predicate and the store walks its expression tree against every
   * file's manifest stats, planning only the files that MAY hold a row
   * where the predicate is TRUE (Delta/Iceberg's dataFilters-to-file-
   * skipping story, cf. Delta's DataSkippingReader). Shapes that prune:
   * AND/OR over `=`, `<`, `<=`, `>`, `>=`, `IN`, `startswith` between a
   * stats-carrying column and a literal — numeric/date/timestamp
   * min-max bounds, truncated string bounds, and value-set lines all
   * participate; a numeric column under `cast(c AS double)` judges like
   * `c`. On a keyed table, equality/IN on the whole primary key
   * also prunes by BUCKET: the literals hash to their
   * `pmod(hash(pk), nBuckets)` buckets in the driver and only those
   * buckets' files are kept ([[keyBuckets]]) — the one pruning
   * hash-bucketed key columns admit, since every bucket's key min/max
   * spans the whole key range. NOT pushes down as well: De Morgan over AND/OR,
   * comparisons flip to their TRUE-wise complements, and negated
   * equality/IN/prefix prune only where the stats PROVE every non-null
   * row matches (see [[statsMayMatch]]'s mayNot). IS NOT NULL prunes a
   * file whose EMPTY value-set line proves the column all-null. EVERY
   * remaining node (IS NULL, col-to-col, functions of columns, UDFs…)
   * is conservatively satisfiable, and the exact predicate applies on
   * top of the planned files, so the result always equals the full-scan
   * filter: an unsupported shape costs pruning power, never
   * correctness. Predicates reading the evaluation-time clock
   * (current_timestamp & family) refuse — the pruning fold and the scan
   * would evaluate at different instants.
   *
   * Soundness under SQL's three-valued logic: pruning asks "can this
   * file hold a row where the predicate is TRUE". AND prunes when
   * either side is file-wide unsatisfiable (a row satisfying the
   * conjunction would satisfy both sides), OR only when both are; a
   * NULL comparison is never TRUE, and an all-null file carries no
   * bounds line — the conservative keep is already correct. Numeric
   * comparisons prune NON-strictly (`<` keeps `mn <= v`, not `mn < v`):
   * bounds and literals meet in the manifest's double space, whose
   * rounding is monotone but can tie beyond ±2^53 — a tie must keep
   * the file, exactly the [[readRange]] self-consistency contract.
   * String comparisons are exact in UTF-8 byte order against the
   * truncated bounds (lo ≤ true min, hi ≥ true max, None = unbounded).
   */
  def readWhere(db: String, table: String, predicate: Column,
                version: Option[Int] = None): DataFrame = {
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    skippingWhere(meta, m, predicate)
  }

  /** [[readWhere]]'s file-selection half alone — the plan-pin hook the
   * SQL-path spec compares against [[StoreFileIndex.lastKept]]. */
  private[graft] def prunedFiles(db: String, table: String,
                                 predicate: Column,
                                 version: Option[Int] = None): Seq[String] = {
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    walkedFiles(meta, m, resolvePredicate(m, predicate)).map(_._1)
  }

  /** [[read]]'s body, exposing the [[StoreFileIndex]] for plan-pin
   * specs. */
  private[graft] def skippingScan(db: String, table: String,
                                  version: Option[Int] = None)
      : (DataFrame, StoreFileIndex) = {
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    skippingFrame(meta, m, listDataFileStatuses(meta, m, None))
  }

  /** The store's ONE scan builder: every data read of a manifest —
   * snapshot reads, pruned reads, a scoped commit's touched buckets,
   * the DML finds, the file-scoped rewrites — is this frame over some
   * slice of the one enumeration ([[listDataFileStatuses]]). It is a
   * [[StoreFileIndex]] relation judged by [[fileMayMatch]] (sizes and
   * mtimes from the statuses feed sizeInBytes, so SQL joins
   * auto-broadcast small store tables; the driver lists, so no Spark
   * listing job runs however many bucket dirs the slice spans), with
   * the merge-on-read masking and the logical aliasing on top. An empty
   * slice is an empty relation of the manifest's schema.
   * `withAddress` keeps each row's scan-stage address (the
   * [[rowAddress]] columns) through both. */
  private def skippingFrame(meta: TableMeta, m: Manifest,
                            files: Seq[(String, FileStatus)],
                            withAddress: Boolean = false)
      : (DataFrame, StoreFileIndex) = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    // the relation reads the files' PHYSICAL spelling (a carried
    // pre-rename file resolves by name); pushed-down predicates arrive
    // at the index with physical attribute names, which is exactly how
    // the stats lines are keyed. Every column reads nullable, Spark's
    // own rule for a file source's declared schema: a carried file may
    // hold nulls a later schema declares away
    val phys = MergeSnapshotStore.asNullable(
      MergeSnapshotStore.physicalSchema(m.schema))
    val index = new StoreFileIndex(meta.location, files,
      e => fileMayMatch(e, meta, m))
    val relation = HadoopFsRelation(index, new StructType(), phys,
      None, new ParquetFileFormat(), Map.empty)(spark)
    // merge-on-read sidecars mask on top of the scan — the anti-join
    // sits above the relation, so file pruning still runs below it; the
    // logical aliasing sits above BOTH (PK names never rename, so the
    // anti-joins bind identically on either side), and Catalyst
    // rewrites pushed filters through it down to the physical scan
    val extras =
      if (withAddress) Seq(MergeSnapshotStore.PosFileCol, MergeSnapshotStore.PosPosCol)
      else Nil
    (toLogical(applyDeletes(meta, m, spark.baseRelationToDataFrame(relation),
      withAddress), m.schema, extras), index)
  }

  /** The files of `m` the [[fileMayMatch]] walk admits for the resolved
   * predicate `e` (and `keep` keeps) — the narrowed slice a pruned read
   * or a DML find scans. */
  private def walkedFiles(meta: TableMeta, m: Manifest,
                          e: org.apache.spark.sql.catalyst.expressions.Expression,
                          keep: String => Boolean = _ => true)
      : Seq[(String, FileStatus)] = {
    val may = fileMayMatch(e, meta, m)
    listDataFileStatuses(meta, m, None)
      .filter { case (rel, _) => keep(rel) && may(rel) }
  }

  /** The scan of `m` filtered by `predicate`, its index narrowed up
   * front to the walked files ([[walkedFiles]]) — so `inputFiles` and
   * `sizeInBytes` describe the pruned read, not the snapshot — while
   * the pushed predicate still reaches the index at planning. */
  private def skippingWhere(meta: TableMeta, m: Manifest, predicate: Column,
                            keep: String => Boolean = _ => true): DataFrame =
    skippingFrame(meta, m,
      walkedFiles(meta, m, resolvePredicate(m, predicate), keep))._1
      .filter(predicate)

  /** `predicate` resolved and type-coerced by Spark's OWN analyzer
   * against the manifest schema — pruning must judge exactly the
   * comparisons the scan will run, not the surface form the caller
   * typed (a `Column` is a lazy node tree until analysis). Literal-only
   * subtrees then fold (the ConstantFolding move): coercion wraps
   * literals in casts on widening comparisons, and a folded cast is a
   * typed literal the stats can judge — while a cast around a COLUMN
   * (a genuine cross-type comparison) survives and lands in the
   * conservative branch. A predicate naming a column the table lacks
   * fails analysis here, loudly. */
  private def resolvePredicate(m: Manifest, predicate: Column)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{CurrentDate,
      CurrentTimestampLike, Literal, LocalTimestamp}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    val cond = empty.filter(predicate).queryExecution.analyzed
      .collectFirst { case f: Filter => f.condition }
      .getOrElse(throw new IllegalStateException(
        "predicate did not analyze to a Filter over the snapshot schema"))
    // evaluation-TIME-dependent expressions are Catalyst-"deterministic"
    // (same value within one query) but this store evaluates the
    // predicate at three separate instants — the pruning fold, the find
    // scan, the bucket rewrite — and a clock that moves between them
    // silently prunes matching files or deletes rows the count never
    // saw. Refuse; the caller binds the clock to a literal once.
    val clock = cond.collectFirst {
      case e: CurrentTimestampLike => e
      case e: CurrentDate => e
      case e: LocalTimestamp => e
    }
    require(clock.isEmpty,
      s"predicate reads the evaluation-time clock (${clock.get.prettyName}) " +
        "— the pruning fold, the find scan and the rewrite evaluate at " +
        "different instants; bind the time to a literal " +
        "(lit(Instant.now())) before calling")
    // A cast to the type its child already has goes too (the
    // SimplifyCasts move): IN coercion casts every child to the common
    // type, the column included, and the walk must see the bare column
    val folded = cond.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        Literal.create(e.eval(null), e.dataType)
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.child.dataType == c.dataType => c.child
    }
    // pruning judges stats lines, which are keyed by PHYSICAL column
    // names — rewrite the analyzed attributes to the files' spelling
    // (the SQL path needs no rewrite: its predicates push down against
    // the physical-named relation already)
    if (!MergeSnapshotStore.hasRenames(m.schema)) folded
    else {
      val l2p = m.schema.fields.map(f =>
        f.name.toLowerCase -> MergeSnapshotStore.physicalOf(f)).toMap
      folded.transformUp {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if l2p.get(a.name.toLowerCase).exists(_ != a.name) =>
          a.withName(l2p(a.name.toLowerCase))
      }
    }
  }

  /** Can a file of `m` hold a row where `e` is TRUE, judged from the
   * manifest alone? Two arms: the BUCKET arm ([[keyBuckets]]) drops
   * files outside the buckets `e`'s primary-key literals hash to, the
   * STATS arm ([[statsMayMatch]]) drops files whose bounds or value
   * sets rule `e` out. `true` means "cannot rule it out" — every
   * unrecognized shape, type pairing, missing stats line or bucketless
   * file lands there, so the kept files are a sound superset of the
   * matching ones. The judge is built once per predicate: the key
   * literals hash once, each file then pays a map lookup plus the
   * stats walk. */
  private def fileMayMatch(e: org.apache.spark.sql.catalyst.expressions.Expression,
                           meta: TableMeta, m: Manifest): String => Boolean = {
    val inBuckets = keyBuckets(e, meta, m)
    rel => inBuckets.forall(bs => m.bucketOf(rel).forall(bs.contains)) &&
      statsMayMatch(e, m, rel)
  }

  /** The bucket arm: the buckets that can hold a row where `e` is TRUE,
   * from the primary-key literals `e` pins; None when it pins no whole
   * key (any bucket may match). Rows are placed by
   * `pmod(hash(pk…), nBuckets)` ([[bucketOf]]), so a row with `pk = v`
   * lives only in that function's bucket for `v`: the arm evaluates
   * the same function on the literals in the driver (Catalyst `eval`,
   * no Spark job) under the manifest's own bucket count — the
   * partition-transform pruning Iceberg applies to its `bucket`
   * transform. One conjunction must pin every PK column (`=`,
   * non-null `<=>`, IN, InSet; IN lists on several columns cross); OR
   * unions its sides' sets only when both sides pin, AND intersects.
   * Conservative everywhere else: a literal not typed exactly as the
   * committed PK column (the hash is type-sensitive — int 7 and
   * bigint 7 hash apart), a PK type whose equality is not hash
   * equality (floating point, decimals, collated strings), NOT, and
   * PK-less tables. */
  private def keyBuckets(e: org.apache.spark.sql.catalyst.expressions.Expression,
                         meta: TableMeta, m: Manifest): Option[Set[Int]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions._
    // the key columns as the walk spells them (physical names, the
    // stats-line key space) with their committed types, in the
    // registered order the bucket function hashes them in
    val keyCols = meta.primaryKey.map { k =>
      val phys = MergeSnapshotStore.pkPhysicalOf(meta, k)
      m.schema.fields
        .find(f => MergeSnapshotStore.physicalOf(f).equalsIgnoreCase(phys))
        .map(f => MergeSnapshotStore.physicalOf(f) -> f.dataType)
    }
    if (keyCols.isEmpty || !keyCols.forall(
        _.exists(c => MergeSnapshotStore.bucketPrunable(c._2)))) return None
    val keys = keyCols.flatten
    val slot = keys.map(_._1).zipWithIndex.toMap
    def keySlot(x: Expression, ldt: DataType): Option[Int] = x match {
      case a: AttributeReference =>
        slot.get(a.name).filter(i => keys(i)._2 == ldt && a.dataType == ldt)
      case _ => None
    }
    // the non-null values one conjunct pins a key column to (a NULL
    // never compares equal, so `pk = NULL` pins to nothing)
    def pin(x: Expression): Option[(Int, Set[Any])] = (x match {
      case EqualTo(a, Literal(v, dt)) => keySlot(a, dt).map(_ -> Set(v))
      case EqualTo(Literal(v, dt), a) => keySlot(a, dt).map(_ -> Set(v))
      case EqualNullSafe(a, Literal(v, dt)) if v != null =>
        keySlot(a, dt).map(_ -> Set(v))
      case EqualNullSafe(Literal(v, dt), a) if v != null =>
        keySlot(a, dt).map(_ -> Set(v))
      case In(a, vs) if vs.forall {
          case Literal(_, dt) => dt == a.dataType
          case _ => false
        } =>
        keySlot(a, a.dataType)
          .map(_ -> vs.map(_.asInstanceOf[Literal].value).toSet[Any])
      case InSet(a, hset) => keySlot(a, a.dataType).map(_ -> hset)
      case _ => None
    }).map { case (i, vs) => i -> vs.filter(_ != null) }
    val bucketFn = MergeSnapshotStore.bucketExpr(keys.zipWithIndex.map {
      case ((_, dt), i) => BoundReference(i, dt, nullable = false)
    }, m.nBuckets)
    def hashAll(vals: Seq[Set[Any]]): Option[Set[Int]] =
      // IN lists on several key columns cross; a product past the
      // inline-key bound is not enumerated and the arm stays out
      if (vals.size > 1 && vals.map(_.size.toDouble).product >
          MergeSnapshotStore.MaxInlineKeys) None
      else Some(vals.foldLeft(Iterator.single(Vector.empty[Any])) {
        (acc, vs) => acc.flatMap(t => vs.iterator.map(t :+ _))
      }.map(t => bucketFn.eval(InternalRow.fromSeq(t)).asInstanceOf[Int]).toSet)
    // flattened iteratively: a composite lookup's OR of key tuples is
    // as deep as the key list is long
    def flatten(x: Expression, split: PartialFunction[Expression,
        (Expression, Expression)]): Seq[Expression] = {
      val out = Seq.newBuilder[Expression]
      var stack = List(x)
      while (stack.nonEmpty) {
        val h = stack.head
        stack = stack.tail
        split.lift(h) match {
          case Some((l, r)) => stack = l :: r :: stack
          case None => out += h
        }
      }
      out.result()
    }
    def conj(x: Expression): Option[Set[Int]] = {
      val cs = flatten(x, { case And(l, r) => (l, r) })
      val pins = cs.flatMap(pin).groupBy(_._1)
        .map { case (i, ps) => i -> ps.map(_._2).reduce(_ intersect _) }
      val pinned =
        if (pins.size == keys.size) hashAll(keys.indices.map(pins)) else None
      (pinned.toSeq ++ cs.collect { case o: Or => walk(o) }.flatten)
        .reduceOption(_ intersect _)
    }
    def walk(x: Expression): Option[Set[Int]] =
      flatten(x, { case Or(l, r) => (l, r) })
        .foldLeft(Option(Set.empty[Int])) { (acc, d) =>
          acc.flatMap(a => conj(d).map(a ++ _))
        }
    walk(e)
  }

  /** The stats arm of [[fileMayMatch]]: can file `rel` hold a row where
   * `e` is TRUE, judged from its manifest stats alone? */
  private def statsMayMatch(e: org.apache.spark.sql.catalyst.expressions.Expression,
                            m: Manifest, rel: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import MergeSnapshotStore.{litCanonical, litDouble, strCmp}
    val num = m.stats.getOrElse(rel, Nil).map(s => s.column -> s).toMap
    val str = m.strStats.getOrElse(rel, Nil).map(s => s.column -> s).toMap
    val set = m.setStats.getOrElse(rel, Nil).map(s => s.column -> s).toMap
    // exact-case schema lookup: a predicate written in another case
    // still FILTERS correctly (Spark resolves case-insensitively), it
    // just loses pruning — a miss is the conservative branch. The
    // attributes arriving here spell columns PHYSICALLY (the stats-line
    // key space — resolvePredicate rewrites the typed path, the SQL
    // path pushes against the physical-named relation), so the type
    // lookup resolves by physical spelling first, logical as the
    // pre-mapping fallback.
    def dtOf(c: String): Option[DataType] =
      m.schema.fields.find(f => MergeSnapshotStore.physicalOf(f) == c)
        .orElse(m.schema.fields.find(_.name == c)).map(_.dataType)
    def isNum(t: DataType) = t.isInstanceOf[NumericType]
    // `cast(c AS double)` of a numeric column — the analyzer's shape for
    // a double literal against a long or decimal column — judges like
    // `c`: the bounds already live in that double space, under the same
    // monotone rounding (Decimal.toDouble is the footer bounds'
    // BigDecimal.doubleValue), and the walk's numeric pruning is
    // non-strict, so ties keep the file
    def attr(x: Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if a.nameParts.size == 1 => Some(a.nameParts.head)
      case a: AttributeReference => Some(a.name)
      case Cast(a: AttributeReference, DoubleType, _, _)
        if dtOf(a.name).exists(isNum) => Some(a.name)
      case _ => None
    }
    // the double bound space is shared only within a type family: any
    // numeric literal against a numeric column, date days against
    // DateType, timestamp micros against TimestampType — never across
    def numCompatible(cdt: DataType, ldt: DataType): Boolean =
      (isNum(cdt) && isNum(ldt)) ||
        (cdt == DateType && ldt == DateType) ||
        (cdt == TimestampType && ldt == TimestampType)
    // value-set lines hold the COLUMN's cast-to-string form; a literal
    // participates only when its canonical form provably matches it
    def canonCompatible(cdt: DataType, ldt: DataType): Boolean = {
      import org.apache.spark.sql.types.{BooleanType, ByteType, IntegerType,
        LongType, ShortType}
      def integral(t: DataType) =
        t == ByteType || t == ShortType || t == IntegerType || t == LongType
      (cdt, ldt) match {
        case (StringType, StringType) => true
        case (BooleanType, BooleanType) => true
        case (DateType, DateType) => true
        case (a, b) => integral(a) && integral(b)
      }
    }
    def mayEq(c: String, value: Any, ldt: DataType): Boolean =
      if (value == null) false // x = NULL is never TRUE
      else dtOf(c) match {
        case None => true
        case Some(cdt) =>
          val setOk =
            if (!canonCompatible(cdt, ldt)) true
            else litCanonical(value, ldt) match {
              case Some(canon) => set.get(c).forall(_.values.contains(canon))
              case None => true
            }
          val boundOk = (cdt, ldt) match {
            case (StringType, StringType) =>
              val v = value.toString
              str.get(c).forall(y => strCmp(v, y.lo) >= 0 &&
                y.hi.forall(h => strCmp(v, h) <= 0))
            case _ if numCompatible(cdt, ldt) =>
              litDouble(value) match {
                case Some(v) => num.get(c).forall(s => v >= s.mn && v <= s.mx)
                case None => true
              }
            case _ => true
          }
          setOk && boundOk
      }
    // op is the row-level comparison `col op v`; string pruning may be
    // strict (bounds are exact strings), numeric pruning must not be
    // (double-space ties keep the file)
    def mayCmp(c: String, value: Any, ldt: DataType, op: String): Boolean =
      if (value == null) false // a NULL comparison is never TRUE
      else dtOf(c) match {
        case None => true
        case Some(StringType) if ldt == StringType =>
          val v = value.toString
          str.get(c).forall { y =>
            op match {
              case "<"  => strCmp(y.lo, v) < 0
              case "<=" => strCmp(y.lo, v) <= 0
              case ">"  => y.hi.forall(h => strCmp(h, v) > 0)
              case ">=" => y.hi.forall(h => strCmp(h, v) >= 0)
            }
          }
        case Some(cdt) if numCompatible(cdt, ldt) =>
          litDouble(value) match {
            case None => true
            case Some(v) => num.get(c).forall { s =>
              op match {
                case "<" | "<=" => s.mn <= v
                case ">" | ">=" => s.mx >= v
              }
            }
          }
        case _ => true
      }
    // Can a row make `x` FALSE — i.e., make NOT(x) TRUE? (A NULL x
    // makes neither side TRUE, so both walks ask only about their own
    // TRUE rows.) De Morgan distributes NOT over AND/OR; a negated
    // comparison is its complement TRUE-wise (NOT(a < v) is TRUE iff
    // a >= v); negated equality/IN/prefix prune only when the stats
    // PROVE every non-null row matches — set lines ⊆ probes, pinched
    // bounds, or a whole-file range inside the prefix interval.
    def mayNot(x: Expression): Boolean = x match {
      case Not(y) => may(y)
      case And(l, r) => mayNot(l) || mayNot(r)
      case Or(l, r) => mayNot(l) && mayNot(r)
      case Literal(null, _) => false
      case Literal(b: Boolean, _) => !b
      case LessThan(a, Literal(v, dt)) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, ">=")
      case LessThan(Literal(v, dt), a) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, "<=")
      case LessThanOrEqual(a, Literal(v, dt)) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, ">")
      case LessThanOrEqual(Literal(v, dt), a) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, "<")
      case GreaterThan(a, Literal(v, dt)) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, "<=")
      case GreaterThan(Literal(v, dt), a) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, ">=")
      case GreaterThanOrEqual(a, Literal(v, dt)) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, "<")
      case GreaterThanOrEqual(Literal(v, dt), a) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, ">")
      case EqualTo(a, Literal(v, dt)) if attr(a).isDefined =>
        mayNotEqualAny(attr(a).get, Seq((v, dt)))
      case EqualTo(Literal(v, dt), a) if attr(a).isDefined =>
        mayNotEqualAny(attr(a).get, Seq((v, dt)))
      case In(a, vs) if attr(a).isDefined && vs.forall(_.isInstanceOf[Literal]) =>
        mayNotEqualAny(attr(a).get,
          vs.collect { case Literal(v, dt) => (v, dt) })
      case StartsWith(a, Literal(p, StringType)) if attr(a).isDefined && p != null =>
        // NOT(startswith): prune only when the WHOLE file provably sits
        // inside [prefix, incrementLast(prefix)) — lo >= p implies
        // min >= p (lo is a prefix of min), hi < upper implies max <
        // upper (hi >= max); an unbounded hi never proves containment
        val prefix = p.toString
        str.get(attr(a).get) match {
          case None => true
          case Some(y) =>
            !(strCmp(y.lo, prefix) >= 0 &&
              y.hi.exists(h => MergeSnapshotStore.incrementLast(prefix)
                .exists(u => strCmp(h, u) < 0)))
        }
      case _ => true
    }
    // Can a row be non-null AND outside `vs`? Prunable only when stats
    // PROVE the file's every non-null value is one of the probes: a
    // recorded value set contained in them, or bounds pinched onto a
    // single probed point.
    def mayNotEqualAny(c: String, vs: Seq[(Any, DataType)]): Boolean =
      dtOf(c) match {
        case None => true
        case Some(cdt) =>
          val bySet = set.get(c) match {
            case Some(st) if vs.forall { case (_, ldt) => canonCompatible(cdt, ldt) } =>
              val canon = vs.flatMap { case (v, ldt) => litCanonical(v, ldt) }.toSet
              !st.values.forall(canon.contains) // all recorded values probed: no row escapes
            case _ => true
          }
          val byBounds = (cdt, vs) match {
            case (StringType, Seq((v: org.apache.spark.unsafe.types.UTF8String,
                StringType))) =>
              // airtight despite truncation: lo == s pins min == s (a
              // longer min would truncate to >= 15 chars or sort above
              // its own prefix), and max <= hi == s == min pins max
              val s = v.toString
              str.get(c).forall(y =>
                !(y.lo == s && y.hi.contains(s)))
            case _ if vs.size == 1 && numCompatible(cdt, vs.head._2) &&
                !cdt.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
              // pinched bounds prove all-equal only where the double
              // image is injective: inside ±2^53 and never through
              // decimal rounding — outside that, two different values
              // (or value and probe) can share one image
              litDouble(vs.head._1) match {
                case Some(d) if math.abs(d) < 9007199254740992.0 =>
                  num.get(c).forall(st => !(st.mn == d && st.mx == d))
                case _ => true
              }
            case _ => true
          }
          bySet && byBounds
      }
    def may(x: Expression): Boolean = x match {
      case And(l, r) => may(l) && may(r)
      case Or(l, r) => may(l) || may(r)
      case Not(y) => mayNot(y)
      case IsNotNull(a) if attr(a).isDefined =>
        // an all-null file records the EMPTY value set — the one case
        // the manifest can prove IS NOT NULL never fires
        set.get(attr(a).get).forall(_.values.nonEmpty)
      case IsNull(_) => true // no null counts in the manifest: keep
      case Literal(null, _) => false // constant NULL predicate: never TRUE
      case Literal(b: Boolean, _) => b
      case EqualTo(a, Literal(v, dt)) if attr(a).isDefined =>
        mayEq(attr(a).get, v, dt)
      case EqualTo(Literal(v, dt), a) if attr(a).isDefined =>
        mayEq(attr(a).get, v, dt)
      case EqualNullSafe(a, Literal(v, dt))
        if attr(a).isDefined && v != null => mayEq(attr(a).get, v, dt)
      case EqualNullSafe(Literal(v, dt), a)
        if attr(a).isDefined && v != null => mayEq(attr(a).get, v, dt)
      case LessThan(a, Literal(v, dt)) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, "<")
      case LessThan(Literal(v, dt), a) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, ">")
      case LessThanOrEqual(a, Literal(v, dt)) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, "<=")
      case LessThanOrEqual(Literal(v, dt), a) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, ">=")
      case GreaterThan(a, Literal(v, dt)) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, ">")
      case GreaterThan(Literal(v, dt), a) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, "<")
      case GreaterThanOrEqual(a, Literal(v, dt)) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, ">=")
      case GreaterThanOrEqual(Literal(v, dt), a) if attr(a).isDefined =>
        mayCmp(attr(a).get, v, dt, "<=")
      case In(a, vs) if attr(a).isDefined && vs.forall(_.isInstanceOf[Literal]) =>
        vs.collect { case Literal(v, dt) => (v, dt) }
          .exists { case (v, dt) => mayEq(attr(a).get, v, dt) }
      case StartsWith(a, Literal(p, StringType)) if attr(a).isDefined && p != null =>
        val prefix = p.toString
        str.get(attr(a).get) match {
          case None => true
          case Some(y) =>
            y.hi.forall(h => strCmp(h, prefix) >= 0) &&
              MergeSnapshotStore.incrementLast(prefix)
                .forall(u => strCmp(y.lo, u) < 0)
        }
      case _ => true // IS NULL, col-to-col, functions… — conservative
    }
    may(e)
  }

  // ----------------------------------------------------------------- commits

  /** Full-snapshot commit (the reference's Delta overwrite, reference
   * src/apply_change_log_to_delta.py:218-245): every bucket is
   * rewritten. With `mergeSchema = true` the new snapshot's schema is
   * the union of the committed one and `df`'s (Delta's `mergeSchema` on
   * the domain outputs, reference src/apply_to_domains.py:213-228).
   * Used for bootstrap loads and schema-evolving domain writes; CDC
   * batches use [[mergeScoped]]. A lost commit race retries unchanged
   * (last overwrite wins). */
  def overwrite(db: String, table: String, df: DataFrame,
                mergeSchema: Boolean = false): Unit = {
    val meta = catalog(db, table)
    val vs = manifestVersions(meta.location)
    val out =
      if (mergeSchema && vs.nonEmpty)
        MergeSnapshotStore.alignToUnion(readManifest(meta.location, vs.last).schema, df)
      else df
    overwriteWith(meta, vs.lastOption.getOrElse(-1), out)
  }

  /** The overwrite commit body over version `base` (-1 before the first
   * commit), with an optional cluster layout for [[compactClustered]]
   * (resolved dims, bits, files per bucket). A `pinned` rewrite (compact, compactClustered,
   * rebucket) rewrote the snapshot at `base` and refuses a lost
   * race: republishing would silently CLOBBER the racing commit's rows
   * under a new version number. A plain overwrite retries unchanged
   * (last writer wins). */
  private def overwriteWith(meta: TableMeta, base: Int, out: DataFrame,
      cluster: Option[(Seq[(String, (Double, Double))], Int, Int)] = None,
      pinned: Boolean = false,
      op: String = "overwrite",
      enforceChecks: Boolean = true): Unit = jobLabel(
      s"store: $op ${meta.qualified}") {
    val (written, stats, strStats, setStats, fileRows) =
      writeData(meta, base + 1, out, meta.primaryKey,
        cluster, enforceChecks)
    // a whole-table rewrite re-materializes every file under the
    // CURRENT logical names — the column mapping RESETS (defensive
    // strip: a frame derived from a renamed table's read must not
    // smuggle the old mapping over logically-named fresh files)
    val m = Manifest(
      MergeSnapshotStore.plainLogical(dropBucketCol(out.schema)),
      written, nBucketsOf(meta),
      stats, strStats, setStats, rows = fileRows)
    // the new manifest depends on no base: it stands in for one
    publish(meta, base, m, op, written.values)((_, _) => m) { (now, winner) =>
      if (pinned) refuseLoss(meta, s"a compaction rewrote version " +
        s"$base: the rewrite is stale and must never clobber a " +
        "concurrent commit")(now, winner)
    }
  }

  /** Test-only failpoint: runs once after a merge's data is written,
   * before its first publish attempt — the window a concurrent writer's
   * commit exercises the CAS rebase/refuse logic through. Consumed
   * atomically (getAndSet): registry commits fan independent table
   * writes out across threads, and a racy read-then-reset could run one
   * armed hook twice or lose it. */
  private val beforePublishRef =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())
  private[graft] def beforePublish: () => Unit = beforePublishRef.get()
  private[graft] def beforePublish_=(f: () => Unit): Unit =
    beforePublishRef.set(f)
  /** Atomically take the armed hook (replacing it with a no-op) and run
   * it — the one way the commit funnel consumes the failpoint. */
  private def runBeforePublish(): Unit =
    beforePublishRef.getAndSet(() => ())()

  /** The one commit funnel: every manifest publish goes through here —
   * Delta's commit protocol of data first, then a compare-and-swap of
   * version base + 1. `readVer` is the version `read` was read at (-1
   * before the first commit). The armed [[beforePublish]] failpoint
   * runs once; then each attempt lists the versions and `build(baseVer,
   * base)`, stamped with `op` and the wall clock, publishes at
   * `baseVer + 1`. The CAS arbitrates every race but one: once vacuum
   * has expired the base's successor (the base is more than
   * `keepVersions` behind the head), a create-if-absent would re-create
   * it below the head, so a listing that shows a later head without
   * that successor is a loss without a CAS. On success `published`
   * sees the new version first (a borrowing commit's post-publish
   * source check, which may unwind it and throw), then the versions up
   * to the base are vacuumed and stray tombstones cleared on the
   * commit's `fresh` directories. On a loss the winner's version and
   * manifest go to `onLoss`, the caller's policy: throw to refuse, or
   * return to publish again over the winner (a `build` that reads its
   * base rebases onto it, one that ignores it retries unchanged), up
   * to a fixed number of attempts. Returns the published version. */
  private def publish(meta: TableMeta, readVer: Int, read: Manifest,
                      op: String, fresh: Iterable[String],
                      published: Int => Unit = _ => ())
                     (build: (Int, Manifest) => Manifest)
                     (onLoss: (Int, Manifest) => Unit): Int = {
    runBeforePublish()
    var baseVer = readVer
    var base = read
    var attempt = 0
    while (true) {
      val listed = manifestVersions(meta.location)
      val expired = listed.lastOption.exists(_ > baseVer) &&
        !listed.contains(baseVer + 1)
      if (!expired && publishManifest(meta.location, baseVer + 1,
          build(baseVer, base).copy(op = op, at = System.currentTimeMillis()))) {
        published(baseVer + 1)
        jobPhase("vacuum") {
          vacuum(meta, listed.filter(_ <= baseVer))
          clearTombstones(meta, fresh)
        }
        return baseVer + 1
      }
      attempt += 1
      val latest = manifestVersions(meta.location).last
      base = readManifest(meta.location, latest)
      baseVer = latest
      jobPhase("publish")(onLoss(latest, base))
      if (attempt >= MergeSnapshotStore.MaxCommitAttempts)
        throw new java.util.ConcurrentModificationException(
          s"could not commit $op to ${meta.qualified} after $attempt " +
            "attempts — writers keep taking every version; retry or " +
            "serialize the writers")
    }
    sys.error("unreachable: the loop returns or throws")
  }

  /** The head version and manifest a mutator starts from;
   * refuses, naming what it is `doing`, when nothing is committed. */
  private def headOf(meta: TableMeta, doing: String): (Int, Manifest) = {
    val vs = manifestVersions(meta.location)
    require(vs.nonEmpty,
      s"bootstrap ${meta.qualified} with overwrite() before $doing")
    (vs.last, readManifest(meta.location, vs.last))
  }

  /** The bucket function is pinned by the table's committed layout: a
   * store opened with a different nBuckets would compute bucket ids
   * against the wrong modulus and merge rows past their existing
   * versions (duplicate PKs, deletes that miss). Fail fast instead. */
  private def requireBucketCount(meta: TableMeta, m: Manifest): Unit =
    require(m.nBuckets == nBucketsOf(meta),
      s"${meta.qualified} is committed with nBuckets=${m.nBuckets}; " +
        s"this table resolves to nBuckets=${nBucketsOf(meta)} — open the " +
        "store/table with the committed bucket count (or overwrite() to " +
        "re-bucket)")

  /** The rebase adjudication [[commitScoped]] and [[publishMorSidecar]]
   * share, against the manifest `current` the commit READ at `readVer`:
   * a winner that re-bucketed the table, changed its schema shape or
   * rewrote one of the `guarded` buckets invalidated this commit's
   * inputs, so it refuses and the caller re-runs against the new
   * snapshot. The schema compares structurally (catalogString ignores
   * nullability and metadata): a winner that relaxed a column to
   * nullable is safe to rebase over, since nullability is OR-merged at
   * publish; one that added, dropped or retyped a column is not. */
  private def requireRebasable(meta: TableMeta, what: String, readVer: Int,
                               current: Manifest, guarded: Iterable[Int])
                              (latest: Int, winner: Manifest): Unit = {
    require(winner.nBuckets == nBucketsOf(meta),
      s"${meta.qualified} was concurrently re-bucketed to " +
        s"nBuckets=${winner.nBuckets}; rerun against the new layout")
    if (winner.schema.catalogString != current.schema.catalogString)
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit to ${meta.qualified} changed the schema " +
          s"while this $what (base version $readVer) was in flight — " +
          "rerun against the new snapshot")
    val moved = guarded.filter(b =>
      winner.buckets.get(b) != current.buckets.get(b) ||
        winner.carries.get(b) != current.carries.get(b))
    if (moved.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit to ${meta.qualified} rewrote buckets " +
          s"${moved.toSeq.sorted.mkString(",")} this $what depends on " +
          s"(base version $readVer, now $latest) — rerun against the " +
          "new snapshot")
  }

  /** The refuse-on-loss policy: another writer moved the table while
   * `what` happened, and this commit may not rebase over it (a
   * metadata-only commit republishes the schema it judged; a
   * base-pinned rewrite would clobber the winner's rows). */
  private def refuseLoss(meta: TableMeta, what: String)
                        (now: Int, winner: Manifest): Unit =
    throw new java.util.ConcurrentModificationException(
      s"${meta.qualified} moved to version $now while $what — re-run " +
        "against the new snapshot")

  /**
   * Partition-scoped merge commit. `changedKeys` (any frame exposing the
   * PK column) determines the touched buckets; `rewrite` receives exactly
   * those buckets' current rows and returns their full replacement
   * contents (kept rows + upserts; dropped rows delete). Untouched buckets'
   * files are carried into the new version by reference — never re-read,
   * never rewritten. Returns the touched bucket ids.
   *
   * Jobs: a `changedKeys` frame whose optimized plan is a local relation
   * is hashed to its buckets on the driver (no job); any other frame
   * costs one scan job without a shuffle. Then the write (see
   * [[writeData]]: one shuffle to min(nBuckets, cores) tasks, one file
   * per touched bucket) and whatever jobs `rewrite` runs. Each job is
   * labelled `store: merge <db.table> <phase>`, the phase one of scan,
   * decide (inside `rewrite`), write, stats, publish and vacuum.
   *
   * A lost commit race rebases after adjudication (see the class doc):
   * a winner that moved a touched bucket, the schema or the delete set
   * refuses with [[java.util.ConcurrentModificationException]] and the
   * caller re-runs `rewrite` against the new snapshot. Until the
   * manifest CAS lands, the written data is invisible orphan files.
   */
  def mergeScoped(db: String, table: String, changedKeys: DataFrame)
                 (rewrite: DataFrame => DataFrame): Seq[Int] = jobLabel(
      s"store: merge $db.$table") {
    val meta = catalog(db, table)
    if (!meta.hasPrimaryKey) throw new IllegalStateException(
      s"mergeScoped needs a registered PK for ${meta.qualified}")
    val pks = meta.primaryKey
    val (readVer, current) = headOf(meta, "merging")
    requireBucketCount(meta, current)
    // loop control; <= nBuckets values. A key frame already on the
    // driver (a local relation, which the bucket projection folds into)
    // is hashed there with no job; any other frame pays one scan that
    // reduces each task's bucket ids to a set, with no shuffle
    val ids = changedKeys.select(bucketOf(meta, pks.map(col)).as("__b"))
    val touched = (ids.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        ids.collect().map(_.getInt(0))
      case _ => jobPhase("scan") {
        ids.as[Int](org.apache.spark.sql.Encoders.scalaInt)
          .mapPartitions((it: Iterator[Int]) => it.toSet.iterator)(
            org.apache.spark.sql.Encoders.scalaInt).collect()
      }
    }).distinct.toSeq.sorted
    if (touched.isEmpty) return Nil
    commitScoped(meta, readVer, current, touched, pks)(rewrite)
    touched
  }

  /**
   * INSERT of NEW rows — SQL `INSERT INTO` semantics on a keyed store:
   * the batch's keys must not exist (in the table OR twice in the
   * batch — the key-uniqueness invariant every CDC funnel maintains;
   * an upsert is `MERGE INTO`, and the refusal names it), then the
   * rows land through the scoped-commit funnel: only the new keys'
   * hash buckets rewrite, everything else carries by reference, CAS
   * adjudication unchanged — so a concurrent insert of the same key
   * refuses at the bucket CAS and the re-run re-checks. Rows align to
   * the committed schema BY NAME: a missing nullable column fills
   * NULL, a missing non-nullable or an extra column refuses.
   * PK-less tables refuse (their append story is the multiset feed or
   * an overwrite of the union). Returns the inserted row count.
   *
   * Cost at scale: the existence check is the bucket-pruned point
   * lookup (batch-sized), the commit rewrites only the touched
   * buckets — an N-row insert into a 100 TB table prices by N, never
   * by the table.
   */
  def insertInto(db: String, table: String, rows: DataFrame): Long = jobLabel(
      s"store: insert $db.$table") {
    val meta = catalog(db, table)
    require(meta.hasPrimaryKey,
      s"INSERT INTO needs a registered PK for ${meta.qualified} — " +
        "PK-less tables append through overwrite() of the union (or " +
        "arrive as a multiset feed)")
    val pks = meta.primaryKey
    val aligned = alignToCommittedSchema(db, table, rows, "INSERT INTO")
    // pin the batch ONCE: the dup-key check, the clash lookup, the
    // touched-bucket scan and the scoped rewrite must all see the SAME
    // rows — a non-deterministic source (LIMIT, TABLESAMPLE, rand())
    // re-evaluated per consumer could commit rows that were never
    // checked (duplicate PKs, rows outside the touched-bucket scope).
    // One materializing job; every check and the commit read the pinned
    // blocks (also ~3 fewer source re-evaluations per insert). Released
    // after the commit lands — the batch is batch-sized by contract.
    val pinned = graft.operators.Materialize.eager(aligned)
    try {
      val keys = pinned.select(pks.map(col): _*)
      // one validation job: total and distinct-key counts together
      // (struct() preserves the row-distinct semantics of
      // keys.distinct().count() — a null PK field still counts)
      val cntRow = pinned.agg(
        org.apache.spark.sql.functions.count(lit(1L)),
        countDistinct(struct(pks.map(col): _*))).head()
      val n = cntRow.getLong(0)
      require(cntRow.getLong(1) == n,
        s"INSERT INTO ${meta.qualified}: the batch repeats key values — " +
          "keys are unique by the table's contract; fold duplicates " +
          "first (or MERGE INTO for upserts)")
      if (n == 0L) return 0L
      val clash = pointLookup(db, table, keys).count()
      require(clash == 0L,
        s"INSERT INTO ${meta.qualified}: $clash key(s) already exist — " +
          "use MERGE INTO … WHEN MATCHED THEN UPDATE for upserts, or " +
          "DELETE first")
      mergeScoped(db, table, keys) { old => old.unionByName(pinned) }
      n
    } finally graft.operators.Materialize.release(pinned)
  }

  /** Align a batch to the COMMITTED schema by name — the INSERT
   * aligner [[insertInto]] and the statement surface's INSERT
   * OVERWRITE share (SQL semantics both ways): a present column casts
   * to the committed type, a missing NULLABLE column fills NULL, a
   * missing non-nullable or an unknown column refuses loudly. Without
   * this, an INSERT OVERWRITE routed straight into [[overwrite]]
   * (which publishes the FRAME's schema, mergeSchema=false) would
   * silently SHRINK the table to the statement's column list and
   * silently retype drifted columns. */
  private[graft] def alignToCommittedSchema(db: String, table: String,
      rows: DataFrame, op: String): DataFrame = {
    val meta = catalog(db, table)
    require(manifestVersions(meta.location).nonEmpty,
      s"bootstrap ${meta.qualified} with overwrite() before $op")
    val schema = committedSchema(db, table)
    val have = rows.columns.map(_.toLowerCase).toSet
    val known = schema.fieldNames.map(_.toLowerCase).toSet
    val extra = have -- known
    require(extra.isEmpty,
      s"$op ${meta.qualified} carries unknown column(s) " +
        s"${extra.toSeq.sorted.mkString(", ")} — evolve the schema " +
        "first (ADD COLUMN / overwrite(mergeSchema))")
    rows.select(schema.fields.toSeq.map { f =>
      if (have.contains(f.name.toLowerCase))
        col(f.name).cast(f.dataType).as(f.name)
      else {
        require(f.nullable,
          s"$op ${meta.qualified} omits non-nullable column ${f.name}")
        lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** The scoped-commit core [[mergeScoped]] and [[deleteWhere]] share:
   * read exactly the `touched` buckets of the manifest committed at
   * `readVer`, replace their contents with `rewrite`'s output, carry
   * every other bucket's files (and their stats) by reference, and
   * publish optimistically with the bucket-granular rebase/refuse
   * adjudication documented on [[mergeScoped]]. */
  private def commitScoped(meta: TableMeta, readVer: Int, current: Manifest,
                           touched: Seq[Int], pks: Seq[String],
                           rebaseGuard: Manifest => Unit = _ => (),
                           cluster: Option[(Seq[(String, (Double, Double))], Int, Int)] = None,
                           dropDeletes: Set[String] = Set.empty,
                           op: String = "merge",
                           enforceChecks: Boolean = true)
                          (rewrite: DataFrame => DataFrame): Unit = {
    val old = skippingFrame(meta, current,
      listDataFileStatuses(meta, current, Some(touched.toSet)))._1
    // a rewrite may run jobs of its own while it builds the replacement
    // (the inline CDC merge reads its stale-event guard here)
    val out = jobPhase("decide")(rewrite(old))
    // scoped-merge schema EVOLUTION contract (spec-pinned): a rewrite
    // may ADD columns — an evolving CDC feed's natural shape; the
    // widened schema lands in the manifest, carried old-schema files
    // read under it with NULLs for the missing column (the scan reads
    // under the manifest schema), and their stats simply lack
    // the new column (every pruning family keeps a file it has no
    // bounds for). Added columns must be NULLABLE: the carried rows
    // WILL surface NULL there, so a non-nullable add would publish a
    // schema the data immediately violates. DROPPING or RETYPING a
    // column refuses loudly — untouched buckets carry by reference
    // and their files cannot re-shape; evolve those with a full
    // overwrite(mergeSchema) instead.
    locally {
      val outSchema = dropBucketCol(out.schema)
      val cur = current.schema.fields.map(f => f.name.toLowerCase -> f).toMap
      val nxt = outSchema.fields.map(f => f.name.toLowerCase -> f).toMap
      val dropped = cur.keySet -- nxt.keySet
      require(dropped.isEmpty,
        s"scoped merge to ${meta.qualified} DROPS column(s) " +
          s"${dropped.toSeq.sorted.mkString(", ")} — untouched buckets " +
          "carry their files by reference and cannot re-shape; use " +
          "renameColumn() for a rename, overwrite() to restructure " +
          "the table")
      cur.foreach { case (n, f) =>
        require(nxt(n).dataType.catalogString == f.dataType.catalogString,
          s"scoped merge to ${meta.qualified} RETYPES column ${f.name} " +
            s"(${f.dataType.simpleString} -> ${nxt(n).dataType.simpleString})" +
            " — carried files hold the old type; use overwrite() to " +
            "restructure the table")
      }
      (nxt.keySet -- cur.keySet).foreach { n =>
        require(nxt(n).nullable,
          s"scoped merge to ${meta.qualified} adds NON-NULLABLE column " +
            s"${nxt(n).name} — rows carried from pre-evolution files " +
            "surface NULL there; add the column as nullable")
      }
    }
    // the published schema carries the table's column mapping forward:
    // kept fields keep their physical spelling, evolution-added fields
    // write under their own name (attachPhysical refuses a name that
    // shadows a carried physical column)
    val pubSchema = MergeSnapshotStore.attachPhysical(current.schema,
      current.retired.toSet, dropBucketCol(out.schema))
    val (written, newStats, newStrStats, newSetStats, newRows) =
      writeData(meta, readVer + 1, out, pks, cluster, enforceChecks,
        pubSchema, touched)
    val stray = written.keySet.diff(touched.toSet)
    require(stray.isEmpty,
      s"merge rewrote buckets $stray outside the changed-key set $touched — " +
        "rewrite() must not introduce rows for untouched keys")
    // new manifest = base entries minus touched (covers emptied buckets),
    // plus whatever the rewrite actually produced; carried-forward
    // buckets KEEP their stats (their files are carried by reference,
    // so the stats that measured them stay exact), touched buckets get
    // the freshly-measured ones. On a rebase the base advances to the
    // winner's manifest — its untouched-bucket work is carried instead.
    publish(meta, readVer, current, op, written.values) { (baseVer, base) =>
      val carried = (base.buckets -- touched)
      val carriedDirs = carried.values.toSet
      // untouched buckets' CARRY lines ride along too (their files were
      // neither read nor rewritten); a touched bucket's carries were
      // part of its load and fold into the rewrite output, so they drop
      val carriedCarries = base.carries -- touched
      val carriedFiles = carriedCarries.values.flatten.toSet
      def keeps(fp: String) =
        carriedDirs.exists(d => fp.startsWith(s"$d/")) || carriedFiles(fp)
      val carriedStats = base.stats.filter { case (fp, _) => keeps(fp) }
      val carriedStrStats = base.strStats.filter { case (fp, _) => keeps(fp) }
      val carriedSetStats = base.setStats.filter { case (fp, _) => keeps(fp) }
      // on a rebase the manifest mixes OUR files (out's schema) with the
      // winner's carried files (their schema — structurally identical,
      // adjudicated below, but either side may have relaxed nullability)
      // — OR the nullability so neither side's nulls become unreadable
      val schema =
        if (baseVer == readVer) pubSchema
        else MergeSnapshotStore.mergeNullability(pubSchema, base.schema)
      // delete sidecars carry forward for the carried buckets (their
      // files predate the sidecars, so the read-time anti-join still
      // applies); the REWRITTEN buckets' new files carry commit numbers
      // >= every sidecar's version and are exempt — the rewrite read
      // the logical view, so its output already excludes deleted rows.
      // A sidecar no other bucket predates any more is DEAD and drops
      // here (partial rewrites eventually clear what compaction clears
      // wholesale); an unparseable dir name keeps its sidecars live.
      val newBuckets = carried ++ written
      // `dropDeletes` names sidecars the CALLER proved this rewrite
      // folds (a debt fold rewrote every bucket/file the sidecar
      // masks) — they drop regardless of the commit-number rule, which
      // cannot see key membership and would keep them as long as ANY
      // older dir survives. Sound under rebase: a winner that changed
      // the delete set refuses below before this set is ever republished.
      val liveDeletes = base.deletes
        .filterNot(d => dropDeletes.contains(d.rel))
        .filter(d =>
          (newBuckets.values ++ carriedCarries.values.flatten).exists(p =>
            commitNumberOf(p).forall(_ < d.version)))
      Manifest(schema, newBuckets, nBucketsOf(meta),
        carriedStats ++ newStats, carriedStrStats ++ newStrStats,
        carriedSetStats ++ newSetStats, liveDeletes, carriedCarries,
        rows = base.rows.filter { case (fp, _) => keeps(fp) } ++ newRows,
        retired = base.retired)
    } { (latest, winner) =>
      // lost the CAS: adjudicate at bucket granularity against the
      // manifest we actually READ the rewritten rows from
      requireRebasable(meta, "merge", readVer, current, touched)(latest, winner)
      // a winner that changed the delete-sidecar set refuses: this
      // rewrite read its buckets WITHOUT the winner's sidecar (its
      // output may physically re-materialize rows the winner deleted
      // — and new files would be exempt from the sidecar by the
      // sequence rule), and a winner that CLEARED sidecars folded
      // rows this rewrite still excludes
      if (winner.deletes != current.deletes)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit to ${meta.qualified} changed the " +
            s"merge-on-read delete set while this merge (base version " +
            s"$readVer) was in flight — rerun against the new snapshot")
      rebaseGuard(winner)
    }
  }

  /**
   * Predicate-scoped row-level DELETE — the takedown / right-to-be-
   * forgotten / bad-source-purge path: remove every row where
   * `predicate` is TRUE (SQL DELETE semantics — rows where it is NULL
   * stay) as one copy-on-write commit. Two phases, both bounded by the
   * predicate's footprint, the Delta DeleteCommand shape:
   *
   *  1. FIND — a [[fileMayMatch]]-pruned scan of the candidate files
   *     only (manifest stats decide; a selective predicate on a
   *     clustered or value-set-tracked column touches a handful of
   *     files out of 10^4), aggregated per file to the matched-file
   *     list + deleted-row count (manifest-sized collect).
   *  2. REWRITE — only the buckets owning a matched file re-read and
   *     rewrite (keeping `NOT coalesce(predicate, false)`); every other
   *     bucket carries by reference through [[commitScoped]], with the
   *     same optimistic rebase/refuse adjudication as a CDC merge.
   *
   * A delete matching nothing commits nothing (no version bump, no
   * write). The deleted rows remain visible to pinned readers of prior
   * versions until the vacuum horizon passes — physical erasure
   * completes when the retention window does, the Delta/Iceberg
   * `DELETE then VACUUM` compliance story. [[Catalog.changesBetween]]
   * over the commit yields the pure-D changelog, so maintained
   * aggregates fold the delete like any other change.
   *
   * The predicate must be deterministic: the find scan and the rewrite
   * evaluate it independently, and a nondeterministic predicate could
   * delete rows the count never saw. Rewritten buckets land in plain
   * PK-bucket form — a clustered layout smears exactly as under a CDC
   * merge; [[maintenanceAdvisor]] says when to re-cluster. Works on
   * PK-less tables too (everything lives in bucket 0, so any match
   * rewrites the table; the find phase still prunes, and a no-match
   * delete is still free).
   *
   * Returns the number of rows deleted.
   *
   * `mode` picks the physical realization
   * ([[MergeSnapshotStore.DeleteMode]]): CopyOnWrite is the rewrite
   * described above; MergeOnRead writes an equality-delete SIDECAR (the
   * matched rows' PK tuples, Iceberg v2's equality-delete shape) and
   * leaves every data file untouched — a 1-row takedown then writes
   * O(1) data instead of rewriting its whole bucket, the difference
   * between GDPR-rate deletes being free and being a rolling compaction
   * at 100 TB. Readers ([[applyDeletes]] in the one scan builder, so
   * every read) anti-join the sidecar; the
   * sequence rule (sidecars apply only to files COMMITTED BEFORE them)
   * keeps later re-inserts of a deleted key alive; [[compact]] /
   * [[compactClustered]] fold sidecars into a clean rewrite and clear
   * them (bucket-scoped rewrites clear the ones they make dead). Both
   * modes produce identical logical snapshots and identical
   * [[Catalog.changesBetween]] pure-D changelogs.
   */
  def deleteWhere(db: String, table: String, predicate: Column,
                  mode: MergeSnapshotStore.DeleteMode =
                    MergeSnapshotStore.CopyOnWrite): Long = jobLabel(
      s"store: delete $db.$table") {
    val meta = catalog(db, table)
    val (readVer, current) = headOf(meta, "deleting")
    val e = resolvePredicate(current, predicate)
    require(e.deterministic,
      s"deleteWhere on ${meta.qualified} needs a deterministic predicate " +
        "— the find scan and the bucket rewrite evaluate it independently")
    requireBucketCount(meta, current)
    mode match {
      case MergeSnapshotStore.CopyOnWrite =>
        matchedBuckets(meta, current, e, predicate) match {
          case None => 0L
          case Some((touched, matched)) =>
            commitScoped(meta, readVer, current, touched, meta.primaryKey,
                dmlRebaseGuard(meta, current, e, "delete"),
                op = "delete") { old =>
              old.filter(org.apache.spark.sql.functions.not(
                org.apache.spark.sql.functions.coalesce(predicate, lit(false))))
            }
            matched
        }
      case MergeSnapshotStore.MergeOnRead =>
        deleteWhereMor(meta, readVer, current, e, predicate)
    }
  }

  /** The merge-on-read delete body: find matched keys through the
   * stats-pruned candidate files (the same FIND as copy-on-write, over
   * the LOGICAL view — rows an earlier sidecar already deleted never
   * re-match), write them as one sidecar directory, and publish a
   * manifest that is the current one plus the sidecar line — no bucket
   * moves, no data rewrites. CAS losses rebase only when the winner
   * neither touched a key-owning bucket (its rewrite carries rows this
   * delete matched — by-key masking could erase a row the winner just
   * updated out of the predicate) nor wrote files that may match the
   * predicate (the concurrent-insert hazard the copy-on-write guard
   * refuses too); the winner's sidecar set may grow — concurrent MoR
   * deletes compose, their anti-joins are order-independent. */
  private def deleteWhereMor(meta: TableMeta, readVer: Int,
                             current: Manifest,
                             e: org.apache.spark.sql.catalyst.expressions.Expression,
                             predicate: Column): Long =
    if (meta.hasPrimaryKey) deleteWhereMorEq(meta, readVer, current, e, predicate)
    else deleteWhereMorPos(meta, readVer, current, e, predicate)

  /** The equality-delete body (keyed tables): the sidecar lists matched
   * PK tuples; the sequence rule exempts later files. */
  private def deleteWhereMorEq(meta: TableMeta, readVer: Int,
                               current: Manifest,
                               e: org.apache.spark.sql.catalyst.expressions.Expression,
                               predicate: Column): Long = {
    val pks = meta.primaryKey
    val cand = walkedFiles(meta, current, e)
    if (cand.isEmpty) return 0L
    // the sidecar spells the key's ON-DISK (physical) name, the one
    // spelling every era's read binds — identical to the logical name
    // unless the PK was renamed (PkPhysicalProp)
    val pkDisk = pks.map(k => MergeSnapshotStore.pkPhysicalOf(meta, k))
    val keys = skippingFrame(meta, current, cand)._1.filter(predicate)
      .select(pks.map(col): _*)
      .toDF(pkDisk: _*)
    publishMorSidecar(meta, readVer, current, e, keys,
        MergeSnapshotStore.EqDeleteKind, "merge-on-read delete") { written =>
      written.select(bucketOf(meta, pkDisk.map(col)).as("__b"))
        .distinct().collect().map(_.getInt(0)).toSet // <= nBuckets values
    }
  }

  /** The position-delete body (PK-less tables — raw crawl shards, log
   * dumps): with no row identity to list, the sidecar records each
   * matched row's PHYSICAL address — its data file's table-relative
   * path and its ordinal within that file, captured from the parquet
   * reader's metadata columns. Addresses bind to file identity, so no
   * sequence rule is needed: a later re-insert lands in a NEW file and
   * is exempt by construction, and a rewrite of a referenced file makes
   * the sidecar line dead the same way the eq kind's does. The find
   * scan runs over the LOGICAL view (earlier sidecars of either kind
   * mask already-deleted rows, so they never re-match) with the
   * addresses captured at the scan stage. Rebase adjudication guards
   * the REFERENCED buckets: a racing rewrite of a bucket whose files
   * this delete addressed would orphan those addresses (the file dies,
   * the delete silently un-happens), so it refuses like the eq path's
   * key-owning buckets. */
  private def deleteWhereMorPos(meta: TableMeta, readVer: Int,
                                current: Manifest,
                                e: org.apache.spark.sql.catalyst.expressions.Expression,
                                predicate: Column): Long = {
    val cand = walkedFiles(meta, current, e)
    if (cand.isEmpty) return 0L
    val addrs = skippingFrame(meta, current, cand, withAddress = true)._1
      .filter(predicate)
      .select(col(MergeSnapshotStore.PosFileCol).as("__file"),
        col(MergeSnapshotStore.PosPosCol).as("__pos"))
    publishMorSidecar(meta, readVer, current, e, addrs,
        MergeSnapshotStore.PosDeleteKind,
        "merge-on-read position delete") { written =>
      // a row whose file path failed to relativize would be silently
      // unmaskable at read time — refuse before publishing
      require(written.filter(col("__file") === "").isEmpty,
        s"position delete on ${meta.qualified} matched rows in a data " +
          "file outside the store's data/cNNNNNN naming — refusing to " +
          "publish an unmaskable address")
      bucketsOfAddresses(meta, current, cand, written.select("__file")
        .distinct().collect().map(_.getString(0))) // <= candidate file count
    }
  }

  /** The sidecar writer and commit both MoR delete kinds share: one
   * job lands `rows` (the matched keys or addresses) as a sidecar
   * directory (tmp + rename, the data-commit discipline), which is
   * read back and counted — an empty match deletes it and commits
   * nothing. The commit appends one sidecar line to the current
   * manifest, rebasing on losses only when the winner neither rewrote
   * a `guarded` bucket of the written sidecar (key-owning for eq,
   * address-referenced for pos) nor wrote files that may match the
   * predicate (the [[dmlRebaseGuard]] concurrent-insert hazard).
   * Returns the matched row count. */
  private def publishMorSidecar(meta: TableMeta, readVer: Int,
                                current: Manifest,
                                e: org.apache.spark.sql.catalyst.expressions.Expression,
                                rows: DataFrame, kind: String, what: String)
                               (guarded: DataFrame => Set[Int]): Long = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val rel = f"data/d${readVer + 1}%06d-$nonce/k"
    val tmp = new Path(f"${meta.location}/data/.tmp-d${readVer + 1}%06d-$nonce")
    val fin = new Path(f"${meta.location}/data/d${readVer + 1}%06d-$nonce")
    val f = fs(fin)
    rows.coalesce(1) // delete-sized by contract
      .write.mode("errorifexists").parquet(s"$tmp/k")
    if (!f.rename(tmp, fin))
      throw new IllegalStateException(s"delete sidecar rename failed: $tmp -> $fin")
    val written = spark.read.parquet(refPath(meta.location, rel))
    val matched = written.count()
    if (matched == 0L) { f.delete(fin, true); return 0L }
    val guardBuckets = guarded(written)
    // the fresh sidecar dir is the commit's only new directory: a
    // racing vacuum may have tombstoned it between rename and publish
    publish(meta, readVer, current, "delete-mor", Seq(rel)) { (baseVer, base) =>
      base.copy(deletes =
        base.deletes :+ DeleteFile(rel, baseVer + 1, matched, kind))
    } { (latest, winner) =>
      requireRebasable(meta, what, readVer, current, guardBuckets)(latest, winner)
      dmlRebaseGuard(meta, current, e, what)(winner)
    }
    matched
  }

  /** The DML rebase guard (Delta's ConcurrentAppendException contract):
   * a CAS loss may rebase over a winner ONLY if none of the files the
   * winner added or rewrote can match this DML's predicate — a
   * concurrent insert of matching rows would otherwise survive a
   * "successful" delete (or dodge an update) because the find phase
   * never scanned it. Judged from the winner's OWN manifest stats;
   * a stats-less file refuses conservatively. */
  private def dmlRebaseGuard(meta: TableMeta, current: Manifest,
                             e: org.apache.spark.sql.catalyst.expressions.Expression,
                             op: String): Manifest => Unit = { winner =>
    val changed = (winner.buckets.collect {
      case (b, dir) if !current.buckets.get(b).contains(dir) => b
    } ++ winner.carries.collect {
      case (b, rels) if !current.carries.get(b).contains(rels) => b
    }).toSet
    if (changed.nonEmpty) {
      val hit = listDataFiles(meta, winner, Some(changed))
        .find(fileMayMatch(e, meta, winner))
      hit.foreach { rel =>
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit to ${meta.qualified} wrote file $rel that " +
            s"may match this ${op}'s predicate — the $op never scanned " +
            "it; rerun against the new snapshot")
      }
    }
  }

  /** The DML find phase [[deleteWhere]] and [[updateWhere]] share: one
   * [[fileMayMatch]]-pruned scan of the candidate files, collapsed to a
   * manifest-sized per-file match count, mapped through the manifest's
   * bucket dirs to (touched bucket ids, matched row count). None when
   * nothing can match (no candidate files, or candidates held no TRUE
   * row) — the caller then commits nothing. */
  private def matchedBuckets(meta: TableMeta, current: Manifest,
                             e: org.apache.spark.sql.catalyst.expressions.Expression,
                             predicate: Column): Option[(Seq[Int], Long)] = {
    val cand = walkedFiles(meta, current, e)
    if (cand.isEmpty) return None
    // each physical file's LOGICAL matched rows (the address is
    // captured on the scan, before the MoR anti-join)
    val matches = skippingFrame(meta, current, cand, withAddress = true)._1
      .filter(predicate)
      .groupBy(col(MergeSnapshotStore.PosFileCol)).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    if (matches.isEmpty) return None
    Some((bucketsOfAddresses(meta, current, cand, matches.map(_._1))
      .toSeq.sorted, matches.map(_._2).sum))
  }

  /** The buckets of `m` owning the files a find scanned over `files`
   * addressed ([[rowAddress]]'s form), through [[Manifest.bucketOf]]
   * of each address's listed reference — a shallow clone lists its
   * borrowed files absolutely, while an address is always the
   * table-relative tail. */
  private def bucketsOfAddresses(meta: TableMeta, m: Manifest,
                                 files: Seq[(String, FileStatus)],
                                 addrs: Iterable[String]): Set[Int] = {
    val refOf = files.map { case (rel, _) => MergeSnapshotStore.addressOf(rel) -> rel }.toMap
    addrs.map(a => refOf.get(a).flatMap(m.bucketOf).getOrElse(
      throw new IllegalStateException(
        s"matched file $a is outside every bucket dir of ${meta.qualified}"))).toSet
  }

  /**
   * Predicate-scoped row-level UPDATE — [[deleteWhere]]'s copy-on-write
   * twin for in-place corrections (relabel a source, fix a mis-scored
   * quality tier, redact a column for a matched cohort): rows where
   * `predicate` is TRUE take the assignment expressions, every other
   * row — including NULL-predicate rows, per SQL UPDATE — passes
   * through byte-identical. Same two phases as the delete: a
   * stats-pruned FIND, then a REWRITE of only the buckets owning a
   * matched file through [[commitScoped]] (carry-by-reference, CAS
   * rebase/refuse, no-match commits nothing).
   *
   * Assignments cast to the column's EXISTING type: the untouched
   * buckets carry by reference, so a commit must never change the
   * table's schema out from under their files. Primary-key columns
   * refuse — a PK rewrite re-routes the row to a different hash
   * bucket, which is an identity change, not an update; express it as
   * a CDC delete+insert through [[mergeScoped]]. Both the predicate
   * and every assignment must be deterministic (find and rewrite
   * evaluate them independently). [[Catalog.changesBetween]] over the
   * commit yields the U changelog (rows updated to identical values
   * don't appear in it — the diff is value-based).
   *
   * Returns the number of rows the predicate matched.
   */
  def updateWhere(db: String, table: String, predicate: Column,
                  assignments: Map[String, Column]): Long = jobLabel(
      s"store: update $db.$table") {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val meta = catalog(db, table)
    val (readVer, current) = headOf(meta, "updating")
    requireBucketCount(meta, current)
    assignments.keys.foreach { c =>
      require(current.schema.fieldNames.contains(c),
        s"updateWhere assigns '$c' which ${meta.qualified} does not have " +
          s"(columns: ${current.schema.fieldNames.mkString(",")})")
      require(!meta.primaryKey.contains(c),
        s"updateWhere must not assign primary-key column '$c' — a PK " +
          "rewrite re-routes the row to another bucket (an identity " +
          "change); express it as a CDC delete+insert via mergeScoped")
    }
    val e = resolvePredicate(current, predicate)
    require(e.deterministic,
      s"updateWhere on ${meta.qualified} needs a deterministic predicate " +
        "— the find scan and the bucket rewrite evaluate it independently")
    assignments.foreach { case (c, v) =>
      require(resolveAgainst(current, v).deterministic,
        s"updateWhere assignment for '$c' must be deterministic — the " +
          "rewrite may re-evaluate under a CAS rebase")
    }
    matchedBuckets(meta, current, e, predicate) match {
      case None => 0L
      case Some((touched, matched)) =>
        val hit = org.apache.spark.sql.functions.coalesce(predicate, lit(false))
        commitScoped(meta, readVer, current, touched, meta.primaryKey,
            dmlRebaseGuard(meta, current, e, "update"),
            op = "update") { old =>
          // every assignment resolves against the PRE-update row (SQL
          // UPDATE semantics: SET a = b, b = a swaps), so the projection
          // builds all new values in one select over the old columns
          val cols = current.schema.fieldNames.toSeq.map { c =>
            assignments.get(c) match {
              case Some(v) =>
                when(hit, v.cast(current.schema(c).dataType))
                  .otherwise(col(c)).as(c)
              case None => col(c)
            }
          }
          old.select(cols: _*)
        }
        matched
    }
  }

  /** An arbitrary expression Column resolved by Spark's analyzer
   * against the snapshot schema — [[resolvePredicate]]'s projection
   * twin, used to validate assignment expressions. */
  private def resolveAgainst(m: Manifest, c: Column)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    empty.select(c).queryExecution.analyzed match {
      case p: Project => p.projectList.head
      case other => throw new IllegalStateException(
        s"expression did not analyze to a projection: ${other.nodeName}")
    }
  }

  /**
   * Layout-health report for `columns` of one snapshot — the signal
   * that says WHEN to run [[compactClustered]], read purely from the
   * manifest's per-file bounds (driver-side, manifest-scale; no data
   * I/O). The metric is the expected scan fraction of a point
   * predicate: for a point x uniform over the table's own [min, max]
   * span of a column, P(file f must be read) = width(f) / span, so the
   * expectation is the MEAN NORMALIZED FILE WIDTH. A freshly clustered
   * layout scores ~1/filesPerBucket; incremental merges smear it toward
   * 1.0 (every file spans everything — [[readRange]] prunes nothing).
   * A file without stats for a column counts full-width (it must always
   * be scanned) and is surfaced in `statless`. STRING columns measure
   * from their truncated bounds through the same monotone byte
   * projection cluster-on-compact slices string dimensions in.
   * `compactAdvised` fires when the fraction exceeds `adviseAbove` AND
   * the column carries measurable spread — a provably constant column
   * (zero span with every bound known) or a wholly statless table never
   * advises, because a rewrite provably cannot improve what the stats
   * cannot see. A zero span produced only by unbounded-above string
   * bounds (truncated prefixes that could not increment) is NOT proof
   * of constancy and advises like any other full-width smear.
   */
  def maintenanceAdvisor(db: String, table: String, columns: Seq[String],
                         adviseAbove: Double = 0.5,
                         version: Option[Int] = None)
      : Seq[MergeSnapshotStore.LayoutHealth] = {
    require(columns.nonEmpty, "advisor needs at least one column")
    require(adviseAbove > 0 && adviseAbove < 1,
      "adviseAbove is a strict scan fraction in (0, 1)")
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    val files = listDataFiles(meta, m, None)
    columns.map { c =>
      val bounds = fileBounds(m, files, c)
      val (span, unboundedAbove, fr) = scanFractions(bounds)
      val frac = if (files.isEmpty) 0.0 else fr.sum / files.size
      // a constant column (zero span, every bound known) still never
      // advises — a rewrite cannot improve a single point; but a
      // zero-span column with unbounded-above files is NOT provably
      // constant, so it advises like any other full-width smear
      MergeSnapshotStore.LayoutHealth(c, files.size,
        bounds.count(_.isEmpty), frac,
        frac > adviseAbove && files.size > 1 &&
          (span > 0.0 || unboundedAbove))
    }
  }

  /** Per file Some((lo, hiOpt)) bounds of `c` in the manifest's double
   * space; hiOpt None = unbounded above (a string bound whose prefix
   * could not increment), outer None = no stats. STRING columns measure
   * through the same monotone byte projection the cluster layout slices
   * in; truncation only WIDENS a file's measured range, so every health
   * verdict built on this errs toward advising — never toward hiding a
   * smear. The one bound measure [[maintenanceAdvisor]] and
   * [[bucketHealth]] share. */
  private def fileBounds(m: Manifest, files: Seq[String], c: String)
      : Seq[Option[(Double, Option[Double])]] = {
    val key = MergeSnapshotStore.statKeyOf(m.schema, c)
    files.map { f =>
      m.stats.get(f).flatMap(_.find(_.column == key))
        .map(s => (s.mn, Option(s.mx)))
        .orElse(m.strStats.get(f).flatMap(_.find(_.column == key))
          .map(y => (MergeSnapshotStore.strKeyToDouble(y.lo),
            y.hi.map(MergeSnapshotStore.strKeyToDouble))))
    }
  }

  /** (table-wide span, any-unbounded-above, per-file scan fraction):
   * the span top falls back to los.max when every upper bound is
   * unbounded — those files ARE measurable smear; a file is full-width
   * (1.0) when statless, unbounded above (measuring it as spanTop − lo
   * would let a file whose lo sits AT the top read as zero width), or
   * when the whole span is a point (nothing prunes). */
  private def scanFractions(bounds: Seq[Option[(Double, Option[Double])]])
      : (Double, Boolean, Seq[Double]) = {
    val known = bounds.flatten
    val los = known.map(_._1)
    val his = known.flatMap(_._2)
    val spanTop = if (known.isEmpty) 0.0 else (his ++ los).max
    val span = if (known.isEmpty) 0.0 else spanTop - los.min
    val unboundedAbove = known.exists(_._2.isEmpty)
    val fr = bounds.map {
      case Some((mn, Some(mx))) if span > 0.0 =>
        math.min(1.0, math.max(0.0, mx - mn) / span)
      case _ => 1.0
    }
    (span, unboundedAbove, fr)
  }

  /**
   * Per-BUCKET layout health — [[maintenanceAdvisor]] at the
   * granularity PARTIAL maintenance acts on: at 100 TB a whole-table
   * clustered rewrite is prohibitive, but smear is rarely uniform (the
   * buckets recent merges touched are smeared; the rest still carry
   * their last clustering), so the maintenance pass should rewrite the
   * smeared 3%, not the table. Fractions measure over the TABLE-wide
   * span (the space predicates prune in), aggregated per bucket; a
   * single full-width file in a bucket advises — splitting it into
   * filesPerBucket disjoint slices is exactly what the rewrite buys.
   * Driver-side manifest math like every advisor.
   */
  def bucketHealth(db: String, table: String, column: String,
                   adviseAbove: Double = 0.5,
                   version: Option[Int] = None)
      : Seq[MergeSnapshotStore.BucketHealth] = {
    require(adviseAbove > 0 && adviseAbove < 1,
      "adviseAbove is a strict scan fraction in (0, 1)")
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    val files = listDataFiles(meta, m, None)
    val bounds = fileBounds(m, files, column)
    val (span, unboundedAbove, fr) = scanFractions(bounds)
    val allBuckets = (m.buckets.keySet ++ m.carries.keySet).toSeq.sorted
    allBuckets.map { b =>
      val idx = files.zipWithIndex.collect {
        case (f, i) if m.bucketOf(f).contains(b) => i
      }
      val frac = if (idx.isEmpty) 0.0 else idx.map(fr).sum / idx.size
      MergeSnapshotStore.BucketHealth(b, idx.size,
        idx.count(i => bounds(i).isEmpty), frac,
        frac > adviseAbove && idx.nonEmpty &&
          (span > 0.0 || unboundedAbove))
    }
  }

  /**
   * PARTIAL clustered maintenance — rewrite ONLY the given buckets
   * (typically [[bucketHealth]]'s advised set) into filesPerBucket
   * disjoint z-slices each, carrying every other bucket's files and
   * stats by reference: the Iceberg `rewrite_data_files`-with-a-filter
   * story, and the difference between maintenance costing O(smeared
   * buckets) and O(table) at 100 TB. The commit is the scoped-merge
   * machinery itself (identity fold over the LOGICAL view, so
   * merge-on-read sidecars fold into the rewritten buckets and drop
   * when the rewrite makes them dead — reported), with the same CAS
   * discipline: losses rebase only when the winner touched none of
   * these buckets. Slice ranges infer from the SCOPED rows (their own
   * clip ranges — at least as tight as table-wide ones; pruning
   * correctness never depends on range choice, only file bounds).
   */
  def compactBucketsClustered(db: String, table: String,
                              dims: Seq[(String, Option[(Double, Double)])],
                              filesPerBucket: Int, buckets: Seq[Int],
                              bits: Int = 8): CompactionReport = {
    val meta = catalog(db, table)
    compactBucketsClusteredCore(meta, dims, filesPerBucket, buckets, bits,
      Set.empty)
  }

  /** [[compactBucketsClustered]]'s body, with the `dropDeletes` seam
   * [[maintainIfAdvised]] composes debt folding through — the caller
   * proves every named sidecar's masked rows live in `buckets`. */
  private def compactBucketsClusteredCore(meta: TableMeta,
      dims: Seq[(String, Option[(Double, Double)])],
      filesPerBucket: Int, buckets: Seq[Int], bits: Int,
      dropDeletes: Set[String]): CompactionReport = {
    require(filesPerBucket >= 1, "filesPerBucket must be >= 1")
    require(buckets.nonEmpty, "pass the buckets to rewrite " +
      "(bucketHealth(...).filter(_.compactAdvised) is the usual source)")
    require(meta.hasPrimaryKey,
      s"compactBucketsClustered keeps PK bucketing — ${meta.qualified} " +
        "has no PK")
    val (readVer, current) = headOf(meta, "compacting")
    requireBucketCount(meta, current)
    val missing = buckets.filterNot(b =>
      current.buckets.contains(b) || current.carries.contains(b))
    require(missing.isEmpty,
      s"buckets ${missing.sorted.mkString(",")} of ${meta.qualified} " +
        "hold no committed files")
    val before = current.deletes
    val scoped = skippingFrame(meta, current,
      listDataFileStatuses(meta, current, Some(buckets.toSet)))._1
    // a fully-masked selection has nothing to lay out: the identity
    // rewrite then just drops the empty buckets' files (and range
    // inference has no rows to see) — plain scoped commit
    val clusterOpt =
      if (scoped.isEmpty) None
      else {
        val shadow = scoped.select(dims.map { case (c, _) =>
          promoted(col(c), scoped.schema(c).dataType).as(c) }: _*)
        Some((Layout.resolveRanges(shadow, dims), bits, filesPerBucket))
      }
    commitScoped(meta, readVer, current, buckets, meta.primaryKey,
      cluster = clusterOpt,
      dropDeletes = dropDeletes,
      op = if (dropDeletes.nonEmpty) "debt-fold" else "compact-buckets",
      enforceChecks = false)(
      identity)
    compactionReport(meta, before)
  }

  /**
   * Per-FILE layout health — [[bucketHealth]]'s PK-less twin, at the
   * granularity PK-less partial maintenance acts on: a single logical
   * bucket makes bucket-scoped rewrites the whole table, but smear is
   * per-file (a debt fold's survivors, an unsorted arrival) and the
   * remedy is file-scoped ([[compactFilesClustered]]). Fractions
   * measure over the TABLE-wide span, same bound measure as the other
   * advisors; a statless file reads full-width (rewriting it at least
   * measures it). Driver-side manifest math like every advisor.
   */
  def fileHealth(db: String, table: String, column: String,
                 adviseAbove: Double = 0.5,
                 version: Option[Int] = None)
      : Seq[MergeSnapshotStore.FileHealth] = {
    require(adviseAbove > 0 && adviseAbove < 1,
      "adviseAbove is a strict scan fraction in (0, 1)")
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    val files = listDataFiles(meta, m, None)
    val bounds = fileBounds(m, files, column)
    val (span, unboundedAbove, fr) = scanFractions(bounds)
    files.zipWithIndex.map { case (rel, i) =>
      MergeSnapshotStore.FileHealth(rel, bounds(i).isEmpty, fr(i),
        fr(i) > adviseAbove && (span > 0.0 || unboundedAbove))
    }
  }

  /**
   * PARTIAL clustered maintenance for PK-LESS tables — rewrite ONLY the
   * given files (typically [[fileHealth]]'s advised set) into
   * `targetFiles` disjoint z-slices, carrying every other file by
   * reference through the carried-file manifest lines: the same
   * Iceberg `rewrite_data_files`-with-a-filter story
   * [[compactBucketsClustered]] tells for keyed tables, at the
   * granularity a single logical bucket actually permits. The commit
   * is the file-scoped machinery of the debt fold (logical view, so
   * position sidecars mask during the rewrite; sidecars not proved
   * folded ride along — their addresses into rewritten files are dead
   * lines). Slice ranges infer from the SCOPED rows; layout choice
   * never changes answers, only pruning power.
   */
  def compactFilesClustered(db: String, table: String,
                            dims: Seq[(String, Option[(Double, Double)])],
                            targetFiles: Int, files: Seq[String],
                            bits: Int = 8): CompactionReport = {
    val meta = catalog(db, table)
    compactFilesClusteredCore(meta, dims, targetFiles, files, bits, Set.empty)
  }

  /** [[compactFilesClustered]]'s body, with the `dropDeletes` seam
   * [[maintainIfAdvised]] composes the PK-less debt fold through. */
  private def compactFilesClusteredCore(meta: TableMeta,
      dims: Seq[(String, Option[(Double, Double)])], targetFiles: Int,
      files: Seq[String], bits: Int,
      dropDeletes: Set[String]): CompactionReport = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    require(files.nonEmpty, "pass the files to rewrite " +
      "(fileHealth(...).filter(_.compactAdvised) is the usual source)")
    require(!meta.hasPrimaryKey,
      s"compactFilesClustered is the PK-less partial rewrite — " +
        s"${meta.qualified} is keyed; use compactBucketsClustered")
    val (readVer, current) = headOf(meta, "compacting")
    requireBucketCount(meta, current)
    val listing = listDataFiles(meta, current, None).toSet
    val missing = files.filterNot(listing)
    require(missing.isEmpty,
      s"files ${missing.sorted.mkString(",")} are not part of " +
        s"${meta.qualified}'s current snapshot")
    val before = current.deletes
    commitFileScoped(meta, readVer, current, files.toSet, dropDeletes,
      op = if (dropDeletes.nonEmpty) "debt-fold" else "compact-files") { rows =>
      // an all-masked selection has nothing to lay out — identity
      // (writeData emits no files; the selection just disappears)
      if (rows.isEmpty) rows
      else {
        val shadow = rows.select(dims.map { case (c, _) =>
          promoted(col(c), rows.schema(c).dataType).as(c) }: _*)
        val resolved = Layout.resolveRanges(shadow, dims)
        val z = Layout.zValue(resolved.map { case (c, r) =>
          (promoted(col(c), rows.schema(c).dataType), r) }, bits)
        Layout.clusterByZ(rows, z, dims.size, targetFiles, bits)
      }
    }
    compactionReport(meta, before)
  }

  /**
   * Merge-on-read delete debt of one snapshot — [[maintenanceAdvisor]]'s
   * sidecar dimension (the Iceberg `rewrite_position_deletes`
   * maintenance story): a table taking steady MoR takedowns pays a
   * growing broadcast anti-join on EVERY read until a whole-table
   * rewrite ([[compact]] / [[compactClustered]]) re-materializes the
   * logical view and drops the sidecars, and without this signal
   * nothing tells the operator when. Read purely from the manifest
   * (driver-side, manifest-scale; no data I/O): the read-time price is
   * one parquet open per sidecar plus the union of their keys riding
   * the broadcast, so the advice fires when EITHER the sidecar COUNT
   * reaches `adviseAtSidecars` (per-read open/union overhead) or the
   * recorded deleted-key MASS reaches `adviseAtRows` (broadcast size —
   * the anti-join must stay delete-sized to stay a broadcast).
   *
   * `deletedRows` sums the manifest-recorded key counts; sidecars from
   * manifests predating the count field report -1 there and contribute
   * nothing, so the sum is a LOWER bound and `rowsKnown` says whether
   * it is exact — the count threshold still sees every sidecar, so
   * accumulation is never invisible. `liveSidecars` counts sidecars at
   * least one current data file still predates (the rest are dead
   * weight the next commit drops on its own); for POSITION sidecars
   * the count is an UPPER bound — a pos sidecar is truly live only
   * while its referenced file paths still exist, which this
   * manifest-only read cannot see without opening the sidecar parquet
   * (the commit-number rule errs toward counting it live; a
   * [[compactDebt]] pass, which does open the sidecars, retires the
   * stale ones exactly). ADVICE keys off the total, because even a
   * dead sidecar's keys are opened and broadcast on every read until
   * a commit retires the line.
   */
  def deleteDebt(db: String, table: String,
                 adviseAtSidecars: Int = 4,
                 adviseAtRows: Long = 1L << 20,
                 version: Option[Int] = None)
      : MergeSnapshotStore.DeleteDebt = {
    require(adviseAtSidecars >= 1, "adviseAtSidecars must be >= 1")
    require(adviseAtRows >= 1L, "adviseAtRows must be >= 1")
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    val live = m.deletes.count(d =>
      (m.buckets.values ++ m.carries.values.flatten).exists(p =>
        commitNumberOf(p).forall(_ < d.version)))
    val known = m.deletes.filter(_.rows >= 0L)
    val rows = known.map(_.rows).sum
    MergeSnapshotStore.DeleteDebt(m.deletes.size, live, rows,
      rowsKnown = known.size == m.deletes.size,
      compactAdvised =
        m.deletes.size >= adviseAtSidecars || rows >= adviseAtRows)
  }

  /** The buckets a snapshot's EQUALITY sidecars actually mask rows in:
   * each sidecar's keys hash to their buckets (one small read per
   * sidecar — sidecar count and key mass are delete-sized by the MoR
   * contract), intersected with the buckets whose earliest file commit
   * number PREDATES the sidecar (the sequence rule — a bucket every
   * file of which postdates the sidecar holds nothing it masks). An
   * unparseable path counts as predating (conservative: the bucket is
   * rewritten, never skipped). This is the exact footprint a partial
   * debt fold must rewrite to retire every sidecar. */
  private def eqDebtBuckets(meta: TableMeta, current: Manifest): Set[Int] = {
    val pks = meta.primaryKey
    def minCommit(b: Int): Int =
      (current.buckets.get(b).toSeq ++ current.carries.getOrElse(b, Nil))
        .map(p => commitNumberOf(p).getOrElse(-1)).min
    val known = current.buckets.keySet ++ current.carries.keySet
    current.deletes.iterator.flatMap { d =>
      val raw = spark.read.parquet(refPath(meta.location, d.rel))
      // sidecars spell the key's physical name (a pre-record sidecar
      // may spell the era's logical one — same resolution as the
      // read's)
      val keyCols = pks.map { k =>
        val phys = MergeSnapshotStore.pkPhysicalOf(meta, k)
        col(raw.columns.find(_.equalsIgnoreCase(phys))
          .orElse(raw.columns.find(_.equalsIgnoreCase(k))).getOrElse(phys))
      }
      val keyBuckets = raw
        .select(bucketOf(meta, keyCols).as("__b"))
        .distinct().collect().map(_.getInt(0)) // <= nBuckets values
      keyBuckets.filter(b => known.contains(b) && minCommit(b) < d.version)
    }.toSet
  }

  /**
   * PARTIAL merge-on-read debt fold — clear every delete sidecar by
   * rewriting ONLY what the sidecars actually touch, carrying the rest
   * by reference: the Iceberg `rewrite_position_deletes` /
   * delete-file-compaction story at the granularity the sidecars
   * themselves name. Where [[compact]] / [[compactClustered]] pay a
   * whole-table rewrite to retire debt, this pass pays O(deleted
   * region): at 100 TB with GDPR-rate takedowns, the difference
   * between a maintenance sweep that rewrites a few smeared gigabytes
   * and one that rewrites the table per advisor firing.
   *
   *  - KEYED tables (equality sidecars): each sidecar's keys hash to
   *    their buckets ([[eqDebtBuckets]]); only buckets that own masked
   *    rows rewrite, through the scoped-commit carry ([[commitScoped]]
   *    with an identity fold over the LOGICAL view), and every sidecar
   *    drops — all its masked rows are in the rewritten set by
   *    construction (key-owning AND predating), so the read answer is
   *    invariant.
   *  - PK-LESS tables (position sidecars): addresses name exact files,
   *    so only the REFERENCED files re-read and rewrite (their
   *    survivors land in a fresh commit dir); every unreferenced file
   *    carries by reference — file-granular, via the manifest's
   *    carried-file lines, since the single logical bucket makes
   *    bucket-granular carry the whole table. A bucket dir none of
   *    whose files are referenced keeps its dir entry verbatim.
   *    Sidecars whose referenced files no longer exist (a prior
   *    rewrite already orphaned their addresses) are retired without
   *    any data I/O.
   *
   * A table with no sidecars returns a zero report without consuming a
   * version. A table whose sidecars are all DEAD (mask nothing) clears
   * them with a metadata-only commit — no data job at all. Like every
   * maintenance rewrite, the pass pins its base version and REFUSES
   * ([[java.util.ConcurrentModificationException]]) rather than
   * clobber a racing commit; re-run against the new snapshot.
   */
  def compactDebt(db: String, table: String): CompactionReport = {
    val meta = catalog(db, table)
    val (readVer, current) = headOf(meta, "compacting")
    if (current.deletes.isEmpty) return CompactionReport(readVer, 0, 0L)
    requireBucketCount(meta, current)
    val before = current.deletes
    if (meta.hasPrimaryKey) {
      // keyed tables only ever carry equality sidecars (deleteWhereMor
      // dispatches by key presence); a pos sidecar here is corruption
      require(before.forall(_.kind == MergeSnapshotStore.EqDeleteKind),
        s"${meta.qualified} is keyed but carries position-delete " +
          "sidecars — the manifest is corrupt")
      val affected = eqDebtBuckets(meta, current)
      if (affected.isEmpty) publishDeleteClear(meta, readVer, current)
      else
        commitScoped(meta, readVer, current, affected.toSeq.sorted,
          meta.primaryKey,
          dropDeletes = before.map(_.rel).toSet, op = "debt-fold",
          enforceChecks = false)(identity)
    } else {
      require(before.forall(_.kind == MergeSnapshotStore.PosDeleteKind),
        s"${meta.qualified} is PK-less but carries equality-delete " +
          "sidecars — the manifest is corrupt")
      compactDebtPos(meta, readVer, current)
    }
    compactionReport(meta, before)
  }

  /** The metadata-only debt clear: every sidecar is provably dead (no
   * masked rows anywhere), so the new manifest is the old one minus
   * its delete lines — no data job, one CAS publish, refuse on loss
   * (another writer moved the table; its commit re-judged liveness). */
  private def publishDeleteClear(meta: TableMeta, base: Int,
                                 current: Manifest): Unit =
    publish(meta, base, current, "debt-clear", Nil)(
      (_, _) => current.copy(deletes = Nil))(
      refuseLoss(meta, "compactDebt cleared its dead sidecars"))

  /** The files a PK-less snapshot's POSITION sidecars still address:
   * the listed files whose address ([[MergeSnapshotStore.addressOf]])
   * is in some sidecar's distinct `__file` set (one small read per
   * sidecar) — an address whose file a prior rewrite already removed is
   * a dead line. This is the exact footprint a partial debt fold must
   * rewrite. */
  private def posDebtFiles(meta: TableMeta, current: Manifest): Set[String] = {
    val refAll = current.deletes.iterator.flatMap { d =>
      spark.read.parquet(refPath(meta.location, d.rel))
        .select("__file").distinct().collect().map(_.getString(0))
    }.toSet
    listDataFiles(meta, current, None)
      .filter(rel => refAll(MergeSnapshotStore.addressOf(rel))).toSet
  }

  /** The position-kind debt fold body: rewrite exactly the files the
   * sidecars address, carry every other file by reference, drop all
   * sidecars. Base-pinned, refuse-on-loss. */
  private def compactDebtPos(meta: TableMeta, base: Int,
                             current: Manifest): Unit = {
    val refLive = posDebtFiles(meta, current)
    if (refLive.isEmpty) publishDeleteClear(meta, base, current)
    else commitFileScoped(meta, base, current, refLive,
      current.deletes.map(_.rel).toSet, op = "debt-fold")(identity)
  }

  /** The FILE-scoped rewrite commit PK-less maintenance shares
   * ([[compactDebtPos]] with an identity shape, [[compactFilesClustered]]
   * with a clustering one): read the LOGICAL rows of exactly `refLive`,
   * replace them with `shape`'s output, carry every other file by
   * reference — dir entries where a whole dir is untouched,
   * carried-file lines where a dir is split — and retire the
   * `dropDeletes` sidecars the caller proved folded. Base-pinned,
   * refuse-on-loss (a maintenance pass never clobbers). */
  private def commitFileScoped(meta: TableMeta, base: Int,
                               current: Manifest, refLive: Set[String],
                               dropDeletes: Set[String],
                               op: String = "compact-files")
                              (shape: DataFrame => DataFrame): Unit = {
    val listing = listDataFileStatuses(meta, current, None)
    val byDir = listing.map(_._1).groupBy(rel => rel.substring(0, rel.lastIndexOf('/')))
    val dirFiles: Seq[(Int, String, Seq[String])] =
      current.buckets.toSeq.map { case (b, dir) => (b, dir, byDir.getOrElse(dir, Nil)) }
    // survivors of the referenced files under the LOGICAL view (the
    // sidecars mask their addressed rows; nothing else is read)
    val survivors = shape(skippingFrame(meta, current,
      listing.filter { case (rel, _) => refLive(rel) })._1)
    val (written, newStats, newStrStats, newSetStats, newRows) =
      writeData(meta, base + 1, survivors, Nil, enforceChecks = false,
        publishSchema = current.schema)
    // dir entries: fully-unreferenced dirs keep their entry verbatim —
    // unless the rewrite wrote that bucket a fresh dir (one dir per
    // bucket), in which case the old dir's files become carries
    val keptDirs = dirFiles.collect {
      case (b, dir, fl) if fl.forall(!refLive(_)) && !written.contains(b) =>
        b -> dir
    }
    val keptDirBuckets = keptDirs.map(_._1).toSet
    val carriesNew: Map[Int, Seq[String]] = {
      val fromDirs = dirFiles.flatMap { case (b, _, fl) =>
        if (keptDirBuckets.contains(b)) Nil
        else fl.filterNot(refLive).map(b -> _)
      }
      val fromCarries = current.carries.toSeq.flatMap { case (b, rels) =>
        rels.filterNot(refLive).map(b -> _)
      }
      (fromDirs ++ fromCarries).groupBy(_._1)
        .map { case (b, rs) => b -> rs.map(_._2).sorted }
        .filter(_._2.nonEmpty)
    }
    val keptFiles = carriesNew.values.flatten.toSet
    val keptDirSet = keptDirs.map(_._2).toSet
    def keeps(fp: String) =
      keptDirSet.exists(d => fp.startsWith(s"$d/")) || keptFiles(fp)
    // sidecars the caller did NOT prove folded stay — their addresses
    // into rewritten files are dead lines (new files are new paths, the
    // anti-join matches nothing), their addresses into carried files
    // keep masking
    val liveDeletes = current.deletes
      .filterNot(d => dropDeletes.contains(d.rel))
    publish(meta, base, current, op, written.values) { (_, _) =>
      Manifest(current.schema,
        SortedMap((keptDirs ++ written.toSeq): _*), current.nBuckets,
        current.stats.filter(kv => keeps(kv._1)) ++ newStats,
        current.strStats.filter(kv => keeps(kv._1)) ++ newStrStats,
        current.setStats.filter(kv => keeps(kv._1)) ++ newSetStats,
        liveDeletes, carriesNew,
        rows = current.rows.filter(kv => keeps(kv._1)) ++ newRows,
        retired = current.retired)
    }(refuseLoss(meta, s"a file-scoped maintenance pass rewrote " +
      s"version $base: the rewrite is stale and must never clobber a " +
      "concurrent commit"))
  }

  /**
   * Online bucket-count evolution — the Iceberg bucket-transform
   * evolution story: the PK-hash modulus is a physical layout choice
   * that data growth invalidates (a fact that grew 100× needs more
   * buckets so each file stays scan-sized; a shrunken one fewer, so
   * tiny commits stop paying near-empty write tasks), and without this
   * pass the only way out is a manual property edit plus an overwrite.
   * One whole-table rewrite commit: read the LOGICAL snapshot
   * (merge-on-read sidecars applied — the rewrite folds any delete debt
   * as a side effect, reported), re-register the table's
   * [[MergeSnapshotStore.BucketsProp]], and write under the new
   * modulus. Safety is the existing seams': the rewrite pins its base
   * version and REFUSES if the table moved (maintenance never clobbers
   * a racing commit), concurrent writers that read the old layout
   * refuse at their own CAS ("concurrently re-bucketed") and re-run,
   * and a reader between the property flip and the publish refuses on
   * the manifest-vs-meta count check — loud, never wrong. On any
   * failure the old property is restored, so the catalog never lies
   * about committed data.
   */
  def rebucket(db: String, table: String,
               newBuckets: Int): CompactionReport = {
    require(newBuckets >= 1, "newBuckets must be >= 1")
    val meta = catalog(db, table)
    require(meta.hasPrimaryKey,
      s"rebucket re-hashes PK buckets — ${meta.qualified} has no PK " +
        "(PK-less tables hold one logical bucket; size files with compact)")
    require(newBuckets != nBucketsOf(meta),
      s"${meta.qualified} already resolves to nBuckets=$newBuckets — " +
        "a same-modulus rewrite is compact, not rebucket")
    val (base, _) = headOf(meta, "rebucketing")
    val df = readVersion(meta, base)
    val newMeta = meta.copy(properties = meta.properties +
      (MergeSnapshotStore.BucketsProp -> newBuckets.toString))
    catalog.register(newMeta)
    try rewriteCommit(newMeta, base, df, "rebucket")
    catch {
      case t: Throwable =>
        // restore the old property ONLY if the new-modulus manifest was
        // never published — a failure AFTER the publish (vacuum /
        // tombstone-clear hiccup) must leave the flipped property in
        // place, or every later read/merge refuses on a
        // manifest-vs-meta count mismatch the catalog itself caused
        val landed = manifestVersions(meta.location).lastOption.exists(v =>
          readManifest(meta.location, v).nBuckets == newBuckets)
        if (!landed) catalog.register(meta)
        throw t
    }
  }

  /**
   * Column RENAME without a byte rewritten — column mapping (Delta
   * `columnMapping` / Iceberg field-id evolution, carried as names):
   * data files and stats lines always spell columns PHYSICALLY (the
   * name the column had when it first committed); the rename publishes
   * a new manifest whose schema field carries the new LOGICAL name
   * plus a [[MergeSnapshotStore.PhysicalKey]] metadata entry holding
   * the on-disk spelling. Carried files keep reading (scans run under
   * the physical spelling, one aliasing projection restores the
   * logical one), stats keep pruning both directions (lookups and
   * resolved predicates translate logical → physical), scoped merges
   * keep carrying by reference, the change feed compares versions by
   * physical identity, and RESTORE across the rename reverts it —
   * all metadata-only, at any table size. A later whole-table rewrite
   * (overwrite / compact / rebucket) re-materializes every file under
   * the current logical names and RESETS the mapping.
   *
   * Refusals, each loud: unknown column; a new name the table already
   * has, that shadows another column's PHYSICAL spelling (carried
   * files hold that on-disk column — the scan could not tell the two
   * apart), or that is a reserved internal name; a PRIMARY KEY column
   * (its name threads the catalog registration, equality-delete
   * sidecars, and every scoped-commit funnel — restructure with
   * overwrite() + re-register); a column a CHECK constraint or the
   * set-stats/bloom properties reference (re-point those first).
   * Returns the new head version.
   */
  def renameColumn(db: String, table: String,
                   oldName: String, newName: String): Int = {
    val meta = catalog(db, table)
    require(!meta.primaryKey.exists(_.equalsIgnoreCase(oldName)),
      s"renaming PRIMARY KEY column $oldName of ${meta.qualified} " +
        "threads the catalog registration, equality-delete sidecars " +
        "and the scoped-commit funnels — use renamePrimaryKeyColumn(), " +
        "the guided path that moves all three in one commit")
    renameCommit(meta, oldName, newName, "rename")._1
  }

  /**
   * PRIMARY KEY column rename — the guided path [[renameColumn]]'s PK
   * refusal names. The key's spelling threads THREE surfaces the plain
   * column-mapping rename cannot reach, and this commit moves all of
   * them together:
   *
   *  - the MANIFEST schema: the same metadata-only rename (physical
   *    name carried in field metadata), so carried files keep reading
   *    and stats keep pruning — one manifest write;
   *  - the CATALOG registration: `primaryKey` re-registers under the
   *    new spelling, and [[MergeSnapshotStore.PkPhysicalProp]] records
   *    the key's on-disk name — the era-stable spelling every read
   *    funnel's delete-masking binds (sidecars write it, pinned
   *    pre-rename manifests resolve it, the transient window between
   *    the manifest publish and the re-register reads consistently
   *    through it);
   *  - the equality-delete SIDECARS: nothing to migrate — sidecars
   *    always spell the physical name, which a rename never changes.
   *
   * Bucket routing is untouched (hashing binds values, not names), so
   * carried buckets keep their assignment. Scoped merges race-safe as
   * for every DDL: an in-flight merge's schema CAS refuses. Refusals
   * are [[renameColumn]]'s (duplicates, shadows, constraints,
   * properties, reserved names); a non-PK column refuses toward
   * [[renameColumn]]. Returns the new head version.
   */
  def renamePrimaryKeyColumn(db: String, table: String,
                             oldName: String, newName: String): Int = {
    val meta = catalog(db, table)
    require(meta.primaryKey.exists(_.equalsIgnoreCase(oldName)),
      s"$oldName is not a PRIMARY KEY column of ${meta.qualified} " +
        s"(key: ${meta.primaryKey.mkString(", ")}) — use renameColumn()")
    val (next, physical) = renameCommit(meta, oldName, newName, "rename-pk")
    // manifest first, registration second: a reader in the window binds
    // masking through the PHYSICAL spelling either way (the property and
    // the old registration both resolve it), so the order only decides
    // which spelling the reader's OUTPUT columns carry
    val newPks = meta.primaryKey.map(k =>
      if (k.equalsIgnoreCase(oldName)) newName else k)
    val physMap = (MergeSnapshotStore.pkPhysicalMap(meta) -
      oldName.toLowerCase) ++
      (if (physical.equalsIgnoreCase(newName)) Map.empty[String, String]
       else Map(newName.toLowerCase -> physical))
    catalog.register(meta.copy(primaryKey = newPks, properties =
      if (physMap.isEmpty)
        meta.properties - MergeSnapshotStore.PkPhysicalProp
      else meta.properties + (MergeSnapshotStore.PkPhysicalProp ->
        physMap.toSeq.sorted.map { case (l, p) => s"$l:$p" }
          .mkString(","))))
    next
  }

  /** The rename core both renames share: validate `newName` against
   * the head schema and its references, map the field to its new
   * logical name (its physical spelling rides in the field metadata;
   * renaming BACK to the on-disk spelling dissolves the mapping) and
   * publish the metadata-only commit as `op(old->new)`. Returns the
   * new version and the column's physical name. */
  private def renameCommit(meta: TableMeta, oldName: String, newName: String,
                           op: String): (Int, String) = {
    val (readVer, m) = headOf(meta, "renaming")
    val field = columnOf(meta, m, oldName)
    require(newName.trim.nonEmpty, "new column name must be non-empty")
    require(!newName.equalsIgnoreCase(field.name),
      s"rename $oldName -> $newName is a no-op")
    requireUnreserved(meta, Seq(newName))
    require(!m.schema.fields.exists(_.name.equalsIgnoreCase(newName)),
      s"${meta.qualified} already has a column $newName")
    m.schema.fields.filterNot(_.name.equalsIgnoreCase(oldName))
      .find(f => MergeSnapshotStore.physicalOf(f).equalsIgnoreCase(newName))
      .foreach { owner =>
        throw new IllegalArgumentException(
          s"cannot rename to $newName: carried files already hold a " +
            s"physical column '${MergeSnapshotStore.physicalOf(owner)}' " +
            s"(the on-disk spelling of renamed column ${owner.name}) — " +
            "pick another name")
      }
    requireUnreferenced(meta, oldName, "renaming")
    val physical = MergeSnapshotStore.physicalOf(field)
    val mapping = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(field.metadata)
    val newField = field.copy(name = newName, metadata =
      if (physical == newName)
        mapping.remove(MergeSnapshotStore.PhysicalKey).build()
      else mapping.putString(MergeSnapshotStore.PhysicalKey, physical).build())
    val newSchema = StructType(m.schema.fields.map(f =>
      if (f.name.equalsIgnoreCase(oldName)) newField else f))
    val next = publish(meta, readVer, m, s"$op($oldName->$newName)", Nil)(
      (_, _) => m.copy(schema = newSchema))(refuseLoss(meta, "a rename committed"))
    (next, physical)
  }

  /** The field `name` of a head schema, or refuse naming the columns. */
  private def columnOf(meta: TableMeta, m: Manifest, name: String): StructField =
    m.schema.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"${meta.qualified} has no column $name (columns: " +
          s"${m.schema.fieldNames.mkString(", ")})"))

  /** Refuses `doing` to column `c` while the set-stats or bloom
   * property names it: their sidecars and value sets were built under
   * the column's current name and type. */
  private def requireNoPropertyRef(meta: TableMeta, c: String,
                                   doing: String): Unit =
    Seq(MergeSnapshotStore.SetStatsProp, MergeSnapshotStore.BloomProp)
      .foreach { prop =>
        meta.properties.get(prop).foreach { v =>
          require(!v.split(',').map(_.trim.takeWhile(_ != ':'))
              .exists(_.equalsIgnoreCase(c)),
            s"$prop on ${meta.qualified} names $c — re-point the " +
              s"property before $doing")
        }
      }

  /** [[requireNoPropertyRef]] plus the CHECK constraints: a rename or
   * drop would leave a constraint naming a column that is gone. */
  private def requireUnreferenced(meta: TableMeta, c: String,
                                  doing: String): Unit = {
    requireNoPropertyRef(meta, c, doing)
    MergeSnapshotStore.checksOf(meta).foreach { case (name, predSql) =>
      val re = ("(?i)\\b" + java.util.regex.Pattern.quote(c) + "\\b").r
      require(re.findFirstIn(predSql).isEmpty,
        s"CHECK constraint $name ($predSql) references $c — drop the " +
          s"constraint before $doing (re-add it afterwards if still wanted)")
    }
  }

  /** Internal column names are reserved at the write boundary and for
   * every DDL that names a column: __b is the bucket routing column
   * [[writeData]] adds, __fv the read-time file-commit column
   * (withColumn would silently REPLACE a same-named user column), and
   * __graft_* the row addresses the scan captures the same way.
   * Compared case-INSENSITIVELY: Spark's default resolution is, so a
   * user column named __FV would otherwise pass and still be replaced
   * by the scan's capture. */
  private def requireUnreserved(meta: TableMeta, names: Seq[String]): Unit = {
    val bad = names.filter { n =>
      val lc = n.toLowerCase
      lc == "__b" || lc == "__fv" || lc.startsWith("__graft_")
    }
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"${meta.qualified}: ${bad.mkString(", ")} — reserved internal " +
        "column name(s); __b, __fv and __graft_* belong to the store's " +
        "bucketing and merge-on-read machinery")
  }

  /**
   * Column DROP without a byte rewritten — the second half of column
   * mapping: the new manifest's schema simply lacks the field, scans
   * project the remaining physical columns (parquet reads a subset by
   * name), and the dropped column's on-disk spelling joins the
   * manifest's RETIRED list so a later evolution ADD under that name
   * refuses instead of silently resurrecting carried data (the Delta
   * columnMapping hazard its UUID physical names exist for). A
   * whole-table rewrite re-materializes without the column and resets
   * the list; RESTORE across the drop reverts it.
   *
   * Refusals: unknown column; the last data column; a PRIMARY KEY
   * column; a column a CHECK constraint or the set-stats/bloom
   * properties reference. Returns the new head version.
   */
  def dropColumn(db: String, table: String, name: String): Int = {
    val meta = catalog(db, table)
    val (readVer, m) = headOf(meta, "dropping")
    val field = columnOf(meta, m, name)
    require(m.schema.fields.length > 1,
      s"cannot drop the last column of ${meta.qualified}")
    require(!meta.primaryKey.exists(_.equalsIgnoreCase(name)),
      s"dropping PRIMARY KEY column $name of ${meta.qualified} is not " +
        "supported — restructure with overwrite() and re-register")
    requireUnreferenced(meta, name, "dropping")
    val newSchema = StructType(
      m.schema.fields.filterNot(_.name.equalsIgnoreCase(name)))
    publish(meta, readVer, m, s"drop($name)", Nil) { (_, _) =>
      m.copy(schema = newSchema,
        retired = (m.retired :+ MergeSnapshotStore.physicalOf(field)).distinct)
    }(refuseLoss(meta, "a drop committed"))
  }

  /**
   * Metadata-only ADD COLUMN — the third of the evolution trio
   * (Delta `ALTER TABLE … ADD COLUMNS`): the new manifest's schema
   * gains the field, every existing file reads NULL for it (the scan
   * supplies the widened schema; parquet resolves by name), and the
   * first write that provides values lands them normally — no data
   * job at any table size. The field is ALWAYS nullable (every
   * existing row surfaces NULL — a non-nullable add would publish a
   * schema the data immediately violates, the same rule the scoped-
   * merge evolution guard enforces).
   *
   * Refusals: a name the table already has; a RETIRED physical name
   * (the add would resurrect dropped data from carried files); a name
   * shadowing a renamed column's on-disk spelling; reserved internal
   * names. Returns the new head version.
   */
  def addColumn(db: String, table: String, name: String,
                dataType: DataType): Int = {
    val meta = catalog(db, table)
    val (readVer, m) = headOf(meta, "adding columns")
    require(name.trim.nonEmpty, "column name must be non-empty")
    requireUnreserved(meta, Seq(name))
    require(!m.schema.fields.exists(_.name.equalsIgnoreCase(name)),
      s"${meta.qualified} already has a column $name")
    val newSchema = StructType(m.schema.fields :+
      StructField(name, dataType, nullable = true))
    // the same resurrection/shadow guards the scoped-merge add path
    // enforces (attachPhysical) — checked HERE so the statement fails
    // at the DDL, not at the next write
    MergeSnapshotStore.attachPhysical(m.schema, m.retired.toSet, newSchema)
    publish(meta, readVer, m, s"add($name ${dataType.catalogString})", Nil)(
      (_, _) => m.copy(schema = newSchema))(refuseLoss(meta, "an add committed"))
  }

  /**
   * Type WIDENING without a byte rewritten — the fourth face of the
   * metadata-only evolution surface (`ALTER TABLE t ALTER COLUMN c TYPE
   * <wider>`; Delta's type-widening table feature, Iceberg's safe-cast
   * evolution): the new manifest's schema carries the WIDER type while
   * carried files keep their narrow on-disk encoding — the scan always
   * supplies the manifest schema, and both Spark parquet readers
   * PROMOTE at read (int32 pages surface as long, float as double,
   * narrow decimal re-scales), so a 100 TB fact widens in one manifest
   * write. This is the GoldenGate-era schema change the reference's
   * Oracle type map exists for (reference
   * src/apply_change_log_to_delta.py:69-87 — a NUMBER precision
   * ladder): upstream precision grows and downstream must follow
   * without a rewrite.
   *
   * Safe set — everything lossless AND parquet-promotable:
   * byte→short→int→long along the integral ladder; float→double;
   * byte/short/int→double; int→decimal(p−s ≥ 10) and
   * long→decimal(p−s ≥ 20) (the NUMBER ladder's landing type, with
   * enough integer digits for the whole source range — Delta's rule
   * and the vectorized reader's exact support); decimal(p,s)→
   * decimal(p',s') growing both the integer space (p'−s' ≥ p−s) and
   * the scale (s' ≥ s). Everything else refuses: narrowing loses
   * data, long→double loses precision, cross-family retypes change
   * semantics — restructure those with `overwrite(mergeSchema)`. Numeric pruning bounds live in DOUBLE
   * space in the manifest, so carried files' min/max keep pruning
   * exactly under the widened type; the change feed up-casts the old
   * side of a cross-widen diff (same column, wider clothes).
   *
   * Refusals, each loud: unknown column; a conversion outside the safe
   * set; a PRIMARY KEY column (bucket routing hashes the key under its
   * TYPE — murmur3 of 5:int and 5L:long differ — so carried buckets
   * would stop matching the widened key's hash; restructure with
   * overwrite() + re-register); a partition column; a column the
   * set-stats/bloom properties reference (those sidecars hashed the
   * narrow values at write time, and probing them with widened values
   * would false-negative-prune — re-point the properties first).
   * Returns the new head version.
   */
  def alterColumnType(db: String, table: String, name: String,
                      to: DataType): Int = {
    val meta = catalog(db, table)
    val (readVer, m) = headOf(meta, "widening")
    val field = columnOf(meta, m, name)
    require(field.dataType != to,
      s"${meta.qualified}.$name is already ${to.catalogString} — no-op")
    require(MergeSnapshotStore.isSafeWidening(field.dataType, to),
      s"cannot widen ${meta.qualified}.$name from " +
        s"${field.dataType.catalogString} to ${to.catalogString} — the " +
        "metadata-only safe set is byte->short->int->long, " +
        "float->double, byte/short/int->double, and decimal growth " +
        "(p'-s' >= p-s, s' >= s); anything else needs " +
        "overwrite(mergeSchema) to restructure the table")
    require(!meta.primaryKey.exists(_.equalsIgnoreCase(name)),
      s"widening PRIMARY KEY column $name of ${meta.qualified} is not " +
        "supported — bucket routing hashes the key under its type, so " +
        "carried buckets would stop matching; restructure with " +
        "overwrite() and re-register")
    require(!meta.partitionBy.exists(_.equalsIgnoreCase(name)),
      s"widening partition column $name of ${meta.qualified} is not " +
        "supported — partition directory values were rendered under " +
        "the narrow type; restructure with overwrite()")
    // the property sidecars hashed the narrow values
    requireNoPropertyRef(meta, name, "widening")
    val newSchema = StructType(m.schema.fields.map(f =>
      if (f.name.equalsIgnoreCase(name)) f.copy(dataType = to) else f))
    publish(meta, readVer, m, s"widen($name ${field.dataType.catalogString}->" +
        s"${to.catalogString})", Nil)(
      (_, _) => m.copy(schema = newSchema))(
      refuseLoss(meta, "a widen committed"))
  }

  /** The old version's frame with its columns ALIGNED to the new
   * version's logical spelling by PHYSICAL identity — what makes the
   * change feed survive a rename or a drop (a renamed column is the
   * same column, not a drop + add; a DROPPED column leaves the diff —
   * the new version has no values to compare it against). */
  private def alignedOld(meta: TableMeta, from: Int, to: Int): DataFrame = {
    val sOld = readManifest(meta.location, from).schema
    val sNew = readManifest(meta.location, to).schema
    val oldDf = readVersion(meta, from)
    val p2lNew = sNew.fields.map(f =>
      MergeSnapshotStore.physicalOf(f).toLowerCase -> f.name).toMap
    val kept = sOld.fields.toSeq.filter(f =>
      p2lNew.contains(MergeSnapshotStore.physicalOf(f).toLowerCase))
    val projected =
      if (kept.size == sOld.fields.length) oldDf
      else oldDf.select(kept.map(f => col(f.name)): _*)
    val renames = kept.flatMap { f =>
      p2lNew.get(MergeSnapshotStore.physicalOf(f).toLowerCase)
        .filter(_ != f.name).map(f.name -> _)
    }
    val named = renames.foldLeft(projected) { case (d, (o, n)) =>
      d.withColumnRenamed(o, n) }
    // TYPE alignment: a WIDENED column (int→long, float→double, decimal
    // growth) is the same column, so the diff compares the old values
    // under the new type instead of failing analysis; a retype outside
    // the store's OWN lossless set is a different column in the same
    // clothes and stays unaligned for the era guard to refuse. Gated
    // on isSafeWidening, NOT Cast.canUpCast: Spark's numericPrecedence
    // ladder admits LOSSY casts (long→double, int/long→float), and an
    // up-cast alignment over one of those would let changesBetween
    // compare values past 2^53 as equal and silently drop real
    // updates — contradicting alterColumnType's own refusal of the
    // same conversion.
    val newTypes = sNew.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val widened = named.schema.fields.toSeq.flatMap { f =>
      newTypes.get(f.name.toLowerCase) match {
        case Some(nt) if nt != f.dataType &&
            MergeSnapshotStore.isSafeWidening(f.dataType, nt) =>
          Some(f.name -> nt)
        case _ => None
      }
    }
    widened.foldLeft(named) { case (d, (c, t)) =>
      d.withColumn(c, col(c).cast(t)) }
  }

  /** Loud schema-ERA guard for the version diffs: after physical-name
   * and up-cast alignment, a column whose types STILL differ between
   * the two versions means a restructuring overwrite sits between them
   * — the diff would be comparing different columns in the same
   * clothes (or failing analysis deep in the plan). */
  private def requireOneEra(meta: TableMeta, old0: DataFrame,
                            new0: DataFrame, fromVersion: Int,
                            toVersion: Int): Unit = {
    val oldTypes = old0.schema.fields
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    new0.schema.fields.foreach { f =>
      oldTypes.get(f.name.toLowerCase).foreach { ot =>
        require(ot == f.dataType,
          s"${meta.qualified} column ${f.name} changed type " +
            s"(${ot.catalogString} -> ${f.dataType.catalogString}) " +
            s"between v$fromVersion and v$toVersion — a restructuring " +
            "overwrite sits between them; diff within one schema era")
      }
    }
  }

  /**
   * Change data feed between two committed versions: the I/U/D
   * changelog ([[graft.operators.Scd.snapshotDiff]] contract, keyed by
   * the registered PK) that turns `fromVersion`'s snapshot into
   * `toVersion`'s — the Delta/Iceberg CDF surface rebuilt from
   * snapshots, so any pair of RETAINED versions feeds delta-sized
   * consumers ([[graft.operators.Ivm]] folds, downstream replication,
   * audits) even though the writer recorded no changelog at commit
   * time. Cost is one full-outer join of the two manifest-resolved
   * version scans. Versions compare by PHYSICAL column identity, so the
   * feed survives a rename between them (output columns spell the
   * NEWER version's names).
   */
  def changesBetween(db: String, table: String, fromVersion: Int,
                     toVersion: Int): DataFrame = {
    val meta = catalog(db, table)
    if (!meta.hasPrimaryKey) throw new IllegalStateException(
      s"changesBetween needs a registered PK for ${meta.qualified} — " +
        "PK-less tables get the multiset feed (multisetChangesBetween)")
    val old0 = alignedOld(meta, fromVersion, toVersion)
    val new0 = readVersion(meta, toVersion)
    requireOneEra(meta, old0, new0, fromVersion, toVersion)
    graft.operators.Scd.snapshotDiff(old0, new0, meta.primaryKey)
  }

  /**
   * The PK-LESS change feed: the exact MULTISET delta between two
   * retained versions — per distinct ROW IMAGE, how many physical
   * copies arrived (`change` = I) or left (D), with the net `copies`
   * count. Raw crawl shards and log dumps have no row identity for the
   * keyed diff, but takedown audits and downstream replication still
   * need what-changed; counting by the full row is the only identity
   * such a table has. A row whose copy count is unchanged does not
   * appear; an UPDATE reads as one D and one I. Same physical-identity
   * alignment as [[changesBetween]].
   */
  def multisetChangesBetween(db: String, table: String,
                             fromVersion: Int,
                             toVersion: Int): DataFrame = {
    val meta = catalog(db, table)
    val old0 = alignedOld(meta, fromVersion, toVersion)
    val new0 = readVersion(meta, toVersion)
    requireOneEra(meta, old0, new0, fromVersion, toVersion)
    MergeSnapshotStore.multisetDiff(old0, new0,
      meta.qualified, fromVersion, toVersion)
  }

  /**
   * RESTORE — rewind the table to a committed-and-retained version as a
   * NEW commit (the Delta `RESTORE TABLE` / Iceberg rollback story):
   * the target version's manifest republishes VERBATIM at head+1, so
   * the rewind is itself history — the change feed between the
   * pre-restore head and the restored version is the exact undo delta,
   * AS-OF reads of the undone versions keep answering inside the
   * retention window, and vacuum treats the restore like any commit.
   *
   * METADATA-ONLY: no data job runs. The republished manifest
   * re-references the target's data files, which the retention
   * contract guarantees still exist — [[resolveVersion]] refuses an
   * expired target loudly (restore past the vacuum horizon is
   * impossible by construction, never a silent dangling manifest), and
   * the post-publish [[vacuum]] pass drops any stale tombstone a racing
   * vacuum put on the re-referenced directories. At 100 TB, undoing a
   * bad commit costs one manifest write.
   *
   * Restoring ACROSS a rebucket rewinds the bucket count too: the
   * manifest carries its own modulus, and the catalog property follows
   * under [[rebucket]]'s own discipline (flip before publish, restore
   * the old property only if the restore never landed). Restoring to
   * the current head is a no-op returning head — no version consumed.
   * Like every maintenance commit, restore pins the head it read and
   * REFUSES ([[java.util.ConcurrentModificationException]]) rather
   * than clobber a racing commit; re-run against the new snapshot if
   * the rewind is still wanted.
   */
  def restore(db: String, table: String, toVersion: Int): Int = {
    val meta = catalog(db, table)
    val vs = manifestVersions(meta.location)
    require(vs.nonEmpty, s"no manifest versions at ${meta.location}")
    val head = vs.last
    val target = resolveVersion(meta, Some(toVersion))
    if (target == head) return head
    val m = readManifest(meta.location, target)
    val needFlip = m.nBuckets != nBucketsOf(meta)
    if (needFlip)
      catalog.register(meta.copy(properties = meta.properties +
        (MergeSnapshotStore.BucketsProp -> m.nBuckets.toString)))
    // the restored dirs may carry tombstones from while no manifest
    // referenced them: they are the commit's fresh dirs
    try publish(meta, head, m, s"restore(v=$target)", m.buckets.values)(
        (_, _) => m)(refuseLoss(meta, s"a restore rewound version $head: " +
        "the rewind must never clobber a concurrent commit; re-read the " +
        "history first"))
    catch {
      case t: Throwable =>
        if (needFlip) {
          val landed = manifestVersions(meta.location).lastOption.exists(v =>
            readManifest(meta.location, v).nBuckets == m.nBuckets)
          if (!landed) catalog.register(meta)
        }
        throw t
    }
  }

  /**
   * The FILES metadata table (Iceberg `…$files` / Delta DESCRIBE
   * DETAIL's file view): one row per live data file of a snapshot —
   * its bucket, size, recorded row count (null where the manifest has
   * no line), whether the manifest carries it as an individual FILE
   * line (a partial fold's survivor) and whether it is BORROWED from
   * another table's location (a shallow clone's reference). Driver-
   * side: the manifest parse plus the dir listings planning already
   * pays; the one ops question it answers at 100 TB — "what exactly
   * would this snapshot scan, and why is it shaped like that" —
   * costs no data I/O.
   */
  def filesOf(db: String, table: String,
              version: Option[Int] = None): DataFrame = {
    val meta = catalog(db, table)
    val m = readManifest(meta.location, resolveVersion(meta, version))
    val carried = m.carries.values.flatten.toSet
    val rows: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList()
    listDataFileStatuses(meta, m, None).foreach { case (rel, st) =>
      rows.add(org.apache.spark.sql.Row(
        m.bucketOf(rel).map(Integer.valueOf).orNull,
        rel,
        st.getLen,
        m.rows.get(rel).map(java.lang.Long.valueOf).orNull,
        carried.contains(rel),
        MergeSnapshotStore.isAbsoluteRef(rel)))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("bucket", IntegerType, nullable = true),
      StructField("file", StringType, nullable = false),
      StructField("bytes", org.apache.spark.sql.types.LongType,
        nullable = false),
      StructField("rows", org.apache.spark.sql.types.LongType,
        nullable = true),
      StructField("carried", org.apache.spark.sql.types.BooleanType,
        nullable = false),
      StructField("borrowed", org.apache.spark.sql.types.BooleanType,
        nullable = false))))
  }

  /**
   * TIMESTAMP AS OF resolution (Delta parity): the latest version whose
   * provenance stamp is at or before `epochMs` — the manifest-priced
   * bridge from wall-clock time travel to the engine's version pins
   * (pass the result anywhere a `version`/`asOfVersion` parameter
   * goes: [[read]], [[graft.operators.QueryRunner.run]], change
   * feeds, clones). Stamps are the PUBLISHING writer's clock, so the
   * mapping is as good as the fleet's clock discipline — same contract
   * as Delta/Iceberg timestamp travel. Pre-provenance versions carry no
   * stamp and are invisible to time resolution (documented, not
   * silent: resolving an instant before the first STAMPED version
   * refuses and names the window). Bounded by retention like every
   * version read.
   */
  def versionAt(db: String, table: String, epochMs: Long): Int = {
    val meta = catalog(db, table)
    val vs = manifestVersions(meta.location)
    require(vs.nonEmpty, s"no manifest versions at ${meta.location}")
    val stamped = vs.map(v => v -> readManifest(meta.location, v).at)
      .filter(_._2 >= 0L)
    require(stamped.nonEmpty,
      s"${meta.qualified} has no provenance-stamped versions — " +
        "TIMESTAMP AS OF needs commits made by a history-aware engine; " +
        "pin by version number instead")
    val visible = stamped.filter(_._2 <= epochMs)
    require(visible.nonEmpty,
      s"no version of ${meta.qualified} was committed at or before " +
        s"epoch $epochMs (earliest stamped: version ${stamped.head._1} " +
        s"at ${stamped.head._2}) — the instant predates the table (or " +
        "the retained window)")
    visible.map(_._1).max
  }

  /**
   * `count(*)` without a scan when the manifest can answer it EXACTLY:
   * per-file row counts ride the stats lift (the same footer opens that
   * produce min/max bounds record each file's row count), so a
   * snapshot's cardinality is a driver-side sum — at 100 TB, the
   * difference between a metadata lookup and a full-table count job.
   *
   * The fast path requires (a) a recorded count for EVERY data file
   * the manifest resolves to (pre-feature commits and stats-disabled
   * tables lack lines), and (b) either NO live delete sidecars, or the
   * provably SUBTRACTABLE merge-on-read window (every sidecar counted,
   * every file predating every sidecar, nothing but the sidecar
   * commits since — the fresh-takedown state; see
   * [[manifestRowCount]]'s guard). A sidecar's masked-row count is NOT
   * safely subtractable in general — a later scoped rewrite can
   * re-home rows the recorded count included without retiring the
   * line — so anything past the window falls back to counting the
   * logical view; [[manifestRowCount]] exposes which path a snapshot
   * would take.
   */
  def countRows(db: String, table: String,
                version: Option[Int] = None): Long = {
    val meta = catalog(db, table)
    val v = resolveVersion(meta, version)
    manifestRowCount(db, table, version).getOrElse(
      readVersion(meta, v).count())
  }

  /** The manifest-only count of one snapshot, when exact (see
   * [[countRows]] for the two conditions); None = the fast path is
   * unavailable and countRows would run the scan. Driver-side: one
   * manifest read plus the dir listings planning already pays. */
  def manifestRowCount(db: String, table: String,
                       version: Option[Int] = None): Option[Long] = {
    val meta = catalog(db, table)
    val v = resolveVersion(meta, version)
    val m = readManifest(meta.location, v)
    // count what the READ would actually resolve: the live file listing
    // (a file on disk but missing its count line refuses the fast path;
    // a recorded file a rewrite removed must not count)
    val files = listDataFiles(meta, m, None)
    if (files.isEmpty) return Some(0L)
    if (!files.forall(m.rows.contains)) return None
    val total = files.iterator.map(m.rows).sum
    if (m.deletes.isEmpty) return Some(total)
    // SUBTRACTABLE merge-on-read window — the takedown-heavy table's
    // common state (fresh sidecars, nothing else since), exactly when
    // the table is most monitored. The masked-row total equals the
    // recorded sidecar counts when those counts are provably disjoint
    // and fully live:
    //  - every sidecar records its count (pre-count-field manifests
    //    report -1 and fall back),
    //  - every listed file PREDATES every sidecar (no rewrite landed
    //    after the first sidecar — a rewrite could drop masked rows
    //    from the file sum, and a newer file could re-insert a key the
    //    sequence rule exempts), and
    //  - the commits SINCE the first sidecar are exactly the sidecar
    //    commits themselves (MoR deletes publish one version each and
    //    move no data), so nothing else reshaped the table.
    // Each delete's find phase ran on the LOGICAL view, so no two
    // sidecars count the same row — the sum subtracts exactly.
    val sidecarVs = m.deletes.map(_.version).sorted
    val counts = m.deletes.map(_.rows)
    val commitNums = files.map(commitNumberOf)
    val subtractable =
      counts.forall(_ >= 0L) &&
        commitNums.forall(_.isDefined) &&
        commitNums.flatten.forall(_ < sidecarVs.head) &&
        sidecarVs == (v - sidecarVs.size + 1).to(v)
    if (subtractable) Some(total - counts.sum) else None
  }

  /**
   * ADD a CHECK constraint (Delta `ALTER TABLE … ADD CONSTRAINT … CHECK`
   * parity): the predicate must hold on the CURRENT snapshot before the
   * table accepts it — one scan job, and a violating row refuses with
   * its image — then every future data-writing commit enforces it
   * in-flight (writeData's guard: a violating write fails inside its
   * own job with the constraint name and the row's JSON, and no version
   * is consumed). SQL CHECK semantics: only FALSE violates, NULL
   * passes — `col IS NOT NULL` expresses a NOT NULL invariant.
   * Constraints live in the catalog's table properties
   * ([[MergeSnapshotStore.CheckPropPrefix]]), so they clone with the
   * table and survive re-registration.
   */
  def addCheckConstraint(db: String, table: String, name: String,
                         predicate: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name '$name' must be a plain identifier")
    val meta = catalog(db, table)
    val key = MergeSnapshotStore.CheckPropPrefix + name
    require(!meta.properties.contains(key),
      s"${meta.qualified} already has a CHECK constraint named $name " +
        s"(${meta.properties(key)}) — drop it first")
    if (latestVersion(db, table) >= 0) {
      val bad = read(db, table)
        .filter(!coalesce(expr(predicate), lit(true)))
        .limit(1).collect()
      require(bad.isEmpty,
        s"cannot add CHECK constraint $name ($predicate) to " +
          s"${meta.qualified}: an existing row violates it: ${bad.head}")
    }
    catalog.register(meta.copy(
      properties = meta.properties + (key -> predicate)))
  }

  /** Drop a CHECK constraint added by [[addCheckConstraint]]. */
  def dropCheckConstraint(db: String, table: String, name: String): Unit = {
    val meta = catalog(db, table)
    val key = MergeSnapshotStore.CheckPropPrefix + name
    require(meta.properties.contains(key),
      s"${meta.qualified} has no CHECK constraint named $name")
    catalog.register(meta.copy(properties = meta.properties - key))
  }

  /**
   * DESCRIBE HISTORY — the retained commit log as a DataFrame (the
   * Delta `DESCRIBE HISTORY` story): one row per retained version with
   * the OPERATION that published it (every commit path stamps its
   * manifest — overwrite, merge, delete/delete-mor, update, compact*,
   * debt-fold/debt-clear, rebucket, `restore(v=N)`, `clone(src@v)`),
   * its wall-clock timestamp, and the manifest's shape counts. Driver-
   * side manifest reads only (no data I/O), and the listing is bounded
   * by the retention window — like Delta, history truncates where
   * vacuum has expired the log; manifests from before the provenance
   * field read as operation `unknown` with a null timestamp.
   */
  /**
   * DESCRIBE DETAIL — one row summarizing the table's CURRENT snapshot
   * (Delta's `DESCRIBE DETAIL` shape): identity, layout, live file
   * footprint and lifecycle state, all from the manifest the read path
   * already parses plus the file listing planning already pays — no
   * data I/O at any table size. `num_rows` is the manifest-only count
   * when exact ([[manifestRowCount]]'s guard), null when only a scan
   * could answer.
   */
  def describeDetail(db: String, table: String): DataFrame = {
    val meta = catalog(db, table)
    val vs = manifestVersions(meta.location)
    require(vs.nonEmpty, s"no manifest versions at ${meta.location}")
    val m = readManifest(meta.location, vs.last)
    val files = listDataFileStatuses(meta, m, None)
    val row = org.apache.spark.sql.Row(
      meta.qualified,
      meta.format,
      meta.location,
      vs.last,
      if (m.at < 0L) null else new java.sql.Timestamp(m.at),
      meta.primaryKey.mkString(","),
      m.nBuckets,
      files.size,
      files.map(_._2.getLen).sum,
      manifestRowCount(db, table).map(java.lang.Long.valueOf).orNull,
      m.deletes.size,
      m.carries.values.map(_.size).sum,
      m.retired.mkString(","),
      vs.size)
    spark.createDataFrame(java.util.List.of(row), StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("location", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false),
      StructField("last_modified", TimestampType, nullable = true),
      StructField("primary_key", StringType, nullable = false),
      StructField("n_buckets", IntegerType, nullable = false),
      StructField("num_files", IntegerType, nullable = false),
      StructField("size_bytes", org.apache.spark.sql.types.LongType,
        nullable = false),
      StructField("num_rows", org.apache.spark.sql.types.LongType,
        nullable = true),
      StructField("delete_sidecars", IntegerType, nullable = false),
      StructField("carried_files", IntegerType, nullable = false),
      StructField("retired_columns", StringType, nullable = false),
      StructField("retained_versions", IntegerType, nullable = false))))
  }

  /** SHOW TBLPROPERTIES — the catalog's property map as (key, value)
   * rows, sorted for stable output. */
  def showProperties(db: String, table: String): DataFrame = {
    val meta = catalog(db, table)
    val rows = meta.properties.toSeq.sortBy(_._1)
      .map { case (k, v) => org.apache.spark.sql.Row(k, v) }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), StructType(Seq(
        StructField("key", StringType, nullable = false),
        StructField("value", StringType, nullable = false))))
  }

  /**
   * SET table properties from the statement surface (`ALTER TABLE t
   * SET TBLPROPERTIES ('k'='v', …)` — Delta's spelling; the SQL half
   * [[showProperties]] reads back). Properties are CATALOG policy here
   * (the manifest carries data lineage, the catalog carries policy),
   * so the set consumes no version and takes effect on the next
   * operation that reads it — retention on the next vacuum, bloom/
   * set-stats knobs on the next write, the time-travel window on the
   * next expiry pass.
   *
   * Refusals keep the bookkeeping sound: `graft.holds` and
   * `graft.pk.physical` are the store's OWN records (hand-editing the
   * first severs live clones, the second breaks delete masking — use
   * registerHold/releaseHold and renamePrimaryKeyColumn);
   * `graft.nbuckets` moves only through [[rebucket]] (manifest-vs-meta
   * adjudication depends on the two flipping together);
   * `graft.check.*` only through ADD/DROP CONSTRAINT (ADD validates
   * the existing snapshot first). Known-typed values validate at SET
   * time — a malformed retention number must refuse HERE, not wedge
   * every later commit's vacuum pass.
   */
  def setProperties(db: String, table: String,
                    props: Map[String, String]): Unit = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one entry")
    props.keys.foreach(guardPropKey)
    catalog.synchronized {
      val live = catalog(db, table)
      val cand = live.copy(properties = live.properties ++ props)
      // the store's own parsers ARE the validators
      if (props.contains(MergeSnapshotStore.RetentionProp))
        retentionMsOf(cand)
      if (props.contains(MergeSnapshotStore.ManifestKeepProp))
        manifestKeepMsOf(cand)
      props.get(MergeSnapshotStore.BloomProp)
        .foreach(MergeSnapshotStore.parseBloomProp)
      catalog.register(cand)
    }
  }

  /** UNSET table properties (`ALTER TABLE t UNSET TBLPROPERTIES
   * ('k', …)`) — the same guarded keys refuse; absent keys are a
   * silent no-op (Delta's IF EXISTS semantics, the safe direction). */
  def unsetProperties(db: String, table: String,
                      keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    keys.foreach(guardPropKey)
    catalog.synchronized {
      val live = catalog(db, table)
      catalog.register(live.copy(properties = live.properties -- keys))
    }
  }

  private def guardPropKey(k: String): Unit = {
    require(k.trim.nonEmpty, "empty property key")
    val lc = k.toLowerCase
    require(lc != MergeSnapshotStore.HoldsProp,
      s"$k is the store's borrower index — clones write it; use " +
        "registerHold/releaseHold for cross-catalog borrowers")
    require(lc != MergeSnapshotStore.PkPhysicalProp,
      s"$k is the PRIMARY KEY's on-disk-spelling record — " +
        "renamePrimaryKeyColumn maintains it; hand-editing breaks " +
        "delete masking")
    require(lc != MergeSnapshotStore.BucketsProp,
      s"$k only moves through rebucket() — the manifest and the " +
        "property must flip together or every read refuses")
    require(!lc.startsWith(MergeSnapshotStore.CheckPropPrefix),
      s"$k is a CHECK constraint — use ALTER TABLE … ADD/DROP " +
        "CONSTRAINT (ADD validates the existing snapshot first)")
  }

  /** `DESCRIBE TABLE t` — the committed HEAD schema (logical spelling,
   * mapping metadata stripped) in Spark's own describe shape, plus the
   * registration-level trailer rows (primary key, partitioning,
   * format, location). Driver-side manifest parse only. */
  def describeTable(db: String, table: String): DataFrame = {
    val meta = catalog(db, table)
    val vs = manifestVersions(meta.location)
    val schema: Option[StructType] =
      if (vs.nonEmpty)
        Some(MergeSnapshotStore.plainLogical(
          readManifest(meta.location, vs.last).schema))
      else meta.schema
    val colRows = schema.toSeq.flatMap(_.fields.toSeq).map(f =>
      org.apache.spark.sql.Row(f.name, f.dataType.catalogString,
        if (f.nullable) "" else "not null"))
    val trailer = Seq(
      org.apache.spark.sql.Row("# primary key",
        meta.primaryKey.mkString(", "), ""),
      org.apache.spark.sql.Row("# partitioned by",
        meta.partitionBy.mkString(", "), ""),
      org.apache.spark.sql.Row("# format", meta.format, ""),
      org.apache.spark.sql.Row("# location", meta.location, ""))
    spark.createDataFrame(
      java.util.Arrays.asList((colRows ++ trailer): _*),
      StructType(Seq(
        StructField("col_name", StringType, nullable = false),
        StructField("data_type", StringType, nullable = false),
        StructField("comment", StringType, nullable = false))))
  }

  /** `SHOW CREATE TABLE t` — the one statement [[createTable]] accepts
   * to re-register this table verbatim (schema from the committed head
   * where one exists, PK as the `graft.pk` property, user properties
   * quoted; the store's bookkeeping keys are OMITTED — they are not
   * CREATE-able, and the lifecycle that wrote them maintains them;
   * a rebucketed table's `graft.nbuckets` needs no rendering because
   * [[createTable]] auto-adopts the committed head's count on
   * re-attach). With [[dropTable]]'s external semantics this is the
   * full detach/re-attach round trip as text. */
  def showCreateTable(db: String, table: String): DataFrame = {
    val meta = catalog(db, table)
    val vs = manifestVersions(meta.location)
    val schema: Option[StructType] =
      if (vs.nonEmpty)
        Some(MergeSnapshotStore.plainLogical(
          readManifest(meta.location, vs.last).schema))
      else meta.schema
    require(schema.nonEmpty,
      s"${meta.qualified} has no committed or registered schema to render")
    val cols = schema.get.fields
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    val part =
      if (meta.partitionBy.isEmpty) ""
      else meta.partitionBy.mkString(" PARTITIONED BY (", ", ", ")")
    val bookkeeping = Set(MergeSnapshotStore.HoldsProp,
      MergeSnapshotStore.PkPhysicalProp, MergeSnapshotStore.BucketsProp)
    val props = (meta.properties.view
      .filterKeys(k => !bookkeeping.contains(k.toLowerCase) &&
        !k.toLowerCase.startsWith(MergeSnapshotStore.CheckPropPrefix))
      .toMap ++
      (if (meta.hasPrimaryKey)
        Map("graft.pk" -> meta.primaryKey.mkString(","))
      else Map.empty)).toSeq.sorted
    val propsSql =
      if (props.isEmpty) ""
      else props.map { case (k, v) => s"'$k'='$v'" }
        .mkString(" TBLPROPERTIES (", ", ", ")")
    val stmt = s"CREATE TABLE ${meta.name} ($cols) USING ${meta.format}" +
      s"$part LOCATION '${meta.location}'$propsSql"
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(stmt)),
      StructType(Seq(
        StructField("createtab_stmt", StringType, nullable = false))))
  }

  def history(db: String, table: String): DataFrame = {
    val meta = catalog(db, table)
    val rows: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList()
    manifestVersions(meta.location).reverse.foreach { v =>
      val m = readManifest(meta.location, v)
      rows.add(org.apache.spark.sql.Row(
        v,
        if (m.op.isEmpty) "unknown" else m.op,
        if (m.at < 0L) null else new java.sql.Timestamp(m.at),
        m.buckets.size,
        m.carries.values.map(_.size).sum,
        m.deletes.size,
        m.nBuckets))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("timestamp", TimestampType, nullable = true),
      StructField("bucket_dirs", IntegerType, nullable = false),
      StructField("carried_files", IntegerType, nullable = false),
      StructField("delete_sidecars", IntegerType, nullable = false),
      StructField("n_buckets", IntegerType, nullable = false))))
  }

  /**
   * SHALLOW CLONE — a new table whose first manifest references the
   * source's data files (and live delete sidecars) by ABSOLUTE path,
   * without copying a byte: the Delta `CREATE TABLE … SHALLOW CLONE` /
   * Iceberg snapshot-ref story. It is a [[promote]] of the source's
   * `version` (None = head; committed and retained) into a fresh
   * location, then a catalog register of `dstDb.dstTable` with the
   * source's registration (PK, properties, the committed bucket count).
   * METADATA-ONLY — one manifest write, so cloning a 100 TB table costs
   * the same as cloning a 100 MB one; the borrowed references carry the
   * source's per-file stats lines verbatim, so the clone's skipping
   * scans prune exactly like the source's from the first read.
   *
   * The clone is a fully independent table from its first commit:
   * writes land under ITS location (row-level DML, merges, maintenance
   * all work — the scoped-commit carry keeps borrowing untouched
   * source files by reference), and its vacuum NEVER reclaims borrowed
   * directories (absolute references are another table's files; only
   * the source's own vacuum governs them, under the hold [[promote]]
   * registers). A borrower cloned through a DIFFERENT catalog is
   * covered exactly when [[registerHold]] is called on the source's
   * side; without it, that clone remains Delta's documented
   * shallow-clone contract: once the source rewrites the borrowed files
   * away and its retention window passes, its reads fail with missing
   * paths — loud, never wrong data. Sever the dependency any time with
   * `deep = true` here, or later with one [[compact]] on the clone (any
   * whole-table rewrite re-materializes every borrowed row under the
   * clone's own location).
   *
   * The catalog entry registers only on success: registering before
   * the publish leaves, on a failed publish, an entry whose reads die
   * with the generic "no manifest versions" instead of a clone failure.
   * A lost publish race refuses (the location was not fresh after
   * all). Returns the clone's first version, source version + 1.
   */
  def cloneTable(srcDb: String, srcTable: String,
                 dstDb: String, dstTable: String, dstLocation: String,
                 version: Option[Int] = None,
                 deep: Boolean = false): Int = {
    val srcMeta = catalog(srcDb, srcTable)
    val srcVer = resolveVersion(srcMeta, version)
    require(manifestVersions(dstLocation).isEmpty,
      s"$dstLocation already holds a committed table — clone into a " +
        "fresh location")
    val m = readManifest(srcMeta.location, srcVer)
    val dstMeta = srcMeta.copy(db = dstDb, name = dstTable,
      location = dstLocation,
      properties = srcMeta.properties +
        (MergeSnapshotStore.BucketsProp -> m.nBuckets.toString))
    promoteCore(srcMeta, srcVer, m, dstMeta, "clone") { (now, _) =>
      throw new java.util.ConcurrentModificationException(
        s"$dstLocation took version $now while the clone committed — " +
          "clone into a fresh location")
    }
    catalog.register(dstMeta)
    // a deep clone that fails mid-compact leaves a VALID shallow clone
    // (the borrowing version is committed); the caller can retry the
    // sever with compact()
    if (deep) compact(dstDb, dstTable,
      targetFiles = math.max(1, m.buckets.size))
    latestVersion(dstDb, dstTable)
  }

  /**
   * PROMOTE BY REFERENCE — publish `dstDb.dst`'s next version as the
   * manifest of `srcDb.src`'s head, with every file, carry and
   * delete-sidecar reference made absolute: the identity curated commit
   * (structured → curated) as one manifest write. It writes no parquet
   * and runs no Spark job; Delta's shallow clone, applied on every
   * commit rather than once.
   *
   * `dst` takes `src`'s primary key and committed bucket count, as a
   * clone does. It refuses with an IllegalArgumentException, before any
   * hold or publish, when it declares a CHECK constraint (a promote
   * writes no rows, so nothing would enforce it), or a primary key or
   * `graft.nbuckets` different from `src`'s.
   *
   * The commit goes through the funnel, stamped `promote(<db.src>@<v>)`;
   * a lost race retries unchanged (the promoted snapshot replaces the
   * table wholesale, like [[overwrite]]). Its version is at least
   * `src`'s + 1, which keeps every borrowed commit directory below
   * every later native `dst` commit, so the merge-on-read sequence rule
   * holds across the borrowed/native boundary without translation. The
   * borrowing follows [[promoteCore]]'s hold-before-publish /
   * verify-after-publish protocol: `src`'s vacuum keeps every directory
   * a retained `dst` version borrows and reclaims it once `dst` moves
   * on. Returns the published version.
   */
  def promote(srcDb: String, src: String, dstDb: String, dst: String): Int =
    jobLabel(s"store: promote $dstDb.$dst") {
      val srcMeta = catalog(srcDb, src)
      val dstMeta = catalog(dstDb, dst)
      val checks = MergeSnapshotStore.checksOf(dstMeta).map(_._1)
      require(checks.isEmpty,
        s"${dstMeta.qualified} declares CHECK constraint(s) " +
          s"${checks.mkString(", ")}: a promote writes no rows to check " +
          "— drop them, or curate through a transform")
      val (srcVer, m) = headOf(srcMeta, "promoting it")
      def lower(k: Seq[String]) = k.map(_.toLowerCase)
      require(!dstMeta.hasPrimaryKey ||
          lower(dstMeta.primaryKey) == lower(srcMeta.primaryKey),
        s"${dstMeta.qualified} declares PRIMARY KEY " +
          s"(${dstMeta.primaryKey.mkString(", ")}), ${srcMeta.qualified}'s " +
          s"is (${srcMeta.primaryKey.mkString(", ")}) — a promote borrows " +
          "the source's layout")
      require(!dstMeta.properties.contains(MergeSnapshotStore.BucketsProp) ||
          nBucketsOf(dstMeta) == m.nBuckets,
        s"${dstMeta.qualified} declares ${MergeSnapshotStore.BucketsProp}=" +
          s"${nBucketsOf(dstMeta)}, ${srcMeta.qualified}@$srcVer is " +
          s"committed with ${m.nBuckets} — a promote borrows the source's " +
          "layout")
      // the source's layout, on any registration of dst: its PK (and
      // that key's on-disk spelling, which the borrowed equality
      // sidecars bind) and its committed bucket count
      val pkDisk = MergeSnapshotStore.PkPhysicalProp
      def adopt(t: TableMeta): TableMeta = t.copy(
        primaryKey = srcMeta.primaryKey,
        properties = (t.properties - pkDisk) ++
          srcMeta.properties.get(pkDisk).map(pkDisk -> _) +
          (MergeSnapshotStore.BucketsProp -> m.nBuckets.toString))
      val adopted = adopt(dstMeta)
      val v = promoteCore(srcMeta, srcVer, m, adopted, "promote")((_, _) => ())
      if (adopted != dstMeta) catalog.synchronized {
        catalog.register(adopt(catalog(dstDb, dst)))
      }
      v
    }

  /** The borrowing commit [[promote]] and [[cloneTable]] share: `dst`'s
   * next version, at least `srcVer` + 1, is `src`@`srcVer`'s manifest
   * `m` with every reference absolute (a source ref that is already
   * absolute stays as it is: promoting a clone borrows the ORIGINAL
   * files, no chain of indirection to walk), published through the
   * funnel as `<op>(<db.src>@<srcVer>)` with `onLoss` as its loss
   * policy.
   *
   * HOLD before publish, VERIFY after: the borrower index must be
   * visible before the borrowing manifest lands, and the source
   * manifest must still exist after. This closes the borrow-vs-vacuum
   * race — vacuum expires manifests BEFORE it reads the borrower index
   * (vacuumCore forces `borrowed` only at deletion time, after the
   * expiry loop), so a vacuum pass that missed this hold must have
   * expired the source manifest before the post-publish check sees it,
   * and a pass that sees the hold skips the borrowed dirs. Either way:
   * `dst` borrows files that survive, or the commit unwinds and refuses
   * loudly — never a silently severed table within one catalog. The
   * check runs inside the funnel before its vacuum of `dst`, so an
   * unwound commit has expired none of `dst`'s versions. A commit that
   * does not land releases only the holds it added: an earlier
   * promote's hold still guards `dst`'s retained versions. */
  private def promoteCore(srcMeta: TableMeta, srcVer: Int, m: Manifest,
                          dst: TableMeta, op: String)
                         (onLoss: (Int, Manifest) => Unit): Int = {
    def abs(rel: String): String = refPath(srcMeta.location, rel)
    val borrowed = Manifest(
      m.schema,
      m.buckets.map { case (b, dir) => b -> abs(dir) },
      m.nBuckets,
      m.stats.map { case (fp, ss) => abs(fp) -> ss },
      m.strStats.map { case (fp, ss) => abs(fp) -> ss },
      m.setStats.map { case (fp, ss) => abs(fp) -> ss },
      m.deletes.map(d => d.copy(rel = abs(d.rel))),
      m.carries.map { case (b, rels) => b -> rels.map(abs) },
      rows = m.rows.map { case (fp, n) => abs(fp) -> n },
      retired = m.retired)
    val borrowedRefs = (borrowed.buckets.values ++
      borrowed.deletes.map(_.rel) ++ borrowed.carries.values.flatten)
      .filter(MergeSnapshotStore.isAbsoluteRef).toSeq
    // dst's vacuum judges its own files by their relative references;
    // an absolute one would leave them unprotected
    require(!borrowedRefs.exists(_.startsWith(s"${dst.location}/")),
      s"${srcMeta.qualified}@$srcVer borrows ${dst.qualified}'s own files")
    // owners: the source, plus — for a source that is itself a clone,
    // whose refs point at the ORIGINAL table — any registered table
    // whose location prefixes a borrowed ref
    val owners = (catalog.listAll.filter(t =>
        t.location != dst.location &&
          borrowedRefs.exists(_.startsWith(s"${t.location}/"))) ++
      Seq(srcMeta).filter(_ =>
        borrowedRefs.exists(_.startsWith(s"${srcMeta.location}/"))))
      .map(t => (t.db, t.name)).distinct
    val added = owners.filter { case (d, t) => registerHold(d, t, dst.location) }
    var landed = false
    // post-publish source check, ON DISK (the parse cache would hide an
    // expiry)
    def verify(v: Int): Unit = {
      if (borrowedRefs.nonEmpty &&
          !fs(new Path(srcMeta.location))
            .exists(manifestPath(srcMeta.location, srcVer))) {
        val mine = manifestPath(dst.location, v)
        try fs(mine).delete(mine, false)
        catch { case scala.util.control.NonFatal(_) => () }
        manifestCache.remove(mine.toString)
        throw new java.util.ConcurrentModificationException(
          s"${srcMeta.qualified}@$srcVer was vacuumed while the $op " +
            "committed — the borrowed files' survival cannot be " +
            s"guaranteed; re-run the $op against a retained version")
      }
      landed = true
    }
    val dstHead = manifestVersions(dst.location).lastOption.getOrElse(-1)
    try publish(dst, math.max(dstHead, srcVer), borrowed,
        s"$op(${srcMeta.qualified}@$srcVer)", Nil, verify)(
        (_, _) => borrowed)(onLoss)
    catch {
      case scala.util.control.NonFatal(e) =>
        if (!landed) added.foreach { case (d, t) =>
          try releaseHold(d, t, dst.location)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        throw e
    }
  }

  /**
   * CREATE TABLE — the registration statement's typed body: validate
   * and register, no data written (the store's tables are EXTERNAL —
   * the first overwrite/merge bootstraps the manifest log at the
   * location; a location already holding committed versions simply
   * RE-ATTACHES, the [[dropTable]] round-trip). The primary key and
   * partition columns must exist in the declared schema; properties
   * validate exactly like [[setProperties]] (typed values at CREATE
   * time, bookkeeping keys refused); a live registration refuses
   * unless `ifNotExists`.
   */
  def createTable(db: String, table: String, location: String,
                  schema: Option[StructType] = None,
                  primaryKey: Seq[String] = Nil,
                  partitionBy: Seq[String] = Nil,
                  format: String = "parquet",
                  properties: Map[String, String] = Map.empty,
                  ifNotExists: Boolean = false): Unit = {
    require(location.trim.nonEmpty, "CREATE TABLE needs a LOCATION — " +
      "the store's tables are external (the store owns the files)")
    MergeSnapshotStore.requireParquet(s"$db.$table", format)
    properties.keys.foreach(guardPropKey)
    schema.foreach { s =>
      (primaryKey ++ partitionBy).foreach { c =>
        require(s.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"$db.$table declares $c as a key/partition column but the " +
            s"schema has no such column (${s.fieldNames.mkString(", ")})")
      }
    }
    val meta0 = TableMeta(db, table, location, format = format,
      primaryKey = primaryKey, partitionBy = partitionBy,
      properties = properties, schema = schema)
    // RE-ATTACH adoption: a location already holding committed versions
    // re-attaches ([[dropTable]]'s round trip) — and a REBUCKETED
    // table's head manifest carries an nBuckets only the
    // (refused-in-CREATE) graft.nbuckets property could reproduce, so
    // without adoption the re-created registration would resolve the
    // store default and every read refuse on the manifest-vs-meta
    // count check. The committed head IS the authority on layout:
    // adopt its count into the registration when it differs. A fresh
    // location (no manifests) registers as declared.
    val meta = {
      val vs0 = manifestVersions(location)
      if (vs0.isEmpty) meta0
      else {
        val head = readManifest(location, vs0.last)
        if (head.nBuckets == nBucketsOf(meta0)) meta0
        else meta0.copy(properties = meta0.properties +
          (MergeSnapshotStore.BucketsProp -> head.nBuckets.toString))
      }
    }
    // the store's own parsers ARE the validators (setProperties parity)
    if (properties.contains(MergeSnapshotStore.RetentionProp))
      retentionMsOf(meta)
    if (properties.contains(MergeSnapshotStore.ManifestKeepProp))
      manifestKeepMsOf(meta)
    properties.get(MergeSnapshotStore.BloomProp)
      .foreach(MergeSnapshotStore.parseBloomProp)
    catalog.synchronized {
      if (catalog.get(db, table).isDefined) {
        if (!ifNotExists) throw new IllegalArgumentException(
          s"$db.$table is already registered — DROP TABLE first, or " +
            "CREATE TABLE IF NOT EXISTS to no-op")
      } else catalog.register(meta)
    }
  }

  /**
   * DROP TABLE — the registration leaves the catalog; `purge = true`
   * also deletes every byte under the table's location (manifests,
   * data, sidecars, tombstones). The metadata-only default is the
   * external-table semantics Delta/Spark give unmanaged tables: the
   * location survives, and re-registering the same (db, table,
   * location) re-attaches the committed history unchanged — useful as
   * "detach", and the safe direction when in doubt.
   *
   * Borrower interplay, both directions:
   *  - this table is a SOURCE with live holds (`graft.holds`
   *    non-empty): `purge` REFUSES — deleting the bytes would sever
   *    every registered borrower at read time, the exact failure the
   *    hold index exists to prevent; sever the clones (compact) or
   *    releaseHold first, or drop without purge.
   *  - this table is a BORROWER: a metadata-only drop leaves its
   *    manifests on disk, so its sources keep protecting the borrowed
   *    files (the hold auto-releases only when the manifests stop
   *    referencing them); a PURGED borrower's refs vanish with it and
   *    every source frees the space on its next vacuum pass.
   *
   * Purge deletes BEFORE unregistering: a failure mid-delete leaves
   * the registration pointing at the partial location, where every
   * read refuses loudly on the missing manifests — never a silently
   * detached half-deleted table. Returns true when data was purged.
   */
  def dropTable(db: String, table: String, purge: Boolean = false): Boolean = {
    val meta = catalog(db, table)
    if (purge) {
      // the guard reads the held locations' ACTUAL references, not the
      // raw index — a severed clone whose hold has not auto-released
      // yet (release runs on deleting vacuum passes) must not block
      val prefix = s"${meta.location}/"
      val holding = holdsOf(meta).filter { loc =>
        manifestVersions(loc).exists { v =>
          try {
            val sm = readManifest(loc, v)
            (sm.buckets.values ++ sm.deletes.map(_.rel) ++
              sm.carries.values.flatten).exists(r =>
              MergeSnapshotStore.isAbsoluteRef(r) && r.startsWith(prefix))
          } catch { case _: java.io.FileNotFoundException => false }
        }
      }
      require(holding.isEmpty,
        s"cannot PURGE ${meta.qualified}: ${holding.size} shallow " +
          s"clone(s) still borrow its files (${holding.mkString(", ")})" +
          " — sever them (compact on the clone) or releaseHold, or " +
          "drop without purge")
      // capture the retained versions BEFORE the delete empties the
      // listing — the parse cache must not serve a purged table
      val vs = manifestVersions(meta.location)
      val p = new Path(meta.location)
      val f = fs(p)
      if (f.exists(p)) f.delete(p, true)
      vs.foreach(v =>
        manifestCache.remove(manifestPath(meta.location, v).toString))
    }
    catalog.unregister(db, table)
    purge
  }

  /**
   * One-call maintenance policy — the cron-able closure of the
   * advise→act loop: consult BOTH advisors ([[deleteDebt]] for
   * merge-on-read sidecar buildup, [[bucketHealth]] per layout column
   * for layout smear) and act ONLY when one of them says so, returning
   * the [[CompactionReport]] of what the pass paid off (None = healthy,
   * nothing written, no version consumed). The pass pays the PARTIAL
   * price by default — the 100 TB posture, where smear and debt are
   * rarely uniform:
   *
   *  - debt only (no layout columns): [[compactDebt]] — rewrites only
   *    the buckets/files the sidecars name, both table kinds.
   *  - layout smear on a keyed table: the union of the ADVISED buckets
   *    (per-column [[bucketHealth]]) plus, when debt also fired, the
   *    sidecars' masked buckets ([[eqDebtBuckets]]) rewrites in ONE
   *    scoped clustered commit ([[compactBucketsClustered]] with the
   *    debt fold composed in); only when that union exceeds
   *    `partialAbove` of the table's buckets does the pass fall back
   *    to the whole-table [[compactClustered]] — at that fraction the
   *    scoped carry saves little and the full rewrite lays out every
   *    bucket fresh.
   *  - layout smear on a PK-LESS table: the same composition at FILE
   *    granularity — per-column [[fileHealth]]-advised files plus the
   *    position sidecars' addressed files ([[posDebtFiles]]) rewrite in
   *    ONE clustered file-scoped commit ([[compactFilesClustered]]);
   *    past the fraction gate the whole file set rewrites through the
   *    same path (zero carries). `filesPerBucket` is the rewritten
   *    set's output slice count here.
   *
   * Advice checks are driver-side manifest reads (the debt-bucket
   * mapping adds one small read per sidecar only when debt actually
   * fired) — a no-op call on a healthy table costs no job, so a
   * maintenance sweep over thousands of tables only ever rewrites the
   * ones that need it, and only the parts that need it.
   */
  def maintainIfAdvised(db: String, table: String,
                        layout: Seq[String] = Nil,
                        filesPerBucket: Int = 4,
                        adviseAbove: Double = 0.5,
                        adviseAtSidecars: Int = 4,
                        adviseAtRows: Long = 1L << 20,
                        partialAbove: Double = 0.5)
      : Option[CompactionReport] = {
    require(partialAbove > 0 && partialAbove <= 1,
      "partialAbove is an advised-fraction gate in (0, 1]")
    val meta = catalog(db, table)
    val debt = deleteDebt(db, table, adviseAtSidecars, adviseAtRows)
    if (layout.isEmpty) {
      if (!debt.compactAdvised) return None
      // debt alone can fire on a layout-less table (either key kind):
      // the debt fold is partial by construction
      return Some(compactDebt(db, table))
    }
    if (meta.hasPrimaryKey) {
      // keyed table with layout columns: fold smear and debt in ONE
      // clustered commit — a plain (unclustered) debt fold would smear
      // the buckets it rewrites and re-arm the layout advisor, a
      // rewrite-per-sweep ping-pong
      val smearBuckets: Set[Int] = layout.iterator.flatMap(c =>
        bucketHealth(db, table, c, adviseAbove)
          .filter(_.compactAdvised).map(_.bucket)).toSet
      if (!debt.compactAdvised && smearBuckets.isEmpty) return None
      val current = readManifest(meta.location,
        manifestVersions(meta.location).last)
      val debtBuckets =
        if (debt.compactAdvised) eqDebtBuckets(meta, current)
        else Set.empty[Int]
      val rewrite = smearBuckets ++ debtBuckets
      if (rewrite.isEmpty)
        // debt advised but every sidecar is dead (masks nothing):
        // compactDebt retires them with a metadata-only commit
        return Some(compactDebt(db, table))
      val total = (current.buckets.keySet ++ current.carries.keySet).size
      Some(
        if (total > 0 && rewrite.size.toDouble / total > partialAbove)
          compactClustered(db, table, layout.map(_ -> None), filesPerBucket)
        else
          compactBucketsClusteredCore(meta, layout.map(_ -> None),
            filesPerBucket, rewrite.toSeq.sorted, bits = 8,
            dropDeletes =
              if (debt.compactAdvised) current.deletes.map(_.rel).toSet
              else Set.empty))
    } else {
      // PK-less table with layout columns: the same composition at FILE
      // granularity — the union of per-column fileHealth-advised files
      // and the position sidecars' addressed files rewrites in ONE
      // clustered file-scoped commit; past the fraction gate the whole
      // file set rewrites (same path, zero carries — the clean
      // whole-table layout)
      val smearFiles: Set[String] = layout.iterator.flatMap(c =>
        fileHealth(db, table, c, adviseAbove)
          .filter(_.compactAdvised).map(_.file)).toSet
      if (!debt.compactAdvised && smearFiles.isEmpty) return None
      val current = readManifest(meta.location,
        manifestVersions(meta.location).last)
      val debtFiles =
        if (debt.compactAdvised) posDebtFiles(meta, current)
        else Set.empty[String]
      val rewrite = smearFiles ++ debtFiles
      if (rewrite.isEmpty) return Some(compactDebt(db, table))
      val all = listDataFiles(meta, current, None)
      val target =
        if (all.nonEmpty && rewrite.size.toDouble / all.size > partialAbove)
          all.toSet
        else rewrite
      Some(compactFilesClusteredCore(meta, layout.map(_ -> None),
        targetFiles = math.max(1, filesPerBucket), target.toSeq.sorted,
        bits = 8,
        dropDeletes =
          if (debt.compactAdvised) current.deletes.map(_.rel).toSet
          else Set.empty))
    }
  }

  /**
   * Compaction in the merge layout is bucket-granular: a PK table's
   * [[writeData]] already collapses each bucket to one file, so a full
   * rewrite IS the compacted form and `targetFiles` only shapes PK-less
   * tables (single logical bucket, parallel files) — a plain
   * `repartition(targetFiles)` would be silently re-partitioned on the
   * bucket column here.
   */
  def compact(db: String, table: String, targetFiles: Int)
      : CompactionReport = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val meta = catalog(db, table)
    val (base, _) = headOf(meta, "compacting")
    val df = readVersion(meta, base)
    val out =
      if (meta.hasPrimaryKey) df
      else df.repartition(targetFiles)
    rewriteCommit(meta, base, out, "compact")
  }

  /** The [[CompactionReport]] of a just-published rewrite: the debt paid
   * is the sidecar set the pre-rewrite manifest carried (captured BEFORE
   * the rewrite — the commit's vacuum may reclaim that manifest) minus
   * whatever survived into the new head (a full rewrite postdates every
   * sidecar, so normally all of it; a racing MoR delete can land a NEW
   * sidecar between our read and the report, which correctly does not
   * count as cleared). */
  private def compactionReport(meta: TableMeta,
                               before: Seq[DeleteFile]): CompactionReport = {
    val now = manifestVersions(meta.location).last
    val after = readManifest(meta.location, now).deletes.map(_.rel).toSet
    val cleared = before.filterNot(d => after.contains(d.rel))
    CompactionReport(now, cleared.size,
      cleared.collect { case d if d.rows >= 0 => d.rows }.sum)
  }

  /** The one base-pinned-rewrite-with-report seam [[compact]],
   * [[compactClustered]] and [[rebucket]] share: capture the base
   * manifest's sidecars, rewrite on the pinned base (refusing if the
   * table moved — maintenance never clobbers), report the debt paid. */
  private def rewriteCommit(meta: TableMeta, base: Int, df: DataFrame,
                            op: String,
      cluster: Option[(Seq[(String, (Double, Double))], Int, Int)] = None)
      : CompactionReport = {
    val before = readManifest(meta.location, base).deletes
    overwriteWith(meta, base, df, cluster, pinned = true, op = op,
      enforceChecks = false)
    compactionReport(meta, before)
  }

  /**
   * Compaction WITH VALUE CLUSTERING — the maintenance pass that restores
   * data-skipping power as a table ages: incremental merges append each
   * batch's rows wherever they arrive, so a bucket's files gradually all
   * span the full value range and [[readRange]]'s per-file stats stop
   * pruning anything. This rewrite keeps the PK-hash bucketing (point
   * lookups stay exact) but lays each bucket out in `filesPerBucket`
   * files of DISJOINT z-ranges over `dims` ([[Layout]]'s deterministic
   * equal-width slice rule — no sampling, bit-stable layout), and the
   * commit re-lifts footer stats from the rewritten files as every
   * commit does — so a range read afterwards plans ~1/filesPerBucket of
   * each bucket's files instead of all of them. Ranges default to
   * inferred clip ranges (one aggregate pass, [[Layout.resolveRanges]]'s
   * heavy-tail handling); pass them explicitly to skip the scan. Like
   * [[compact]], this is a whole-table rewrite commit with vacuum and
   * retention unchanged — but races resolve SAFELY in both directions:
   * a concurrent scoped merge that loses to the compaction refuses
   * (moved buckets) and re-runs, and the compaction itself REFUSES if
   * the table moved past the version it read (republishing the stale
   * rewrite would silently clobber the racing commit's rows — a
   * maintenance pass must never win a race it lost).
   */
  def compactClustered(db: String, table: String,
                       dims: Seq[(String, Option[(Double, Double)])],
                       filesPerBucket: Int, bits: Int = 8): CompactionReport = {
    require(filesPerBucket >= 1, "filesPerBucket must be >= 1")
    val meta = catalog(db, table)
    require(meta.hasPrimaryKey,
      s"compactClustered keeps PK bucketing — ${meta.qualified} has no PK " +
        "(PK-less tables: write through Layout.writeClustered instead)")
    val (base, _) = headOf(meta, "compacting")
    val df = readVersion(meta, base)
    // range inference runs over the dims PROMOTED into the manifest's
    // epoch-based double space (dates as days, timestamps as micros) —
    // the same space readRange prunes in, so "cluster the event table
    // by time" and time-window reads speak one coordinate system. A
    // raw date would not even cast to double; a raw timestamp would
    // silently land in SECONDS and disagree with the micros stats.
    val shadow = df.select(dims.map { case (c, _) =>
      promoted(col(c), df.schema(c).dataType).as(c) }: _*)
    val resolved = Layout.resolveRanges(shadow, dims)
    rewriteCommit(meta, base, df, "compact-clustered",
      Some((resolved, bits, filesPerBucket)))
  }

  /** A column promoted into the manifest's epoch-based double space —
   * the shared coordinate system of footer stats, promoted range
   * predicates, and cluster layouts. STRING columns project through
   * their first [[MergeSnapshotStore.StrKeyBytes]] UTF-8 bytes read as
   * a big-endian integer (exact in a double: 48 bits < 2^53, and
   * monotone in the same UTF-8 byte order the string bounds use), so a
   * string dimension can drive cluster-on-compact: routing only needs a
   * monotone binning — ties beyond the projected bytes merely share
   * slice boundaries, and the re-lifted [[footerStrBounds]] describe
   * the files that were ACTUALLY written, so `readStringRange`/
   * `readPrefix` pruning stays exact. Two documented caveats of the
   * projection: keys sharing a long common prefix (URLs!) all project
   * to one point — cluster those on a derived key (reversed host,
   * stripped scheme) instead; and digit-dense keys occupy a sparse
   * slice of byte space, so equal-width z-slices may populate fewer
   * than filesPerBucket files per bucket — pruning still improves, but
   * exact file-count layouts want a numeric derived key. */
  private def promoted(c: Column, dt: DataType): Column = dt match {
    case DateType => org.apache.spark.sql.functions.unix_date(c).cast("double")
    case TimestampType =>
      org.apache.spark.sql.functions.unix_micros(c).cast("double")
    case StringType =>
      import org.apache.spark.sql.functions.{concat, conv, encode, hex, lit, substring}
      conv(hex(substring(concat(encode(c, "UTF-8"),
          lit(Array.fill[Byte](MergeSnapshotStore.StrKeyBytes)(0))),
        1, MergeSnapshotStore.StrKeyBytes)), 16, 10).cast("double")
    case _ => c
  }

  /** Write `df` grouped by PK bucket under data/c<next>; returns the
   * bucket -> relative-dir map of what was actually produced, plus the
   * per-file column stats measured from the written files. One shuffle
   * proportional to the committed rows keeps files at one-per-bucket
   * (the optimized-write pattern); the table itself never reshuffles.
   * The shuffle routes whole buckets to min(nBuckets, cores) write
   * tasks, not one task per bucket: `buckets` (the ids the write may
   * produce; empty = all of them) are dealt round-robin in id order
   * through [[Layout.bijectiveTokens]], so a scoped merge's touched
   * buckets spread evenly however few or clustered they are, and each
   * bucket still lands in exactly one task, whose sort by `__b` writes
   * it as one file. PK-less tables land in one logical bucket but KEEP
   * `df`'s own partitioning, so executors still write their files in
   * parallel.
   *
   * Stats are the Delta/Iceberg stats-in-manifest story: every NUMERIC
   * column's min/max per written file, lifted from the PARQUET FOOTERS
   * the write itself just produced (the Iceberg write-metrics pattern)
   * — per-commit cost is a footer read per written file (~KB each),
   * never a second scan of the written data; a scoped merge pays only
   * its touched buckets' footers, and above
   * [[MergeSnapshotStore.FooterInlineFiles]] files the footers are
   * read by a tiny distributed job instead of a driver loop. Footer
   * min/max is what the writer measured from the written pages, so
   * stats and data cannot disagree. [[readRange]]/[[pointLookup]]
   * prune whole files against the manifest before any footer is
   * touched at READ time — the point of copying the bounds up into the
   * manifest. A file where a column is all-NULL (or whose footer
   * carries no usable bounds — NaN-tainted float/double chunks, a
   * stats-less writer) gets no stats line for it and pruned reads keep
   * the file (conservative). Every table writes parquet: a table
   * registered with another format is refused here, before any file
   * is written.
   *
   * Crash/concurrency safety: files go to a `.tmp-` directory first and
   * a successful write renames it into place. Both paths carry a
   * per-attempt NONCE, so no two attempts — crashed, concurrent, or
   * rebased — can ever collide on a directory; `next` in the name is a
   * human-readable label only (a rebased commit may publish its
   * `c000005-*` dir under manifest v6). Leftovers from crashed or
   * race-losing attempts are unreferenced by every manifest and are
   * reclaimed by the vacuum tombstone cycle. */
  private def writeData(meta: TableMeta, next: Int, df: DataFrame,
                        pk: Seq[String],
                        cluster: Option[(Seq[(String, (Double, Double))], Int, Int)] = None,
                        enforceChecks: Boolean = true,
                        publishSchema: StructType = new StructType(),
                        buckets: Seq[Int] = Nil)
      : (SortedMap[Int, String], Map[String, Seq[ColStat]],
         Map[String, Seq[StrStat]], Map[String, Seq[SetStat]],
         Map[String, Long]) = {
    MergeSnapshotStore.requireParquet(meta.qualified, meta.format)
    // set-stats misconfiguration fails BEFORE the write job: an opted
    // column must exist and carry a type whose canonical string is
    // stable across the probe and cast sides
    requireUnreserved(meta, df.schema.fieldNames.toSeq)
    // CHECK constraints ride the write job itself: the guard is a
    // filter whose Or short-circuits in codegen, so a conforming row
    // pays one predicate eval and a violating row raises with the
    // constraint name and its own JSON image (to_json evaluates only on
    // violation) — in-flight enforcement, no extra validation pass, no
    // version consumed (the publish never runs). SQL CHECK semantics:
    // only FALSE violates; NULL passes (coalesce to true).
    // Data-PRESERVING maintenance rewrites (compact*, debt folds,
    // rebucket) skip the guard: they move existing rows, never mint
    // them, and a RESTORE to a pre-constraint version (metadata-only,
    // never re-validated — Delta's contract too) would otherwise wedge
    // every maintenance pass on the table until the constraint is
    // dropped. DML stays enforced: UPDATE mints new values, and INSERT/
    // MERGE/overwrite introduce rows.
    val checks =
      if (enforceChecks) MergeSnapshotStore.checksOf(meta) else Nil
    val checked0 = checks.foldLeft(df) {
      case (d, (name, predSql)) =>
        d.filter(coalesce(expr(predSql), lit(true)) ||
          raise_error(concat(
            lit(s"CHECK constraint $name ($predSql) violated by row: "),
            to_json(struct(d.columns.map(col): _*)))).isNotNull)
    }
    // column-mapping write seam: files ALWAYS spell columns physically.
    // The frame arrives logical (user-facing names); when the schema
    // this commit publishes carries renames, swap to the physical
    // spelling here — one no-op-for-most-tables rename pass — and
    // translate the cluster dims alongside — and the PK (a
    // renamePrimaryKeyColumn'd key hashes under its physical spelling
    // below). Set-/bloom-property columns never rename (refused), so
    // their names are identical in both spellings.
    val renameMap: Map[String, String] =
      if (!MergeSnapshotStore.hasRenames(publishSchema)) Map.empty
      else publishSchema.fields.toSeq.collect {
        case fld if MergeSnapshotStore.physicalOf(fld) != fld.name =>
          fld.name.toLowerCase -> MergeSnapshotStore.physicalOf(fld)
      }.toMap
    def physName(c: String): String = renameMap.getOrElse(c.toLowerCase, c)
    val checked =
      if (renameMap.isEmpty) checked0
      else checked0.columns.foldLeft(checked0)((d, c) =>
        renameMap.get(c.toLowerCase)
          .map(p => d.withColumnRenamed(c, p)).getOrElse(d))
    val physCluster = cluster.map { case (dims, bits, fpb) =>
      (dims.map { case (c, r) => physName(c) -> r }, bits, fpb)
    }
    val setCols = meta.properties.get(MergeSnapshotStore.SetStatsProp)
      .map(_.split(',').iterator.map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    setCols.foreach { c =>
      require(df.schema.fieldNames.contains(c),
        s"${MergeSnapshotStore.SetStatsProp} names '$c' which " +
          s"${meta.qualified} does not have (columns: " +
          s"${df.schema.fieldNames.mkString(",")})")
      require(MergeSnapshotStore.setStatsSupported(df.schema(c).dataType),
        s"${MergeSnapshotStore.SetStatsProp} column '$c' has type " +
          s"${df.schema(c).dataType.simpleString} — set-stats supports " +
          "string/boolean/date/integral columns only")
    }
    val bloomCols = meta.properties.get(MergeSnapshotStore.BloomProp)
      .map(MergeSnapshotStore.parseBloomProp).getOrElse(Nil)
    bloomCols.foreach { case (c, _) =>
      require(df.schema.fieldNames.contains(c),
        s"${MergeSnapshotStore.BloomProp} names '$c' which " +
          s"${meta.qualified} does not have")
    }
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val rel = f"data/c$next%06d-$nonce"
    val dataDir = new Path(s"${meta.location}/$rel")
    val tmpDir = new Path(f"${meta.location}/data/.tmp-c$next%06d-$nonce")
    val f = fs(dataDir)
    // the frame is physical-named past `checked` — a renamed PK (the
    // guided renamePrimaryKeyColumn path) must hash under its physical
    // spelling here, the same value column either way
    val physPk = pk.map(physName)
    val bucketed = (physPk, physCluster) match {
      case (ks, Some((dims, bits, fpb))) if ks.nonEmpty =>
        // cluster-on-compact: each PK bucket splits into fpb files of
        // DISJOINT z ranges (fpb = 1 still sorts the bucket by __z, so
        // its row groups carry tight bounds). The (bucket, slice) pair
        // routes through a bijective token — Layout.cluster's
        // exact-routing trick, slice ids from the SHARED Layout.sliceOf
        // rule — so every file holds exactly one slice of one bucket
        // and the re-lifted footer stats stay one-slice tight; the
        // (__b, __z) sort satisfies the writer's partition-column
        // ordering (no order-destroying extra sort).
        val z = Layout.zValue(dims.map { case (c, r) =>
          (promoted(col(c), checked.schema(c).dataType), r) }, bits)
        val parts = nBucketsOf(meta) * fpb
        val tokens = array(Layout.bijectiveTokens(parts).map(lit): _*)
        checked.withColumn("__b", bucketOf(meta, ks.map(col)))
          .withColumn("__z", z)
          .withColumn("__t", element_at(tokens,
            col("__b") * lit(fpb) + Layout.sliceOf("__z", dims.size, bits, fpb)
              + lit(1)))
          .repartition(parts, col("__t"))
          .sortWithinPartitions(col("__b"), col("__z"))
          .drop("__z", "__t")
      case (ks, _) if ks.nonEmpty =>
        val n = nBucketsOf(meta)
        val tasks = math.min(n, spark.sparkContext.defaultParallelism).max(1)
        val tokens = Layout.bijectiveTokens(tasks)
        val rank = (if (buckets.isEmpty) 0 until n else buckets.sorted)
          .zipWithIndex.toMap
        // bucket id -> its task's token; an id outside `buckets` (a
        // stray row the caller's check refuses after the write) still
        // routes to some task, so the write itself never fails on it
        val tokenOf = array((0 until n).map(b =>
          lit(tokens(rank.getOrElse(b, b) % tasks))): _*)
        checked.withColumn("__b", bucketOf(meta, ks.map(col)))
          .withColumn("__t", element_at(tokenOf, col("__b") + 1))
          .repartition(tasks, col("__t"))
          .drop("__t")
      case _ => checked.withColumn("__b", lit(0))
    }
    // NOTE (r22, measured and rejected): re-hosting this write in an
    // AQE-off clone session collapses the per-write stage-
    // materialization jobs (t30: 77→50 jobs) but ALSO strips adaptive
    // planning from the fold/join plan UNDER the write — broadcast
    // conversion and partition coalescing there are worth far more
    // than the staging latency (store board measured +11..+59% with
    // the re-host: s17 2.44→3.88, t28 2.55→3.44, t30 4.38→5.82).
    // opted-in columns get parquet-native bloom filters written into
    // every file (row-group-level equality skipping on read; the
    // manifest carries nothing — blooms live where they amortize)
    val writer = bloomCols.foldLeft(
        bucketed.write.format("parquet").mode("errorifexists")) {
      case (w, (c, ndv)) => w
        .option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    jobPhase("write")(writer.partitionBy("__b").save(tmpDir.toString))
    if (!f.rename(tmpDir, dataDir))
      throw new IllegalStateException(s"data commit rename failed: $tmpDir -> $dataDir")
    val BucketDir = "^__b=(\\d+)$".r
    val found = SortedMap(f.listStatus(dataDir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case BucketDir(b) if st.isDirectory => Some(b.toInt -> s"$rel/__b=$b")
        case _ => None
      }
    }: _*)
    // per-table opt-out (the Delta dataSkippingNumIndexedCols=0 story):
    // a table whose reads never carry numeric range predicates — a
    // PK-point-lookup-only index table, a 1-row stats table — can skip
    // the per-commit stats measurement job entirely; pruned reads then
    // conservatively keep all its files
    // measured over the WRITTEN files, so the names here are PHYSICAL
    // (checked's post-rename schema) — exactly how stats lines key
    val statCols =
      if (meta.properties.get(MergeSnapshotStore.StatsProp).contains("false")) Nil
      else checked.schema.fields.toSeq
        .filter(sf => sf.name != "__b" && (sf.dataType.isInstanceOf[NumericType] ||
          sf.dataType == DateType || sf.dataType == TimestampType))
        .map(_.name)
    // string columns get TRUNCATED lexicographic bounds (StrStat) — the
    // skipping story for URL prefixes and lexicographic ids; same
    // per-table opt-out
    val strCols =
      if (meta.properties.get(MergeSnapshotStore.StatsProp).contains("false")) Nil
      else checked.schema.fields.toSeq
        .filter(sf => sf.name != "__b" && sf.dataType == StringType)
        .map(_.name)
    val (stats: Map[String, Seq[ColStat]], strStats: Map[String, Seq[StrStat]],
         fileRows: Map[String, Long]) =
      if ((statCols.isEmpty && strCols.isEmpty) || found.isEmpty)
        (Map.empty[String, Seq[ColStat]], Map.empty[String, Seq[StrStat]],
          Map.empty[String, Long])
      else {
        // enumerate the just-written data files (driver-side listing of
        // the bucket dirs already produced above — manifest-sized)
        val rels = found.values.toSeq.flatMap { rel =>
          f.listStatus(new Path(s"${meta.location}/$rel")).toSeq
            .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith("."))
            .map(st => s"$rel/${st.getPath.getName}")
        }
        val bounds: Seq[(String, Seq[(String, Double, Double)],
                         Seq[(String, String, Option[String])], Long)] =
          if (rels.size <= MergeSnapshotStore.FooterInlineFiles) {
            val conf = spark.sparkContext.hadoopConfiguration
            rels.map { rel =>
              val (nb, sb, n) = MergeSnapshotStore.footerAllBounds(conf,
                new Path(s"${meta.location}/$rel"), statCols, strCols)
              (rel, nb, sb, n)
            }
          } else {
            // footer reads are per-file metadata I/O — at a 10^3..10^4
            // file commit the driver loop would serialize thousands of
            // round-trips, so ship them to executors. The Hadoop conf
            // is rebuilt from its own entries (it is not serializable).
            val confKv = {
              val it = spark.sparkContext.hadoopConfiguration.iterator()
              val buf = Seq.newBuilder[(String, String)]
              while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
              buf.result()
            }
            val bc = spark.sparkContext.broadcast(confKv)
            val loc = meta.location
            val cols = statCols
            val scols = strCols
            jobPhase("stats")(spark.sparkContext
              .parallelize(rels, math.max(1, rels.size / 64))
              .mapPartitions { it =>
                val c = new org.apache.hadoop.conf.Configuration(false)
                bc.value.foreach { case (k, v) => c.set(k, v) }
                it.map { rel =>
                  val (nb, sb, n) = MergeSnapshotStore.footerAllBounds(c,
                    new Path(s"$loc/$rel"), cols, scols)
                  (rel, nb, sb, n)
                }
              }.collect().toSeq) // manifest-sized: one entry per file
          }
        (bounds.collect { case (rel, ss, _, _) if ss.nonEmpty =>
          rel -> ss.map { case (c, mn, mx) => ColStat(c, mn, mx) }
        }.toMap,
          bounds.collect { case (rel, _, ys, _) if ys.nonEmpty =>
            rel -> ys.map { case (c, lo, hi) => StrStat(c, lo, hi) }
          }.toMap,
          bounds.collect { case (rel, _, _, n) if n >= 0L => rel -> n }
            .toMap)
      }
    // VALUE-SET stats for the opted-in columns: ONE column-pruned data
    // pass over the written files (footers cannot yield distinct sets —
    // this is why the property is an opt-in cost contract), aggregated
    // per file by the size-capped set. Memory stays O(cap) per file;
    // an over-cap file yields null and records no line (conservative
    // keep); an all-null file records the EMPTY set (prunes every
    // probe). Values travel as Spark's cast-to-string — the exact form
    // the walk canonicalizes equality literals into.
    val setStats: Map[String, Seq[SetStat]] =
      if (setCols.isEmpty || found.isEmpty) Map.empty
      else {
        val capSet = org.apache.spark.sql.functions.udaf(
          new MergeSnapshotStore.CappedSetAgg(
            MergeSnapshotStore.SetStatsMaxValues),
          org.apache.spark.sql.Encoders.STRING)
        val written = spark.read.parquet(dataDir.toString)
        val aggs = setCols.map(c => capSet(col(c).cast("string")))
        val rows = jobPhase("stats")(written.groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*).collect())
        rows.flatMap { r =>
          val p = r.getString(0)
          val cut = p.lastIndexOf("/data/c")
          if (cut < 0) None
          else Some(p.substring(cut + 1) -> setCols.zipWithIndex.flatMap {
            case (c, i) =>
              if (r.isNullAt(1 + i)) None // over cap: no line
              else Some(SetStat(c, r.getSeq[String](1 + i).sorted))
          })
        }.collect { case (f, ss) if ss.nonEmpty => f -> ss }.toMap
      }
    (found, stats, strStats, setStats, fileRows)
  }

  private def dropBucketCol(s: StructType): StructType =
    StructType(s.fields.filterNot(_.name == "__b"))

  /** Keep the last `keepVersions` manifests; tombstone bucket directories
   * no retained manifest references and delete them once their tombstone
   * is older than the table's retention horizon ([[retentionMsOf]] —
   * per-table property, store default as fallback; a dir can never be re-referenced —
   * manifests only carry forward refs that are still live — so a
   * tombstone is permanent). Runs on every commit, so overdue tombstones
   * from earlier commits are purged even when nothing expired this time.
   * Directories referenced ONLY through carried-file lines additionally
   * reclaim their NON-carried files (a partial debt fold's rewritten
   * leftovers) under the same retention discipline, clocked by a
   * `_carry_only_at` marker from the moment the last dir-referencing
   * manifest expired. */
  private def vacuum(meta: TableMeta, priorVersions: Seq[Int]): Unit = {
    val all = priorVersions :+ (priorVersions.lastOption.getOrElse(-1) + 1)
    vacuumCore(meta, all, retentionMsOf(meta))
    ()
  }

  /**
   * Callable VACUUM — Delta's `VACUUM t [RETAIN n HOURS]`, the missing
   * end of the takedown story: merge-on-read erasure is only LOGICAL
   * until the masked files' directories age out, and the commit-
   * triggered vacuum never fires on a commit-quiet table, so "bytes
   * gone within N days" needs a pass an operator (or cron) can invoke
   * directly. This runs exactly the commit-path expiry — keepVersions
   * stays the manifest floor, unreferenced directories tombstone and
   * reclaim only after the table's retention horizon
   * ([[MergeSnapshotStore.RetentionProp]], else the store default) —
   * so calling it never deletes anything a commit's own vacuum would
   * have kept. `retainMs` overrides the horizon for THIS pass only
   * (Delta's RETAIN clause); shrinking it below the table's horizon is
   * the operator's assertion that no reader/writer is in flight, the
   * same contract Delta documents on RETAIN 0.
   *
   * Consumes no version: vacuum is physical-space lifecycle, not a
   * table mutation — history, reads and the change feed see the exact
   * same snapshots before and after (answer invariance is oracle-
   * pinned). Returns what the pass did, so a retention sweep can
   * alert on tables whose reclaim is stuck waiting on the horizon.
   *
   * `dryRun = true` (Delta's `VACUUM … DRY RUN`) reports what the pass
   * WOULD do — same counts, including directories whose retention
   * clock has not started yet counting as reclaimable-at-horizon —
   * while touching nothing: no manifest expiry, no tombstone writes,
   * no deletion.
   *
   * TIME-BASED MANIFEST RETENTION (opt-in,
   * [[MergeSnapshotStore.ManifestKeepProp]]): a table promising
   * "time travel for N hours" sets the property and manifests younger
   * than the window survive expiry even beyond the keepVersions count
   * (the floor is unchanged — at least keepVersions always remain);
   * manifests with no provenance stamp age out by count as before.
   */
  def vacuum(db: String, table: String,
             retainMs: Option[Long] = None,
             dryRun: Boolean = false): VacuumReport = {
    val meta = catalog(db, table)
    val vs = manifestVersions(meta.location)
    require(vs.nonEmpty, s"no manifest versions at ${meta.location}")
    retainMs.foreach(r => require(r >= 0, "retainMs must be >= 0"))
    vacuumCore(meta, vs, retainMs.getOrElse(retentionMsOf(meta)), dryRun)
  }

  /** The retention CRON's one-call form: vacuum every committed table
   * of `db` under its own horizon (skipping empty registrations), one
   * report per table — over thousands of tables a sweep costs manifest
   * reads plus whatever is genuinely reclaimable, and the reports say
   * which tables are stuck waiting on their windows or on borrowers. */
  def vacuumAll(db: String, dryRun: Boolean = false): Map[String, VacuumReport] =
    catalog.list(db).flatMap { meta =>
      if (manifestVersions(meta.location).isEmpty) None
      else Some(meta.name -> vacuum(db, meta.name, dryRun = dryRun))
    }.toMap

  /** A table's retention horizon in WALL-CLOCK time: its
   * [[MergeSnapshotStore.RetentionProp]] property if set, else this
   * store's constructor default. Per-TABLE because the horizon is a
   * compliance number (a GDPR corpus promises erasure in days; a
   * scratch table wants minutes), not a deployment constant. */
  private[graft] def retentionMsOf(meta: TableMeta): Long =
    meta.properties.get(MergeSnapshotStore.RetentionProp) match {
      case None => vacuumRetentionMs
      case Some(s) =>
        val ms = try s.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"${MergeSnapshotStore.RetentionProp}='$s' on " +
              s"${meta.qualified} is not a millisecond count")
        }
        require(ms >= 0,
          s"${MergeSnapshotStore.RetentionProp} must be >= 0 for ${meta.qualified}")
        ms
    }

  /** A table's guaranteed time-travel window in ms (0 = none): its
   * [[MergeSnapshotStore.ManifestKeepProp]] property. */
  private def manifestKeepMsOf(meta: TableMeta): Long =
    meta.properties.get(MergeSnapshotStore.ManifestKeepProp) match {
      case None => 0L
      case Some(s) =>
        val ms = try s.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"${MergeSnapshotStore.ManifestKeepProp}='$s' on " +
              s"${meta.qualified} is not a millisecond count")
        }
        require(ms >= 0,
          s"${MergeSnapshotStore.ManifestKeepProp} must be >= 0 for " +
            meta.qualified)
        ms
    }

  /** The borrower locations indexed on `meta` (see
   * [[MergeSnapshotStore.HoldsProp]]). */
  private def holdsOf(meta: TableMeta): Seq[String] =
    meta.properties.get(MergeSnapshotStore.HoldsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** Index `borrowerLocation` as a shallow-clone borrower of
   * `db.table`'s files, so this table's vacuum checks that location's
   * retained manifests before reclaiming anything ([[MergeSnapshotStore.HoldsProp]]).
   * [[promote]] and [[cloneTable]] call this themselves; call it
   * EXPLICITLY when the clone was created through a DIFFERENT catalog
   * (the same table registered in two catalogs shares files but not
   * properties — without the registration that borrower is invisible
   * here and remains the documented sever liability). Idempotent;
   * true when the hold was not there before. */
  def registerHold(db: String, table: String,
                   borrowerLocation: String): Boolean = {
    require(borrowerLocation.trim.nonEmpty, "borrowerLocation is empty")
    // read-modify-write on the property: serialized on the catalog so
    // concurrent cloners of the same source cannot lose each other's
    // hold (cross-PROCESS raciness is the metastore's to arbitrate)
    catalog.synchronized {
      val live = catalog(db, table)
      val holds = holdsOf(live)
      val adding = !holds.contains(borrowerLocation)
      if (adding)
        catalog.register(live.copy(properties = live.properties +
          (MergeSnapshotStore.HoldsProp ->
            (holds :+ borrowerLocation).mkString(","))))
      adding
    }
  }

  /** Drop `borrowerLocation` from `db.table`'s borrower index — the
   * explicit release for a borrower vacuum's auto-release cannot see
   * (severed in another catalog, or its location deleted wholesale).
   * After this, nothing shields that clone from the source's reclaim:
   * only call it when the borrower is truly severed or gone. */
  def releaseHold(db: String, table: String,
                  borrowerLocation: String): Unit = {
    catalog.synchronized {
      val live = catalog(db, table)
      val kept = holdsOf(live).filterNot(_ == borrowerLocation)
      catalog.register(live.copy(properties =
        if (kept.isEmpty) live.properties - MergeSnapshotStore.HoldsProp
        else live.properties +
          (MergeSnapshotStore.HoldsProp -> kept.mkString(","))))
    }
  }

  private def vacuumCore(meta: TableMeta, all: Seq[Int],
                         retainMs: Long,
                         dryRun: Boolean = false): VacuumReport = {
    var manifestsExpired = 0
    var dirsReclaimed = 0
    var carryFilesReclaimed = 0
    var dirsAwaitingHorizon = 0
    var borrowedSkipped = 0
    val f = fs(new Path(meta.location))
    // expiry candidates: past the keepVersions FLOOR, and — when the
    // table promises a time-travel window — older than it (a manifest
    // without a provenance stamp ages out by count, as always)
    val keepMs = manifestKeepMsOf(meta)
    val nowForKeep = System.currentTimeMillis()
    val expired = all.dropRight(keepVersions).filter { v =>
      keepMs == 0L || {
        val at =
          try readManifest(meta.location, v).at
          catch { case _: java.io.FileNotFoundException => -1L }
        at < 0L || nowForKeep - at >= keepMs
      }
    }
    // CLONE-AWARE deletion guard: a shallow clone borrows this table's
    // files by ABSOLUTE manifest reference, and a vacuum that cannot
    // see the borrowers severs them at read time — Delta documents the
    // liability; this store does better through the
    // [[MergeSnapshotStore.HoldsProp]] borrower index. Before anything
    // is deleted, read each HELD location's retained manifests
    // (driver-side, manifest-sized, parse-cached — O(borrowers ×
    // versions), never the whole catalog) and skip what they still
    // borrow. A hold whose location has committed manifests but no
    // remaining reference into us auto-releases here (a sever-compact,
    // or the borrower's own expiry); a hold with NO manifests yet is
    // kept — that is a clone between its hold registration and its
    // first publish, and dropping it would re-open the race the
    // registration order exists to close. Lazy — a pass with nothing
    // to delete reads no borrower manifest. Borrowers never registered
    // (another catalog, no registerHold call) remain the documented
    // residual liability.
    lazy val borrowed: Set[String] = {
      val out = Set.newBuilder[String]
      val prefix = s"${meta.location}/"
      // the LIVE entry's holds: `meta` was read when the commit began,
      // and a clone that registered its hold while this commit wrote
      // (then published and verified against a still-retained
      // manifest) is visible only there
      val holds = holdsOf(catalog.get(meta.db, meta.name).getOrElse(meta))
      val releasable = Seq.newBuilder[String]
      holds.foreach { loc =>
        val vs2 = manifestVersions(loc)
        var refsHere = false
        vs2.foreach { v =>
          try {
            val sm = readManifest(loc, v)
            (sm.buckets.values ++ sm.deletes.map(_.rel) ++
              sm.carries.values.flatten).foreach { r =>
              if (MergeSnapshotStore.isAbsoluteRef(r) && r.startsWith(prefix)) {
                out += r
                refsHere = true
              }
            }
          } catch { case _: java.io.FileNotFoundException => () }
        }
        if (vs2.nonEmpty && !refsHere) releasable += loc
      }
      val done = releasable.result()
      if (done.nonEmpty && !dryRun) catalog.synchronized {
        // re-read the LIVE entry inside the lock — a concurrent
        // registerHold must not be clobbered by this pass's stale copy
        val live = catalog.get(meta.db, meta.name).getOrElse(meta)
        val kept = holdsOf(live).filterNot(done.contains)
        catalog.register(live.copy(properties =
          if (kept.isEmpty) live.properties - MergeSnapshotStore.HoldsProp
          else live.properties +
            (MergeSnapshotStore.HoldsProp -> kept.mkString(","))))
      }
      out.result()
    }
    def isBorrowed(absDir: String): Boolean =
      borrowed.contains(absDir) ||
        borrowed.exists(_.startsWith(s"$absDir/"))
    expired.foreach { v =>
      val p = manifestPath(meta.location, v)
      if (dryRun) { if (f.exists(p)) manifestsExpired += 1 }
      else {
        if (f.delete(p, false)) manifestsExpired += 1
        // expiry invalidates the parse cache HERE (not per-hit): a
        // same-store read of a vacuumed version must fail loudly
        manifestCache.remove(p.toString)
      }
    }
    // referenced = every dir ANY still-existing manifest points at —
    // re-listed AFTER the expiry deletes, so a manifest a concurrent
    // writer published while this vacuum ran protects its directories
    // (computing from only OUR retained set would tombstone a live
    // commit's dirs). A manifest a concurrent vacuum deletes between
    // the listing and the read contributes nothing — its references
    // were expired either way.
    // two reference grades: a dir some retained manifest names as a
    // BUCKET or SIDECAR entry must survive whole (pinned readers scan
    // the directory); a dir referenced ONLY through carried-file lines
    // needs just those files — its other files are the rewritten
    // siblings a partial debt fold left behind, reclaimable
    // file-granularly under the same retention discipline
    val (refDirs, refCarryFiles) = {
      val dirs = Set.newBuilder[String]
      val carries = Set.newBuilder[String]
      // a DRY run deleted nothing, so the would-expire manifests are
      // still listed — exclude them here or the report under-counts
      // exactly the reclaim the real pass would perform
      manifestVersions(meta.location)
        .filterNot(v => dryRun && expired.contains(v)).foreach { v =>
        try {
          val m = readManifest(meta.location, v)
          // delete sidecars are manifest-referenced directories exactly
          // like bucket dirs: a live sidecar must survive vacuum, and a
          // cleared one ages out through the same tombstone retention
          dirs ++= m.buckets.values
          dirs ++= m.deletes.map(_.rel)
          carries ++= m.carries.values.flatten
        }
        catch { case _: java.io.FileNotFoundException => () }
      }
      (dirs.result(), carries.result())
    }
    val referenced = refDirs ++
      refCarryFiles.map(rel => rel.substring(0, rel.lastIndexOf('/')))
    val now = System.currentTimeMillis()
    val dataRoot = new Path(s"${meta.location}/data")
    if (f.exists(dataRoot)) {
      // a dir listed here can vanish before the inner listing: a racing
      // writeData renames its `.tmp-c…` dir to final mid-walk, and a
      // racing vacuum can reap an expired dir we also saw. Either way
      // the dir's CURRENT state belongs to the next vacuum — skip it;
      // skipping never deletes early, it only delays cleanup one commit
      def listOrEmpty(p: Path): Seq[FileStatus] =
        try f.listStatus(p).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      listOrEmpty(dataRoot).filter(_.isDirectory).foreach { commit =>
        val cname = commit.getPath.getName
        listOrEmpty(commit.getPath).filter(_.isDirectory).foreach { bdir =>
          if (!referenced.contains(s"data/$cname/${bdir.getPath.getName}")) {
            val tomb = new Path(bdir.getPath, "_expired_at")
            // A 0-byte or garbled tombstone (crash mid-write on a store
            // without atomic create) must not wedge vacuum — and vacuum
            // runs on every commit, so a single bad tombstone would fail
            // ALL future commits. Unparseable content restarts the
            // retention clock at `now`: the safe direction (delete later,
            // never earlier).
            val expiredAt =
              if (f.exists(tomb)) {
                readTombstoneEpoch(f, tomb) match {
                  case TombstoneEpoch(e) => e
                  case TombstoneGarbled =>
                    // Repair a garbled tombstone. Hadoop rename does NOT
                    // overwrite an existing destination on HDFS/object
                    // stores (only RawLocalFileSystem's POSIX renameTo
                    // does), so the stale file must be dropped first or
                    // the repair silently no-ops and this branch returns
                    // `now` on every commit — a permanent space leak.
                    if (!dryRun) {
                      f.delete(tomb, false)
                      writeTombstone(f, tomb, now)
                    }
                    now
                  case TombstoneUnreadable =>
                    // transient read failure: the on-disk epoch may be old
                    // and valid — leave the file alone and act as if the
                    // clock started now (delete later, never earlier); a
                    // readable pass on a future commit uses the real epoch
                    now
                }
              } else {
                // first observation: start the retention clock (hidden
                // `_`-prefixed file — parquet readers mid-scan ignore it)
                if (!dryRun) writeTombstone(f, tomb, now)
                now
              }
            if (now - expiredAt >= retainMs) {
              if (isBorrowed(s"${meta.location}/data/$cname/" +
                  bdir.getPath.getName))
                borrowedSkipped += 1
              else if (dryRun) dirsReclaimed += 1
              else if (f.delete(bdir.getPath, true)) dirsReclaimed += 1
            } else dirsAwaitingHorizon += 1
          } else {
            // a racing vacuum can tombstone a commit's dirs between its
            // data rename and manifest publish — and land AFTER that
            // commit's clearTombstones swept. A tombstone on a dir that
            // is REFERENCED now is stale by definition: drop it here so
            // a later genuine expiry starts a fresh retention clock
            // instead of inheriting the pre-publish epoch and deleting
            // early under a pinned reader.
            val tomb = new Path(bdir.getPath, "_expired_at")
            try { if (!dryRun && f.exists(tomb)) f.delete(tomb, false) }
            catch { case scala.util.control.NonFatal(_) => () }
            val relDir = s"data/$cname/${bdir.getPath.getName}"
            if (!refDirs.contains(relDir)) {
              // referenced ONLY through carried-file lines: the other
              // files are a partial fold's rewritten leftovers. Reclaim
              // them file-granularly under the same retention horizon,
              // clocked from when the dir FIRST became carry-only (a
              // reader pinned on the just-expired dir-referencing
              // manifest gets its full window before any file under it
              // disappears). The carried set only ever SHRINKS across
              // versions (folds subtract, nothing re-carries a file a
              // retained manifest doesn't name), so a file observed
              // non-carried stays non-carried — deletion is permanent-
              // safe like the dir tombstones.
              val marker = new Path(bdir.getPath, "_carry_only_at")
              val since =
                if (f.exists(marker)) readTombstoneEpoch(f, marker) match {
                  case TombstoneEpoch(e) => e
                  case TombstoneGarbled =>
                    if (!dryRun) {
                      f.delete(marker, false); writeTombstone(f, marker, now)
                    }
                    now
                  case TombstoneUnreadable => now
                }
                else { if (!dryRun) writeTombstone(f, marker, now); now }
              if (now - since >= retainMs) {
                val keep = refCarryFiles
                  .filter(_.startsWith(s"$relDir/"))
                  .map(_.substring(relDir.length + 1))
                f.listStatus(bdir.getPath).foreach { st =>
                  val n = st.getPath.getName
                  if (st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
                      !keep.contains(n) &&
                      !borrowed.contains(s"${meta.location}/$relDir/$n") &&
                      (dryRun || f.delete(st.getPath, false)))
                    carryFilesReclaimed += 1
                }
              }
            }
          }
        }
        // empty-commit-dir sweep: NEVER touch dot-dirs — an in-flight
        // write's `.tmp-c…` dir is legitimately empty between its
        // creation and its first task file, and deleting it fails that
        // writer's tasks; a crashed tmp's CONTENTS age out through the
        // bucket-dir tombstones above, which is cleanup enough
        if (!dryRun && !cname.startsWith(".") &&
            listOrEmpty(commit.getPath).isEmpty)
          f.delete(commit.getPath, true)
      }
    }
    VacuumReport(manifestsExpired, dirsReclaimed, carryFilesReclaimed,
      dirsAwaitingHorizon, borrowedSkipped)
  }

  /** A concurrent vacuum that scanned between this commit's data rename
   * and its manifest publish saw the freshly-written dirs as orphans and
   * may have started their retention clocks. Now that the dirs are
   * referenced, clear the stray tombstones — otherwise a future expiry
   * would inherit a pre-publish epoch and delete the dirs without the
   * full retention horizon a pinned reader is promised. */
  private def clearTombstones(meta: TableMeta, written: Iterable[String]): Unit = {
    val f = fs(new Path(meta.location))
    // absolute references are another table's directories (a shallow
    // clone's borrowed source files) — their tombstone lifecycle belongs
    // to that table's own vacuum; this store never writes there
    written.filterNot(MergeSnapshotStore.isAbsoluteRef).foreach { rel =>
      try f.delete(new Path(s"${meta.location}/$rel/_expired_at"), false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def readTombstoneEpoch(f: org.apache.hadoop.fs.FileSystem,
                                 tomb: Path): TombstoneRead =
    try {
      val in = f.open(tomb)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      TombstoneEpoch(text.trim.toLong)
    } catch {
      case _: java.io.FileNotFoundException => TombstoneGarbled
      case _: NumberFormatException => TombstoneGarbled
      case scala.util.control.NonFatal(_) => TombstoneUnreadable
    }

  /** Tombstones commit via the same tmp+rename pattern as manifests, so a
   * crash mid-write leaves either no tombstone or a complete one — never
   * the truncated file the parse guard above exists for. */
  private def writeTombstone(f: org.apache.hadoop.fs.FileSystem, tomb: Path,
                             epoch: Long): Unit =
    // NEVER let a tombstone write fail the commit that triggered this
    // vacuum: a swallowed failure just means no clock file lands, and
    // the next vacuum restarts the clock at ITS now — delete later,
    // never earlier, the retention-safe direction. (Concrete race this
    // closes: two commits' vacuums tombstoning the same dir — the local
    // FS's create/chmod/rename internals are not atomic against a racer
    // renaming the tmp away mid-write.)
    try {
      // tmp is WRITER-UNIQUE: a shared tmp name lets one racer's rename
      // steal another's half-written file (and crash its chmod)
      val tmp = new Path(tomb.getParent,
        s".tmp-${tomb.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = f.create(tmp, true)
      try out.write(epoch.toString.getBytes(UTF_8)) finally out.close()
      if (!f.rename(tmp, tomb)) {
        // rename refuses when the destination exists (HDFS/object-store
        // semantics; RawLocalFileSystem's POSIX renameTo is the outlier
        // that overwrites). A destination holding a VALID epoch means we
        // lost a race with a concurrent vacuum that tombstoned first —
        // its epoch stands, drop our tmp. Only provably-garbled debris
        // (crashed writer) is cleared and retried; a transient READ error
        // must also keep the destination — deleting on a flaky read would
        // replace a valid older epoch and restart the retention clock.
        readTombstoneEpoch(f, tomb) match {
          case TombstoneGarbled =>
            f.delete(tomb, false)
            if (!f.rename(tmp, tomb)) f.delete(tmp, false)
          case _ => f.delete(tmp, false)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
}

object MergeSnapshotStore {
  /** The multiset-delta core of
   * [[MergeSnapshotStore.multisetChangesBetween]]: per distinct row
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

  /** How [[MergeSnapshotStore.deleteWhere]] realizes a delete.
   *
   *  - [[CopyOnWrite]] (default): rewrite every bucket owning a matched
   *    file — reads stay sidecar-free, the right mode for bulk purges
   *    where the rewrite amortizes.
   *  - [[MergeOnRead]]: write an equality-delete sidecar (the deleted
   *    rows' PK tuples) and leave every data file in place — O(deleted
   *    rows) written no matter how big the owning buckets are, the
   *    right mode for steady small takedowns (GDPR erasure) at corpus
   *    scale; readers anti-join the sidecar until a compaction or a
   *    bucket rewrite folds it in. PK tables only (the sidecar lists
   *    row identities).
   */
  sealed trait DeleteMode
  case object CopyOnWrite extends DeleteMode
  case object MergeOnRead extends DeleteMode

  /** writeData's data-directory naming — the per-file commit number
   * merge-on-read delete applicability is judged against. */
  private[catalog] val CommitDirRe = "data/c(\\d+)-".r

  /** A data file's ADDRESS (the row address's file half): the exact
   * three-segment tail writeData produces (commit dir / bucket dir /
   * file), `$`-anchored and segment-typed, so a table LOCATION holding
   * a look-alike "data/c" segment can never shift the capture. */
  private[catalog] val AddressRe = "(data/c\\d+-[^/]+/__b=\\d+/[^/]+)$".r

  /** The address of a manifest file reference, relative or absolute —
   * the driver-side twin of the scan-stage capture ("" off-naming). */
  private[catalog] def addressOf(rel: String): String =
    AddressRe.findFirstMatchIn(rel).fold("")(_.group(1))

  /** True for a manifest file reference that is ABSOLUTE (a shallow
   * clone's borrowed source path) rather than table-relative. Relative
   * references are writeData's own `data/c…` naming, which never
   * starts with `/` and never contains a scheme separator. */
  private[catalog] def isAbsoluteRef(rel: String): Boolean =
    rel.startsWith("/") || rel.contains(":/")

  /** Table property overriding the store's bucket count for ONE table
   * (`graft.nbuckets`): config-scale dimensions and registry aggregate
   * tables keep few files and cheap commits beside a thousands-of-
   * buckets fact. Validated against the committed manifest on every
   * merge-seam operation. */
  val BucketsProp: String = "graft.nbuckets"

  /** Per-store parsed-manifest LRU bound: entries are roughly
   * manifest-file-sized, so 64 bounds the cache at ~64 manifests'
   * worth of driver heap while covering every serving hot set. */
  val ManifestCacheEntries: Int = 64

  /** Table property recording each renamed PRIMARY KEY column's
   * on-disk spelling (`new:physical` pairs, comma-separated) — written
   * by [[MergeSnapshotStore.renamePrimaryKeyColumn]]. The PK threads
   * three surfaces that field metadata alone cannot reach: the catalog
   * registration (its own names), equality-delete SIDECARS (parquet
   * files spelling the key at their write time), and every read
   * scan's delete-masking anti-join, which binds on the RAW
   * physical-named scan — including scans of manifests PINNED before
   * the rename, whose schemas know nothing of the new name. The
   * property is the one era-stable record all of them resolve
   * through: sidecars always write the PHYSICAL spelling, reads always
   * bind it, and any era's manifest resolves it identically. */
  val PkPhysicalProp: String = "graft.pk.physical"

  private[catalog] def pkPhysicalMap(meta: TableMeta): Map[String, String] =
    meta.properties.get(PkPhysicalProp).map(_.split(',').iterator
      .map(_.trim).filter(_.nonEmpty).map { e =>
        val i = e.indexOf(':')
        require(i > 0, s"$PkPhysicalProp entry '$e' is not logical:physical")
        e.substring(0, i).toLowerCase -> e.substring(i + 1)
      }.toMap).getOrElse(Map.empty)

  /** A PRIMARY KEY column's on-disk spelling (identity unless
   * [[MergeSnapshotStore.renamePrimaryKeyColumn]] recorded one). */
  def pkPhysicalOf(meta: TableMeta, k: String): String =
    pkPhysicalMap(meta).getOrElse(k.toLowerCase, k)

  /** Table property: comma-separated LOCATIONS of shallow clones that
   * borrow this table's files by absolute reference — the clone-aware
   * vacuum's borrower INDEX. [[MergeSnapshotStore.cloneTable]] writes
   * the hold before its clone manifest publishes; vacuum reads ONLY the
   * held locations' retained manifests (O(borrowers × versions), not
   * O(catalog tables × versions)) and auto-releases a hold whose
   * location has committed manifests but no remaining reference into
   * this table (a sever-compact, or the borrower's own expiry). A
   * borrower cloned through a DIFFERENT catalog is visible exactly when
   * someone calls [[MergeSnapshotStore.registerHold]] on this side —
   * the explicit cross-catalog registration; without it that clone
   * remains Delta's documented shallow-clone liability. */
  val HoldsProp: String = "graft.holds"

  /** Outcome of reading a tombstone. `Garbled` (missing / empty /
   * unparseable — a crashed writer's debris) is safe to repair by
   * overwriting; `Unreadable` (any other I/O failure) means the file may
   * hold a VALID epoch we transiently could not see, so writers must NOT
   * clobber it — "the first observer's epoch stands" survives flaky
   * reads. */
  private sealed trait TombstoneRead
  private final case class TombstoneEpoch(epoch: Long) extends TombstoneRead
  private case object TombstoneGarbled extends TombstoneRead
  private case object TombstoneUnreadable extends TombstoneRead

  /** Default vacuum retention: long enough for any sane snapshot scan to
   * finish after its manifest expires, short enough that space reclaim is
   * still prompt. */
  val DefaultRetentionMs: Long = 30 * 60 * 1000L

  /** Field-metadata key carrying a column's PHYSICAL name — the
   * column-mapping seam (Delta `columnMapping`, Iceberg field ids, as
   * names): data files and stats lines are ALWAYS written under
   * physical names, which never change after the column first
   * commits; a RENAME changes only the logical spelling in the
   * manifest schema, so carried files keep reading and pruning
   * without a byte rewritten. Absent metadata means physical ==
   * logical (every pre-rename column). */
  val PhysicalKey: String = "graft.physical"

  /** A field's on-disk column name. */
  def physicalOf(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private[catalog] def hasRenames(s: StructType): Boolean =
    s.fields.exists(f => physicalOf(f) != f.name)

  /** The schema as the FILES spell it (scan-side). */
  private[catalog] def physicalSchema(s: StructType): StructType =
    if (!hasRenames(s)) s
    else StructType(s.fields.map(f => f.copy(name = physicalOf(f))))

  /** The logical schema with the mapping metadata stripped — what a
   * reader-facing frame should expose. */
  private[catalog] def plainLogical(s: StructType): StructType =
    StructType(s.fields.map { f =>
      if (f.metadata.contains(PhysicalKey)) {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(PhysicalKey).build()
        f.copy(metadata = mb)
      } else f
    })

  /** True when `from` → `to` is in [[MergeSnapshotStore.alterColumnType]]'s
   * metadata-only safe set: lossless, and promoted by both Spark
   * parquet readers when a narrow-typed carried file is scanned under
   * the widened schema. */
  private[catalog] def isSafeWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      // int/long → decimal with enough integer digits for the whole
      // source range — Delta's type-widening rule, and EXACTLY what the
      // vectorized parquet reader promotes (probed: dec(9,0)/dec(19,0)
      // fail vectorized, dec(10,0)/dec(20,0) read both paths;
      // byte/short → decimal is row-reader-only and stays out)
      case (IntegerType, d: DecimalType) => d.precision - d.scale >= 10
      case (LongType, d: DecimalType) => d.precision - d.scale >= 20
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale &&
          (b.precision - b.scale) >= (a.precision - a.scale)
      case _ => false
    }

  /** The stats-line key a LOGICAL column name resolves to. */
  private[catalog] def statKeyOf(s: StructType, logical: String): String =
    s.fields.find(_.name.equalsIgnoreCase(logical)).map(physicalOf)
      .getOrElse(logical)

  /** Carry the physical mapping of `prior` onto `next` (a scoped
   * commit's published schema): a field `next` shares with `prior` (by
   * logical name, ci) keeps prior's physical spelling; a field NEW to
   * the schema writes under its own name — refusing, loudly, a name
   * that would SHADOW another field's physical spelling OR a RETIRED
   * physical name (the carried files already hold a column by that
   * on-disk name — the scan could not tell the two apart, and for a
   * retired name it would silently RESURRECT dropped data). */
  private[catalog] def attachPhysical(prior: StructType,
                                      retired: Set[String],
                                      next: StructType): StructType = {
    if (!hasRenames(prior) && retired.isEmpty) return next
    val byLogical = prior.fields.map(f => f.name.toLowerCase -> f).toMap
    val retiredLc = retired.map(_.toLowerCase)
    StructType(next.fields.map { f =>
      byLogical.get(f.name.toLowerCase) match {
        case Some(p) if physicalOf(p) != f.name =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString(PhysicalKey, physicalOf(p))
            .build())
        case Some(_) => f
        case None =>
          if (retiredLc.contains(f.name.toLowerCase))
            throw new IllegalArgumentException(
              s"cannot add column ${f.name}: a DROPPED column's data " +
                s"still lives under that on-disk name in carried files " +
                "and the add would resurrect it — pick another name, or " +
                "compact/overwrite first (a whole-table rewrite retires " +
                "the carried era)")
          prior.fields.find(p => physicalOf(p).equalsIgnoreCase(f.name) &&
              !p.name.equalsIgnoreCase(f.name)).foreach { owner =>
            throw new IllegalArgumentException(
              s"cannot add column ${f.name}: carried files already hold " +
                s"a physical column '${physicalOf(owner)}' (the on-disk " +
                s"spelling of renamed column ${owner.name}) — pick " +
                "another name")
          }
          f
      }
    })
  }

  /** Table property: this table's vacuum retention horizon in
   * MILLISECONDS of wall-clock time, overriding the store default —
   * Delta's deletedFileRetentionDuration as a per-table number. The
   * horizon is the compliance half of the takedown story: a merge-on-
   * read erasure's masked bytes become physically reclaimable exactly
   * this long after the last manifest referencing them expires, so
   * "bytes gone within N days" = this property + a [[MergeSnapshotStore.vacuum(db:String*]]
   * call (cron or the VACUUM statement) any time after the window. */
  val RetentionProp: String = "graft.vacuum.retention.ms"

  /** Table property: guaranteed TIME-TRAVEL window in milliseconds —
   * manifests younger than this survive vacuum expiry even beyond the
   * keepVersions count (which stays the floor). Delta's
   * logRetentionDuration as a per-table number; unset = count-based
   * expiry only, today's default. */
  val ManifestKeepProp: String = "graft.manifest.keep.ms"

  /** Largest point-lookup key set inlined as a pushed `isin` predicate;
   * bigger sets fall back to a broadcast semi-join (10k In-values is
   * well within parquet filter evaluation comfort; far past it the set
   * isn't a point lookup anymore). */
  val MaxInlineKeys: Int = 10000

  /** The bucket function as a Catalyst expression over `keys`: the same
   * `pmod(hash(keys…), n)` (Murmur3, seed 42) the store's `bucketOf`
   * builds as a Column, for evaluation on the driver. */
  private[catalog] def bucketExpr(
      keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      n: Int): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    Pmod(new Murmur3Hash(keys), Literal(n))
  }

  /** `pks` IN `keys` as one predicate: `pk IN (…)` for a single key
   * column, an OR of per-tuple conjunctions for composite keys. Each
   * literal is cast to the key column's type. A tuple with a NULL part
   * is left out (it can equal no row), and no tuples at all give
   * FALSE, so the predicate is never NULL on a row whose key has no
   * NULL part. The OR is built as a balanced tree: a left-deep chain of
   * thousands of tuples would overflow the stack of Catalyst's
   * recursive tree walks. Throws when a value cannot become a literal. */
  private[graft] def keyIn(pks: Seq[String], types: Seq[DataType],
                           keys: Seq[Row]): Column = {
    val lits = keys.filterNot(r => pks.indices.exists(r.isNullAt))
      .map(r => pks.indices.map(i => lit(r.get(i)).cast(types(i))))
    def anyOf(cs: Seq[Column]): Column =
      if (cs.size == 1) cs.head
      else { val (a, b) = cs.splitAt(cs.size / 2); anyOf(a) || anyOf(b) }
    if (lits.isEmpty) lit(false)
    else if (pks.size == 1) col(pks.head).isin(lits.map(_.head): _*)
    else anyOf(lits.map(ls => pks.zip(ls).map { case (k, l) => col(k) === l }
      .reduce(_ && _)).toIndexedSeq)
  }

  /** PK types whose SQL equality is exactly equality of the hashed
   * value, so `pk = v` can only match rows in `v`'s bucket. Floating
   * point (NaN, ±0), decimals (the hash reads the value's own scale)
   * and collated strings fall outside and never bucket-prune. The
   * driver-side equality of their collected values is SQL equality
   * too, which the inline CDC merge relies on. */
  private[graft] def bucketPrunable(dt: DataType): Boolean = {
    import org.apache.spark.sql.types.{BooleanType, TimestampNTZType}
    dt match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           DateType | TimestampType | TimestampNTZType => true
      case StringType => true // the default UTF8_BINARY collation only
      case _ => false
    }
  }

  /** Table property disabling per-file stats measurement at commit
   * (`"false"` skips it) — for tables whose reads never range-filter. */
  val StatsProp: String = "graft.stats"

  /** Field-by-name nullability union of two STRUCTURALLY matching
   * schemas (rebase publishes manifests mixing both writers' files;
   * either side may have relaxed a column to nullable). Fields only on
   * our side keep our shape — the carried side's extra columns follow
   * the normal null-fill evolution path at read. */
  private[catalog] def mergeNullability(ours: StructType, theirs: StructType): StructType = {
    val t = theirs.fields.map(f => f.name -> f).toMap
    StructType(ours.fields.map { f =>
      t.get(f.name) match {
        case Some(g) if g.dataType.catalogString == f.dataType.catalogString =>
          f.copy(dataType = orNullable(f.dataType, g.dataType),
            nullable = f.nullable || g.nullable)
        case _ => f
      }
    })
  }

  /** `s` nullable at every depth (Spark's `asNullable`, which is
   * internal to Spark). */
  private[catalog] def asNullable(s: StructType): StructType =
    StructType(s.fields.map(f =>
      f.copy(dataType = anyNull(f.dataType), nullable = true)))

  private def anyNull(dt: DataType): DataType = dt match {
    case s: StructType => asNullable(s)
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = anyNull(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = anyNull(m.keyType), valueType = anyNull(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  private def orNullable(a: DataType, b: DataType): DataType = (a, b) match {
    case (x: StructType, y: StructType) => mergeNullability(x, y)
    case (x: org.apache.spark.sql.types.ArrayType,
          y: org.apache.spark.sql.types.ArrayType) =>
      org.apache.spark.sql.types.ArrayType(
        orNullable(x.elementType, y.elementType),
        x.containsNull || y.containsNull)
    case (x: org.apache.spark.sql.types.MapType,
          y: org.apache.spark.sql.types.MapType) =>
      org.apache.spark.sql.types.MapType(
        orNullable(x.keyType, y.keyType),
        orNullable(x.valueType, y.valueType),
        x.valueContainsNull || y.valueContainsNull)
    case _ => a
  }

  /** CAS publish attempts before a commit gives up. Rebases are cheap
   * (manifest-sized republish, no data rewrite), so a handful absorbs
   * realistic contention; past it something is pathologically hot. */
  val MaxCommitAttempts: Int = 10

  /** Commits up to this many files read their footers in a driver loop
   * (metadata-sized I/O, no job-scheduling overhead — the common scoped
   * merge touches a handful of buckets); above it a distributed job
   * reads them executor-side. */
  val FooterInlineFiles: Int = 64

  /** Delete-sidecar kinds (Iceberg v2's pair): equality sidecars hold
   * PK tuples and obey the sequence-number rule; position sidecars hold
   * (file, row-ordinal) addresses and bind to physical file identity. */
  private[catalog] val EqDeleteKind: String = "eq"
  private[catalog] val PosDeleteKind: String = "pos"

  /** Internal column names of the row's physical address, shared by
   * the finds and the position-delete anti-join. */
  private[catalog] val PosFileCol: String = "__graft_pos_file"
  private[catalog] val PosPosCol: String = "__graft_pos_idx"

  /** One column's layout health from [[MergeSnapshotStore
   * .maintenanceAdvisor]]: `expectedScanFraction` is the mean
   * normalized per-file width of the column's manifest bounds — the
   * expected fraction of data files a uniformly-placed point predicate
   * must scan; `statless` counts files contributing no bounds (always
   * scanned, reported so a blind spot is visible); `compactAdvised`
   * says a [[MergeSnapshotStore.compactClustered]] pass on this column
   * would measurably restore pruning. */
  case class LayoutHealth(column: String, files: Int, statless: Int,
                          expectedScanFraction: Double,
                          compactAdvised: Boolean)

  /** One bucket's layout health from [[MergeSnapshotStore.bucketHealth]]
   * — [[LayoutHealth]]'s shape at partial-maintenance granularity:
   * `expectedScanFraction` is the mean normalized width of the bucket's
   * files over the TABLE-wide span; `compactAdvised` says a
   * [[MergeSnapshotStore.compactBucketsClustered]] pass on THIS bucket
   * would measurably restore pruning. */
  case class BucketHealth(bucket: Int, files: Int, statless: Int,
                          expectedScanFraction: Double,
                          compactAdvised: Boolean)

  /** One file's layout health from [[MergeSnapshotStore.fileHealth]]
   * — [[BucketHealth]]'s shape at the PK-less (file) granularity:
   * `expectedScanFraction` is the file's normalized bound width over
   * the TABLE-wide span; `compactAdvised` says a
   * [[MergeSnapshotStore.compactFilesClustered]] pass including THIS
   * file would measurably restore pruning. */
  case class FileHealth(file: String, statless: Boolean,
                        expectedScanFraction: Double,
                        compactAdvised: Boolean)

  /** One snapshot's merge-on-read delete debt from
   * [[MergeSnapshotStore.deleteDebt]]: `sidecars` delete directories
   * ride every read's anti-join (of which `liveSidecars` still mask at
   * least one current data file — the rest retire at the next commit),
   * carrying `deletedRows` recorded keys (`rowsKnown` false when any
   * sidecar predates the count field, making the sum a lower bound);
   * `compactAdvised` says a [[MergeSnapshotStore.compact]] /
   * [[MergeSnapshotStore.compactClustered]] pass would measurably
   * cheapen reads, per the thresholds the caller asked about. */
  case class DeleteDebt(sidecars: Int, liveSidecars: Int,
                        deletedRows: Long, rowsKnown: Boolean,
                        compactAdvised: Boolean)

  /** Table property opting columns INTO per-file VALUE-SET stats
   * (comma-separated names): unlike the min/max and string bounds —
   * free from parquet footers — a distinct set needs a DATA pass over
   * the written files each commit, so the cost is an explicit contract.
   * Meant for low-cardinality dimension columns (segment, status,
   * language, source) whose reads are equality/IN point predicates. */
  val SetStatsProp: String = "graft.setstats"

  /** A file whose opted column exceeds this many distinct values gets
   * NO set line (conservative keep on read): past the cap the set
   * stops discriminating and would only bloat the manifest. */
  val SetStatsMaxValues: Int = 32

  /** Table property opting columns into PARQUET-NATIVE bloom filters
   * (`col` or `col:expectedNdv`, comma-separated): the HIGH-cardinality
   * complement to [[SetStatsProp]] — an exact value set caps out on id/
   * URL columns, but a per-row-group bloom (written INTO the parquet
   * file, where its size amortizes; never the manifest) lets the
   * reader's pushed equality predicate skip row groups
   * probabilistically. File-level planning is unchanged; the win lands
   * inside the scan, which is where high-cardinality point reads spend
   * their time at 100 TB. */
  val BloomProp: String = "graft.bloom"

  /** CHECK-constraint property prefix: `graft.check.<name> -> <sql
   * predicate>` (Delta table-constraint parity). Enforced IN-FLIGHT by
   * every data-writing commit (writeData's guard filter — violation
   * raises with the constraint name and the row's JSON image, no
   * version consumed) and validated against the existing snapshot when
   * added ([[MergeSnapshotStore.addCheckConstraint]]). SQL CHECK
   * semantics: only a FALSE predicate violates; NULL passes. */
  val CheckPropPrefix: String = "graft.check."

  /** The (name, predicate) CHECK constraints registered on a table. */
  private[catalog] def checksOf(meta: TableMeta): Seq[(String, String)] =
    meta.properties.toSeq
      .collect { case (k, v) if k.startsWith(CheckPropPrefix) =>
        k.drop(CheckPropPrefix.length) -> v }
      .sortBy(_._1)

  /** Default expected NDV per row group for [[BloomProp]] columns
   * without an explicit `:ndv` — sized for ~64 KiB of bloom bits at 1%
   * fpp rather than parquet's 1M-row default, which would write ~1 MiB
   * of bloom per row group even for small files. */
  val BloomDefaultNdv: Long = 65536L

  /** Parse `graft.bloom`: `uid:1024,url` → Seq((uid,1024),(url,default)).
   * Malformed entries fail loudly — a silently dropped bloom is a
   * performance bug nobody sees. */
  private[graft] def parseBloomProp(v: String): Seq[(String, Long)] =
    v.split(',').iterator.map(_.trim).filter(_.nonEmpty).map { entry =>
      // limit -1: a trailing ':' must be malformed, not silently the
      // default NDV (split's trailing-empty removal would eat it)
      entry.split(":", -1) match {
        case Array(c) if c.nonEmpty => c -> BloomDefaultNdv
        case Array(c, n) if c.nonEmpty && n.nonEmpty && n.forall(_.isDigit) =>
          c -> n.toLong
        case _ => throw new IllegalArgumentException(
          s"$BloomProp entry '$entry' is not 'col' or 'col:ndv'")
      }
    }.toSeq

  /** Size-capped distinct-set aggregate: the set-stats measurement
   * keeps O(cap) memory per file even when a high-cardinality column is
   * (mis)opted in — past the cap the buffer abandons the set (null
   * out), which the manifest records as "no line". A plain
   * `collect_set` would buffer the file's whole distinct column in the
   * executor; this is the guard that makes the opt-in safe to misuse. */
  private class CappedSetAgg(cap: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        String, (Seq[String], Boolean), Seq[String]] {
    def zero: (Seq[String], Boolean) = (Nil, false)
    def reduce(b: (Seq[String], Boolean), v: String): (Seq[String], Boolean) =
      if (b._2 || v == null || b._1.contains(v)) b
      else if (b._1.size >= cap) (Nil, true)
      else (b._1 :+ v, false)
    def merge(x: (Seq[String], Boolean),
              y: (Seq[String], Boolean)): (Seq[String], Boolean) =
      if (x._2 || y._2) (Nil, true)
      else {
        val m = (x._1 ++ y._1).distinct
        if (m.size > cap) (Nil, true) else (m, false)
      }
    def finish(b: (Seq[String], Boolean)): Seq[String] =
      if (b._2) null else b._1
    def bufferEncoder: org.apache.spark.sql.Encoder[(Seq[String], Boolean)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** The types set-stats supports: those whose driver-side canonical
   * string ([[litCanonical]]) provably equals Spark's
   * `cast(col AS STRING)` — the equality the skip check keys on.
   * Fractional types are excluded on purpose: value-equality probes on
   * floats are an antipattern and their string forms are
   * representation-sensitive. */
  private[graft] def setStatsSupported(dt: DataType): Boolean = dt match {
    case StringType | DateType => true
    case org.apache.spark.sql.types.BooleanType |
         org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** The one data format the store writes and reads: its stats come
   * from parquet footers, its skipping scan is a parquet relation, and
   * its position deletes address parquet row ordinals. */
  private[graft] def requireParquet(qualified: String, format: String): Unit =
    require(format == "parquet",
      s"MergeSnapshotStore is parquet-native: $qualified declares format " +
        s"'$format' — register it with format parquet")

  /** Does a probe value's runtime type pair with the column type such
   * that [[litCanonical]] and Spark's own equality agree? Integral
   * probes pair with any integral column (toString matches the cast for
   * every width); everything else pairs only with its own type. */
  private[graft] def probeMatches(dt: DataType, v: Any): Boolean = {
    import org.apache.spark.sql.types.{BooleanType => BT, ByteType => Y,
      IntegerType => I, LongType => L, ShortType => H}
    (dt, v) match {
      case (StringType, _: String) => true
      case (BT, _: Boolean) => true
      case (Y | H | I | L, _: Byte | _: Short | _: Int | _: Long) => true
      case (DateType, _: java.sql.Date | _: java.time.LocalDate) => true
      case _ => false
    }
  }

  /** A probe that [[probeMatches]] column type `dt`, as a value of the
   * column's own type, so the `isin` literal needs no coercion; None
   * for an integral probe outside the column's range (no row equals
   * it). */
  private[graft] def probeAs(dt: DataType, v: Any): Option[Any] = {
    val n: Option[Long] = v match {
      case b: Byte => Some(b.toLong)
      case s: Short => Some(s.toLong)
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case _ => None
    }
    (dt, n) match {
      case (ByteType, Some(x)) => Option.when(x.isValidByte)(x.toByte)
      case (ShortType, Some(x)) => Option.when(x.isValidShort)(x.toShort)
      case (IntegerType, Some(x)) => Option.when(x.isValidInt)(x.toInt)
      case (LongType, Some(x)) => Some(x)
      case _ => Some(v)
    }
  }

  /** A Catalyst literal's INTERNAL value in the manifest's double bound
   * space — the same promotions the stats were measured in (a date's
   * internal Int is already epoch days, a timestamp's internal Long
   * already epoch micros, both the [[promoted]] spaces). None for
   * anything the space can't hold soundly, including NaN (Spark orders
   * NaN greatest; a Java double compare would prune live files). */
  private[graft] def litDouble(value: Any): Option[Double] = value match {
    case v: Byte => Some(v.toDouble)
    case v: Short => Some(v.toDouble)
    case v: Int => Some(v.toDouble)
    case v: Long => Some(v.toDouble)
    case v: Float if !v.isNaN => Some(v.toDouble)
    case v: Double if !v.isNaN => Some(v)
    case v: org.apache.spark.sql.types.Decimal => Some(v.toDouble)
    case _ => None
  }

  /** A Catalyst literal's INTERNAL value in the value-set lines'
   * canonical (Spark cast-to-string) form. The caller has already proven the
   * column/literal pairing via canonCompatible, so a date's internal
   * Int renders as the ISO date Spark's cast produces. */
  private[graft] def litCanonical(value: Any, dt: DataType): Option[String] =
    (value, dt) match {
      case (null, _) => None
      case (u: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        Some(u.toString)
      case (b: Boolean, _) => Some(b.toString)
      case (d: Int, DateType) =>
        Some(java.time.LocalDate.ofEpochDay(d.toLong).toString)
      case (v: Byte, _) => Some(v.toString)
      case (v: Short, _) => Some(v.toString)
      case (v: Int, _) => Some(v.toString)
      case (v: Long, _) => Some(v.toString)
      case _ => None
    }

  /** Truncated string bounds keep at most this many chars — long URL /
   * id prefixes stay discriminating while the manifest stays small (the
   * Iceberg `truncate(16)` default). */
  val StrBoundLen: Int = 16

  /** How many leading UTF-8 bytes a STRING dimension projects into the
   * double coordinate space for clustering and layout health: 6 bytes =
   * 48 bits, exact in a double and monotone in UTF-8 byte order. */
  val StrKeyBytes: Int = 6

  /** Driver-side twin of the string projection in `promoted`: the first
   * [[StrKeyBytes]] UTF-8 bytes, zero-padded, as a big-endian integer —
   * used by the maintenance advisor to measure string-bound widths in
   * the same monotone space the cluster layout slices in. */
  private[graft] def strKeyToDouble(s: String): Double = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var v = 0L
    var i = 0
    while (i < StrKeyBytes) {
      v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L)
      i += 1
    }
    v.toDouble
  }

  /** UTF-8 unsigned byte order — the ONE order all three string-bound
   * parties agree on: Spark's UTF8String comparisons, parquet's UNSIGNED
   * binary stats, and the manifest's truncated bounds. Java's
   * `String.compareTo` (UTF-16 code units) disagrees above the BMP and
   * must not be used for pruning. */
  private[graft] def strCmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Lower-bound truncation: a code-point-safe prefix is always <= the
   * value it truncates (prefix order), so the bound stays sound. */
  private[graft] def truncLower(s: String): String =
    if (s.length <= StrBoundLen) s
    else {
      // never split a surrogate pair: a dangling high surrogate has no
      // valid UTF-8 form and would break the byte-order contract
      val cut =
        if (Character.isHighSurrogate(s.charAt(StrBoundLen - 1))) StrBoundLen - 1
        else StrBoundLen
      s.substring(0, cut)
    }

  /** Upper-bound truncation: the truncated prefix with its last
   * incrementable code point bumped is >= the value AND every extension
   * of it. None when nothing can be incremented (all code points at
   * MAX) — the column is then unbounded above for this file. */
  private[graft] def truncUpper(s: String): Option[String] =
    if (s.length <= StrBoundLen) Some(s)
    else incrementLast(truncLower(s))

  /** The least string strictly greater than `p` AND every string with
   * prefix `p`: increment the last incrementable code point, dropping
   * MAX-valued tail code points (and skipping the surrogate gap —
   * U+D7FF + 1 jumps to U+E000, still strictly greater). None when
   * every code point is at MAX. Also the exclusive upper bound of a
   * prefix scan. */
  private[graft] def incrementLast(p: String): Option[String] = {
    var i = p.length
    while (i > 0) {
      val cp = p.codePointBefore(i)
      val start = i - Character.charCount(cp)
      if (cp != Character.MAX_CODE_POINT) {
        val next0 = cp + 1
        val next = if (next0 >= 0xD800 && next0 <= 0xDFFF) 0xE000 else next0
        return Some(p.substring(0, start) + new String(Character.toChars(next)))
      }
      i = start
    }
    None
  }

  /**
   * TRUNCATED string bounds of `cols` lifted from one parquet file's
   * footer. Per column: row-group BINARY/UTF8 chunk bounds combine in
   * UTF-8 byte order; a bound whose bytes do not round-trip UTF-8
   * decoding (foreign writer debris) poisons the column — decoding
   * malformed bytes to U+FFFD could otherwise move a bound the wrong
   * way and prune a live file. Same conservative rules as the numeric
   * path: provably-all-null chunks contribute nothing, anything else
   * unusable drops the column's stats line entirely.
   */
  private[catalog] def footerStrBounds(conf: org.apache.hadoop.conf.Configuration,
                                       file: Path,
                                       cols: Seq[String]): Seq[(String, String, Option[String])] =
    footerAllBounds(conf, file, Nil, cols)._2

  /** Both bound families from ONE footer open — the per-commit stats
   * job pays exactly one metadata read per file (driver-inline or
   * executor-side), not one per bound family; no open at all when
   * neither family has columns. */
  private[catalog] def footerAllBounds(conf: org.apache.hadoop.conf.Configuration,
                                       file: Path, numCols: Seq[String],
                                       strCols: Seq[String])
      : (Seq[(String, Double, Double)], Seq[(String, String, Option[String])], Long) = {
    import scala.jdk.CollectionConverters._
    // row count rides the same footer open (-1 = not read): the
    // manifest-only count(*) fast path costs nothing extra at write
    if (numCols.isEmpty && strCols.isEmpty) return (Nil, Nil, -1L)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(conf, file)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      (numBoundsOf(blocks, numCols), strBoundsOf(blocks, strCols),
        blocks.map(_.getRowCount).sum)
    } finally reader.close()
  }

  private def strBoundsOf(blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
                          cols: Seq[String]): Seq[(String, String, Option[String])] = {
    import scala.jdk.CollectionConverters._
    cols.flatMap { c =>
        var mn: String = null
        var mx: String = null
        var usable = true
        def decode(v: AnyRef): Option[String] = v match {
          case b: org.apache.parquet.io.api.Binary =>
            val bytes = b.getBytes
            val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            if (java.util.Arrays.equals(
                s.getBytes(java.nio.charset.StandardCharsets.UTF_8), bytes))
              Some(s)
            else None
          case _ => None
        }
        blocks.foreach { b =>
          if (usable) b.getColumns.asScala.find(_.getPath.toDotString == c) match {
            case None => usable = false
            case Some(cc) =>
              val st = cc.getStatistics
              if (st == null || st.isEmpty) usable = false
              else if (!st.hasNonNullValue) {
                if (!(st.isNumNullsSet && st.getNumNulls == cc.getValueCount))
                  usable = false
              }
              else (decode(st.genericGetMin.asInstanceOf[AnyRef]),
                    decode(st.genericGetMax.asInstanceOf[AnyRef])) match {
                case (Some(lo), Some(hi)) =>
                  if (mn == null || strCmp(lo, mn) < 0) mn = lo
                  if (mx == null || strCmp(hi, mx) > 0) mx = hi
                case _ => usable = false
              }
          }
        }
        if (usable && mn != null) Some((c, truncLower(mn), truncUpper(mx)))
        else None
      }
  }

  /**
   * Min/max bounds of `cols` lifted from one parquet file's footer, in
   * double space (the manifest's stats contract). Per column: all
   * row-group chunk bounds combine (min of mins / max of maxes);
   * provably-all-NULL chunks (num_nulls == value count) contribute
   * nothing; a chunk with missing stats, a bound-less-but-not-all-null
   * chunk (parquet-mr converts a NaN float/double min/max into
   * hasNonNullValue=false on read, so the finite rows of a NaN-tainted
   * chunk have no visible bounds), or a physical type this does not map
   * yields NO stats line for the column — pruned reads then
   * conservatively keep the file, never wrongly skip it. Decimal
   * logical types rescale their unscaled int32/int64/binary
   * representation; the int96 legacy timestamp and binary strings are
   * not numeric and never requested (statCols filters on Spark
   * NumericType).
   */
  private[catalog] def footerBounds(conf: org.apache.hadoop.conf.Configuration,
                                    file: Path,
                                    cols: Seq[String]): Seq[(String, Double, Double)] =
    footerAllBounds(conf, file, cols, Nil)._1

  private def numBoundsOf(blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
                          cols: Seq[String]): Seq[(String, Double, Double)] = {
    import scala.jdk.CollectionConverters._
    cols.flatMap { c =>
        var mn = Double.PositiveInfinity
        var mx = Double.NegativeInfinity
        var seen = false
        var usable = true
        blocks.foreach { b =>
          if (usable) b.getColumns.asScala.find(_.getPath.toDotString == c) match {
            case None => usable = false // column absent from this file
            case Some(cc) =>
              val st = cc.getStatistics
              if (st == null || st.isEmpty) usable = false
              else if (!st.hasNonNullValue) {
                // bound-less but non-empty stats: EITHER a genuinely
                // all-null chunk OR a NaN-tainted float/double chunk —
                // parquet-mr's read path drops a NaN min/max bound and
                // reports hasNonNullValue=false with num_nulls intact.
                // Only the provably-all-null case contributes nothing;
                // anything else poisons the column (conservative keep).
                if (!(st.isNumNullsSet && st.getNumNulls == cc.getValueCount))
                  usable = false
              }
              else (boundToDouble(cc, st.genericGetMin.asInstanceOf[AnyRef]),
                    boundToDouble(cc, st.genericGetMax.asInstanceOf[AnyRef])) match {
                case (Some(lo), Some(hi)) if !lo.isNaN && !hi.isNaN =>
                  mn = math.min(mn, lo); mx = math.max(mx, hi); seen = true
                case _ => usable = false
              }
          }
        }
        if (usable && seen) Some((c, mn, mx)) else None
      }
  }

  /** One footer bound in double space — exact within ±2^53, the same
   * rounding the promoted range predicate applies (the [[Layout]]
   * contract), so pruning stays self-consistent. Temporal logical
   * types map to the EPOCH-BASED double space the read side promotes
   * to: DATE int32 is already days since epoch (the generic int path),
   * TIMESTAMP int64 normalizes to MICROS (MILLIS rescale exactly;
   * NANOS and legacy INT96 yield None — Spark cannot read the former
   * as timestamp and the latter's stats are unordered binary — so such
   * columns get no stats line and reads conservatively keep the file). */
  private def boundToDouble(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
                            v: AnyRef): Option[Double] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    cc.getPrimitiveType.getLogicalTypeAnnotation match {
      case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        (v, t.getUnit) match {
          case (l: java.lang.Long, TimeUnit.MICROS) => Some(l.doubleValue)
          case (l: java.lang.Long, TimeUnit.MILLIS) => Some(l.doubleValue * 1000d)
          case _ => None
        }
      case _ => boundToDoubleScaled(cc, v)
    }
  }

  private def boundToDoubleScaled(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
                                  v: AnyRef): Option[Double] = {
    val scale = cc.getPrimitiveType.getLogicalTypeAnnotation match {
      case d: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
        Some(d.getScale)
      case _ => None
    }
    (v, scale) match {
      case (i: java.lang.Integer, Some(s)) =>
        Some(BigDecimal(BigInt(i.longValue), s).toDouble)
      case (l: java.lang.Long, Some(s)) =>
        Some(BigDecimal(BigInt(l.longValue), s).toDouble)
      case (b: org.apache.parquet.io.api.Binary, Some(s)) =>
        Some(BigDecimal(BigInt(new java.math.BigInteger(b.getBytes)), s).toDouble)
      case (i: java.lang.Integer, None) => Some(i.doubleValue)
      case (l: java.lang.Long, None) => Some(l.doubleValue)
      case (f: java.lang.Float, None) => Some(f.doubleValue)
      case (d: java.lang.Double, None) => Some(d.doubleValue)
      case _ => None
    }
  }
}
