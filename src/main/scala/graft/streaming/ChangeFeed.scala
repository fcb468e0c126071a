package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, StructType}

import graft.catalog.MergeSnapshotStore

/**
 * The store's change feed as a STRUCTURED STREAMING source — the Delta
 * CDF `readStream` story (`readChangeFeed` + `startingVersion`),
 * rebuilt on two public seams: the store's committed-version diff
 * ([[MergeSnapshotStore.changesBetween]] keyed /
 * [[MergeSnapshotStore.multisetChangesBetween]] PK-less) and Spark's own
 * file stream source.
 *
 * Shape: a feed DIRECTORY owned by the exporter. Each [[advance]] call
 * diffs the last exported version against the current head and lands
 * the delta as one immutable `delta_v<from>_v<to>` parquet directory
 * (tmp + atomic rename, every row stamped `_from_version` /
 * `_commit_version`); [[readStream]] is Spark's file source over those
 * directories, so consumers get watermarks, exactly-once via their own
 * checkpoints, and executor-parallel reads for free. The exporter is
 * cron-shaped — call advance() after commits, or on a schedule; each
 * call costs one delta-sized diff job (two manifest-resolved version
 * scans joined; output delta-sized), nothing when the table hasn't
 * moved.
 *
 * Crash discipline: the feed directory itself is the source of truth —
 * the next export resumes from the MAX `_commit_version` any landed
 * delta directory names (the `_last_exported` file is a cache of that
 * listing, never trusted over it), so a crash between rename and state
 * write cannot re-export an overlapping range, and a crash before the
 * rename leaves only an invisible tmp directory the next advance
 * sweeps. Both versions of a diff must still be retained:
 * an exporter paused past the source's vacuum horizon refuses loudly
 * (the store's own pinned-read message) rather than fabricate a gap —
 * re-seed a fresh feed directory in that case.
 *
 * At 100 TB: the exporter writes deltas, never snapshots, so feed cost
 * tracks change rate, not table size; the stream side reads only new
 * files. The feed directory grows one dir per advance — age out
 * consumed deltas with any retention sweep once every consumer's
 * checkpoint has passed them (the dirs are immutable, so deleting old
 * ones never disturbs a reader mid-batch).
 */
object ChangeFeed {

  private val DeltaRe = "^delta_v(\\d+)_v(\\d+)$".r
  private val StateFile = "_last_exported"
  private val SchemaFile = "_schema.json"

  // one-shot test seam (the store's beforePublish pattern): runs between
  // the tmp write and the rename — the window where a racing exporter's
  // delta can land
  private val beforeRenameRef =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())
  private[graft] def onBeforeRename(f: () => Unit): Unit =
    beforeRenameRef.set(f)
  private def runBeforeRename(): Unit =
    beforeRenameRef.getAndSet(() => ())()

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The feed's resume point: max exported `to` version across landed
   * delta dirs (the state file is only a fallback for a feed that has
   * recorded a baseline but exported no delta yet). None = virgin feed. */
  private def lastExported(f: FileSystem, dir: Path): Option[Int] = {
    val fromDirs =
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).toSeq.collect {
        case st if st.isDirectory =>
          st.getPath.getName match {
            case DeltaRe(_, to) => Some(to.toInt)
            case _ => None
          }
      }.flatten
    if (fromDirs.nonEmpty) Some(fromDirs.max)
    else {
      val sf = new Path(dir, StateFile)
      if (!f.exists(sf)) None
      else {
        val in = f.open(sf)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        // after expireConsumed swept every delta dir this file is the
        // feed's ONLY resume record — a garbled one must fail by NAME,
        // not as a bare NumberFormatException the caller can't place
        try Some(text.trim.toInt)
        catch {
          case _: NumberFormatException => throw new IllegalStateException(
            s"$sf is unreadable (content ${text.trim.take(40)}) — the " +
              "feed's resume point is lost; re-seed a fresh feed " +
              "directory (or restore the file to the last exported " +
              "version by hand)")
        }
      }
    }
  }

  /** tmp + atomic rename (the store's own tombstone discipline): the
   * state file is the feed's only resume record once every delta dir
   * has been swept, so an in-place overwrite crashed mid-write would
   * garble it permanently. */
  private def writeState(f: FileSystem, dir: Path, v: Int): Unit = {
    val sf = new Path(dir, StateFile)
    val tmp = new Path(dir,
      s".tmp-$StateFile-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes(UTF_8)) finally out.close()
    if (!f.rename(tmp, sf)) {
      // HDFS/object-store rename refuses when the destination exists;
      // replace it (the newer export's version wins — advance() only
      // ever moves the resume point forward)
      f.delete(sf, false)
      if (!f.rename(tmp, sf)) {
        // the old state file is already deleted and the new one did not
        // land: once expireConsumed has swept the delta dirs this file
        // is the feed's ONLY resume record, so a silent tmp cleanup
        // here would discard the advance and re-baseline the feed at
        // the current head, silently skipping changes. Fail LOUDLY and
        // leave tmp in place as the recovery artifact.
        throw new java.io.IOException(
          s"could not publish feed state $sf: the replacement rename " +
            s"failed after the old state was removed — the resume " +
            s"point survives only in $tmp; rename it to $sf by hand " +
            "(or re-run advance) before consuming further")
      }
    }
  }

  /**
   * Export the source table's changes since the last advance into
   * `feedDir`. Returns the exported (fromVersion, toVersion) range, or
   * None when the table hasn't moved. The FIRST call records the
   * baseline: by default it exports nothing and starts the feed at the
   * current head ("changes from now on"); pass `startVersion =
   * Some(v)` to backfill the feed from a retained version v instead
   * (the first delta is then v → head — on a keyed table every
   * post-baseline row arrives as the I/U/D that produced it, the
   * standard CDF backfill).
   *
   * Keyed tables export the keyed I/U/D diff; PK-less tables export
   * the multiset feed (per distinct row image, copies arrived/left) —
   * each the exact delta its table kind supports.
   */
  def advance(store: MergeSnapshotStore, db: String, table: String,
              feedDir: String,
              startVersion: Option[Int] = None): Option[(Int, Int)] = {
    val spark = SparkSession.active
    val dir = new Path(feedDir)
    val f = fs(spark, dir)
    f.mkdirs(dir)
    // sweep tmp leftovers of a crashed export — invisible to consumers
    f.listStatus(dir).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".tmp_delta_"))
        f.delete(st.getPath, true)
    }
    val head = store.latestVersion(db, table)
    require(head >= 0, s"$db.$table has no committed versions")
    val last = lastExported(f, dir) match {
      case Some(v) => v
      case None =>
        val base = startVersion.getOrElse(head)
        writeState(f, dir, base)
        base
    }
    if (head <= last) return None
    // surface the retention refusal with the store's own loud message
    // (an exporter paused past the vacuum horizon must not fabricate a
    // gap): the pinned skipping read resolves the FROM version or refuses
    store.read(db, table, Some(last))
    val meta = store.catalog(db, table)
    val delta0 =
      try {
        if (meta.hasPrimaryKey) store.changesBetween(db, table, last, head)
        else store.multisetChangesBetween(db, table, last, head)
      } catch {
        // the store's schema-ERA guard refuses a diff across a lossy
        // retype before this feed's own pinned-schema check can run —
        // same condition, so surface the FEED remedy (the exporter's
        // caller owns a feed directory, not a raw diff)
        case e: IllegalArgumentException
            if String.valueOf(e.getMessage).contains("changed type") =>
          throw new IllegalArgumentException(e.getMessage +
            "; for this feed: finish draining the current directory and " +
            "seed a FRESH one for the new schema era", e)
      }
    val delta = delta0
      .withColumn("_from_version", lit(last))
      .withColumn("_commit_version", lit(head))
    val fin = new Path(dir, s"delta_v${last}_v$head")
    if (!f.exists(fin)) {
      // the feed schema is PINNED at first export (readStream needs one
      // schema for every delta dir). A source that evolved since —
      // rename/drop/add are all one-manifest DDL on the store — would
      // land a delta the pinned schema resolves WRONGLY (a renamed
      // column reads silent NULLs by-name): refuse BEFORE writing and
      // name the remedy. Consumers drain the old directory to its end;
      // a fresh feed directory carries the new schema era.
      val sf0 = new Path(dir, SchemaFile)
      if (f.exists(sf0)) {
        val pinned = schemaOf(spark, feedDir)
        // names AND types: a whole-table overwrite can retype a column
        // without renaming it, and a delta whose parquet types mismatch
        // the pinned readStream schema would fail at CONSUME time deep
        // in the stream — refuse here, at export, with the remedy
        def shape(s: org.apache.spark.sql.types.StructType): Seq[String] =
          s.fields.map(f0 =>
            s"${f0.name.toLowerCase} ${f0.dataType.catalogString}").toSeq
        val pinnedCols = shape(pinned)
        val deltaCols = shape(delta.schema)
        require(pinnedCols == deltaCols,
          s"$feedDir pinned schema (${pinnedCols.mkString(",")}) no " +
            s"longer matches the source's delta (${deltaCols.mkString(",")})" +
            " — the table's schema evolved; finish draining this feed " +
            "directory and seed a FRESH one for the new schema era")
      }
      val tmp = new Path(dir, s".tmp_delta_v${last}_v$head")
      delta.write.mode("overwrite").parquet(tmp.toString)
      // first export pins the feed schema for readStream (immutable: a
      // schema-evolving source needs a fresh feed directory)
      val sf = new Path(dir, SchemaFile)
      if (!f.exists(sf)) {
        val out = f.create(sf, false)
        try out.write(delta.schema.json.getBytes(UTF_8)) finally out.close()
      }
      runBeforeRename()
      if (!f.rename(tmp, fin))
        throw new java.util.ConcurrentModificationException(
          s"$fin landed while this export wrote it — two exporters are " +
            "advancing one feed; serialize them")
      // the rename collision above only catches racers on the IDENTICAL
      // range. Two advance() calls that read the same `last` but
      // different heads land delta_vL_vH1 and delta_vL_vH2 — disjoint
      // names, overlapping change ranges, and a stream consumer would
      // receive the L→min(H1,H2) changes twice. Post-rename, re-list
      // and withdraw OUR dir if any OTHER landed dir overlaps
      // (last, head]: at most one overlapping export survives (the one
      // that listed before the other's rename), and when both see each
      // other both withdraw — an empty round, never a double delivery.
      // Best-effort by nature (a consumer may list between our rename
      // and the withdrawal — the same window Delta's own file-listing
      // sources have); serialize exporters for a hard guarantee.
      val overlapping = f.listStatus(dir).toSeq.collect {
        case st if st.isDirectory && st.getPath.getName != fin.getName =>
          st.getPath.getName match {
            case DeltaRe(l2, h2) if l2.toInt < head && h2.toInt > last =>
              Some(st.getPath.getName)
            case _ => None
          }
      }.flatten
      if (overlapping.nonEmpty) {
        f.delete(fin, true)
        throw new java.util.ConcurrentModificationException(
          s"export delta_v${last}_v$head overlaps already-landed " +
            s"${overlapping.mkString(", ")} — two exporters advanced " +
            "this feed concurrently; this export withdrew its delta, " +
            "serialize the exporters and re-run advance()")
      }
    }
    writeState(f, dir, head)
    Some((last, head))
  }

  /** The feed's pinned schema (written by the first export). */
  def schemaOf(spark: SparkSession, feedDir: String): StructType = {
    val sf = new Path(feedDir, SchemaFile)
    val f = fs(spark, sf)
    require(f.exists(sf),
      s"$feedDir has no exported delta yet — advance() the feed first")
    val in = f.open(sf)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    DataType.fromJson(text).asInstanceOf[StructType]
  }

  /**
   * The feed as a streaming DataFrame: Spark's file source over the
   * immutable delta directories. Consumers own their exactly-once
   * (checkpointLocation on the query); `_commit_version` orders
   * batches that arrive together.
   */
  def readStream(spark: SparkSession, feedDir: String): DataFrame =
    spark.readStream
      .schema(schemaOf(spark, feedDir))
      .parquet(s"$feedDir/delta_*")

  /**
   * Retention sweep: delete delta directories whose whole range is at
   * or below `consumedVersion` (every consumer's checkpoint has passed
   * them — the CALLER asserts that, exactly like Delta VACUUM's
   * retention contract). Deleting an immutable, already-consumed dir
   * never disturbs a reader mid-batch: the file source's checkpoint
   * names files, and a restarted query only lists FORWARD. Returns the
   * number of directories reclaimed. The resume point survives — the
   * state file carries the last exported version even when every delta
   * dir is swept.
   */
  def expireConsumed(spark: SparkSession, feedDir: String,
                     consumedVersion: Int): Int = {
    val dir = new Path(feedDir)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return 0
    // the state file must hold the resume point BEFORE dirs vanish
    // (lastExported prefers the listing; after the sweep only the
    // cache remains for the swept prefix)
    lastExported(f, dir).foreach(v => writeState(f, dir, v))
    val victims = f.listStatus(dir).toSeq.filter { st =>
      st.isDirectory && (st.getPath.getName match {
        case DeltaRe(_, to) => to.toInt <= consumedVersion
        case _ => false
      })
    }
    victims.foreach(st => f.delete(st.getPath, true))
    victims.size
  }
}
