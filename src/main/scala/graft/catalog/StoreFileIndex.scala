package graft.catalog

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/**
 * Every store read's index: a [[FileIndex]] over a slice of ONE
 * committed manifest version — the whole snapshot, a scoped commit's
 * touched buckets, a DML find's candidate files — whose `listFiles`
 * prunes with the store's own walk ([[MergeSnapshotStore]]
 * `fileMayMatch`) before Spark opens a single parquet footer. The
 * store's one scan builder (`skippingFrame`) puts it under every read,
 * typed and SQL alike. The walk has two arms: the bucket arm hashes
 * primary-key literals (`pk = v`, `pk <=> v`, `pk IN (…)`, and
 * composite keys pinned by one conjunction) to their
 * `pmod(hash(pk), nBuckets)` buckets in the driver and keeps only
 * those buckets' files; the stats arm judges footer min/max bounds,
 * truncated string bounds and value sets. The file statuses come from
 * the store's driver-side enumeration, so planning runs no Spark
 * listing job however many bucket directories the slice spans.
 *
 * This is the architecture Delta Lake uses on Spark (TahoeFileIndex →
 * HadoopFsRelation), chosen over a DataSource V2 `TableProvider`
 * deliberately, for two Spark-first reasons:
 *
 *  - `listFiles` receives the pushed predicates as FULL Catalyst
 *    `Expression`s, so SQL pruning judges EXACTLY the same tree the
 *    typed `readWhere` walk judges — V2's `SupportsPushDownFilters`
 *    hands the source lossy `sources.Filter` translations, which
 *    would silently drop the expression-derived skipping shapes
 *    (negations, prefix intervals, value-set probes) rounds 9–15
 *    built.
 *  - Planning lands on Spark's own `FileSourceScanExec` +
 *    vectorized parquet reader: remaining row-group/page/bloom
 *    pruning, column pruning, and whole-stage codegen all come for
 *    free, where a V2 `PartitionReader` would reimplement (or
 *    bypass) the vectorized read path.
 *
 * Snapshot semantics: the file list and stats are pinned to the
 * manifest version the index was built from — a later commit is
 * invisible (re-derive the frame to see it), `refresh()` is a no-op,
 * and vacuum retention covers readers the same way it covers a
 * pinned [[MergeSnapshotStore.read]].
 *
 * Scale shape: `listFiles` is a driver-side fold over manifest-sized
 * stats (the same walk `readWhere` runs — no file is opened to decide),
 * and `sizeInBytes` reports the slice's true byte size, so Catalyst
 * auto-broadcasts genuinely small store tables in SQL joins.
 */
private[graft] final class StoreFileIndex(
    location: String,
    files: Seq[(String, FileStatus)],
    mayMatch: Expression => String => Boolean)
  extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(new Path(location))
  override def partitionSchema: StructType = new StructType()
  override def sizeInBytes: Long = files.map(_._2.getLen).sum
  override def inputFiles: Array[String] =
    files.map(_._2.getPath.toString).toArray
  override def refresh(): Unit = () // manifest-pinned snapshot

  /** The relative paths the most recent planning kept — the plan-pin
   * hook proving SQL pruning equals `readWhere`'s for one predicate. */
  @volatile private[graft] var lastKept: Seq[String] = files.map(_._1)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // Spark hands the pushed predicate over split into conjuncts; the
    // walk judges their AND in one pass, so a composite key pinned
    // across separate conjuncts (`a = 1 AND b = 'x'`) still maps to its
    // bucket — for the stats arm the verdict equals the per-conjunct
    // one (a file may match an AND only if it may match each side)
    val kept = dataFilters.reduceOption(And) match {
      case None => files
      case Some(f) =>
        val may = mayMatch(f)
        files.filter { case (rel, _) => may(rel) }
    }
    lastKept = kept.map(_._1)
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_._2).toArray))
  }
}
