package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.catalog.MergeSnapshotStore
import graft.ingest.GgLogsToParquet
import graft.operators.ChangeLogApplier

/**
 * Streaming front-end for the ingest + CDC-apply stages. The reference
 * leaves this as a ToDo ("Add Kinesis TX event", "Change to run as micro
 * batch", README.md:24-25, stub `trigger_kinesis_event`,
 * src/apply_change_log_to_delta.py:521-528); here the BATCH operators run
 * unchanged under Structured Streaming:
 *
 *  - the ingest transforms ([[GgLogsToParquet.ingest]]) are narrow column
 *    expressions, legal on a streaming DataFrame as-is;
 *  - the CDC merge reuses [[ChangeLogApplier.run]] inside `foreachBatch`
 *    (each micro-batch is an ordinary batch merge — exactly the "run as
 *    micro batch" design SURVEY §2.11 sketches);
 *  - replayed/duplicate events are dropped by `pos` within the watermark
 *    (GG `pos` is the log's unique sequence id).
 *
 * A Kinesis/Kafka source swaps in by replacing `readRawStream` — every
 * transform downstream is source-agnostic.
 */
object StreamingIngest {

  /** File-source streaming scan of raw GG JSON logs (schema required for
   * streaming reads; pass the envelope schema or one inferred from a
   * sample batch read). */
  def readRawStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(path)

  /** The batch ingest transforms, applied to the stream unchanged. */
  def ingest(raw: DataFrame): DataFrame = GgLogsToParquet.ingest(raw)

  /** Event-time column from the GG op timestamp string (first 26 chars =
   * micros precision, same coercion as the batch mapper). */
  def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("event_ts",
      to_timestamp(substring(col("op_ts"), 1, 26), "yyyy-MM-dd HH:mm:ss.SSSSSS"))

  /** Exactly-once-per-event within the watermark: drop replayed `pos`.
   * Streaming uses `dropDuplicatesWithinWatermark` so dedup state is
   * EVICTED once the watermark passes an event (plain dropDuplicates on a
   * non-event-time key would keep one state entry per pos forever); batch
   * frames take the plain distinct-by-pos path. */
  def dedupByPos(df: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val timed = withEventTime(df).withWatermark("event_ts", watermark)
    if (df.isStreaming) timed.dropDuplicatesWithinWatermark("pos")
    else timed.dropDuplicates("pos")
  }

  /** Land the hashed, date-partitioned stream through the catalog — the
   * streaming twin of the batch stage-1 landing ([[GgLogsToParquet.run]]).
   * Each micro-batch appends via [[MergeSnapshotStore.appendPartitioned]]
   * (partition layout comes from the table's registered metadata, not a
   * hardcoded path) and then re-registers the landed schema, keeping the
   * catalog definition in step with every landing write — parity with the
   * reference's `write_catalog(enableUpdateCatalog=True, partitionKeys=
   * PARTITION_BY)` at ingest (src/gg_logs_to_parquet.py:106-123).
   *
   * foreachBatch has no file-sink commit log, so replayed batch ids are
   * made idempotent the Delta-txn way: VERSIONED marker files
   * `_markers/_last_landed_batch.<id>` under the table directory record
   * each batch id whose append completed (tmp write + rename to a FRESH
   * name, so no
   * delete-then-rename window can leave the table markerless), and a
   * replayed id <= the highest marker is skipped instead of
   * double-appended. 'No marker present' means a fresh table and
   * proceeds; any OTHER marker-read failure (transient I/O, permissions,
   * a garbled marker name) fails the micro-batch so the stream RETRIES —
   * treating an unreadable marker as absent would re-append every prior
   * batch (the Unreadable-vs-Garbled discipline of the merge store's
   * tombstone repair, applied to the landing marker). One logical stream
   * per landing table; resetting the stream's checkpoint requires
   * clearing the markers too. The residual crash window (append done,
   * marker not yet renamed) is at-least-once — the downstream CDC
   * stage's `pos` dedup ([[dedupByPos]]) absorbs exactly that case. */
  def landTo(df: DataFrame, store: MergeSnapshotStore, db: String, table: String,
             checkpoint: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.drop("event_ts").writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val meta = store.catalog(db, table)
        val dir = new Path(meta.location)
        val fs = dir.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        if (batchId > lastLandedBatch(fs, dir)) {
          val fresh = GgLogsToParquet.holdsNoData(batch.sparkSession, meta.location)
          store.appendPartitioned(db, table, batch)
          store.catalog.register(meta.copy(schema =
            GgLogsToParquet.landedSchema(meta.schema, batch.schema, fresh)))
          writeLandedMarker(fs, dir, batchId)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Versioned landing-marker prefix: `_markers/_last_landed_batch.<id>`. */
  private[streaming] val MarkerPrefix = "_last_landed_batch"

  /** Markers live in a dedicated subdirectory: listing it costs
   * O(markers) regardless of how many data files the table accumulates,
   * and a plain `listStatus` handles ANY literal table path (a glob
   * call would reinterpret `[`/`{` in the directory name as pattern
   * syntax and silently miss the markers). */
  private[streaming] def markerDir(dir: Path) = new Path(dir, "_markers")

  /** Highest batch id with a completed landing append in `dir`, or -1
   * when no marker exists. Absent (missing marker dir or no marker
   * files) is the fresh-table case and proceeds; a marker name whose id
   * suffix does not parse, or any read failure other than not-found,
   * throws so the caller's micro-batch retries instead of
   * double-appending. A bare `_last_landed_batch` file at the TABLE
   * ROOT written by the pre-versioned scheme is still honored (its
   * CONTENT is the id) — ignoring it would replay every batch of an
   * existing table. */
  private[streaming] def lastLandedBatch(fs: FileSystem, dir: Path): Long = {
    val versioned =
      try fs.listStatus(markerDir(dir)).map(_.getPath.getName).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val suffixes = versioned.collect {
      case n if n.startsWith(MarkerPrefix + ".") =>
        (n, n.substring(MarkerPrefix.length + 1))
    }
    // the strict shape a marker commit writes: digits only
    val ids = suffixes.collect { case (n, s) if s.nonEmpty && s.forall(_.isDigit) =>
      try s.toLong
      catch { case e: NumberFormatException => // > Long.MaxValue digits
        throw new java.io.IOException(
          s"garbled landing marker $n in $dir — refusing to treat the table as fresh", e) }
    }
    val legacy =
      try {
        val in = fs.open(new Path(dir, MarkerPrefix))
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        try Seq(body.toLong)
        catch { case e: NumberFormatException => throw new java.io.IOException(
          s"garbled legacy landing marker in $dir — refusing to treat the table as fresh", e) }
      } catch { case _: java.io.FileNotFoundException => Seq.empty }
    // the coverage floor counts the legacy ROOT marker too: during a
    // legacy->versioned migration a table can hold only the root marker
    // plus an operator copy, and ignoring the root id would wedge it
    val maxId = (ids ++ legacy).foldLeft(-1L)(math.max)
    // an operator-made COPY of a valid marker (`.5.bak`, editor
    // droppings) is skippable ONLY while a real marker (bare versioned
    // or legacy root) with the same-or-higher id still names the landed
    // batch; if the suffixed file is all that's left (an operator
    // RENAMED the real marker, or its id exceeds every real marker),
    // skipping would silently regress lastLandedBatch and replay landed
    // batches — fail safe instead. Anything without a leading numeric
    // id is truly ambiguous and also fails safe.
    suffixes.foreach { case (n, s) =>
      if (!(s.nonEmpty && s.forall(_.isDigit))) {
        val lead = s.takeWhile(_ != '.')
        val covered = s.contains('.') && lead.nonEmpty && lead.forall(_.isDigit) &&
          (try lead.toLong <= maxId
           catch { case _: NumberFormatException => false })
        if (covered)
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"ignoring non-marker file $n in ${markerDir(dir)} " +
              "(copy of a still-present marker — operator droppings?)")
        else throw new java.io.IOException(
          s"garbled landing marker $n in $dir — refusing to treat the table as fresh")
      }
    }
    maxId
  }

  /** Commit batch `id` as landed: tmp write + rename to the fresh
   * versioned name (a fresh target needs no prior delete, so a crash at
   * any point leaves either the old markers or old + new — never none),
   * then best-effort cleanup of superseded markers (a failed delete only
   * costs extra names in the next listing). */
  private[streaming] def writeLandedMarker(fs: FileSystem, dir: Path, id: Long): Unit = {
    val md = markerDir(dir)
    val tmp = new Path(md, s".tmp-$MarkerPrefix.$id")
    val out = fs.create(tmp, true)
    try out.write(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(md, s"$MarkerPrefix.$id")))
      throw new java.io.IOException(
        s"could not commit landing marker for batch $id in $dir")
    try {
      fs.listStatus(md).map(_.getPath).foreach { p =>
        val n = p.getName
        if (n.startsWith(MarkerPrefix + ".") &&
            scala.util.Try(n.substring(MarkerPrefix.length + 1).toLong)
              .toOption.exists(_ < id))
          fs.delete(p, false)
      }
      fs.delete(new Path(dir, MarkerPrefix), false) // superseded legacy marker
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Merge each micro-batch into the structured snapshots with the batch
   * CDC applier (per-batch semantics identical to a batch run over that
   * slice of the log). */
  def applyEachBatch(spark: SparkSession, stream: DataFrame, store: MergeSnapshotStore,
                     db: String, checkpoint: String,
                     chainVerified: Boolean = false,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // an empty batch is a cheap no-op inside run (zero distinct
        // tables) — no isEmpty pre-check, which would execute the batch
        // plan an extra time per trigger
        ChangeLogApplier.run(spark, store, db, batch, chainVerified)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
