package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event of the `events` stream table, typed for stateful ops. */
final case class StreamEvent(user_id: Long, event_id: Long, ts: Timestamp)

/** Open-session accumulator kept in the state store per user. */
final case class SessionState(startMs: Long, endMs: Long, nEvents: Long)

/** A closed user session (gap or watermark timeout ended it). */
final case class UserSession(user_id: Long, session_start: Timestamp,
                             session_end: Timestamp, n_events: Long)

/**
 * Streaming analytics over the event stream: watermarked windowed
 * aggregation (the standard tumbling-window shape) and gap-based
 * sessionization via `flatMapGroupsWithState` (the custom-state shape).
 * State size is bounded by the watermark in both — required for unbounded
 * streams.
 */
object StreamingAnalytics {

  /** Stream-static enrichment: join the stream against a (small) static
   * dimension — the dimension broadcasts per micro-batch, the stream
   * never shuffles. The streaming twin of the reference's domain joins. */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String,
             dimKey: String): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey), "left")

  /**
   * Watermarked stream-stream interval join — the two-live-streams
   * correlation step (impressions × clicks, request × response): rows
   * with equal `keyCol` join when the right event time lies within
   * `[left time, left time + toleranceSec]`. Both sides carry
   * watermarks and the range predicate is what BOUNDS THE STATE: each
   * side buffers only until the other side's watermark passes its join
   * window, the documented requirement for unbounded stream-stream
   * joins (without the time bound Spark would have to buffer both
   * streams forever). Inner join: unmatched rows drop. The same plan
   * runs on batch frames (the watermark is a no-op there), which the
   * spec uses as the oracle. Column names other than `keyCol` must be
   * distinct across the two sides; the right key column is dropped.
   */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTs: String, rightTs: String, toleranceSec: Long,
                   watermark: String = "30 seconds"): DataFrame = {
    require(toleranceSec >= 0, "toleranceSec must be >= 0")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
        l(keyCol) === r(keyCol) &&
          r(rightTs) >= l(leftTs) &&
          r(rightTs) <= l(leftTs) + expr(s"INTERVAL $toleranceSec seconds"))
      .drop(r(keyCol))
  }

  /** Tumbling-window event counts with a watermark bounding late data and
   * state. Works identically on a batch DataFrame (Spark runs the same
   * plan with a no-op watermark), which the spec uses as the oracle. */
  def windowedEventCounts(events: DataFrame, windowLen: String,
                          watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"))

  /**
   * Streaming exact dedup by content fingerprint — the ingest-time twin of
   * `Dedup.exact` for a document stream: each fingerprint's FIRST arrival
   * passes, replays within the watermark horizon drop, and the dedup state
   * EVICTS once the watermark passes (plain `dropDuplicates` on a
   * non-event-time key would hold one state entry per distinct document
   * forever — unbounded on an unbounded stream). Batch frames keep the
   * earliest-`tsCol` row per fingerprint (a window argmin — plain
   * dropDuplicates keeps a partition-layout-dependent row, which would
   * break first-arrival parity with the stream); rows tied on the
   * timestamp are one arbitrary pick on both paths.
   */
  def dedupByContent(docs: DataFrame, textCol: String, tsCol: String,
                     watermark: String = "1 hour"): DataFrame = {
    val fp = docs
      .withColumn("__fp", graft.operators.TextAnalysis.fingerprintMd5(col(textCol)))
    (if (docs.isStreaming)
       fp.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark("__fp")
     else {
       val w = org.apache.spark.sql.expressions.Window
         .partitionBy(col("__fp")).orderBy(col(tsCol).asc)
       fp.withColumn("__rn", row_number().over(w))
         .filter(col("__rn") === 1).drop("__rn")
     }).drop("__fp")
  }

  /**
   * Gap-based sessionization: events of a user belong to one session while
   * consecutive event times are within `gapMs`; a session closes when the
   * watermark passes its end + gap (event-time timeout), emitting one
   * summary row. Per-key state is one [[SessionState]] — O(users) state,
   * independent of event volume.
   */
  def sessionize(events: Dataset[StreamEvent], gapMs: Long,
                 watermark: String = "10 seconds"): Dataset[UserSession] = {
    val enc = Encoders.product[UserSession]
    implicit val stateEnc = Encoders.product[SessionState]
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, evs: Iterator[StreamEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSession(userId, new Timestamp(s.startMs),
              new Timestamp(s.endMs), s.nEvents))
          } else {
            // coalesce the open session and this batch's events as time
            // INTERVALS sorted by start: late (out-of-order) events merge
            // into whatever interval they are within the gap of — possibly
            // extending the open session's START — or close as their own
            // past session; they never smear onto an interval a full gap
            // away. (An event later than an already-emitted session cannot
            // reopen it — inherent to emit-on-close streaming.)
            val items = (state.getOption.map(s => (s.startMs, s.endMs, s.nEvents))
              ++ evs.map(e => (e.ts.getTime, e.ts.getTime, 1L)))
              .toArray.sortBy(i => (i._1, i._2))
            val closed = Seq.newBuilder[UserSession]
            var cur = items.head
            items.tail.foreach { case (s0, e0, n0) =>
              if (s0 - cur._2 <= gapMs)
                cur = (cur._1, math.max(cur._2, e0), cur._3 + n0)
              else {
                closed += UserSession(userId, new Timestamp(cur._1),
                  new Timestamp(cur._2), cur._3)
                cur = (s0, e0, n0)
              }
            }
            state.update(SessionState(cur._1, cur._2, cur._3))
            // a timeout in the past (all events late) is illegal — clamp
            // just past the watermark so the session closes next trigger
            state.setTimeoutTimestamp(
              math.max(cur._2 + gapMs, state.getCurrentWatermarkMs() + 1))
            closed.result().iterator
          }
        })(stateEnc, enc)
  }

  /**
   * Streaming incremental view maintenance: each micro-batch of an
   * I/U/D changelog (the [[graft.operators.Scd.snapshotDiff]] contract —
   * key columns, a `change` column, the NEW side of every tracked
   * column, at most one row per key per batch) folds into BOTH the
   * maintained snapshot table and a downstream count/sum aggregate, via
   * [[graft.operators.Ivm.applyCountSumDelta]]. The streaming twin of
   * q46: a CDC feed keeps a dashboard aggregate current without ever
   * rescanning the fact table — per trigger the work is changelog-sized
   * plus one group-cardinality merge.
   *
   * Both tables must be pre-seeded in the store (the snapshot with its
   * initial state, the aggregate with [[graft.operators.Ivm.countSumAgg]]
   * over it).
   *
   * Replay safety: foreachBatch is at-least-once and the two overwrites
   * are not atomic, so a naive read-latest fold would double-apply a
   * batch replayed after a crash between them (the AGGREGATE fold is not
   * idempotent). Instead the first attempt of each batch pins the BASE
   * version of both tables in a marker under the checkpoint
   * (tmp-write + rename, the landing-marker discipline), and every
   * attempt — first or replayed — recomputes from those pinned versions
   * via [[graft.catalog.MergeSnapshotStore.readVersion]]: byte-identical
   * results, so re-overwriting is harmless and the fold is idempotent by
   * determinism, not by a done-flag. A retry chain deeper than the
   * store's `keepVersions` loses the pinned base and FAILS the batch
   * (readVersion throws) — fail-safe, never a silent double-apply; size
   * `keepVersions` to the retry depth you want to ride out.
   */
  def maintainCountSum(changes: DataFrame, store: graft.catalog.MergeSnapshotStore,
                       db: String, snapTable: String, aggTable: String,
                       keys: Seq[String], group: Column, value: Column,
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    maintainAggregate(changes, store, db, snapTable, aggTable, keys,
      checkpoint,
      seed = Some(df => graft.operators.Ivm.countSumAgg(df, group, value))) {
      (agg, old, _, chg) =>
        graft.operators.Ivm.applyCountSumDelta(agg, old, chg, keys, group,
          value)
    }

  /** The min/max twin of [[maintainCountSum]]: same pinned-base replay
   * discipline, folding each batch with
   * [[graft.operators.Ivm.applyMinMaxDelta]] — a delete that hits a
   * group's stored extremum re-aggregates only the affected groups
   * against the batch's own NEW snapshot (which this runner computes
   * anyway), so per-trigger work stays changelog-plus-affected-groups
   * sized. Seed the aggregate with [[graft.operators.Ivm.minMaxAgg]]. */
  def maintainMinMax(changes: DataFrame, store: graft.catalog.MergeSnapshotStore,
                     db: String, snapTable: String, aggTable: String,
                     keys: Seq[String], group: Column, value: Column,
                     checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    maintainAggregate(changes, store, db, snapTable, aggTable, keys,
      checkpoint,
      seed = Some(df => graft.operators.Ivm.minMaxAgg(df, group, value))) {
      (agg, old, newSnap, chg) =>
        graft.operators.Ivm.applyMinMaxDelta(agg, old, newSnap, chg, keys,
          group, value)
    }

  /** The distinct-count twin: `auxTable` holds the MULTIPLICITY VIEW
   * ([[graft.operators.Ivm.distinctAux]] shape — one row per group/value
   * with its live count), maintained per batch by
   * [[graft.operators.Ivm.applyDistinctAuxDelta]]; the distinct count
   * itself is a group-cardinality read off the view
   * ([[graft.operators.Ivm.distinctCount]]). Seed the view with
   * `distinctAux` over the initial snapshot. */
  def maintainDistinct(changes: DataFrame, store: graft.catalog.MergeSnapshotStore,
                       db: String, snapTable: String, auxTable: String,
                       keys: Seq[String], group: Column, value: Column,
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    maintainAggregate(changes, store, db, snapTable, auxTable, keys,
      checkpoint,
      seed = Some(df => graft.operators.Ivm.distinctAux(df, group, value))) {
      (aux, old, _, chg) =>
        graft.operators.Ivm.applyDistinctAuxDelta(aux, old, chg, keys,
          group, value)
    }

  /** The shared streaming-IVM runner: maintains the snapshot table and
   * ONE downstream aggregate whose delta rule is `fold(agg, oldSnap,
   * newSnap, changelog)` — count/sum and min/max are the shipped folds;
   * any aggregate with a changelog delta rule slots in. */
  def maintainAggregate(changes: DataFrame, store: graft.catalog.MergeSnapshotStore,
                        db: String, snapTable: String, aggTable: String,
                        keys: Seq[String], checkpoint: String,
                        seed: Option[DataFrame => DataFrame] = None)(
      fold: (DataFrame, DataFrame, DataFrame, DataFrame) => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (chg: DataFrame, batchId: Long) =>
        applyIvmBatch(chg, batchId, store, db, snapTable, aggTable,
          keys, checkpoint, seed)(fold)
      }
      .start()

  /**
   * The REGISTRY form of [[maintainAggregate]] — the streaming twin of
   * [[graft.operators.Ivm.MaintainedAggregates]]: one changelog stream
   * moves the snapshot table and ANY number of maintained aggregates
   * per micro-batch, under the same pinned-base replay discipline (the
   * batch marker pins EVERY table's pre-batch version, so first and
   * replayed attempts recompute byte-identical frames and the
   * re-overwrites are harmless). The aggregates are the batch
   * registry's own [[graft.operators.Ivm.MaintainedAgg]] specs —
   * count/sum, min/max, distinct, a vector index, the BM25 index — so
   * the two runners cannot drift on delta rules. Two deliberate
   * differences from the batch registry: commits here are always FULL
   * overwrites (pinned-version replay needs deterministic recompute; a
   * partition-scoped merge acts on latest state, which a replay must
   * not), and seeds do not run at start (pre-seed every table — the
   * specs' `seed` is available for exactly that, or run the batch
   * registry's `seed` once before starting the stream). The specs'
   * `seed` IS invoked by the out-of-band drift repair: a foreign commit
   * landing on a table between micro-batches reseeds every aggregate
   * from the current logical snapshot before the next fold.
   */
  def maintainAggregates(changes: DataFrame, store: graft.catalog.MergeSnapshotStore,
                         db: String, snapTable: String,
                         aggs: Seq[graft.operators.Ivm.MaintainedAgg],
                         keys: Seq[String], checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (chg: DataFrame, batchId: Long) =>
        applyIvmRegistryBatch(chg, batchId, store, db, snapTable, aggs,
          keys, checkpoint)
      }
      .start()

  /** Test-only failpoint: runs once on the next registry batch after
   * the marker is pinned and the folds are built, BEFORE the mid-batch
   * guard and the writes — the window a foreign commit lands in for the
   * guard's spec. CONSUMED atomically (getAndSet, the store
   * failpoints' discipline) so two concurrently-running streaming
   * queries in one JVM can neither run an armed hook twice nor lose
   * it; a rerun never re-triggers it. */
  private val beforeBatchWritesRef =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())
  private[graft] def beforeBatchWrites: () => Unit = beforeBatchWritesRef.get()
  private[graft] def beforeBatchWrites_=(f: () => Unit): Unit =
    beforeBatchWritesRef.set(f)

  /** The one home of the IVM base-marker wire format's READ side: open,
   * decode, trim, split — both the replay pin and the fresh-batch drift
   * check parse through here, so the format can never drift between
   * them. */
  private def markerLines(fs: org.apache.hadoop.fs.FileSystem,
                          p: Path): Array[String] = {
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString.trim finally in.close()
    body.split('\n')
  }

  /** One micro-batch of [[maintainAggregate]] — its own method so replay
   * idempotence is directly testable (invoke twice with one batchId).
   * Delegates to the registry batch with a single spec; the marker
   * format ("aggV,snapV") is unchanged. `seed` feeds the drift repair
   * (an out-of-band commit on the base reseeds the aggregate); callers
   * without a seed rule get a LOUD refusal if repair is ever needed —
   * silently reseeding with the raw snapshot would hand the next fold a
   * wrong-shaped aggregate. */
  private[graft] def applyIvmBatch(chg: DataFrame, batchId: Long,
      store: graft.catalog.MergeSnapshotStore, db: String, snapTable: String,
      aggTable: String, keys: Seq[String], checkpoint: String,
      seed: Option[DataFrame => DataFrame] = None)(
      fold: (DataFrame, DataFrame, DataFrame, DataFrame) => DataFrame): Unit =
    applyIvmRegistryBatch(chg, batchId, store, db, snapTable,
      Seq(graft.operators.Ivm.MaintainedAgg(aggTable,
        seed = seed.getOrElse((_: DataFrame) => throw new IllegalStateException(
          s"out-of-band commits moved $db.$snapTable under a streaming " +
            s"maintainAggregate of $aggTable that has no seed rule — the " +
            "drift repair cannot rebuild the aggregate; pass a seed, use " +
            "maintainAggregates with a full MaintainedAgg spec, or reseed " +
            "manually and restart the stream")),
        fold = (agg, old, nw, c, _) => fold(agg, old, nw, c))),
      keys, checkpoint)

  /** One micro-batch of [[maintainAggregates]]. The marker records the
   * pre-batch version of every aggregate table (spec order) then the
   * snapshot's — for a single aggregate exactly the historical
   * "aggV,snapV" format. */
  private[graft] def applyIvmRegistryBatch(chg: DataFrame, batchId: Long,
      store: graft.catalog.MergeSnapshotStore, db: String, snapTable: String,
      aggs: Seq[graft.operators.Ivm.MaintainedAgg], keys: Seq[String],
      checkpoint: String): Unit = {
        require(aggs.nonEmpty, "need at least one maintained aggregate")
        require(aggs.map(_.table).distinct.size == aggs.size,
          "maintained aggregate tables must be distinct")
        // scoped: the changelog cut below AND operator-internal cuts a
        // fold creates (the min/max delta cuts its removed-rows frame)
        // release when the batch's writes land — otherwise every
        // micro-batch would pin blocks for the stream's lifetime
        if (!chg.isEmpty) graft.operators.Materialize.scoped {
          // cut once: the changelog feeds the snapshot fold (referenced
          // by EVERY aggregate and the snapshot write) plus each fold
          // directly — uncut, the micro-batch source would re-execute
          // once per write action (the batch registry's own rule)
          val chgC = graft.operators.Materialize(chg)
          // ONE shared append-only probe per micro-batch (not one per
          // sketch spec, which would stack an action per maintained
          // sketch): refuse a U/D batch before any pinned fold writes,
          // keeping every table untouched — the sketch folds also
          // refuse inline, but by then earlier aggregates in the spec
          // list may already have been overwritten this batch
          val aoTables = aggs.filter(_.appendOnly).map(_.table)
          if (aoTables.nonEmpty)
            require(chgC.filter(col("change").isin("U", "D")).limit(1)
                .collect().isEmpty,
              "streaming registry maintains APPEND-ONLY sketch " +
                s"aggregates (${aoTables.mkString(", ")}) but batch " +
                s"$batchId carries U/D rows, which no sketch can subtract")
          val markers = new Path(new Path(checkpoint), "graft-ivm-base")
          val fs = markers.getFileSystem(
            chg.sparkSession.sparkContext.hadoopConfiguration)
          val marker = new Path(markers, s"batch-$batchId")
          // marker line 1: versions (aggs in spec order, then snapshot —
          // for one aggregate exactly the historical "aggV,snapV");
          // line 2: the TABLE each version pins. Version numbers alone
          // cannot detect a spec list REORDERED under a live checkpoint
          // — same count, wrong pairing, both aggregates rebuilt from
          // wrong bases with no error. A one-line legacy marker (no
          // names) is accepted ONLY for a single-aggregate spec list:
          // the single-aggregate runner is the only writer that ever
          // produced that shape, so for a multi-aggregate checkpoint a
          // names-less marker can only be damage — accepting it by
          // count alone would re-open the reordered-spec mispairing
          // the names line exists to refuse.
          val tableNames = aggs.map(_.table) :+ snapTable
          val replay = fs.exists(marker)
          val doneMarker = new Path(markers, s"done-$batchId")
          val versions: Seq[Int] =
            if (replay) {
              val lines = markerLines(fs, marker)
              val parts = lines(0).split(",")
              require(parts.length == aggs.size + 1,
                s"garbled IVM base marker $marker: " +
                  s"'${lines.mkString("\\n")}' (expected " +
                  s"${aggs.size + 1} versions — did the spec list change " +
                  "under a live checkpoint?)")
              if (lines.length > 1)
                require(lines(1).split(",").toSeq == tableNames,
                  s"IVM base marker $marker pins tables ${lines(1)} but " +
                    s"the spec list is ${tableNames.mkString(",")} — the " +
                    "spec ORDER changed under a live checkpoint; restore " +
                    "it (or clear the checkpoint) before resuming")
              else
                require(aggs.size == 1,
                  s"IVM base marker $marker has no table-names line but " +
                    s"the spec list has ${aggs.size} aggregates — only the " +
                    "single-aggregate runner ever wrote names-less markers, " +
                    "so this one cannot prove which version pins which " +
                    "table; restore the marker (or clear the checkpoint) " +
                    "before resuming")
              val pinned = parts.toSeq.map(_.toInt)
              // the DONE marker proves every write of this batch landed;
              // a replay through it (crash between the last write and
              // the stream's own checkpoint commit) skips ALL writes —
              // the re-overwrites would be byte-identical recomputes
              // from the pre-batch pins, so skipping is exact, and it
              // closes the clobber window where an out-of-band commit
              // (a MoR takedown) landing AFTER the completed attempt
              // would be silently resurrected by a stale re-overwrite.
              // The skip sits AFTER the marker validation above, so a
              // spec list reordered under a live checkpoint still
              // refuses loudly instead of sailing past on a done batch.
              if (fs.exists(doneMarker)) {
                dropStaleMarkers(fs, markers, batchId)
                return
              }
              // a replay WITHOUT a done marker crashed mid-writes: its
              // own attempt accounts for at most ONE version on the
              // snapshot, so a snapshot MORE than one past the pin is
              // provably a foreign commit — folding against the stale
              // pin would resurrect its takedowns through the full
              // overwrite below. Refuse loudly (the marker stays: a
              // naive rerun must not take the fresh path and double-
              // fold). Exactly +1 stays accepted as the crashed
              // attempt's own landed write — the residual one-version
              // ambiguity the done marker closes for completed attempts.
              val snapAtReplay = store.latestVersion(db, snapTable)
              if (snapAtReplay > pinned.last + 1)
                throw new java.util.ConcurrentModificationException(
                  s"$db.$snapTable is at version $snapAtReplay but batch " +
                    s"$batchId's replay pins ${pinned.last} — more than " +
                    "the crashed attempt's one possible write, so a " +
                    "foreign commit landed while the batch was down; " +
                    "replaying would fold against the stale pin and " +
                    "clobber it. Reseed the aggregates from the current " +
                    "snapshot and clear the checkpoint before resuming")
              pinned
            } else {
              // FRESH batch: before pinning, detect OUT-OF-BAND commits
              // since this runner's previous batch — a merge-on-read
              // takedown (or any direct DML) landing on the base between
              // micro-batches moves rows the delta contract never sees,
              // so folding this batch naively would leave the aggregates
              // permanently carrying the taken-down rows' contribution.
              // The previous batch's marker proves where the runner left
              // every table (each +1: one overwrite per table per
              // batch); any table past that means foreign commits.
              // Repair is DELTA-SIZED where sound: the missed commits'
              // own changelog (a snapshot diff between the version the
              // registry left and the version that now stands — for the
              // common case, one takedown's pure-D feed) folds through
              // each spec's existing delta rule, exactly as if the
              // foreign commits had arrived as micro-batches. RESEED
              // from the current logical snapshot (the masked,
              // sidecar-applied view) remains the fallback where the
              // delta fold is unsound: the aggregate TABLE itself
              // drifted (its state is no longer the registry's),
              // the spec is append-only (sketches cannot subtract a
              // takedown's D rows), or the registry's pinned base is
              // no longer retained.
              // One benign false positive: a crash whose replay
              // re-committed some tables (+2 where the first attempt's
              // write landed) trips it too — versions alone cannot
              // distinguish that shape from a foreign commit, and the
              // repair is then a semantic no-op (post-replay the tables
              // are already consistent), never a wrong state.
              val prevVs: Option[Seq[Int]] =
                (try fs.listStatus(markers).toSeq
                 catch { case _: java.io.FileNotFoundException => Nil })
                  .flatMap { st =>
                    val n = st.getPath.getName
                    if (!n.startsWith("batch-")) None
                    else scala.util.Try(n.stripPrefix("batch-").toLong)
                      .toOption.filter(_ < batchId).map(_ -> st.getPath)
                  }.sortBy(_._1).lastOption.map { case (_, p) =>
                    val lines = markerLines(fs, p)
                    val parsed = lines(0).split(",").toSeq
                      .map(s => scala.util.Try(s.toInt).toOption)
                    require(parsed.forall(_.isDefined),
                      s"garbled IVM base marker $p: " +
                        s"'${lines.mkString("\\n")}' — restore it (or " +
                        "clear the checkpoint) before resuming")
                    parsed.flatten
                  }
              // versions observed ONCE; the drift verdict, the reseed's
              // snapshot pin, and the marker all speak from this listing
              // — re-listing after the check would absorb a foreign
              // commit landing in the window into the pin, hiding it
              // from every future batch's drift check
              val now = aggs.map(a => store.latestVersion(db, a.table)) :+
                store.latestVersion(db, snapTable)
              val repaired = prevVs.filter(_.size == now.size).exists { pv =>
                now != pv.map(_ + 1) && {
                  val cur = store.readVersion(
                    store.catalog(db, snapTable), now.last)
                  // where the registry left the snapshot; the foreign
                  // feed turns that version into the current one
                  val leftSnapV = pv.last + 1
                  val snapMoved = now.last != leftSnapV
                  val delta: Option[(DataFrame, DataFrame)] =
                    if (!snapMoved) None
                    else scala.util.Try {
                      val oldSnap = store.readVersion(
                        store.catalog(db, snapTable), leftSnapV)
                      val feed = graft.operators.Materialize(
                        graft.operators.Scd.snapshotDiff(oldSnap, cur, keys))
                      (oldSnap, feed) // readVersion throws past retention
                    }.toOption
                  graft.operators.Materialize.fanOut(
                      aggs.zipWithIndex.toSeq) { case (a, i) =>
                    val aggDrifted = now(i) != pv(i) + 1
                    val repairedDf = delta match {
                      case Some((oldSnap, feed))
                          if !aggDrifted && !a.appendOnly =>
                        a.fold(store.readVersion(
                            store.catalog(db, a.table), now(i)),
                          oldSnap, cur, feed, keys)
                      case _ if aggDrifted || snapMoved => a.seed(cur)
                      case _ => null // this table is consistent; skip
                    }
                    if (repairedDf != null)
                      store.overwrite(db, a.table, repairedDf)
                  }
                  true
                }
              }
              // the repair moved aggregate tables; the snapshot pin
              // stays the checked one
              val vs =
                if (!repaired) now
                else aggs.map(a => store.latestVersion(db, a.table)) :+
                  now.last
              require(vs.forall(_ >= 0),
                s"seed $db.$snapTable and every aggregate table before streaming")
              val tmp = new Path(markers, s".tmp-batch-$batchId")
              val out = fs.create(tmp, true)
              try out.write((vs.mkString(",") + "\n" +
                tableNames.mkString(",")).getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
              finally out.close()
              if (!fs.rename(tmp, marker))
                throw new java.io.IOException(
                  s"could not commit IVM base marker for batch $batchId")
              vs
            }
          val old = store.readVersion(store.catalog(db, snapTable), versions.last)
          // snapshot fold: U/D keys leave, I/U new images arrive
          val gone = chgC.filter(col("change").isin("U", "D"))
            .select(keys.map(col): _*)
          val arrived = chgC.filter(col("change").isin("I", "U")).drop("change")
          val newSnap = old.join(gone, keys, "left_anti")
            .unionByName(arrived.select(old.columns.map(col).toIndexedSeq: _*))
          // every fold reads its own PINNED pre-batch version — never the
          // latest, which on a replay already holds this batch
          val newAggs = aggs.zip(versions.init).map { case (a, v) =>
            a -> a.fold(store.readVersion(store.catalog(db, a.table), v),
              old, newSnap, chgC, keys)
          }
          // a foreign commit landing MID-batch (after the pin, before
          // the writes) would be clobbered by the full snapshot
          // overwrite below — a takedown silently un-happening — so the
          // batch refuses loudly instead; between batches the drift
          // check repairs, mid-batch the single-writer contract holds.
          // The just-written marker is DELETED before the throw: left
          // in place, the instructed rerun would take the replay path,
          // which (correctly) skips both this guard and the drift
          // check, and fold against the stale pin — exactly the clobber
          // this refusal exists to prevent. Deleting it makes the rerun
          // a FRESH batch that sees the foreign commit and repairs.
          beforeBatchWritesRef.getAndSet(() => ())()
          val snapNow = store.latestVersion(db, snapTable)
          if (!replay && snapNow != versions.last) {
            val cleared =
              try fs.delete(marker, false)
              catch { case _: java.io.IOException => false }
            throw new java.util.ConcurrentModificationException(
              s"$db.$snapTable moved to version $snapNow while batch " +
                s"$batchId was folding against pinned ${versions.last} — " +
                "out-of-band commits must land BETWEEN micro-batches " +
                "(the drift repair handles those); rerun the batch" +
                (if (cleared) ""
                 else s" AFTER removing the stale marker $marker — it " +
                   "could not be deleted, and a rerun that replays " +
                   "through it would fold against the stale pin"))
          }
          // independent aggregate tables land concurrently (the batch
          // registry's fanOut rationale); replay safety is unchanged —
          // every fold already read its own PINNED pre-batch version
          graft.operators.Materialize.fanOut(newAggs) { case (a, df) =>
            store.overwrite(db, a.table, df) }
          store.overwrite(db, snapTable, newSnap)
          // the batch is fully written: commit the DONE marker (tmp +
          // rename, the marker discipline) so a replay skips its writes
          val doneTmp = new Path(markers, s".tmp-done-$batchId")
          val dOut = fs.create(doneTmp, true)
          try dOut.write("done\n".getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          finally dOut.close()
          if (!fs.rename(doneTmp, doneMarker) && !fs.exists(doneMarker))
            throw new java.io.IOException(
              s"could not commit IVM done marker for batch $batchId")
          dropStaleMarkers(fs, markers, batchId)
        }
  }

  /** Completed batches never replay with a lower id: drop stale batch
   * and done markers AND any orphaned tmp a crashed-before-rename
   * attempt of an older batch left behind. */
  private def dropStaleMarkers(fs: org.apache.hadoop.fs.FileSystem,
                               markers: Path, batchId: Long): Unit =
    try fs.listStatus(markers).map(_.getPath).foreach { p =>
      val id = p.getName match {
        case s if s.startsWith("batch-") =>
          scala.util.Try(s.stripPrefix("batch-").toLong).toOption
        case s if s.startsWith(".tmp-batch-") =>
          scala.util.Try(s.stripPrefix(".tmp-batch-").toLong).toOption
        case s if s.startsWith("done-") =>
          scala.util.Try(s.stripPrefix("done-").toLong).toOption
        case s if s.startsWith(".tmp-done-") =>
          scala.util.Try(s.stripPrefix(".tmp-done-").toLong).toOption
        case _ => None
      }
      if (id.exists(_ < batchId)) fs.delete(p, false)
    } catch { case _: java.io.FileNotFoundException => () }
}
