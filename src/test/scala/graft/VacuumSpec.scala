package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
import graft.operators.QueryRunner

/**
 * Callable VACUUM + time-based retention
 * ([[MergeSnapshotStore.vacuum(db:String*]],
 * [[MergeSnapshotStore.RetentionProp]]) — the compliance end of the
 * merge-on-read takedown story. Pins: a COMMIT-QUIET table's masked
 * bytes are physically reclaimable by an explicit vacuum after the
 * retention window and NOT before (the window is the per-table
 * property, wall-clock, honored without any further commit); RETAIN
 * overrides one pass; keepVersions stays the manifest floor; vacuum
 * consumes no version and never changes an answer; the expired-pin
 * refusal names the window in time; the VACUUM statement rides the
 * dml dialect.
 */
class VacuumSpec extends AnyFunSuite with SparkFixture {

  private val HourMs = 3600L * 1000L

  private def mkStore(keep: Int = 1, retentionMs: Long = 0L): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = 4,
      keepVersions = keep, vacuumRetentionMs = retentionMs)

  private def register(store: MergeSnapshotStore, tbl: String,
                       props: Map[String, String] = Map.empty): TableMeta = {
    val meta = TableMeta("vdb", tbl,
      Files.createTempDirectory(s"graft-vac-$tbl").toString,
      primaryKey = Seq("id"), properties = props)
    store.catalog.register(meta)
    meta
  }

  private def frame(n: Int = 64): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong, s"c${i % 4}"))
      .toDF("id", "v", "cls")
  }

  private def hfs(loc: String): FileSystem =
    new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every data file currently on disk under the table, manifest or not —
   * the set a subpoena of the raw storage would see. */
  private def rawFiles(loc: String): Seq[String] = {
    val f = hfs(loc)
    val root = new Path(s"$loc/data")
    if (!f.exists(root)) return Nil
    f.listStatus(root).filter(_.isDirectory).flatMap { c =>
      f.listStatus(c.getPath).filter(_.isDirectory).flatMap { b =>
        f.listStatus(b.getPath).filter(st => st.isFile &&
          st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString)
      }
    }.toSeq
  }

  /** True while any RAW parquet byte on disk still holds one of `ids` —
   * the physical-erasure question, deliberately bypassing the manifest. */
  private def rawHolds(loc: String, ids: Seq[Long]): Boolean = {
    val files = rawFiles(loc)
    files.nonEmpty && spark.read.parquet(files: _*)
      .filter(col("id").isin(ids: _*)).limit(1).collect().nonEmpty
  }

  private def backdateTombstones(loc: String, byMs: Long): Int = {
    val f = hfs(loc)
    val root = new Path(s"$loc/data")
    val past = (System.currentTimeMillis() - byMs).toString
    var n = 0
    f.listStatus(root).filter(_.isDirectory).foreach { c =>
      f.listStatus(c.getPath).filter(_.isDirectory).foreach { b =>
        val tomb = new Path(b.getPath, "_expired_at")
        if (f.exists(tomb)) {
          val out = f.create(tomb, true)
          try out.write(past.getBytes("UTF-8")) finally out.close()
          n += 1
        }
      }
    }
    n
  }

  test("quiet-table takedown: masked bytes reclaim after the window, NOT before") {
    // per-table horizon of 1 HOUR on a store whose default is eager —
    // the property must govern, not the constructor
    val store = mkStore(keep = 1, retentionMs = 0L)
    val meta = register(store, "t",
      Map(MergeSnapshotStore.RetentionProp -> HourMs.toString))
    store.overwrite("vdb", "t", frame())
    val gone = Seq(3L, 17L, 42L)
    store.deleteWhere("vdb", "t", col("id").isin(gone: _*),
      MergeSnapshotStore.MergeOnRead)
    // logically erased at once…
    assert(store.read("vdb", "t").filter(col("id").isin(gone: _*))
      .count() == 0)
    // …but physically present until fold + vacuum horizon
    assert(rawHolds(meta.location, gone), "MoR delete leaves bytes in place")
    store.compactDebt("vdb", "t")
    // the fold's own commit-path vacuum ran, but the horizon holds:
    // pre-fold dirs are tombstoned, not deleted
    assert(rawHolds(meta.location, gone),
      "inside the window the masked bytes must survive every pass")
    val head = store.latestVersion("vdb", "t")
    val before = store.vacuum("vdb", "t")
    assert(before.dirsReclaimed == 0 && before.dirsAwaitingHorizon > 0,
      s"an explicit vacuum INSIDE the window reclaims nothing: $before")
    assert(rawHolds(meta.location, gone))
    // the table goes commit-quiet; the window passes (simulated by
    // backdating the tombstone epochs — deterministic, no sleeping)
    assert(backdateTombstones(meta.location, 2 * HourMs) > 0)
    val after = store.vacuum("vdb", "t")
    assert(after.dirsReclaimed > 0,
      s"past the window the explicit vacuum must reclaim: $after")
    assert(!rawHolds(meta.location, gone),
      "the takedown contract: no raw parquet byte holds the erased ids")
    // vacuum is lifecycle, not mutation: no version consumed, answers intact
    assert(store.latestVersion("vdb", "t") == head)
    assert(store.read("vdb", "t").count() == 64 - gone.size)
  }

  test("RETAIN override reclaims one pass early; the property stands after") {
    val store = mkStore(keep = 1, retentionMs = 0L)
    val meta = register(store, "t",
      Map(MergeSnapshotStore.RetentionProp -> HourMs.toString))
    store.overwrite("vdb", "t", frame())
    store.deleteWhere("vdb", "t", col("id") === 9L,
      MergeSnapshotStore.MergeOnRead)
    store.compactDebt("vdb", "t")
    assert(store.vacuum("vdb", "t").dirsReclaimed == 0)
    val r = store.vacuum("vdb", "t", retainMs = Some(0L))
    assert(r.dirsReclaimed > 0 && !rawHolds(meta.location, Seq(9L)))
  }

  test("keepVersions stays the floor: retention 0 never expires retained manifests") {
    val store = mkStore(keep = 3, retentionMs = 0L)
    register(store, "t")
    store.overwrite("vdb", "t", frame())
    store.deleteWhere("vdb", "t", col("id") === 1L)
    store.deleteWhere("vdb", "t", col("id") === 2L)
    store.deleteWhere("vdb", "t", col("id") === 3L)
    val head = store.latestVersion("vdb", "t")
    store.vacuum("vdb", "t", retainMs = Some(0L))
    // the floor: head, head-1, head-2 all still resolvable
    assert(store.read("vdb", "t", Some(head - 2)).count() == 63)
    assert(store.history("vdb", "t").count() == 3)
    // and the expired pin refuses naming the window in TIME, through
    // the pinned read and through readVersion alike
    Seq[() => Any](
      () => store.read("vdb", "t", Some(head - 3)),
      () => store.readVersion(store.catalog("vdb", "t"), head - 3)
    ).foreach { expired =>
      val ex = intercept[IllegalArgumentException](expired())
      assert(ex.getMessage.contains("retention window") &&
        ex.getMessage.contains("ms for this table"), ex.getMessage)
    }
  }

  test("the VACUUM statement rides the dialect: bare honors the horizon, RETAIN overrides") {
    val store = mkStore(keep = 1, retentionMs = 0L)
    val meta = register(store, "t",
      Map(MergeSnapshotStore.RetentionProp -> HourMs.toString))
    val runner = new QueryRunner(store)
    store.overwrite("vdb", "t", frame())
    runner.dml("vdb", "DELETE FROM t WHERE id = 5",
      MergeSnapshotStore.MergeOnRead)
    store.compactDebt("vdb", "t")
    assert(runner.dml("vdb", "VACUUM t") == 0L,
      "bare VACUUM inside the table's window reclaims nothing")
    assert(rawHolds(meta.location, Seq(5L)))
    assert(runner.dml("vdb", "VACUUM t RETAIN 0 HOURS") > 0L)
    assert(!rawHolds(meta.location, Seq(5L)))
    // the frame-returning surface wraps the same dispatch
    val f = runner.sql("vdb", "VACUUM t")
    assert(f.columns.toSeq == Seq("affected") && f.head().getLong(0) == 0L)
  }

  test("DRY RUN reports exactly the real pass's reclaim and touches nothing") {
    // a 1h-horizon table whose fold left tombstoned pre-fold dirs: a
    // RETAIN-0 pass would reclaim them — the dry run must SAY so and
    // DO nothing
    val store2 = mkStore(keep = 1, retentionMs = 0L)
    val meta2 = register(store2, "t2",
      Map(MergeSnapshotStore.RetentionProp -> HourMs.toString))
    store2.overwrite("vdb", "t2", frame())
    store2.deleteWhere("vdb", "t2", col("id") === 9L,
      MergeSnapshotStore.MergeOnRead)
    store2.compactDebt("vdb", "t2")
    val filesBefore = rawFiles(meta2.location).size
    val dry = store2.vacuum("vdb", "t2", retainMs = Some(0L), dryRun = true)
    assert(dry.dirsReclaimed > 0, s"the dry run must report the reclaim: $dry")
    assert(rawFiles(meta2.location).size == filesBefore,
      "a dry run deletes nothing")
    val real = store2.vacuum("vdb", "t2", retainMs = Some(0L))
    assert(real.dirsReclaimed == dry.dirsReclaimed,
      s"dry ($dry) and real ($real) passes must agree on the reclaim")
    assert(rawFiles(meta2.location).size < filesBefore)
    // the statement form
    val runner = new QueryRunner(store2)
    assert(runner.dml("vdb", "VACUUM t2 RETAIN 0 HOURS DRY RUN") == 0L,
      "nothing left to reclaim — and DRY RUN parses")
  }

  test("graft.manifest.keep.ms guarantees time travel beyond the count floor") {
    val store = mkStore(keep = 1, retentionMs = 0L)
    register(store, "t",
      Map(MergeSnapshotStore.ManifestKeepProp -> HourMs.toString))
    store.overwrite("vdb", "t", frame())
    store.deleteWhere("vdb", "t", col("id") === 1L)
    store.deleteWhere("vdb", "t", col("id") === 2L)
    store.vacuum("vdb", "t", retainMs = Some(0L))
    // keepVersions=1 would have expired everything but head; the window
    // keeps every young manifest readable — guaranteed time travel
    assert(store.history("vdb", "t").count() == 3,
      "manifests younger than the window must survive expiry")
    assert(store.read("vdb", "t", Some(0)).count() == 64)
    // an unparseable window refuses loudly
    register(store, "t2",
      Map(MergeSnapshotStore.ManifestKeepProp -> "forever"))
    intercept[IllegalArgumentException] {
      store.overwrite("vdb", "t2", frame())
    }
  }

  test("vacuumAll sweeps a database: per-table horizons, empty tables skipped") {
    val store = mkStore(keep = 1, retentionMs = 0L)
    register(store, "eager")
    val held = register(store, "held",
      Map(MergeSnapshotStore.RetentionProp -> HourMs.toString))
    register(store, "empty") // registered, never committed
    Seq("eager", "held").foreach { t =>
      store.overwrite("vdb", t, frame())
      store.deleteWhere("vdb", t, col("id") === 9L,
        MergeSnapshotStore.MergeOnRead)
      store.compactDebt("vdb", t)
    }
    val dry = store.vacuumAll("vdb", dryRun = true)
    assert(dry.keySet == Set("eager", "held"),
      s"empty registrations are skipped: ${dry.keySet}")
    // the eager table's fold already reclaimed under retention 0; the
    // held table waits on its hour — per-table horizons, one sweep
    assert(dry("held").dirsAwaitingHorizon > 0 &&
      dry("held").dirsReclaimed == 0, s"${dry("held")}")
    val real = store.vacuumAll("vdb")
    assert(rawHolds(held.location, Seq(9L)),
      "the sweep must honor the held table's window")
  }

  test("a malformed retention property refuses loudly; negatives refuse") {
    val store = mkStore()
    register(store, "t",
      Map(MergeSnapshotStore.RetentionProp -> "soon"))
    // fail-fast: even the COMMIT-path vacuum refuses a horizon it
    // cannot parse — a takedown pipeline must not run for months with
    // a silently-ignored compliance number
    val ex = intercept[IllegalArgumentException] {
      store.overwrite("vdb", "t", frame())
    }
    assert(ex.getMessage.contains(MergeSnapshotStore.RetentionProp))
    register(store, "t2",
      Map(MergeSnapshotStore.RetentionProp -> "-5"))
    intercept[IllegalArgumentException] {
      store.overwrite("vdb", "t2", frame())
    }
    register(store, "t3")
    store.overwrite("vdb", "t3", frame())
    intercept[IllegalArgumentException] {
      store.vacuum("vdb", "t3", retainMs = Some(-1L))
    }
  }
}
