package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * The store's change feed as a streaming source ([[ChangeFeed]]):
 * advance() exports committed-version diffs as immutable delta
 * directories; readStream() is Spark's file source over them. Pins:
 * the exported delta equals the store's own changesBetween; advance is
 * idempotent and crash-safe (the directory listing, not the state
 * file, is the resume point); the default baseline is "changes from
 * now on" with an optional backfill version; PK-less tables export the
 * multiset feed; a real streaming query consumes the feed exactly-once
 * across restarts via its own checkpoint; an exporter paused past the
 * source's retention refuses loudly.
 */
class ChangeFeedSpec extends AnyFunSuite with SparkFixture {

  private def mkStore(keep: Int = 10): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = 4,
      keepVersions = keep, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String,
                       pk: Seq[String] = Seq("id")): TableMeta = {
    val meta = TableMeta("fdb", tbl,
      Files.createTempDirectory(s"graft-feed-$tbl").toString,
      primaryKey = pk)
    store.catalog.register(meta)
    meta
  }

  private def frame(n: Int = 64): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong, s"c${i % 4}"))
      .toDF("id", "v", "cls")
  }

  private def feedDir(tag: String): String =
    Files.createTempDirectory(s"graft-feed-dir-$tag").toString + "/feed"

  test("advance exports exactly the store's own diff, then goes quiet") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("fdb", "t", frame())
    val dir = feedDir("basic")
    // baseline: nothing exported, feed starts at the current head
    assert(ChangeFeed.advance(store, "fdb", "t", dir).isEmpty)
    val v0 = store.latestVersion("fdb", "t")
    store.deleteWhere("fdb", "t", col("cls") === "c1")
    store.updateWhere("fdb", "t", col("id") === 2L, Map("v" -> lit(-2L)))
    val head = store.latestVersion("fdb", "t")
    val Some((from, to)) = ChangeFeed.advance(store, "fdb", "t", dir)
    assert(from == v0 && to == head)
    val got = spark.read.parquet(s"$dir/delta_v${from}_v$to")
    assert(got.select("_from_version", "_commit_version").distinct()
      .head() == org.apache.spark.sql.Row(v0, head))
    val want = store.changesBetween("fdb", "t", v0, head)
    assert(got.drop("_from_version", "_commit_version")
      .exceptAll(want).count() == 0 &&
      want.exceptAll(got.drop("_from_version", "_commit_version"))
        .count() == 0, "the exported delta must equal the live diff")
    // D rows for the 16 deleted keys + U row for id 2
    assert(got.filter(col("change") === "D").count() == 16)
    assert(got.filter(col("change") === "U").count() == 1)
    // no movement → no export
    assert(ChangeFeed.advance(store, "fdb", "t", dir).isEmpty)
  }

  test("advance is idempotent and resumes from the directory listing") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("fdb", "t", frame())
    val dir = feedDir("idem")
    ChangeFeed.advance(store, "fdb", "t", dir)
    store.deleteWhere("fdb", "t", col("id") < 8L)
    ChangeFeed.advance(store, "fdb", "t", dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def deltaDirs = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("delta_")).toSeq.sorted
    val before = deltaDirs
    // simulate the crash between rename and state write: the state file
    // vanishes, but the landed delta directory is the resume point
    f.delete(new org.apache.hadoop.fs.Path(dir, "_last_exported"), false)
    assert(ChangeFeed.advance(store, "fdb", "t", dir).isEmpty,
      "a re-advance after the crash must not re-export")
    assert(deltaDirs == before, "no duplicate or overlapping delta dirs")
  }

  test("startVersion backfills the feed from a retained version") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("fdb", "t", frame())
    val v0 = store.latestVersion("fdb", "t")
    store.deleteWhere("fdb", "t", col("cls") === "c0")
    val dir = feedDir("backfill")
    val Some((from, to)) =
      ChangeFeed.advance(store, "fdb", "t", dir, startVersion = Some(v0))
    assert(from == v0 && to == v0 + 1)
    val got = spark.read.parquet(s"$dir/delta_v${from}_v$to")
    assert(got.count() == 16 &&
      got.filter(col("change") === "D").count() == 16)
  }

  test("a PK-less source exports the multiset feed") {
    val store = mkStore()
    register(store, "t", pk = Nil)
    store.overwrite("fdb", "t", frame())
    val dir = feedDir("multiset")
    ChangeFeed.advance(store, "fdb", "t", dir)
    store.deleteWhere("fdb", "t", col("cls") === "c3")
    val Some((from, to)) = ChangeFeed.advance(store, "fdb", "t", dir)
    val got = spark.read.parquet(s"$dir/delta_v${from}_v$to")
    assert(got.columns.contains("copies"),
      s"PK-less feed is the multiset delta: ${got.columns.toSeq}")
    assert(got.count() == 16 && // 16 distinct deleted images, 1 copy each
      got.filter(col("change") === "D").count() == 16 &&
      got.agg(sum("copies")).head().getLong(0) == 16L)
  }

  test("a streaming query consumes the feed exactly-once across restarts") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("fdb", "t", frame())
    val dir = feedDir("stream")
    val ckpt = Files.createTempDirectory("graft-feed-ckpt").toString
    ChangeFeed.advance(store, "fdb", "t", dir)
    store.deleteWhere("fdb", "t", col("cls") === "c1")
    ChangeFeed.advance(store, "fdb", "t", dir)
    val out = Files.createTempDirectory("graft-feed-out").toString + "/sink"
    def runOnce(): Unit = {
      val q = ChangeFeed.readStream(spark, dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 16)
    // more commits land; the restarted query (same checkpoint) appends
    // ONLY the new delta — never a re-read of consumed directories
    store.updateWhere("fdb", "t", col("id") === 2L, Map("v" -> lit(99L)))
    ChangeFeed.advance(store, "fdb", "t", dir)
    runOnce()
    val sunk = spark.read.parquet(out)
    assert(sunk.count() == 17, "the restart must consume exactly the " +
      s"unseen delta: ${sunk.count()} rows")
    assert(sunk.filter(col("change") === "U").count() == 1)
  }

  test("the feed drives downstream replication + a maintained aggregate") {
    import graft.operators.Ivm
    // UPSTREAM: the table of record takes DML
    val up = mkStore()
    register(up, "src")
    up.overwrite("fdb", "src", frame())
    val dir = feedDir("compose")
    ChangeFeed.advance(up, "fdb", "src", dir)
    // DOWNSTREAM: a mirror + dashboard seeded from the initial snapshot,
    // then maintained from the FEED alone — the source never rescans
    val downTmp = Files.createTempDirectory("graft-feed-down").toString
    val downCat = new InMemoryCatalog
    val down = new MergeSnapshotStore(spark, downCat, nBuckets = 4,
      keepVersions = 4)
    downCat.register(TableMeta("ddb", "mirror", s"$downTmp/mirror"))
    downCat.register(TableMeta("ddb", "agg", s"$downTmp/agg"))
    val init = up.read("fdb", "src")
    down.overwrite("ddb", "mirror", init)
    down.overwrite("ddb", "agg", Ivm.countSumAgg(init, col("cls"), col("v")))
    // upstream DML lands; the exporter advances
    up.deleteWhere("fdb", "src", col("cls") === "c1")
    up.updateWhere("fdb", "src", col("id") === 2L, Map("v" -> lit(222L)))
    ChangeFeed.advance(up, "fdb", "src", dir)
    val q = StreamingAnalytics.maintainCountSum(
      ChangeFeed.readStream(spark, dir).drop("_from_version",
        "_commit_version"),
      down, "ddb", "mirror", "agg", Seq("id"), col("cls"), col("v"),
      s"$downTmp/ckpt")
    try q.processAllAvailable() finally q.stop()
    // the mirror equals the source; the dashboard equals the recompute
    val want = up.read("fdb", "src").collect().toSeq.sortBy(_.getLong(0))
    assert(down.read("ddb", "mirror").collect().toSeq
      .sortBy(_.getLong(0)) == want)
    val agg = down.read("ddb", "agg").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val fresh = Ivm.countSumAgg(up.read("fdb", "src"),
      col("cls"), col("v")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(agg == fresh,
      s"the feed-maintained dashboard drifted: $agg vs $fresh")
  }

  test("expireConsumed reclaims passed deltas; the resume point survives") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("fdb", "t", frame())
    val dir = feedDir("expire")
    ChangeFeed.advance(store, "fdb", "t", dir)
    store.deleteWhere("fdb", "t", col("id") === 1L)
    val Some((_, v1)) = ChangeFeed.advance(store, "fdb", "t", dir)
    store.deleteWhere("fdb", "t", col("id") === 2L)
    val Some((_, v2)) = ChangeFeed.advance(store, "fdb", "t", dir)
    assert(ChangeFeed.expireConsumed(spark, dir, v1) == 1,
      "exactly the fully-consumed delta dir is reclaimed")
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val left = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("delta_")).toSeq
    assert(left == Seq(s"delta_v${v1}_v$v2"))
    // the resume point survives a FULL sweep: no overlap, no re-export
    assert(ChangeFeed.expireConsumed(spark, dir, v2) == 1)
    assert(ChangeFeed.advance(store, "fdb", "t", dir).isEmpty)
    store.deleteWhere("fdb", "t", col("id") === 3L)
    val Some((from3, _)) = ChangeFeed.advance(store, "fdb", "t", dir)
    assert(from3 == v2, "the next export resumes exactly past the sweep")
  }

  test("a racing exporter on a DIFFERENT head withdraws its overlapping delta") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("fdb", "t", frame())
    val dir = feedDir("overlap")
    ChangeFeed.advance(store, "fdb", "t", dir) // baseline at v0
    val v0 = store.latestVersion("fdb", "t")
    store.deleteWhere("fdb", "t", col("id") === 1L) // v0+1
    store.deleteWhere("fdb", "t", col("id") === 2L) // v0+2
    val head = store.latestVersion("fdb", "t")
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the race: another exporter read the same last=v0 but an EARLIER
    // head, and its delta_v{v0}_v{v0+1} lands between our tmp write and
    // our rename — disjoint names, overlapping change ranges
    val racer = new org.apache.hadoop.fs.Path(dir, s"delta_v${v0}_v${v0 + 1}")
    ChangeFeed.onBeforeRename(() => f.mkdirs(racer))
    val ex = intercept[java.util.ConcurrentModificationException] {
      ChangeFeed.advance(store, "fdb", "t", dir)
    }
    assert(ex.getMessage.contains("overlaps"), ex.getMessage)
    def deltaDirs = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("delta_")).toSeq.sorted
    assert(deltaDirs == Seq(s"delta_v${v0}_v${v0 + 1}"),
      s"our delta must be withdrawn, the racer's kept: $deltaDirs")
    // recovery: the next advance resumes past the racer's export and
    // lands exactly the missing tail — no gap, no double delivery
    val Some((from, to)) = ChangeFeed.advance(store, "fdb", "t", dir)
    assert(from == v0 + 1 && to == head)
  }

  test("a garbled resume record fails by name, not as a bare parse error") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("fdb", "t", frame())
    val dir = feedDir("garble")
    ChangeFeed.advance(store, "fdb", "t", dir)
    store.deleteWhere("fdb", "t", col("id") === 1L)
    val Some((_, v1)) = ChangeFeed.advance(store, "fdb", "t", dir)
    // full sweep: the state file becomes the feed's only resume record…
    ChangeFeed.expireConsumed(spark, dir, v1)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sf = new org.apache.hadoop.fs.Path(dir, "_last_exported")
    val out = f.create(sf, true)
    try out.write("garbage".getBytes("UTF-8")) finally out.close()
    store.deleteWhere("fdb", "t", col("id") === 2L)
    val ex = intercept[IllegalStateException] {
      ChangeFeed.advance(store, "fdb", "t", dir)
    }
    assert(ex.getMessage.contains("re-seed") &&
      ex.getMessage.contains("garbage"), ex.getMessage)
  }

  test("a schema-evolved source refuses the pinned feed, naming the remedy") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("fdb", "t", frame())
    val dir = feedDir("evolve")
    ChangeFeed.advance(store, "fdb", "t", dir)
    store.deleteWhere("fdb", "t", col("id") === 1L)
    ChangeFeed.advance(store, "fdb", "t", dir) // pins the schema
    // the source RENAMES a column (one-manifest DDL); the next delta
    // would resolve WRONGLY under the pinned schema — refuse loudly
    store.renameColumn("fdb", "t", "v", "val2")
    store.deleteWhere("fdb", "t", col("id") === 2L)
    val ex = intercept[IllegalArgumentException] {
      ChangeFeed.advance(store, "fdb", "t", dir)
    }
    assert(ex.getMessage.contains("FRESH"), ex.getMessage)
    // a fresh feed directory carries the new era, backfilled from the
    // last version the old feed exported — no gap, no silent NULLs
    val last = spark.read.parquet(s"$dir/delta_*")
      .agg(max("_commit_version")).head().getInt(0)
    val dir2 = feedDir("evolve2")
    val Some((from, _)) = ChangeFeed.advance(store, "fdb", "t", dir2,
      startVersion = Some(last))
    assert(from == last)
    val got = spark.read.parquet(s"$dir2/delta_*")
    assert(got.columns.contains("val2") &&
      got.filter(col("change") === "D").count() >= 1)
  }

  test("a RETYPED source (same names, new types) also refuses the pin") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("fdb", "t", frame())
    val dir = feedDir("retype")
    ChangeFeed.advance(store, "fdb", "t", dir)
    store.deleteWhere("fdb", "t", col("id") === 1L)
    ChangeFeed.advance(store, "fdb", "t", dir) // pins the schema
    // overwrite restructures freely: v becomes a string, names unchanged
    // — a name-only guard would pass this and land a delta whose parquet
    // types mismatch the pinned readStream schema, failing at CONSUME
    // time instead of here
    store.overwrite("fdb", "t",
      frame().withColumn("v", concat(lit("s"), col("v"))))
    val ex = intercept[IllegalArgumentException] {
      ChangeFeed.advance(store, "fdb", "t", dir)
    }
    assert(ex.getMessage.contains("FRESH"), ex.getMessage)
  }

  test("a WIDENED source refuses the pin; the fresh era carries the wide type") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("fdb", "t",
      frame().withColumn("vi", col("v").cast("int")))
    val dir = feedDir("widen")
    ChangeFeed.advance(store, "fdb", "t", dir)
    store.deleteWhere("fdb", "t", col("id") === 1L)
    ChangeFeed.advance(store, "fdb", "t", dir) // pins vi AS INT
    // metadata-only widen: same names, wider type — the pinned parquet
    // schema cannot read long deltas, so export must refuse, not the
    // consumer's stream
    store.alterColumnType("fdb", "t", "vi",
      org.apache.spark.sql.types.LongType)
    store.deleteWhere("fdb", "t", col("id") === 2L)
    val ex = intercept[IllegalArgumentException] {
      ChangeFeed.advance(store, "fdb", "t", dir)
    }
    assert(ex.getMessage.contains("FRESH"), ex.getMessage)
    // the fresh era backfills gap-free and spells the WIDE type (the
    // cross-widen diff up-casts its narrow side)
    val last = spark.read.parquet(s"$dir/delta_*")
      .agg(max("_commit_version")).head().getInt(0)
    val dir2 = feedDir("widen2")
    val Some((from, _)) = ChangeFeed.advance(store, "fdb", "t", dir2,
      startVersion = Some(last))
    assert(from == last)
    val got = spark.read.parquet(s"$dir2/delta_*")
    assert(got.schema("vi").dataType ==
      org.apache.spark.sql.types.LongType &&
      got.filter(col("change") === "D").count() >= 1)
  }

  test("an exporter paused past the source's retention refuses loudly") {
    val store = mkStore(keep = 2)
    register(store, "t")
    store.overwrite("fdb", "t", frame())
    val dir = feedDir("retention")
    ChangeFeed.advance(store, "fdb", "t", dir) // baseline at v0
    // three commits age the baseline manifest out (keep=2)
    store.deleteWhere("fdb", "t", col("id") === 1L)
    store.deleteWhere("fdb", "t", col("id") === 2L)
    store.deleteWhere("fdb", "t", col("id") === 3L)
    val ex = intercept[IllegalArgumentException] {
      ChangeFeed.advance(store, "fdb", "t", dir)
    }
    assert(ex.getMessage.contains("not committed/retained"),
      s"wanted the retention refusal, got: ${ex.getMessage}")
  }
}
