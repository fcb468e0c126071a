package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
import graft.operators.QueryRunner

/**
 * PRIMARY KEY rename — [[MergeSnapshotStore.renamePrimaryKeyColumn]],
 * the guided path the plain rename's refusal names. One commit moves
 * the manifest schema (column mapping, metadata-only), the catalog
 * registration, and the sidecar-binding record
 * ([[MergeSnapshotStore.PkPhysicalProp]] — equality sidecars always
 * spell the key's PHYSICAL name, so nothing migrates). Pins: carried
 * files read exact values and point-look-up under the new key;
 * merge-on-read masking written BEFORE the rename keeps masking after
 * it, masking written AFTER binds over pre-rename files, and BOTH mask
 * on reads pinned to mid-era manifests; scoped merges keep working;
 * the change feed crosses the rename by physical identity; the
 * dialect statement auto-routes; refusals stay loud.
 */
class PkRenameSpec extends AnyFunSuite with SparkFixture {

  private def mkStore(nBuckets: Int = 4): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = nBuckets,
      keepVersions = 16, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String): TableMeta = {
    val meta = TableMeta("kdb", tbl,
      Files.createTempDirectory(s"graft-pkren-$tbl").toString,
      primaryKey = Seq("id"))
    store.catalog.register(meta)
    meta
  }

  private def frame(n: Int = 64): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong, s"c${i % 4}"))
      .toDF("id", "v", "cls")
  }

  test("guided rename: metadata-only, carried files point-look-up under the new key") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("kdb", "t", frame())
    // a scoped merge first, so carried pre-rename files exist
    store.mergeScoped("kdb", "t", frame().filter(col("id") === 7L)
      .select("id")) { old =>
      old.withColumn("v", when(col("id") === 7L, lit(700L)).otherwise(col("v")))
    }
    val filesBefore = store.filesOf("kdb", "t").count()
    val ver = store.renamePrimaryKeyColumn("kdb", "t", "id", "row_id")
    assert(store.latestVersion("kdb", "t") == ver)
    assert(store.filesOf("kdb", "t").count() == filesBefore,
      "the PK rename is metadata-only")
    // the registration moved with the manifest
    assert(store.catalog("kdb", "t").primaryKey == Seq("row_id"))
    assert(store.catalog("kdb", "t").properties(
      MergeSnapshotStore.PkPhysicalProp) == "row_id:id")
    val got = store.read("kdb", "t")
    assert(got.columns.toSeq == Seq("row_id", "v", "cls"))
    val m = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(7L) == 700L && m(5L) == 5L && m.size == 64)
    // bucket routing survives: the point lookup prunes to the key's bucket
    import spark.implicits._
    val hit = store.pointLookup("kdb", "t", Seq(7L).toDF("row_id")).collect()
    assert(hit.length == 1 && hit.head.getLong(1) == 700L)
    assert(store.history("kdb", "t").filter(col("operation") ===
      "rename-pk(id->row_id)").count() == 1)
  }

  test("MoR masking crosses the rename in BOTH directions, head and pinned") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("kdb", "t", frame())
    // sidecar BEFORE the rename (spells the physical name 'id')
    store.deleteWhere("kdb", "t", col("v") === 10L,
      MergeSnapshotStore.MergeOnRead)
    val vMid = store.latestVersion("kdb", "t")
    store.renamePrimaryKeyColumn("kdb", "t", "id", "row_id")
    assert(store.read("kdb", "t").count() == 63,
      "the pre-rename sidecar must keep masking after the rename")
    // sidecar AFTER the rename (also spells 'id' — the physical name)
    store.deleteWhere("kdb", "t", col("v") === 11L,
      MergeSnapshotStore.MergeOnRead)
    val head = store.read("kdb", "t")
    assert(head.count() == 62 &&
      head.filter(col("v").isin(10L, 11L)).count() == 0)
    // pinned MID-ERA read (pre-rename manifest, post-rename meta): the
    // old spelling binds through the physical record
    val pinned = store.read("kdb", "t", Some(vMid))
    assert(pinned.columns.head == "id" && pinned.count() == 63,
      "the pinned pre-rename era reads under its own spelling, masked")
    // scoped merge under the NEW key name; untouched buckets carry
    import spark.implicits._
    store.mergeScoped("kdb", "t", Seq(3L).toDF("row_id")) { old =>
      old.withColumn("v", when(col("row_id") === 3L, lit(-3L))
        .otherwise(col("v")))
    }
    val after = store.read("kdb", "t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after(3L) == -3L && after(4L) == 4L && after.size == 62)
  }

  test("a CHAINED second rename keeps both eras' sidecars masking") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("kdb", "t", frame())
    store.deleteWhere("kdb", "t", col("v") === 10L,
      MergeSnapshotStore.MergeOnRead)
    store.renamePrimaryKeyColumn("kdb", "t", "id", "row_id")
    store.deleteWhere("kdb", "t", col("v") === 11L,
      MergeSnapshotStore.MergeOnRead)
    store.renamePrimaryKeyColumn("kdb", "t", "row_id", "entity_id")
    store.deleteWhere("kdb", "t", col("v") === 12L,
      MergeSnapshotStore.MergeOnRead)
    // all three sidecars spell the ORIGINAL physical name — one stable
    // record regardless of how many renames intervened
    assert(store.catalog("kdb", "t").properties(
      MergeSnapshotStore.PkPhysicalProp) == "entity_id:id")
    val got = store.read("kdb", "t")
    assert(got.columns.head == "entity_id" && got.count() == 61 &&
      got.filter(col("v").isin(10L, 11L, 12L)).count() == 0)
    // renaming BACK to the physical spelling dissolves the record
    store.renamePrimaryKeyColumn("kdb", "t", "entity_id", "id")
    assert(!store.catalog("kdb", "t").properties
      .contains(MergeSnapshotStore.PkPhysicalProp))
    assert(store.read("kdb", "t").count() == 61)
  }

  test("the change feed crosses the PK rename by physical identity") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("kdb", "t", frame())
    val v0 = store.latestVersion("kdb", "t")
    store.renamePrimaryKeyColumn("kdb", "t", "id", "row_id")
    store.deleteWhere("kdb", "t", col("cls") === "c1")
    val feed = store.changesBetween("kdb", "t", v0,
      store.latestVersion("kdb", "t"))
    assert(feed.columns.contains("row_id") && !feed.columns.contains("id"))
    assert(feed.filter(col("change") === "D").count() == 16)
  }

  test("the statement auto-routes; refusals stay loud") {
    val store = mkStore()
    register(store, "t")
    val runner = new QueryRunner(store)
    store.overwrite("kdb", "t", frame())
    store.deleteWhere("kdb", "t", col("v") === 10L,
      MergeSnapshotStore.MergeOnRead)
    // the SAME statement spelling as a plain rename — the runner routes
    // the PK column through the guided path
    val v = runner.dml("kdb", "ALTER TABLE t RENAME COLUMN id TO row_id")
    assert(v == store.latestVersion("kdb", "t").toLong)
    assert(store.catalog("kdb", "t").primaryKey == Seq("row_id") &&
      store.read("kdb", "t").count() == 63)
    // refusals: non-PK column points back; duplicates; constraints
    val e1 = intercept[IllegalArgumentException] {
      store.renamePrimaryKeyColumn("kdb", "t", "v", "w")
    }
    assert(e1.getMessage.contains("renameColumn"), e1.getMessage)
    intercept[IllegalArgumentException] {
      store.renamePrimaryKeyColumn("kdb", "t", "row_id", "cls")
    }
    store.addCheckConstraint("kdb", "t", "key_pos", "row_id >= 0")
    val e2 = intercept[IllegalArgumentException] {
      store.renamePrimaryKeyColumn("kdb", "t", "row_id", "k2")
    }
    assert(e2.getMessage.contains("constraint"), e2.getMessage)
  }
}
