package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * PROMOTE BY REFERENCE ([[MergeSnapshotStore.promote]]): a commit that
 * publishes the destination's next version as the source head's
 * manifest with absolute references — the identity curated commit.
 * Pins: the refusals (CHECK constraint, another PK, another
 * `graft.nbuckets`) land before any hold or publish, and a plain
 * destination takes the source's PK and bucket count; no Spark job
 * runs; the destination reads equal to the source after each of
 * several batches, merge-on-read equality and position sidecars
 * included; a merge-on-read delete on the destination masks borrowed
 * rows; the source's vacuum keeps what a retained destination version
 * borrows and reclaims it once the destination moves on; the history
 * names the promoted source version.
 */
class PromoteSpec extends AnyFunSuite with SparkFixture {
  private val Db = "pdb"
  private val Mor = MergeSnapshotStore.MergeOnRead

  private def mkStore(keep: Int = 2): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = 4,
      keepVersions = keep, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, t: String,
                       pk: Seq[String] = Seq("id"),
                       props: Map[String, String] = Map.empty): TableMeta = {
    val meta = TableMeta(Db, t,
      Files.createTempDirectory(s"graft-promote-$t").toString + "/t",
      primaryKey = pk, properties = props)
    store.catalog.register(meta)
    meta
  }

  private def frame(n: Int = 96): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong, s"c${i % 4}")).toDF("id", "v", "cls")
  }

  private def rows(store: MergeSnapshotStore, t: String): Seq[Row] =
    store.read(Db, t).collect().toSeq.sortBy(_.getLong(0))

  private def holds(store: MergeSnapshotStore, t: String): Option[String] =
    store.catalog(Db, t).properties.get(MergeSnapshotStore.HoldsProp)

  test("refusals come before any hold or publish; a plain dst takes the source's PK and buckets") {
    val store = mkStore()
    register(store, "src", props = Map(MergeSnapshotStore.BucketsProp -> "2"))
    store.overwrite(Db, "src", frame())
    val checked = register(store, "checked", pk = Nil)
    store.addCheckConstraint(Db, "checked", "nonneg", "v >= 0")
    register(store, "otherpk", pk = Seq("v"))
    register(store, "otherbuckets", pk = Nil,
      props = Map(MergeSnapshotStore.BucketsProp -> "4"))
    Seq("checked" -> "CHECK", "otherpk" -> "PRIMARY KEY",
        "otherbuckets" -> MergeSnapshotStore.BucketsProp).foreach { case (t, why) =>
      val err = intercept[IllegalArgumentException](store.promote(Db, "src", Db, t))
      assert(err.getMessage.contains(why), s"$t: ${err.getMessage}")
      assert(store.latestVersion(Db, t) == -1, s"$t: nothing published")
      assert(holds(store, "src").isEmpty, s"$t: no hold registered")
    }
    assert(store.catalog(Db, "checked") == checked.copy(properties =
      checked.properties + (MergeSnapshotStore.CheckPropPrefix + "nonneg" -> "v >= 0")))

    register(store, "plain", pk = Nil)
    store.promote(Db, "src", Db, "plain")
    val meta = store.catalog(Db, "plain")
    assert(meta.primaryKey == Seq("id"))
    assert(meta.properties.get(MergeSnapshotStore.BucketsProp) == Some("2"))
    assert(rows(store, "plain") == rows(store, "src"))
    // the same PK, spelt in another case, and the same declared count pass
    register(store, "same", pk = Seq("ID"),
      props = Map(MergeSnapshotStore.BucketsProp -> "2"))
    store.promote(Db, "src", Db, "same")
    assert(holds(store, "src").get.split(',').length == 2)
  }

  test("a promote writes no parquet and runs no Spark job") {
    val store = mkStore()
    register(store, "src")
    val dst = register(store, "dst", pk = Nil)
    store.overwrite(Db, "src", frame())
    (1 to 3).foreach { i =>
      store.updateWhere(Db, "src", col("id") === i.toLong, Map("v" -> lit(-1L)))
      val (v, jobs) = JobRecorder.during(spark)(store.promote(Db, "src", Db, "dst"))
      assert(jobs.isEmpty, s"promote $i ran jobs: $jobs")
      assert(v == store.latestVersion(Db, "dst"))
    }
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(java.nio.file.Paths.get(dst.location))
    try assert(walk.iterator().asScala.forall(!_.toString.endsWith(".parquet")))
    finally walk.close()
  }

  test("dst reads equal src after every batch, equality and position sidecars included") {
    val store = mkStore()
    register(store, "src")
    register(store, "dst", pk = Nil)
    register(store, "psrc", pk = Nil)
    register(store, "pdst", pk = Nil)
    import spark.implicits._
    val keyed: Seq[(String, () => Unit)] = Seq(
      "overwrite" -> (() => store.overwrite(Db, "src", frame())),
      "merge" -> (() => store.mergeScoped(Db, "src", Seq(3L, 200L).toDF("id")) { old =>
        old.filter(col("id") =!= 3L).unionByName(Seq((200L, 7L, "c0")).toDF("id", "v", "cls"))
      }),
      "mor delete" -> (() => store.deleteWhere(Db, "src", col("cls") === "c1", Mor)),
      "update" -> (() => store.updateWhere(Db, "src", col("id") === 8L, Map("v" -> lit(80L)))),
      "mor delete 2" -> (() => store.deleteWhere(Db, "src", col("id") < 6L, Mor)))
    val pkLess: Seq[(String, () => Unit)] = Seq(
      "overwrite" -> (() => store.overwrite(Db, "psrc", frame())),
      "mor delete" -> (() => store.deleteWhere(Db, "psrc", col("cls") === "c2", Mor)),
      "mor delete 2" -> (() => store.deleteWhere(Db, "psrc", col("id") > 90L, Mor)))
    // a PK renamed after an equality sidecar, before the first promote:
    // dst must bind the key's on-disk spelling the sidecar and the files
    // keep
    register(store, "rsrc")
    register(store, "rdst", pk = Nil)
    val renamed: Seq[(String, () => Unit)] = Seq(
      "mor delete, pk rename" -> (() => {
        store.overwrite(Db, "rsrc", frame())
        store.deleteWhere(Db, "rsrc", col("cls") === "c0", Mor)
        store.renamePrimaryKeyColumn(Db, "rsrc", "id", "key")
      }))
    Seq(("rsrc", "rdst", renamed), ("src", "dst", keyed), ("psrc", "pdst", pkLess))
        .foreach { case (s, d, steps) =>
      var lastDst = -1
      steps.foreach { case (what, step) =>
        step()
        val v = store.promote(Db, s, Db, d)
        assert(v > lastDst && v >= store.latestVersion(Db, s) + 1, s"$d after $what: v$v")
        lastDst = v
        assert(rows(store, d) == rows(store, s), s"$d after $what")
        assert(store.manifestDeletes(Db, d, v).map(_._2) ==
          store.manifestDeletes(Db, s, store.latestVersion(Db, s)).map(_._2), s"$d after $what")
        if (what.startsWith("mor")) assert(store.manifestDeletes(Db, d, v).nonEmpty)
      }
    }
    // keyed: -id 3 +id 200, -cls c1 (24), -ids 0, 2, 4; PK-less: -cls c2
    // (24), -ids 91, 92, 93, 95
    assert(rows(store, "dst").size == 69)
    assert(rows(store, "pdst").size == 68)
    assert(store.catalog(Db, "rdst").primaryKey == Seq("key"))
    assert(store.read(Db, "rdst").columns.head == "key" && rows(store, "rdst").size == 72)
  }

  test("a merge-on-read DELETE on dst masks the borrowed rows") {
    val store = mkStore()
    register(store, "src")
    register(store, "dst", pk = Nil)
    store.overwrite(Db, "src", frame())
    store.promote(Db, "src", Db, "dst")
    store.deleteWhere(Db, "dst", col("cls") === "c3", Mor)
    assert(store.read(Db, "dst").count() == 72)
    assert(store.read(Db, "dst").filter(col("cls") === "c3").isEmpty)
    assert(store.read(Db, "src").count() == 96)
    // the next promote replaces dst's head with the source's again
    store.promote(Db, "src", Db, "dst")
    assert(rows(store, "dst") == rows(store, "src"))
  }

  test("the source's vacuum keeps what a retained dst version borrows, then reclaims it") {
    val store = mkStore(keep = 2)
    val src = register(store, "src")
    register(store, "dst", pk = Nil)
    store.overwrite(Db, "src", frame())
    val first = store.manifestEntries(Db, "src", store.latestVersion(Db, "src"))
      .values.map(d => new java.io.File(s"${src.location}/$d")).toSeq
    assert(first.nonEmpty && first.forall(_.isDirectory))
    val want = rows(store, "src")
    store.promote(Db, "src", Db, "dst")
    // the source rewrites everything twice: its own retained versions
    // no longer name `first`, dst's do
    (1 to 2).foreach(i =>
      store.overwrite(Db, "src", frame().withColumn("v", col("v") * (i + 1))))
    assert(first.forall(_.isDirectory), "borrowed dirs survive the source's vacuum")
    assert(store.readVersion(store.catalog(Db, "dst"),
      store.history(Db, "dst").orderBy("version").head().getInt(0)).collect()
      .toSeq.sortBy(_.getLong(0)) == want)
    // dst moves on: one promote keeps the first borrowing version
    // retained (keep = 2), the second expires it
    store.promote(Db, "src", Db, "dst")
    store.vacuum(Db, "src", retainMs = Some(0L))
    assert(first.forall(_.isDirectory), "still borrowed by a retained dst version")
    store.overwrite(Db, "src", frame())
    store.promote(Db, "src", Db, "dst")
    store.vacuum(Db, "src", retainMs = Some(0L))
    assert(first.forall(!_.exists()), "reclaimed once no retained dst version borrows it")
    assert(rows(store, "dst") == rows(store, "src"))
  }

  test("DESCRIBE HISTORY shows the promote and the source version") {
    val store = mkStore()
    register(store, "src")
    register(store, "dst", pk = Nil)
    store.overwrite(Db, "src", frame())
    store.deleteWhere(Db, "src", col("id") === 1L)
    val v = store.latestVersion(Db, "src")
    val d = store.promote(Db, "src", Db, "dst")
    assert(d == v + 1)
    val h = new graft.operators.QueryRunner(store).sql(Db, "DESCRIBE HISTORY dst")
      .orderBy(col("version").desc).head()
    assert(h.getInt(0) == d && h.getString(1) == s"promote($Db.src@$v)", s"head $h")
  }
}
