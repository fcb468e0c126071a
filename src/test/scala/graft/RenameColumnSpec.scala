package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
import graft.operators.QueryRunner

/**
 * Column-mapping RENAME ([[MergeSnapshotStore.renameColumn]] — Delta
 * columnMapping / Iceberg field ids, carried as physical names in
 * field metadata). Pins: the rename is metadata-only and carried
 * pre-rename files read CORRECT VALUES (never silent NULLs) under the
 * new name; scoped merges keep carrying across the rename; stats keep
 * pruning on the renamed column in both directions (pre-rename files
 * under the new name, post-rename writes too), typed and SQL paths;
 * merge-on-read masking survives; the change feed compares versions
 * by physical identity; RESTORE reverts the rename; a whole-table
 * rewrite resets the mapping; every ambiguous case refuses loudly.
 */
class RenameColumnSpec extends AnyFunSuite with SparkFixture {

  private def mkStore(nBuckets: Int = 4): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = nBuckets,
      keepVersions = 16, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String,
                       pk: Seq[String] = Seq("id"),
                       props: Map[String, String] = Map.empty): TableMeta = {
    val meta = TableMeta("rdb", tbl,
      Files.createTempDirectory(s"graft-ren-$tbl").toString,
      primaryKey = pk, properties = props)
    store.catalog.register(meta)
    meta
  }

  private def frame(n: Int = 64): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong, s"c${i % 4}"))
      .toDF("id", "v", "cls")
  }

  test("metadata-only: carried files read correct VALUES under the new name") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("rdb", "t", frame())
    // a scoped merge first, so the table holds multiple commit eras
    store.mergeScoped("rdb", "t", frame().filter(col("id") === 7L)
      .select("id")) { old =>
      old.withColumn("v", when(col("id") === 7L, lit(700L)).otherwise(col("v")))
    }
    val filesBefore = store.filesOf("rdb", "t").count()
    val v = store.renameColumn("rdb", "t", "v", "val2")
    assert(store.latestVersion("rdb", "t") == v)
    // no data job: the same files serve the renamed snapshot
    assert(store.filesOf("rdb", "t").count() == filesBefore)
    val got = store.read("rdb", "t")
    assert(got.columns.toSeq == Seq("id", "val2", "cls"))
    // the values — a silent NULL here is the bug column mapping exists
    // to prevent (by-name resolution of the renamed column misses)
    val m = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(7L) == 700L && m(5L) == 5L && m.size == 64,
      s"carried files must resolve by PHYSICAL name: ${m.take(5)}")
    // history names the rename
    assert(store.history("rdb", "t").filter(col("operation") ===
      "rename(v->val2)").count() == 1)
  }

  test("scoped merges keep working across the rename; evolution still lands") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("rdb", "t", frame())
    store.renameColumn("rdb", "t", "v", "val2")
    // post-rename scoped merge under the NEW name; untouched buckets carry
    store.mergeScoped("rdb", "t", frame().filter(col("id") === 3L)
      .select("id")) { old =>
      old.withColumn("val2",
        when(col("id") === 3L, lit(-3L)).otherwise(col("val2")))
    }
    val got = store.read("rdb", "t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(3L) == -3L && got(4L) == 4L && got.size == 64)
    // nullable ADD composes with the mapping
    store.mergeScoped("rdb", "t", frame().filter(col("id") === 3L)
      .select("id")) { old =>
      old.withColumn("extra", when(col("id") >= 0L, lit("x"))) // nullable add
    }
    val withAdd = store.read("rdb", "t")
    assert(withAdd.columns.toSeq == Seq("id", "val2", "cls", "extra"))
    // the touched bucket's rows carry the value; every CARRIED bucket's
    // rows surface NULL for the added column
    assert(withAdd.filter(col("id") === 3L && col("extra") === "x")
      .count() == 1)
    val nulls = withAdd.filter(col("extra").isNull).count()
    assert(nulls > 0 && nulls < 64, s"carried rows must read NULL: $nulls")
    // MoR delete AFTER the rename: the sidecar funnels are untouched
    store.deleteWhere("rdb", "t", col("val2") === 10L,
      MergeSnapshotStore.MergeOnRead)
    assert(store.read("rdb", "t").count() == 63)
    // …and a rename with sidecars LIVE keeps masking
    store.renameColumn("rdb", "t", "val2", "val3")
    assert(store.read("rdb", "t").count() == 63 &&
      store.read("rdb", "t").filter(col("val3") === 10L).count() == 0)
  }

  test("stats keep pruning on the renamed column, typed and SQL paths, both directions") {
    val store = mkStore()
    register(store, "t", pk = Nil) // PK-less: file-granular layout
    // four tight-ranged files (range partition before the overwrite)
    store.overwrite("rdb", "t",
      frame(256).repartitionByRange(4, col("v")))
    store.renameColumn("rdb", "t", "v", "w")
    // direction 1: PRE-rename files prune under the NEW name
    val pred = col("w") >= 224L
    val kept = store.prunedFiles("rdb", "t", pred)
    val total = store.filesOf("rdb", "t").count()
    assert(kept.size < total,
      s"stats must keep pruning after the rename: kept ${kept.size}/$total")
    assert(store.readWhere("rdb", "t", pred).count() == 32)
    // the SQL skipping path pushes the renamed attribute down to the
    // physical scan and prunes the same files
    val (df, index) = store.skippingScan("rdb", "t")
    assert(df.filter(pred).count() == 32)
    assert(index.lastKept.size == kept.size,
      s"SQL path kept ${index.lastKept.size}, typed path ${kept.size}")
    // direction 2: files written AFTER the rename (a file-scoped
    // clustered maintenance pass under the mapping) prune too
    store.compactFilesClustered("rdb", "t", Seq("w" -> None),
      targetFiles = 4, files = kept)
    val kept2 = store.prunedFiles("rdb", "t", col("w") >= 248L)
    assert(kept2.size < store.filesOf("rdb", "t").count())
    assert(store.readWhere("rdb", "t", col("w") >= 248L).count() == 8)
  }

  test("the change feed compares versions by physical identity") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("rdb", "t", frame())
    val v0 = store.latestVersion("rdb", "t")
    store.renameColumn("rdb", "t", "v", "val2")
    store.deleteWhere("rdb", "t", col("cls") === "c1")
    store.updateWhere("rdb", "t", col("id") === 2L,
      Map("val2" -> lit(-2L)))
    val head = store.latestVersion("rdb", "t")
    val feed = store.changesBetween("rdb", "t", v0, head)
    assert(feed.columns.contains("val2") && !feed.columns.contains("v"),
      s"the feed spells the NEWER version's names: ${feed.columns.toSeq}")
    assert(feed.filter(col("change") === "D").count() == 16)
    val u = feed.filter(col("change") === "U").collect()
    assert(u.length == 1 && u.head.getAs[Long]("val2") == -2L,
      "the renamed column is the SAME column, not a drop+add — the " +
        "update row carries the new value under the new name")
    // PK-less multiset feed under the same alignment
    val s2 = mkStore()
    register(s2, "m", pk = Nil)
    s2.overwrite("rdb", "m", frame())
    val mv0 = s2.latestVersion("rdb", "m")
    s2.renameColumn("rdb", "m", "v", "w")
    s2.deleteWhere("rdb", "m", col("cls") === "c2")
    val mfeed = s2.multisetChangesBetween("rdb", "m", mv0,
      s2.latestVersion("rdb", "m"))
    assert(mfeed.columns.contains("w") &&
      mfeed.filter(col("change") === "D").count() == 16)
  }

  test("RESTORE reverts the rename; a whole-table rewrite resets the mapping") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("rdb", "t", frame())
    val v0 = store.latestVersion("rdb", "t")
    store.renameColumn("rdb", "t", "v", "val2")
    store.restore("rdb", "t", v0)
    assert(store.read("rdb", "t").columns.toSeq == Seq("id", "v", "cls"),
      "restore republishes the old schema — the rename reverts for free")
    // rename again, then compact: the rewrite re-materializes under the
    // current logical names, so the old physical spelling is FREE again
    store.renameColumn("rdb", "t", "v", "val2")
    intercept[IllegalArgumentException] {
      store.renameColumn("rdb", "t", "cls", "v") // shadows val2's physical
    }
    store.compact("rdb", "t", targetFiles = 4)
    assert(store.read("rdb", "t").columns.toSeq == Seq("id", "val2", "cls"))
    store.renameColumn("rdb", "t", "cls", "v") // mapping reset: now fine
    assert(store.read("rdb", "t").columns.toSeq == Seq("id", "val2", "v"))
  }

  test("refusals: PK, duplicates, physical shadows, constraints, properties, reserved") {
    val store = mkStore()
    register(store, "t",
      props = Map(MergeSnapshotStore.SetStatsProp -> "cls"))
    store.overwrite("rdb", "t", frame())
    def refuse(o: String, n: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException] {
        store.renameColumn("rdb", "t", o, n)
      }
      assert(ex.getMessage.toLowerCase.contains(needle.toLowerCase),
        s"$o->$n: ${ex.getMessage}")
    }
    refuse("id", "id2", "PRIMARY KEY")
    refuse("v", "cls", "already has")
    refuse("v", "__b", "reserved")
    refuse("nope", "x", "no column")
    refuse("cls", "cls2", MergeSnapshotStore.SetStatsProp)
    store.addCheckConstraint("rdb", "t", "v_nonneg", "v >= 0")
    refuse("v", "val2", "constraint")
    store.dropCheckConstraint("rdb", "t", "v_nonneg")
    store.renameColumn("rdb", "t", "v", "val2")
    // scoped ADD of the old physical spelling refuses (attachPhysical)
    val ex = intercept[IllegalArgumentException] {
      store.mergeScoped("rdb", "t", frame().filter(col("id") === 1L)
        .select("id")) { old =>
        old.withColumn("v", when(col("id") >= 0L, lit(1L))) // nullable add
      }
    }
    assert(ex.getMessage.contains("physical"), ex.getMessage)
  }

  test("DROP: metadata-only; re-ADD refuses resurrection; a rewrite resets") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("rdb", "t", frame())
    // carried eras exist (a scoped merge first)
    store.mergeScoped("rdb", "t", frame().filter(col("id") === 7L)
      .select("id")) { old =>
      old.withColumn("v", when(col("id") === 7L, lit(700L)).otherwise(col("v")))
    }
    val filesBefore = store.filesOf("rdb", "t").count()
    val vDrop = store.dropColumn("rdb", "t", "v")
    assert(store.filesOf("rdb", "t").count() == filesBefore,
      "a drop is metadata-only: the same files serve the narrowed schema")
    assert(store.read("rdb", "t").columns.toSeq == Seq("id", "cls"))
    assert(store.history("rdb", "t").filter(col("operation") === "drop(v)")
      .count() == 1)
    // re-ADDING the dropped name would RESURRECT carried data — refuse
    val ex = intercept[IllegalArgumentException] {
      store.mergeScoped("rdb", "t", frame().filter(col("id") === 1L)
        .select("id")) { old =>
        old.withColumn("v", when(col("id") >= 0L, lit(0L)))
      }
    }
    assert(ex.getMessage.contains("resurrect"), ex.getMessage)
    // RESTORE reverts the drop — values included
    store.restore("rdb", "t", vDrop - 1)
    assert(store.read("rdb", "t").filter(col("id") === 7L)
      .head().getLong(1) == 700L)
    // drop again, then a whole-table rewrite: the carried era is gone,
    // so the name is free again — and the values do NOT come back
    store.dropColumn("rdb", "t", "v")
    store.compact("rdb", "t", targetFiles = 4)
    store.mergeScoped("rdb", "t", frame().filter(col("id") === 1L)
      .select("id")) { old =>
      old.withColumn("v", when(col("id") < 0L, lit(0L))) // all-NULL add
    }
    val revived = store.read("rdb", "t")
    assert(revived.columns.contains("v") &&
      revived.filter(col("v").isNotNull).count() == 0,
      "after the reset the re-added column starts empty — never the " +
        "dropped data")
  }

  test("DROP refusals; the feed and the statement across a drop") {
    val store = mkStore()
    register(store, "t",
      props = Map(MergeSnapshotStore.SetStatsProp -> "cls"))
    store.overwrite("rdb", "t", frame())
    def refuse(c: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException] {
        store.dropColumn("rdb", "t", c)
      }
      assert(ex.getMessage.toLowerCase.contains(needle.toLowerCase),
        s"drop $c: ${ex.getMessage}")
    }
    refuse("id", "PRIMARY KEY")
    refuse("nope", "no column")
    refuse("cls", MergeSnapshotStore.SetStatsProp)
    store.addCheckConstraint("rdb", "t", "v_nonneg", "v >= 0")
    refuse("v", "constraint")
    store.dropCheckConstraint("rdb", "t", "v_nonneg")
    // last-column refusal (PK-less two-column table)
    register(store, "two", pk = Nil)
    import spark.implicits._
    store.overwrite("rdb", "two",
      (0 until 8).map(i => (i.toLong, i.toLong)).toDF("a", "b"))
    store.dropColumn("rdb", "two", "b")
    intercept[IllegalArgumentException] {
      store.dropColumn("rdb", "two", "a")
    }
    // the keyed feed across a drop compares the surviving columns
    val v0 = store.latestVersion("rdb", "t")
    val runner = new QueryRunner(store)
    assert(runner.dml("rdb", "ALTER TABLE t DROP COLUMN v") == v0 + 1)
    store.deleteWhere("rdb", "t", col("cls") === "c1")
    val feed = store.changesBetween("rdb", "t", v0,
      store.latestVersion("rdb", "t"))
    assert(!feed.columns.contains("v") &&
      feed.filter(col("change") === "D").count() == 16)
  }

  test("ADD COLUMN: metadata-only, NULL for every existing row, backfill lands") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("rdb", "t", frame())
    val filesBefore = store.filesOf("rdb", "t").count()
    store.addColumn("rdb", "t", "note",
      org.apache.spark.sql.types.StringType)
    assert(store.filesOf("rdb", "t").count() == filesBefore,
      "an add is metadata-only: the same files serve the widened schema")
    val widened = store.read("rdb", "t")
    assert(widened.columns.toSeq == Seq("id", "v", "cls", "note"))
    assert(widened.filter(col("note").isNotNull).count() == 0,
      "every existing row surfaces NULL for the added column")
    // the first write that provides values lands them normally
    store.updateWhere("rdb", "t", col("cls") === "c1",
      Map("note" -> lit("flagged")))
    assert(store.read("rdb", "t").filter(col("note") === "flagged")
      .count() == 16)
    assert(store.read("rdb", "t").filter(col("note").isNull).count() == 48)
    // refusals: duplicates, reserved, resurrection, physical shadows
    def refuse(c: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException] {
        store.addColumn("rdb", "t", c,
          org.apache.spark.sql.types.LongType)
      }
      assert(ex.getMessage.toLowerCase.contains(needle.toLowerCase),
        s"add $c: ${ex.getMessage}")
    }
    refuse("NOTE", "already has")
    refuse("__fv", "reserved")
    store.dropColumn("rdb", "t", "note")
    refuse("note", "resurrect")
    store.renameColumn("rdb", "t", "v", "val2")
    refuse("v", "physical")
    // the statement form, type through Spark's own DDL grammar
    val runner = new QueryRunner(store)
    runner.dml("rdb", "ALTER TABLE t ADD COLUMN score decimal(8,2)")
    assert(store.read("rdb", "t").schema("score").dataType ==
      org.apache.spark.sql.types.DecimalType(8, 2))
  }

  test("a rename landing under an in-flight merge refuses the merge, never mixes eras") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("rdb", "t", frame())
    // the DDL lands between the merge's read and its publish — the
    // merge's rewritten rows were computed against the OLD spelling,
    // so the schema CAS must refuse rather than publish a mixed era
    store.beforePublish = () => { store.renameColumn("rdb", "t", "v", "val2"); () }
    intercept[java.util.ConcurrentModificationException] {
      store.mergeScoped("rdb", "t", frame().filter(col("id") === 3L)
        .select("id")) { old =>
        old.withColumn("v", when(col("id") === 3L, lit(-3L)).otherwise(col("v")))
      }
    }
    // the rename won; the table reads consistently under the new name
    val got = store.read("rdb", "t")
    assert(got.columns.toSeq == Seq("id", "val2", "cls") &&
      got.count() == 64)
    // the re-run against the new snapshot (the refusal's remedy) lands
    store.mergeScoped("rdb", "t", frame().filter(col("id") === 3L)
      .select("id")) { old =>
      old.withColumn("val2",
        when(col("id") === 3L, lit(-3L)).otherwise(col("val2")))
    }
    assert(store.read("rdb", "t").filter(col("val2") === -3L).count() == 1)
  }

  test("the ALTER TABLE RENAME COLUMN statement rides the dialect") {
    val store = mkStore()
    register(store, "t")
    val runner = new QueryRunner(store)
    store.overwrite("rdb", "t", frame())
    val v = runner.dml("rdb", "ALTER TABLE t RENAME COLUMN v TO val2")
    assert(v == store.latestVersion("rdb", "t").toLong)
    assert(runner.run("rdb", "t", Seq("id", "val2"), "val2 > 60").count() == 3)
  }
}
