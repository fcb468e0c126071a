package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
import graft.operators.QueryRunner

/**
 * Metadata-only type WIDENING ([[MergeSnapshotStore.alterColumnType]]
 * — Delta's type-widening feature / Iceberg safe-cast evolution; the
 * reference's GoldenGate NUMBER-precision ladder is exactly this
 * change arriving from upstream). Pins: the widen is one manifest
 * write and carried narrow files read EXACT VALUES under the wider
 * type (parquet promotes at scan); post-widen DML lands values only
 * the wide type can hold while untouched buckets carry; stats keep
 * pruning across the widen in both directions; the change feed
 * up-casts the narrow side of a cross-widen diff; RESTORE reverts the
 * widen; everything outside the lossless safe set refuses loudly with
 * the safe-set message; the dialect statement rides `dml`.
 */
class AlterColumnTypeSpec extends AnyFunSuite with SparkFixture {

  private def mkStore(nBuckets: Int = 4): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = nBuckets,
      keepVersions = 16, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String,
                       pk: Seq[String] = Seq("id"),
                       props: Map[String, String] = Map.empty): TableMeta = {
    val meta = TableMeta("adb", tbl,
      Files.createTempDirectory(s"graft-widen-$tbl").toString,
      primaryKey = pk, properties = props)
    store.catalog.register(meta)
    meta
  }

  /** id long (PK), v INT, f FLOAT, d DECIMAL(5,2), cls string. */
  private def frame(n: Int = 64): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i, i.toFloat / 2, s"c${i % 4}"))
      .toDF("id", "v", "f", "cls")
      .withColumn("d", (col("v") + lit(0.25)).cast("decimal(5,2)"))
  }

  test("metadata-only: carried INT files read exact values as BIGINT") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("adb", "t", frame())
    // a scoped merge first, so the table holds multiple commit eras
    store.mergeScoped("adb", "t", frame().filter(col("id") === 7L)
      .select("id")) { old =>
      old.withColumn("v", when(col("id") === 7L, lit(700)).otherwise(col("v")))
    }
    val filesBefore = store.filesOf("adb", "t").count()
    val ver = store.alterColumnType("adb", "t", "v", LongType)
    assert(store.latestVersion("adb", "t") == ver)
    // no data job: the same files serve the widened snapshot
    assert(store.filesOf("adb", "t").count() == filesBefore)
    val got = store.read("adb", "t")
    assert(got.schema("v").dataType == LongType)
    // the values, read THROUGH the promotion — a wrong-type page error
    // or a silent null here is the bug the safe set exists to prevent
    val m = got.collect().map(r => r.getLong(0) -> r.getAs[Long]("v")).toMap
    assert(m(7L) == 700L && m(5L) == 5L && m.size == 64, s"${m.take(5)}")
    // history names the widen
    assert(store.history("adb", "t").filter(col("operation") ===
      "widen(v int->bigint)").count() == 1)
  }

  test("post-widen DML lands values only the wide type holds; carried buckets survive") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("adb", "t", frame())
    store.alterColumnType("adb", "t", "v", LongType)
    // a value past Int.MaxValue — impossible before the widen
    store.mergeScoped("adb", "t", frame().filter(col("id") === 3L)
      .select("id")) { old =>
      old.withColumn("v",
        when(col("id") === 3L, lit(5000000000L)).otherwise(col("v")))
    }
    val got = store.read("adb", "t").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("v")).toMap
    assert(got(3L) == 5000000000L && got(4L) == 4L && got.size == 64)
    // statement DML through the widened type: UPDATE + MoR DELETE mix
    // narrow carried files, wide rewritten files and sidecar masking
    store.updateWhere("adb", "t", col("id") === 2L, Map("v" -> lit(-2L)))
    store.deleteWhere("adb", "t", col("v") === 10L,
      MergeSnapshotStore.MergeOnRead)
    val after = store.read("adb", "t")
    assert(after.count() == 63 &&
      after.filter(col("v") === -2L).count() == 1)
  }

  test("stats keep pruning across the widen, typed and SQL paths, both directions") {
    val store = mkStore()
    register(store, "t", pk = Nil) // PK-less: file-granular layout
    store.overwrite("adb", "t",
      frame(256).repartitionByRange(4, col("v")))
    store.alterColumnType("adb", "t", "v", LongType)
    // direction 1: PRE-widen files prune under a LONG predicate (the
    // manifest's double-space bounds are type-agnostic)
    val pred = col("v") >= 224L
    val kept = store.prunedFiles("adb", "t", pred)
    val total = store.filesOf("adb", "t").count()
    assert(kept.size < total,
      s"stats must keep pruning after the widen: kept ${kept.size}/$total")
    assert(store.readWhere("adb", "t", pred).count() == 32)
    val (df, index) = store.skippingScan("adb", "t")
    assert(df.filter(pred).count() == 32)
    assert(index.lastKept.size == kept.size,
      s"SQL path kept ${index.lastKept.size}, typed path ${kept.size}")
    // direction 2: files written AFTER the widen (file-scoped clustered
    // maintenance under the wide type) prune too
    store.compactFilesClustered("adb", "t", Seq("v" -> None),
      targetFiles = 4, files = kept)
    val kept2 = store.prunedFiles("adb", "t", col("v") >= 248L)
    assert(kept2.size < store.filesOf("adb", "t").count())
    assert(store.readWhere("adb", "t", col("v") >= 248L).count() == 8)
  }

  test("float->double, int->double and decimal growth read exact carried values") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("adb", "t", frame())
    store.alterColumnType("adb", "t", "f", DoubleType)
    store.alterColumnType("adb", "t", "d", DecimalType(10, 4))
    val got = store.read("adb", "t").collect().map { r =>
      r.getLong(0) -> ((r.getAs[Double]("f"), r.getAs[java.math.BigDecimal]("d")))
    }.toMap
    // halves are exact in binary; the re-scaled decimal compares by value
    assert(got(7L)._1 == 3.5 && got(64 - 1L)._1 == 31.5)
    assert(got(7L)._2.compareTo(new java.math.BigDecimal("7.25")) == 0,
      s"decimal re-scale must preserve the value: ${got(7L)._2}")
    assert(store.read("adb", "t").schema("d").dataType == DecimalType(10, 4))
    // int->double on a fresh table (exact for every int32)
    val s2 = mkStore()
    register(s2, "t2")
    s2.overwrite("adb", "t2", frame())
    s2.alterColumnType("adb", "t2", "v", DoubleType)
    val vals = s2.read("adb", "t2").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("v")).toMap
    assert(vals(63L) == 63.0 && vals.size == 64)
    // int->decimal: the NUMBER ladder's landing type — below the
    // vectorized promotion floor refuses, at it the values read exact
    val s3 = mkStore()
    register(s3, "t3")
    s3.overwrite("adb", "t3", frame())
    intercept[IllegalArgumentException] {
      s3.alterColumnType("adb", "t3", "v", DecimalType(9, 0))
    }
    s3.alterColumnType("adb", "t3", "v", DecimalType(12, 2))
    val dec = s3.read("adb", "t3").collect()
      .map(r => r.getLong(0) -> r.getAs[java.math.BigDecimal]("v")).toMap
    assert(dec(7L).compareTo(new java.math.BigDecimal("7.00")) == 0 &&
      dec.size == 64)
  }

  test("the change feed up-casts the narrow side of a cross-widen diff") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("adb", "t", frame())
    val v0 = store.latestVersion("adb", "t")
    store.alterColumnType("adb", "t", "v", LongType)
    store.deleteWhere("adb", "t", col("cls") === "c1")
    store.updateWhere("adb", "t", col("id") === 2L,
      Map("v" -> lit(6000000000L)))
    val head = store.latestVersion("adb", "t")
    val feed = store.changesBetween("adb", "t", v0, head)
    assert(feed.schema("v").dataType == LongType,
      "the feed spells the NEWER version's type")
    assert(feed.filter(col("change") === "D").count() == 16)
    val u = feed.filter(col("change") === "U").collect()
    assert(u.length == 1 && u.head.getAs[Long]("v") == 6000000000L)
    // PK-less multiset feed under the same up-cast alignment
    val s2 = mkStore()
    register(s2, "m", pk = Nil)
    s2.overwrite("adb", "m", frame())
    val mv0 = s2.latestVersion("adb", "m")
    s2.alterColumnType("adb", "m", "v", LongType)
    s2.deleteWhere("adb", "m", col("cls") === "c2")
    val mfeed = s2.multisetChangesBetween("adb", "m", mv0,
      s2.latestVersion("adb", "m"))
    assert(mfeed.schema("v").dataType == LongType &&
      mfeed.filter(col("change") === "D").count() == 16)
  }

  test("a LOSSY retype between versions refuses the diff — never a silent up-cast") {
    // a restructuring overwrite that retyped long->double sits between
    // the versions: Spark's Cast.canUpCast calls that an "up-cast"
    // (numericPrecedence admits it), but doubles lose integer precision
    // past 2^53 — an alignment over it would let changesBetween compare
    // drifted values as equal and silently drop real updates. The
    // alignment is gated on the store's OWN lossless set, so this
    // falls through to the era guard's loud refusal.
    val store = mkStore()
    register(store, "t")
    import spark.implicits._
    store.overwrite("adb", "t",
      (0 until 8).map(i => (i.toLong, i.toLong)).toDF("id", "v"))
    val v0 = store.latestVersion("adb", "t")
    store.overwrite("adb", "t",
      (0 until 8).map(i => (i.toLong, i.toDouble)).toDF("id", "v"))
    val ex = intercept[IllegalArgumentException] {
      store.changesBetween("adb", "t", v0,
        store.latestVersion("adb", "t")).collect()
    }
    assert(ex.getMessage.contains("changed type"), ex.getMessage)
    // the SAFE direction still aligns: int->long restructure diffs fine
    val s2 = mkStore()
    register(s2, "u")
    s2.overwrite("adb", "u",
      (0 until 8).map(i => (i.toLong, i)).toDF("id", "v"))
    val u0 = s2.latestVersion("adb", "u")
    s2.overwrite("adb", "u",
      (0 until 8).map(i => (i.toLong, i.toLong)).toDF("id", "v"))
    assert(s2.changesBetween("adb", "u", u0,
      s2.latestVersion("adb", "u")).count() == 0,
      "same values under a lossless widen diff as unchanged")
  }

  test("RESTORE reverts the widen; a scoped merge across it refuses, never mixes eras") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("adb", "t", frame())
    val v0 = store.latestVersion("adb", "t")
    store.alterColumnType("adb", "t", "v", LongType)
    assert(store.read("adb", "t").schema("v").dataType == LongType)
    store.restore("adb", "t", v0)
    val back = store.read("adb", "t")
    assert(back.schema("v").dataType == IntegerType &&
      back.count() == 64, "restore rewinds the schema era too")
    // DDL-vs-DML race: the widen lands between the merge's read and its
    // publish — the merge computed int rows, the schema CAS must refuse
    store.beforePublish =
      () => { store.alterColumnType("adb", "t", "v", LongType); () }
    intercept[java.util.ConcurrentModificationException] {
      store.mergeScoped("adb", "t", frame().filter(col("id") === 3L)
        .select("id")) { old =>
        old.withColumn("v", when(col("id") === 3L, lit(-3)).otherwise(col("v")))
      }
    }
    // the widen won; the re-run against the new snapshot lands LONGs
    assert(store.read("adb", "t").schema("v").dataType == LongType)
    store.mergeScoped("adb", "t", frame().filter(col("id") === 3L)
      .select("id")) { old =>
      old.withColumn("v",
        when(col("id") === 3L, lit(-3L)).otherwise(col("v")))
    }
    assert(store.read("adb", "t").filter(col("v") === -3L).count() == 1)
  }

  test("refusals: narrowing, cross-family, precision loss, PK, properties, no-op") {
    val store = mkStore()
    register(store, "t",
      props = Map(MergeSnapshotStore.BloomProp -> "v:4096"))
    store.overwrite("adb", "t",
      frame().withColumn("big", col("id") + lit(0L)))
    def refuse(c: String, to: org.apache.spark.sql.types.DataType,
               needle: String): Unit = {
      val ex = intercept[IllegalArgumentException] {
        store.alterColumnType("adb", "t", c, to)
      }
      assert(ex.getMessage.toLowerCase.contains(needle.toLowerCase),
        s"$c->$to: ${ex.getMessage}")
    }
    refuse("big", IntegerType, "safe set")        // narrowing
    refuse("big", DoubleType, "safe set")         // long->double loses precision
    refuse("cls", IntegerType, "safe set")        // cross-family
    refuse("f", StringType, "safe set")           // numeric->string
    refuse("f", DecimalType(20, 2), "safe set")   // float->decimal not in set
    refuse("d", DecimalType(5, 1), "safe set")    // scale shrink
    refuse("d", DecimalType(6, 4), "safe set")    // integer-space shrink (5,2)->(6,4)
    refuse("v", IntegerType, "no-op")             // same type
    refuse("big", DecimalType(21, 2), "safe set") // long->dec needs p-s >= 20
    refuse("id", DecimalType(38, 0), "PRIMARY KEY") // safe cast, but it's the key
    refuse("nope", LongType, "no column")
    refuse("v", LongType, MergeSnapshotStore.BloomProp) // bloom sidecars
    // the decimal LANDING types read exact over carried files: the
    // vectorized reader's own promotion floor (p-s >= 10 for int,
    // >= 20 for long — probed) is the gate
    store.alterColumnType("adb", "t", "big", DecimalType(22, 2))
    val bigs = store.read("adb", "t").collect()
      .map(r => r.getLong(0) -> r.getAs[java.math.BigDecimal]("big")).toMap
    assert(bigs(9L).compareTo(new java.math.BigDecimal("9.00")) == 0)
    val s2 = mkStore()
    register(s2, "t2", props = Map(MergeSnapshotStore.SetStatsProp -> "v"))
    s2.overwrite("adb", "t2", frame())
    val ex = intercept[IllegalArgumentException] {
      s2.alterColumnType("adb", "t2", "v", LongType)
    }
    assert(ex.getMessage.contains(MergeSnapshotStore.SetStatsProp))
    // PK: int key hashed under its type routes the buckets
    val s3 = mkStore()
    val meta = TableMeta("adb", "t3",
      Files.createTempDirectory("graft-widen-t3").toString,
      primaryKey = Seq("k"))
    s3.catalog.register(meta)
    import spark.implicits._
    s3.overwrite("adb", "t3", (0 until 16).map(i => (i, i.toLong))
      .toDF("k", "v"))
    val ex2 = intercept[IllegalArgumentException] {
      s3.alterColumnType("adb", "t3", "k", LongType)
    }
    assert(ex2.getMessage.contains("PRIMARY KEY"), ex2.getMessage)
  }

  test("the ALTER TABLE ALTER COLUMN TYPE statement rides the dialect") {
    val store = mkStore()
    register(store, "t")
    val runner = new QueryRunner(store)
    store.overwrite("adb", "t", frame())
    val v = runner.dml("adb", "ALTER TABLE t ALTER COLUMN v TYPE bigint")
    assert(v == store.latestVersion("adb", "t").toLong)
    assert(store.read("adb", "t").schema("v").dataType == LongType)
    assert(runner.run("adb", "t", Seq("id", "v"), "v > 60").count() == 3)
    val ex = intercept[IllegalArgumentException] {
      runner.dml("adb", "ALTER TABLE t ALTER COLUMN v TYPE int")
    }
    assert(ex.getMessage.contains("safe set"), ex.getMessage)
    // decimal spelling parses through Spark's own DDL grammar
    val v2 = runner.dml("adb",
      "ALTER TABLE t ALTER COLUMN d TYPE decimal(12, 6)")
    assert(v2 == store.latestVersion("adb", "t").toLong &&
      store.read("adb", "t").schema("d").dataType == DecimalType(12, 6))
  }

  test("DDL-vs-DDL race: a rename landing under an in-flight widen refuses the widen") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("adb", "t", frame())
    // the rename's manifest takes the widen's target version between
    // the widen's read and its publish — the CAS must refuse, and the
    // re-run against the new snapshot lands BOTH evolutions
    store.beforePublish =
      () => { store.renameColumn("adb", "t", "cls", "cls2"); () }
    intercept[java.util.ConcurrentModificationException] {
      store.alterColumnType("adb", "t", "v", LongType)
    }
    val mid = store.read("adb", "t")
    assert(mid.columns.contains("cls2") &&
      mid.schema("v").dataType == IntegerType,
      "the rename won; the widen must not have half-landed")
    store.alterColumnType("adb", "t", "v", LongType)
    val after = store.read("adb", "t")
    assert(after.schema("v").dataType == LongType &&
      after.columns.contains("cls2") && after.count() == 64)
  }
}
