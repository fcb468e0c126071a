package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * Per-file VALUE-SET stats (`graft.setstats`): opted-in low-cardinality
 * columns record each file's exact distinct set in the manifest, and
 * [[MergeSnapshotStore.readEquals]] plans only the files whose set
 * intersects every probe — the equality-skipping story min/max bounds
 * cannot tell (interleaved class VALUES share one numeric range).
 * Missing lines (over-cap, not opted, pre-opt-in files) keep
 * conservatively; empty sets (all-null files) prune; results always
 * equal the full-scan filter.
 */
class SetStatsSpec extends AnyFunSuite with SparkFixture {

  private def mkStore(nBuckets: Int = 1): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = nBuckets,
      keepVersions = 2, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String,
                       pk: Seq[String] = Nil,
                       setCols: String = "cls"): TableMeta = {
    val meta = TableMeta("vdb", tbl,
      Files.createTempDirectory(s"graft-set-$tbl").toString,
      primaryKey = pk,
      properties = Map(MergeSnapshotStore.SetStatsProp -> setCols))
    store.catalog.register(meta)
    meta
  }

  /** n rows over 4 string classes, hash-split so each file holds one
   * class — the layout where value sets prune and ranges cannot. */
  private def classFrame(n: Int = 256): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"c${i % 4}", i.toDouble))
      .toDF("id", "cls", "v")
      .repartitionByRange(4, col("cls"))
  }

  private def assertExact(got: DataFrame, want: DataFrame): Unit =
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0, "equality read drifted from full scan")

  test("one class per file: probes plan only matching files; exact") {
    val store = mkStore()
    register(store, "cf")
    store.overwrite("vdb", "cf", classFrame())
    val total = store.read("vdb", "cf").inputFiles.length
    assert(total >= 3, s"fixture needs class-split files, got $total")
    val one = store.readEquals("vdb", "cf", Map("cls" -> Seq("c1")))
    assert(one.inputFiles.length < total,
      s"a one-class probe must prune: planned ${one.inputFiles.length}/$total")
    assertExact(one, store.read("vdb", "cf").filter(col("cls") === "c1"))
    // multi-value probe: union of the matching files, still pruned
    val two = store.readEquals("vdb", "cf",
      Map("cls" -> Seq("c1", "c3")))
    assert(two.inputFiles.length < total)
    assertExact(two, store.read("vdb", "cf")
      .filter(col("cls").isin("c1", "c3")))
    // a probe for a value nowhere in the table plans ZERO files
    assert(store.readEquals("vdb", "cf", Map("cls" -> Seq("zz")))
      .inputFiles.isEmpty)
    val sets = store.manifestSetStats("vdb", "cf",
      store.latestVersion("vdb", "cf"))
    assert(sets.nonEmpty && sets.values.forall(_.exists(_._1 == "cls")))
  }

  test("over-cap columns record no line and keep conservatively") {
    import spark.implicits._
    val store = mkStore()
    register(store, "hc", setCols = "cls,uid")
    // uid: 64 distinct per file — past SetStatsMaxValues, so uid gets
    // no lines while cls (co-opted) still does
    store.overwrite("vdb", "hc",
      (0 until 256).map(i => (i.toLong, s"c${i % 4}", s"u$i"))
        .toDF("id", "cls", "uid").repartitionByRange(4, col("cls")))
    val sets = store.manifestSetStats("vdb", "hc",
      store.latestVersion("vdb", "hc"))
    assert(sets.values.flatten.forall(_._1 == "cls"),
      s"an over-cap column must record nothing: $sets")
    val total = store.read("vdb", "hc").inputFiles.length
    val byUid = store.readEquals("vdb", "hc", Map("uid" -> Seq("u7")))
    assert(byUid.inputFiles.length == total,
      "no stats on the probed column: every file must stay planned")
    assertExact(byUid, store.read("vdb", "hc").filter(col("uid") === "u7"))
    // probing BOTH columns still prunes on the one that has sets
    val mixed = store.readEquals("vdb", "hc",
      Map("cls" -> Seq("c2"), "uid" -> Seq("u2")))
    assert(mixed.inputFiles.length < total)
    assertExact(mixed, store.read("vdb", "hc")
      .filter(col("cls") === "c2" && col("uid") === "u2"))
  }

  test("an all-null column records the empty set and every probe prunes it") {
    import spark.implicits._
    val store = mkStore()
    register(store, "nn")
    store.overwrite("vdb", "nn",
      (0 until 64).map(i =>
        (i.toLong, null.asInstanceOf[String], i.toDouble))
        .toDF("id", "cls", "v"))
    val sets = store.manifestSetStats("vdb", "nn",
      store.latestVersion("vdb", "nn"))
    assert(sets.values.flatten.exists { case (c, vs) =>
      c == "cls" && vs.isEmpty }, s"expected an empty set line: $sets")
    val got = store.readEquals("vdb", "nn", Map("cls" -> Seq("c1")))
    assert(got.inputFiles.isEmpty,
      "an all-null file must be pruned by any equality probe")
    assert(got.count() == 0)
  }

  test("scoped merge carries untouched files' sets; reads stay exact") {
    import spark.implicits._
    val store = mkStore(nBuckets = 4)
    register(store, "mg", pk = Seq("id"))
    store.overwrite("vdb", "mg",
      (0 until 128).map(i => (i.toLong, s"c${i % 4}", i.toDouble))
        .toDF("id", "cls", "v"))
    val before = store.manifestSetStats("vdb", "mg",
      store.latestVersion("vdb", "mg"))
    assert(before.nonEmpty)
    // one changed key: the merge rewrites only its bucket, reclassing
    // id 7 into a class no other row has
    store.mergeScoped("vdb", "mg", Seq(7L).toDF("id")) { old =>
      old.withColumn("cls",
        when(col("id") === 7L, lit("c9")).otherwise(col("cls")))
    }
    val after = store.manifestSetStats("vdb", "mg",
      store.latestVersion("vdb", "mg"))
    assert(after.nonEmpty, "sets must survive a scoped merge")
    val carried = before.keySet.intersect(after.keySet)
    assert(carried.nonEmpty, "untouched buckets' lines must carry verbatim")
    carried.foreach(f => assert(before(f) == after(f)))
    val got = store.readEquals("vdb", "mg", Map("cls" -> Seq("c9")))
    assertExact(got, store.read("vdb", "mg").filter(col("cls") === "c9"))
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("an empty-string VALUE round-trips the manifest (split-limit regression)") {
    import spark.implicits._
    val store = mkStore()
    register(store, "es")
    // one file whose only non-null class is "" — its set line's value
    // field is the EMPTY base64 string, which a default tab-split would
    // drop, bricking every later read of the committed version
    store.overwrite("vdb", "es",
      (0 until 16).map(i => (i.toLong, "", i.toDouble)).toDF("id", "cls", "v")
        .repartition(2))
    val sets = store.manifestSetStats("vdb", "es",
      store.latestVersion("vdb", "es"))
    assert(sets.values.flatten.exists { case (c, vs) =>
      c == "cls" && vs == Seq("") }, s"expected a lone-empty-value set: $sets")
    val got = store.readEquals("vdb", "es", Map("cls" -> Seq("")))
    assert(got.count() == 16)
    assert(store.readEquals("vdb", "es", Map("cls" -> Seq("x")))
      .inputFiles.isEmpty)
  }

  test("a type-mismatched probe is rejected, not silently mis-pruned") {
    import spark.implicits._
    val store = mkStore()
    register(store, "tm", setCols = "k")
    store.overwrite("vdb", "tm",
      (0 until 16).map(i => (i.toLong, (i % 3).toLong)).toDF("id", "k"))
    // the bug this pins: "05" canonicalizes to "05", misses the set's
    // "5", and PRUNES a file the coercing isin("05") filter would match
    // — probing an int column with a string must refuse instead
    val err = intercept[IllegalArgumentException] {
      store.readEquals("vdb", "tm", Map("k" -> Seq("2")))
    }
    assert(err.getMessage.contains("does not match column"))
    intercept[IllegalArgumentException] {
      store.readEquals("vdb", "tm", Map("nope" -> Seq(1L)))
    }
    // string columns likewise refuse integral probes
    register(store, "tm2")
    store.overwrite("vdb", "tm2", classFrame(16))
    intercept[IllegalArgumentException] {
      store.readEquals("vdb", "tm2", Map("cls" -> Seq(5L)))
    }
  }

  test("misconfiguration and bad probes fail loudly") {
    import spark.implicits._
    val store = mkStore()
    register(store, "bad", setCols = "nope")
    val err = intercept[IllegalArgumentException] {
      store.overwrite("vdb", "bad",
        Seq((1L, "a")).toDF("id", "cls"))
    }
    assert(err.getMessage.contains("nope"))
    register(store, "badtype", setCols = "v")
    val terr = intercept[IllegalArgumentException] {
      store.overwrite("vdb", "badtype",
        Seq((1L, 1.5)).toDF("id", "v"))
    }
    assert(terr.getMessage.contains("set-stats supports"))
    register(store, "ok")
    store.overwrite("vdb", "ok", classFrame(16))
    intercept[IllegalArgumentException] {
      store.readEquals("vdb", "ok", Map.empty)
    }
    intercept[IllegalArgumentException] {
      store.readEquals("vdb", "ok", Map("cls" -> Nil))
    }
    intercept[IllegalArgumentException] {
      store.readEquals("vdb", "ok", Map("cls" -> Seq(null)))
    }
    intercept[IllegalArgumentException] {
      store.readEquals("vdb", "ok", Map("cls" -> Seq(1.5)))
    }
  }

  test("integral and date probes canonicalize to Spark's cast form") {
    import spark.implicits._
    val store = mkStore()
    register(store, "ty", setCols = "k,d,n")
    store.overwrite("vdb", "ty",
      (0 until 32).map(i => (i.toLong, (i % 3).toLong,
          java.sql.Date.valueOf(s"2024-0${1 + i % 3}-01"), i % 3))
        .toDF("id", "k", "d", "n").repartitionByRange(3, col("k")))
    val total = store.read("vdb", "ty").inputFiles.length
    val byK = store.readEquals("vdb", "ty", Map("k" -> Seq(2L)))
    assert(byK.inputFiles.length < total)
    assertExact(byK, store.read("vdb", "ty").filter(col("k") === 2L))
    // probes of another integral width are typed to the column, so they
    // prune alike; a probe outside the int column's range matches nothing
    val byKInt = store.readEquals("vdb", "ty", Map("k" -> Seq(2)))
    assert(byKInt.inputFiles.length < total)
    assertExact(byKInt, store.read("vdb", "ty").filter(col("k") === 2L))
    val byNLong = store.readEquals("vdb", "ty",
      Map("n" -> Seq(2L, Int.MaxValue + 1L)))
    assert(byNLong.inputFiles.length < total)
    assertExact(byNLong, store.read("vdb", "ty").filter(col("n") === 2))
    assert(store.readEquals("vdb", "ty", Map("n" -> Seq(Long.MinValue)))
      .inputFiles.isEmpty)
    val byD = store.readEquals("vdb", "ty",
      Map("d" -> Seq(java.sql.Date.valueOf("2024-02-01"))))
    assertExact(byD, store.read("vdb", "ty")
      .filter(col("d") === java.sql.Date.valueOf("2024-02-01")))
  }
}
