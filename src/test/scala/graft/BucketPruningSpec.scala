package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * The skipping walk's BUCKET arm: a predicate that pins a keyed
 * table's whole primary key to literals keeps only the files of the
 * buckets those literals hash to (`pmod(hash(pk), nBuckets)`, evaluated
 * in the driver). Every case compares the pruned reads — typed
 * `readWhere` and the SQL skipping scan — with a plain full-scan
 * filter, and pins the kept file list where the arm must (or must
 * not) fire.
 */
class BucketPruningSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val Db = "bpdb"

  private def mkStore(nBuckets: Int = 8): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = nBuckets,
      keepVersions = 4, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String,
                       pk: Seq[String] = Seq("id"),
                       props: Map[String, String] = Map.empty): TableMeta = {
    val meta = TableMeta(Db, tbl,
      Files.createTempDirectory(s"graft-bp-$tbl").toString,
      primaryKey = pk, properties = props)
    store.catalog.register(meta)
    meta
  }

  /** 400 rows keyed by a bigint id, values spread so stats never prune
   * an id predicate (the arm alone must). */
  private def frame(n: Int = 400): DataFrame =
    (0 until n).map(i => (i.toLong, (i * 37 % 101).toLong, s"c${i % 5}"))
      .toDF("id", "v", "cls")

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The files the manifest places in buckets `bs`. */
  private def filesIn(store: MergeSnapshotStore, tbl: String, bs: Set[Int],
                      version: Option[Int] = None): Set[String] =
    store.filesOf(Db, tbl, version).collect()
      .collect { case r if !r.isNullAt(0) && bs(r.getInt(0)) => r.getString(1) }
      .toSet

  private def allFiles(store: MergeSnapshotStore, tbl: String,
                       version: Option[Int] = None): Set[String] =
    store.filesOf(Db, tbl, version).select("file").as[String].collect().toSet

  /** The buckets the table's own (Column) bucket function assigns to
   * each key tuple. */
  private def bucketsOf(store: MergeSnapshotStore, tbl: String,
                        keys: Seq[Seq[Column]]): Set[Int] = {
    val meta = store.catalog(Db, tbl)
    spark.range(1).select(keys.map(k => store.bucketOf(meta, k)): _*)
      .head().toSeq.map(_.asInstanceOf[Int]).toSet
  }

  /** Both pruned read paths answer exactly like the full-scan filter;
   * returns (typed kept files, SQL-scan kept files). */
  private def check(store: MergeSnapshotStore, tbl: String, pred: Column,
                    version: Option[Int] = None): (Set[String], Set[String]) = {
    val meta = store.catalog(Db, tbl)
    val full = version.fold(store.read(Db, tbl))(v => store.readVersion(meta, v))
    val want = canon(full.filter(pred))
    assert(canon(store.readWhere(Db, tbl, pred, version)) == want,
      s"readWhere diverged for $pred")
    val (frame, idx) = store.skippingScan(Db, tbl, version)
    assert(canon(frame.filter(pred)) == want, s"SQL scan diverged for $pred")
    (store.prunedFiles(Db, tbl, pred, version).toSet, idx.lastKept.toSet)
  }

  /** The arm fired: both paths keep exactly the files of `bs`. */
  private def assertKeeps(store: MergeSnapshotStore, tbl: String, pred: Column,
                          bs: Set[Int], version: Option[Int] = None): Unit = {
    val (typed, sql) = check(store, tbl, pred, version)
    val want = filesIn(store, tbl, bs, version)
    assert(want.nonEmpty && want.size < allFiles(store, tbl, version).size,
      s"fixture: buckets $bs hold ${want.size} files")
    assert(typed == want, s"readWhere kept $typed, want $want for $pred")
    assert(sql == want, s"SQL scan kept $sql, want $want for $pred")
  }

  /** The arm stayed out: both paths keep every file. */
  private def assertKeepsAll(store: MergeSnapshotStore, tbl: String,
                             pred: Column): Unit = {
    val (typed, sql) = check(store, tbl, pred)
    val all = allFiles(store, tbl)
    assert(typed == all, s"readWhere pruned ${all.size - typed.size} files for $pred")
    assert(sql == all, s"SQL scan pruned ${all.size - sql.size} files for $pred")
  }

  private def b(store: MergeSnapshotStore, tbl: String, ks: Long*): Set[Int] =
    bucketsOf(store, tbl, ks.map(k => Seq(lit(k))))

  test("=, <=>, IN and InSet on the key keep only the keys' buckets") {
    val store = mkStore(nBuckets = 32)
    register(store, "t")
    store.overwrite(Db, "t", frame())
    assertKeeps(store, "t", col("id") === 7L, b(store, "t", 7L))
    assertKeeps(store, "t", lit(7L) === col("id"), b(store, "t", 7L))
    assertKeeps(store, "t", col("id") <=> 7L, b(store, "t", 7L))
    val few = Seq(3L, 11L, 250L)
    assertKeeps(store, "t", col("id").isin(few: _*), b(store, "t", few: _*))
    // > 10 values: Spark's optimizer turns the SQL path's IN into an
    // InSet before pushdown; the typed path still walks the In
    val many = (100L until 112L).toSeq
    val manyBuckets = b(store, "t", many: _*)
    assertKeeps(store, "t", col("id").isin(many: _*), manyBuckets)
    val (frame0, idx) = store.skippingScan(Db, "t")
    val pushed = frame0.filter(col("id").isin(many: _*))
    pushed.collect()
    assert(pushed.queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.InSet]))),
      "fixture: the optimizer should have produced an InSet")
    assert(idx.lastKept.toSet == filesIn(store, "t", manyBuckets))
    // SQL text over a registered view reaches the same arm
    frame0.createOrReplaceTempView("bp_t")
    val sqlHit = spark.sql("SELECT * FROM bp_t WHERE id = 42")
    assert(canon(sqlHit) == canon(store.read(Db, "t").filter(col("id") === 42L)))
    assert(idx.lastKept.toSet == filesIn(store, "t", b(store, "t", 42L)))
  }

  test("OR of keys unions, AND with a non-key predicate intersects, NOT never prunes") {
    val store = mkStore()
    register(store, "t")
    store.overwrite(Db, "t", frame())
    assertKeeps(store, "t", col("id") === 3L || col("id") === 99L,
      b(store, "t", 3L, 99L))
    assertKeeps(store, "t", col("id") === 7L && col("cls") === "c2",
      b(store, "t", 7L))
    assertKeeps(store, "t",
      (col("id") === 7L || col("id") === 8L) && col("v") > 0L,
      b(store, "t", 7L, 8L))
    // an OR side that pins no key leaves every bucket possible
    assertKeepsAll(store, "t", col("id") === 7L || col("cls") === "c2")
    assertKeepsAll(store, "t", !(col("id") === 7L))
    assertKeepsAll(store, "t", col("id") =!= 7L)
  }

  test("null literals: = NULL matches nothing, <=> NULL stays conservative") {
    val store = mkStore()
    register(store, "t")
    store.overwrite(Db, "t", frame())
    val (typed, _) = check(store, "t", col("id") === lit(null).cast("bigint"))
    assert(typed.isEmpty, s"x = NULL is never TRUE, kept $typed")
    val (typedNs, _) = check(store, "t", col("id") <=> lit(null).cast("bigint"))
    assert(typedNs == allFiles(store, "t"))
    assertKeeps(store, "t", col("id").isin(lit(null).cast("bigint"), lit(9L)),
      b(store, "t", 9L))
  }

  test("an int literal against a bigint key is coerced and prunes; a cast key does not") {
    val store = mkStore()
    register(store, "t")
    store.overwrite(Db, "t", frame())
    assertKeeps(store, "t", col("id") === lit(7), b(store, "t", 7L))
    assertKeeps(store, "t", col("id").isin(7, 300), b(store, "t", 7L, 300L))
    // a function of the key is not the key: conservative
    assertKeepsAll(store, "t", col("id").cast("string") === "7")
  }

  test("every bucket-prunable key type hashes in the driver exactly as the writer did") {
    val cases: Seq[(String, Int => Any, Column => Column)] = Seq(
      ("tinyint", i => i.toByte, c => c.cast("tinyint")),
      ("smallint", i => i.toShort, c => c.cast("smallint")),
      ("int", i => i, c => c.cast("int")),
      ("string", i => s"k$i", c => concat(lit("k"), c.cast("string"))),
      ("date", i => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000L + i)),
        c => date_add(lit("2019-04-14").cast("date"), c.cast("int"))),
      ("timestamp", i => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L + i)),
        c => timestamp_seconds(c + 1600000000L)),
      ("timestamp_ntz", i => java.time.LocalDateTime.ofEpochSecond(1600000000L + i, 0,
          java.time.ZoneOffset.UTC),
        c => timestamp_seconds(c + 1600000000L).cast("timestamp_ntz")))
    cases.foreach { case (tpe, value, build) =>
      val store = mkStore()
      val tbl = s"ty_$tpe"
      register(store, tbl, pk = Seq("k"))
      store.overwrite(Db, tbl, spark.range(120).select(build(col("id")).as("k"),
        col("id").as("v")))
      assert(store.read(Db, tbl).schema("k").dataType.sql.toLowerCase
        .replace("_", "") == tpe.replace("_", ""), s"fixture type for $tpe")
      val probe = lit(value(17))
      assertKeeps(store, tbl, col("k") === probe,
        bucketsOf(store, tbl, Seq(Seq(probe.cast(tpe)))))
    }
    // floating-point keys never bucket-prune (NaN and ±0 compare equal
    // across different bit patterns), but still answer exactly
    val store = mkStore()
    register(store, "ty_double", pk = Seq("k"))
    store.overwrite(Db, "ty_double",
      spark.range(120).select(col("id").cast("double").as("k"), col("id").as("v")))
    val (typed, _) = check(store, "ty_double", col("k") === 17.0)
    assert(typed.size > 1)
  }

  test("composite keys prune only when one conjunction pins every key column") {
    val store = mkStore()
    register(store, "c", pk = Seq("id", "region"))
    store.overwrite(Db, "c", (0 until 300).map(i => (i, s"r${i % 3}", i * 2L))
      .toDF("id", "region", "v"))
    def cb(ks: (Int, String)*): Set[Int] =
      bucketsOf(store, "c", ks.map { case (i, r) => Seq(lit(i), lit(r)) })
    assertKeeps(store, "c", col("id") === 5 && col("region") === "r2", cb(5 -> "r2"))
    assertKeeps(store, "c",
      (col("id") === 5 && col("region") === "r2") ||
        (col("id") === 37 && col("region") === "r1"),
      cb(5 -> "r2", 37 -> "r1"))
    // IN lists on both columns cross
    assertKeeps(store, "c", col("id").isin(5, 6) && col("region").isin("r0", "r2"),
      cb(5 -> "r0", 5 -> "r2", 6 -> "r0", 6 -> "r2"))
    // a partial key pins no bucket
    assertKeepsAll(store, "c", col("id") === 150)
    assertKeepsAll(store, "c", col("region") === "r2")
    // the SQL path splits the conjunction into separate pushed filters;
    // the index re-joins them, so the whole key still prunes
    val (frame0, idx) = store.skippingScan(Db, "c")
    frame0.createOrReplaceTempView("bp_c")
    val got = spark.sql("SELECT * FROM bp_c WHERE region = 'r1' AND id = 37")
    assert(canon(got) == canon(store.read(Db, "c")
      .filter(col("id") === 37 && col("region") === "r1")))
    assert(idx.lastKept.toSet == filesIn(store, "c", cb(37 -> "r1")))
  }

  test("a renamed key, pinned versions and a per-table bucket count") {
    val store = mkStore()
    register(store, "r")
    store.overwrite(Db, "r", frame())
    val v0 = store.latestVersion(Db, "r")
    store.renamePrimaryKeyColumn(Db, "r", "id", "row_id")
    assertKeeps(store, "r", col("row_id") === 7L, b(store, "r", 7L))
    // the pre-rename manifest spells the key by its old name
    assertKeeps(store, "r", col("id") === 7L, b(store, "r", 7L), Some(v0))
    // a later commit moves the head; the pinned read keeps the old list
    store.mergeScoped(Db, "r", Seq(7L).toDF("row_id")) { rows =>
      rows.withColumn("v", when(col("row_id") === 7L, lit(-1L)).otherwise(col("v")))
    }
    val v2 = store.latestVersion(Db, "r")
    assert(v2 > v0)
    assertKeeps(store, "r", col("row_id") === 7L, b(store, "r", 7L))
    assertKeeps(store, "r", col("id") === 7L, b(store, "r", 7L), Some(v0))

    // graft.nbuckets: the table's own modulus, not the store default
    register(store, "nb", props = Map(MergeSnapshotStore.BucketsProp -> "4"))
    store.overwrite(Db, "nb", frame())
    assert(store.manifestEntries(Db, "nb", store.latestVersion(Db, "nb")).size == 4)
    assertKeeps(store, "nb", col("id") === 7L, b(store, "nb", 7L))
    assertKeeps(store, "nb", col("id").isin(7L, 8L), b(store, "nb", 7L, 8L))
  }

  test("merge-on-read sidecars and carried files read exactly") {
    val store = mkStore()
    register(store, "m")
    store.overwrite(Db, "m", frame())
    assert(store.deleteWhere(Db, "m", col("id").isin(7L, 8L),
      MergeSnapshotStore.MergeOnRead) == 2L)
    assert(store.manifestDeletes(Db, "m", store.latestVersion(Db, "m")).nonEmpty)
    assertKeeps(store, "m", col("id") === 7L, b(store, "m", 7L))
    assertKeeps(store, "m", col("id").isin(7L, 9L), b(store, "m", 7L, 9L))
    assert(store.pointLookup(Db, "m", Seq(7L, 9L).toDF("id"))
      .select("id").as[Long].collect().toSeq == Seq(9L))

    // carried files (a PK-less position-delete fold): the rel -> bucket
    // map covers carry lines, and the keyless table never bucket-prunes
    register(store, "pl", pk = Nil)
    store.overwrite(Db, "pl", frame().repartitionByRange(4, col("v")))
    assert(store.deleteWhere(Db, "pl", col("v") < 10L,
      MergeSnapshotStore.MergeOnRead) > 0L)
    val rep = store.compactDebt(Db, "pl")
    val carried = store.manifestCarries(Db, "pl", rep.version)
    assert(carried.values.flatten.nonEmpty, "fixture: expected carried files")
    val byFile = store.filesOf(Db, "pl").collect()
      .map(r => r.getString(1) -> Option(r.get(0))).toMap
    carried.foreach { case (bk, rels) =>
      rels.foreach(rel => assert(byFile(rel).contains(bk), s"$rel lost its bucket"))
    }
    val (typed, _) = check(store, "pl", col("id") === 7L)
    assert(typed.nonEmpty)
    check(store, "pl", col("id").isin(7L, 250L) && col("v") > 20L)
  }

  test("DML find phase prunes through the arm and deletes exactly") {
    val store = mkStore()
    register(store, "d")
    store.overwrite(Db, "d", frame())
    val before = store.read(Db, "d")
    val want = canon(before.filter(!col("id").isin(5L, 6L)))
    assert(store.deleteWhere(Db, "d", col("id").isin(5L, 6L)) == 2L)
    assert(canon(store.read(Db, "d")) == want)
    assert(store.updateWhere(Db, "d", col("id") === 9L,
      Map("v" -> lit(-9L))) == 1L)
    assert(store.read(Db, "d").filter(col("v") === -9L)
      .select("id").as[Long].collect().toSeq == Seq(9L))
  }

  test("pointLookup: no Spark job before the scan for a local key frame; reads only the keys' buckets") {
    val store = mkStore()
    register(store, "pl")
    store.overwrite(Db, "pl", frame())
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("graft.bp.probe"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    val keys = Seq(5L, 37L, 90L, 37L).toDF("id") // a local relation, one duplicate
    val lookup = try {
      sc.setLocalProperty("graft.bp.probe", "lookup")
      val df = try store.pointLookup(Db, "pl", keys)
      finally sc.setLocalProperty("graft.bp.probe", null)
      // events arrive in order: once this marker job is seen, any job
      // the lookup's planning started has been seen too
      sc.setLocalProperty("graft.bp.probe", "marker")
      try spark.range(1).count() finally sc.setLocalProperty("graft.bp.probe", null)
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.contains("marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(seen.contains("marker"), "listener never saw the marker job")
      assert(!seen.contains("lookup"),
        s"pointLookup planning ran Spark jobs: ${seen.toArray.mkString(",")}")
      df
    } finally sc.removeSparkListener(listener)
    assert(canon(lookup) ==
      canon(store.read(Db, "pl").filter(col("id").isin(5L, 37L, 90L))))
    val want = filesIn(store, "pl", b(store, "pl", 5L, 37L, 90L))
    val loc = store.catalog(Db, "pl").location
    assert(lookup.inputFiles.map(f => f.substring(f.indexOf(loc) + loc.length + 1))
      .toSet == want)
    // a key frame that is not local pays one bounded collect, same answer
    val remote = spark.range(0, 100).toDF("id").where(col("id").isin(5L, 37L, 90L))
    assert(canon(store.pointLookup(Db, "pl", remote)) == canon(lookup))
    // composite keys and a pinned version go through the same scan
    val v = store.latestVersion(Db, "pl")
    store.mergeScoped(Db, "pl", Seq(5L).toDF("id"))(_.filter(col("id") =!= 5L))
    assert(store.pointLookup(Db, "pl", Seq(5L).toDF("id")).count() == 0)
    assert(store.pointLookup(Db, "pl", Seq(5L).toDF("id"), version = Some(v))
      .count() == 1)
  }
}
