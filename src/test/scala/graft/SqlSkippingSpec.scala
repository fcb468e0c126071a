package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * The SQL surface's data skipping ([[MergeSnapshotStore.read]]
 * over [[graft.catalog.StoreFileIndex]]): `spark.sql` over a registered
 * store view must prune files through the SAME manifest-stats walk as
 * the typed `readWhere` — same file list for the same predicate — while
 * producing full-scan-identical results, and the pruning must reach the
 * scan through a JOIN (the reference's domain-SQL shape), not only
 * through a direct filter.
 */
class SqlSkippingSpec extends AnyFunSuite with SparkFixture {

  private def mkStore(nBuckets: Int = 8): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = nBuckets,
      keepVersions = 2, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String,
                       pk: Seq[String] = Nil,
                       props: Map[String, String] = Map.empty,
                       format: String = "parquet"): Unit =
    store.catalog.register(TableMeta("sdb", tbl,
      Files.createTempDirectory(s"graft-sqlskip-$tbl").toString,
      format = format, primaryKey = pk, properties = props))

  /** A PK-less fact laid out by range so files carry disjoint v-bounds
   * (the layout where stats actually bite — the q64 fixture shape). */
  private def fact(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toDouble, f"k$i%05d", i % 7))
      .toDF("id", "v", "s", "tag")
      .repartitionByRange(8, col("v"))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("SQL filter prunes the same files as readWhere, result full-scan-equal") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("sdb", "t", fact(2000))
    val pred = col("v") >= 100.0 && col("v") <= 200.0

    val (frame, idx) = store.skippingScan("sdb", "t")
    frame.createOrReplaceTempView("t_view")
    val got = spark.sql("SELECT id, v, s, tag FROM t_view WHERE v >= 100.0 AND v <= 200.0")
    val want = store.read("sdb", "t").filter(pred)
    assert(canon(got) == canon(want), "skipping scan changed the answer")

    // the plan pin: the SQL scan's kept file list IS readWhere's
    val sqlKept = idx.lastKept.toSet
    val typedKept = store.prunedFiles("sdb", "t", pred).toSet
    assert(sqlKept == typedKept,
      s"SQL pruning diverged from readWhere: sql=$sqlKept typed=$typedKept")
    assert(sqlKept.size < idx.inputFiles.length,
      "the range fixture must actually prune (else the pin is vacuous)")
    // and the physical scan is Spark's own vectorized parquet scan
    val scans = deepCollect(got.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec under the SQL plan")
  }

  test("domain-style SQL join: the fact-side predicate still prunes") {
    val store = mkStore()
    register(store, "fact2")
    register(store, "dim2")
    store.overwrite("sdb", "fact2", fact(2000))
    import spark.implicits._
    store.overwrite("sdb", "dim2",
      (0 until 7).map(i => (i, s"name$i")).toDF("tag", "tag_name"))

    val (factFrame, factIdx) = store.skippingScan("sdb", "fact2")
    factFrame.createOrReplaceTempView("fact_view")
    store.read("sdb", "dim2").createOrReplaceTempView("dim_view")
    val got = spark.sql(
      """SELECT d.tag_name, count(*) AS n, sum(f.v) AS sv
         FROM fact_view f JOIN dim_view d ON f.tag = d.tag
         WHERE f.v < 250.0
         GROUP BY d.tag_name""")
    val want = store.read("sdb", "fact2").filter(col("v") < 250.0)
      .join(store.read("sdb", "dim2"), "tag")
      .groupBy("tag_name").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    assert(canon(got) == canon(want))
    assert(factIdx.lastKept.toSet ==
      store.prunedFiles("sdb", "fact2", col("v") < 250.0).toSet,
      "the predicate must reach the fact scan through the join")
    assert(factIdx.lastKept.size < factIdx.inputFiles.length)
  }

  test("q64's mixed AND/OR/prefix predicate prunes identically over SQL") {
    val store = mkStore()
    register(store, "mix",
      props = Map(MergeSnapshotStore.SetStatsProp -> "s"))
    store.overwrite("sdb", "mix", fact(2000))
    val pred = (col("v") >= 100.0 && col("v") <= 200.0 &&
      col("s") === "k00150") || col("s").startsWith("k0019")
    val (frame, idx) = store.skippingScan("sdb", "mix")
    frame.createOrReplaceTempView("mix_view")
    val got = spark.sql(
      """SELECT * FROM mix_view
         WHERE (v >= 100.0 AND v <= 200.0 AND s = 'k00150')
            OR s LIKE 'k0019%'""")
    val want = store.read("sdb", "mix").filter(pred)
    assert(canon(got) == canon(want))
    assert(idx.lastKept.toSet == store.prunedFiles("sdb", "mix", pred).toSet,
      "the OR-of-conjunctions walk must agree across surfaces")
  }

  test("sizeInBytes drives auto-broadcast: a small store dim broadcasts in SQL") {
    val store = mkStore()
    register(store, "bfact")
    register(store, "bdim")
    store.overwrite("sdb", "bfact", fact(2000))
    import spark.implicits._
    store.overwrite("sdb", "bdim",
      (0 until 7).map(i => (i, s"nm$i")).toDF("tag", "tag_name"))
    store.read("sdb", "bfact").createOrReplaceTempView("bfact_v")
    store.read("sdb", "bdim").createOrReplaceTempView("bdim_v")
    // AQE OFF for the pin: adaptive execution would convert the join to
    // a broadcast at RUNTIME from the observed shuffle size even if
    // sizeInBytes were wrong — the static plan is what proves the
    // index's statistic drives Catalyst's auto-broadcast decision
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.sql(
        "SELECT f.id, d.tag_name FROM bfact_v f JOIN bdim_v d ON f.tag = d.tag")
      assert(joined.count() == 2000)
      val bhj = deepCollect(joined.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.nonEmpty,
        s"expected a statically planned BroadcastHashJoin over the small " +
          s"store dim:\n" +
          joined.queryExecution.executedPlan.toString.take(2000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("unpredicated SQL reads every file; pinned version reads the old list") {
    val store = mkStore()
    register(store, "pin")
    store.overwrite("sdb", "pin", fact(500))
    val v0 = store.latestVersion("sdb", "pin")
    val n0 = store.read("sdb", "pin").count()
    store.overwrite("sdb", "pin", fact(800))
    // unpredicated: the index keeps everything
    val (all, idx) = store.skippingScan("sdb", "pin")
    assert(all.count() == 800)
    assert(idx.lastKept.size == idx.inputFiles.length)
    // pinned: the frame is the OLD snapshot
    assert(store.read("sdb", "pin", Some(v0)).count() == n0)
  }

  test("AS-OF SQL prunes through the pinned manifest exactly like readWhere there") {
    val store = mkStore()
    register(store, "asof")
    store.overwrite("sdb", "asof", fact(2000))
    val v0 = store.latestVersion("sdb", "asof")
    // move HEAD to a different snapshot so the pin is provably non-HEAD
    store.overwrite("sdb", "asof", fact(400))
    val pred = col("v") >= 100.0 && col("v") <= 200.0

    val (frame, idx) = store.skippingScan("sdb", "asof", Some(v0))
    frame.createOrReplaceTempView("asof_view")
    val got = spark.sql(
      "SELECT id, v, s, tag FROM asof_view WHERE v >= 100.0 AND v <= 200.0")
    val want = store.readVersion(store.catalog("sdb", "asof"), v0).filter(pred)
    assert(canon(got) == canon(want), "AS-OF skipping changed the answer")
    // file-list equality with the typed readWhere AT THE PINNED VERSION
    assert(idx.lastKept.toSet ==
      store.prunedFiles("sdb", "asof", pred, Some(v0)).toSet,
      "pinned SQL pruning diverged from pinned readWhere")
    assert(idx.lastKept.size < idx.inputFiles.length,
      "the pinned range fixture must actually prune")

    // the serving seam routes through the same scan: QueryRunner AS-OF
    // answers from the pinned snapshot
    val qr = new graft.operators.QueryRunner(store)
    assert(canon(qr.run("sdb", "asof", Seq("id", "v"),
        "v >= 100.0 AND v <= 200.0", asOfVersion = Some(v0))) ==
      canon(want.select("id", "v")))
    // and the pinned read keeps the retention-window
    // validation contract for expired pins
    val err = intercept[IllegalArgumentException] {
      store.read("sdb", "asof", Some(v0 + 99))
    }
    assert(err.getMessage.contains("retention"))
  }

  test("FROM t VERSION/TIMESTAMP AS OF — per-table-reference time travel in SQL") {
    val store = mkStore()
    register(store, "tfact")
    store.overwrite("sdb", "tfact", fact(2000))
    val v0 = store.latestVersion("sdb", "tfact")
    val t0 = System.currentTimeMillis(); Thread.sleep(15)
    store.overwrite("sdb", "tfact", fact(400))
    val runner = new graft.operators.QueryRunner(store)
    // pinned single-table SELECT == the typed pinned read, and it PRUNES
    val got = runner.sql("sdb", s"SELECT id, v FROM tfact VERSION AS OF " +
      s"$v0 WHERE v >= 100.0 AND v <= 200.0")
    val want = store.read("sdb", "tfact", Some(v0))
      .filter(col("v") >= 100.0 && col("v") <= 200.0).select("id", "v")
    assert(canon(got) == canon(want), "pinned SQL changed the answer")
    got.collect()
    val files = deepCollect(got.queryExecution.executedPlan) {
      case f: FileSourceScanExec =>
        f.relation.location.asInstanceOf[graft.catalog.StoreFileIndex]
          .lastKept.size
    }
    assert(files.nonEmpty && files.head ==
      store.prunedFiles("sdb", "tfact",
        col("v") >= 100.0 && col("v") <= 200.0, Some(v0)).size,
      s"the pinned reference must prune through its manifest: $files")
    // TIMESTAMP AS OF resolves through the provenance stamps (epoch-ms
    // literal form); the pre-second-overwrite instant answers v0
    val byTs = runner.sql("sdb",
      s"SELECT count(*) AS n FROM tfact TIMESTAMP AS OF $t0")
    assert(byTs.head().getLong(0) == 2000L, "the stamp must resolve v0")
    // MIXED-VERSION JOIN: HEAD fact against the pinned dimension, each
    // side pruning through its own manifest — one statement
    register(store, "tdim", pk = Seq("k"))
    import spark.implicits._
    store.overwrite("sdb", "tdim",
      (0 until 7).map(i => (i, s"A$i")).toDF("k", "name"))
    val dv0 = store.latestVersion("sdb", "tdim")
    store.overwrite("sdb", "tdim",
      (0 until 7).map(i => (i, s"B$i")).toDF("k", "name"))
    val mixed = runner.sql("sdb",
      s"SELECT f.id, d.name FROM tfact f JOIN tdim VERSION AS OF $dv0 d " +
        "ON f.tag = d.k WHERE f.v < 50.0")
    val wantMixed = store.read("sdb", "tfact").filter(col("v") < 50.0)
      .join(store.read("sdb", "tdim", Some(dv0)),
        col("tag") === col("k")).select("id", "name")
    assert(canon(mixed) == canon(wantMixed),
      "HEAD fact x pinned dim must answer each side from its own manifest")
    assert(mixed.collect().forall(_.getString(1).startsWith("A")),
      "the dim pin must surface the OLD names")
    // refusal past retention, with the store's own loud message
    val err = intercept[IllegalArgumentException] {
      runner.sql("sdb", "SELECT * FROM tfact VERSION AS OF 99").collect()
    }
    assert(err.getMessage.contains("retained"), err.getMessage)
    // an unregistered name in a time-travel clause refuses by name;
    // a plain temp view keeps resolving through Spark
    val err2 = intercept[IllegalArgumentException] {
      runner.sql("sdb", "SELECT * FROM nosuch VERSION AS OF 0")
    }
    assert(err2.getMessage.contains("not a registered store table"))
    (0 until 3).map(i => (i, i * 2)).toDF("k", "dbl")
      .createOrReplaceTempView("side_view")
    val withView = runner.sql("sdb",
      s"SELECT f.id, s.dbl FROM tfact VERSION AS OF $v0 f " +
        "JOIN side_view s ON f.tag = s.k WHERE f.v < 10.0")
    assert(withView.count() ==
      store.read("sdb", "tfact", Some(v0))
        .filter(col("v") < 10.0 && col("tag") < 3).count())
  }

  test("non-parquet tables are refused before any file is written") {
    val store = mkStore(nBuckets = 2)
    import spark.implicits._
    def anyFile(loc: String): Boolean = {
      val p = java.nio.file.Paths.get(loc)
      Files.exists(p) && {
        val w = Files.walk(p)
        try w.anyMatch(f => Files.isRegularFile(f)) finally w.close()
      }
    }
    // the SQL door: CREATE TABLE … USING json registers nothing
    val loc = Files.createTempDirectory("graft-sqlskip-js").toString + "/t"
    val viaSql = intercept[IllegalArgumentException] {
      new graft.operators.QueryRunner(store).dml("sdb",
        s"CREATE TABLE js (id BIGINT, w STRING) USING json LOCATION '$loc'")
    }
    assert(viaSql.getMessage.contains("parquet-native"), viaSql.getMessage)
    assert(store.catalog.get("sdb", "js").isEmpty && !anyFile(loc))
    // a directly registered json table: its first write refuses
    register(store, "js2", format = "json")
    val loc2 = store.catalog("sdb", "js2").location
    val viaWrite = intercept[IllegalArgumentException] {
      store.overwrite("sdb", "js2",
        (0 until 50).map(i => (i.toLong, s"w$i")).toDF("id", "w"))
    }
    assert(viaWrite.getMessage.contains("parquet-native"), viaWrite.getMessage)
    assert(!anyFile(loc2), "the refused write left files behind")
  }

  test("runners route through the skipping scan with identical results") {
    val store = mkStore()
    register(store, "offenders")
    store.overwrite("sdb", "offenders", fact(1000))
    // QueryRunner (glue_query CLI shape): projection + string predicate
    val qr = new graft.operators.QueryRunner(store)
    val got = qr.run("sdb", "offenders", Seq("id", "v"), "v > 900.0")
    assert(canon(got) ==
      canon(store.read("sdb", "offenders").filter(col("v") > 900.0)
        .select("id", "v")))
    // and the scan under it pruned: fewer input files than the table has
    val scanned = got.queryExecution.executedPlan
    got.collect()
    val files = deepCollect(scanned) { case f: FileSourceScanExec =>
      f.relation.location.asInstanceOf[graft.catalog.StoreFileIndex]
        .lastKept.size }
    assert(files.nonEmpty && files.head <
      store.read("sdb", "offenders").inputFiles.length,
      s"QueryRunner's predicate must prune the scan: $files")
  }
}
