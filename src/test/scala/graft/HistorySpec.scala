package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * DESCRIBE HISTORY ([[MergeSnapshotStore.history]]): every commit path
 * stamps its manifest with the operation that published it; history
 * reads the retained log back as a DataFrame. Pins: the full operation
 * vocabulary lands (overwrite / delete / update / delete-mor /
 * debt-fold / compact / compact-clustered / rebucket / restore with
 * its target / clone with its source), timestamps are present and
 * non-decreasing, history truncates at the retention window exactly
 * like the version log, and manifests from before the provenance field
 * read as `unknown` instead of failing the parse.
 */
class HistorySpec extends AnyFunSuite with SparkFixture {

  private def mkStore(keep: Int = 16): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = 4,
      keepVersions = keep, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String): TableMeta = {
    val meta = TableMeta("hdb", tbl,
      Files.createTempDirectory(s"graft-hist-$tbl").toString,
      primaryKey = Seq("id"))
    store.catalog.register(meta)
    meta
  }

  private def frame(n: Int = 64): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong, s"c${i % 4}"))
      .toDF("id", "v", "cls")
  }

  test("every commit path stamps its operation; history reads them back") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("hdb", "t", frame())                       // v0
    store.deleteWhere("hdb", "t", col("cls") === "c0")         // v1
    store.updateWhere("hdb", "t", col("id") === 5L,
      Map("v" -> lit(-5L)))                                    // v2
    store.deleteWhere("hdb", "t", col("cls") === "c1",
      MergeSnapshotStore.MergeOnRead)                          // v3
    store.compactDebt("hdb", "t")                              // v4
    store.compactClustered("hdb", "t", Seq("v" -> None), 2)    // v5
    store.compact("hdb", "t", targetFiles = 2)                 // v6
    store.rebucket("hdb", "t", 8)                              // v7
    store.restore("hdb", "t", 6)                               // v8
    val h = store.history("hdb", "t")
      .orderBy("version").collect().toSeq
    val ops = h.map(r => (r.getInt(0), r.getString(1)))
    assert(ops == Seq(0 -> "overwrite", 1 -> "delete", 2 -> "update",
      3 -> "delete-mor", 4 -> "debt-fold", 5 -> "compact-clustered",
      6 -> "compact", 7 -> "rebucket", 8 -> "restore(v=6)"),
      s"operation log drifted: $ops")
    val ts = h.map(_.getTimestamp(2))
    assert(ts.forall(_ != null), "every stamped commit carries a timestamp")
    assert(ts.zip(ts.tail).forall { case (a, b) => !b.before(a) },
      "timestamps must be non-decreasing")
    // shape counts: the MoR version carries the sidecar line
    assert(h(3).getInt(5) == 1 && h(4).getInt(5) == 0,
      "delete_sidecars must show the sidecar arriving and folding away")
  }

  test("a clone's first history row names its source and version") {
    val store = mkStore()
    register(store, "src")
    store.overwrite("hdb", "src", frame())
    val v = store.latestVersion("hdb", "src")
    store.cloneTable("hdb", "src", "hdb", "dst",
      Files.createTempDirectory("graft-hist-clone").toString + "/t")
    val h = store.history("hdb", "dst").orderBy("version").collect().toSeq
    assert(h.size == 1 && h.head.getString(1) == s"clone(hdb.src@$v)",
      s"clone provenance drifted: ${h.map(_.getString(1))}")
  }

  test("history truncates at the retention window, like the version log") {
    val store = mkStore(keep = 2)
    register(store, "t")
    store.overwrite("hdb", "t", frame())
    store.deleteWhere("hdb", "t", col("id") === 1L)
    store.deleteWhere("hdb", "t", col("id") === 2L)
    store.deleteWhere("hdb", "t", col("id") === 3L)
    val versions = store.history("hdb", "t")
      .select("version").collect().map(_.getInt(0)).sorted.toSeq
    assert(versions == Seq(2, 3), s"retained history drifted: $versions")
  }

  test("TIMESTAMP AS OF resolves through the provenance stamps") {
    val store = mkStore()
    register(store, "t")
    store.overwrite("hdb", "t", frame())                     // v0
    Thread.sleep(5)
    val betweenV0andV1 = System.currentTimeMillis()
    Thread.sleep(5)
    store.deleteWhere("hdb", "t", col("cls") === "c0")       // v1
    Thread.sleep(5)
    val afterV1 = System.currentTimeMillis()
    assert(store.versionAt("hdb", "t", betweenV0andV1) == 0,
      "an instant between commits resolves to the earlier version")
    assert(store.versionAt("hdb", "t", afterV1) == 1)
    // the resolved pin reads the snapshot of that instant
    assert(store.read("hdb", "t",
      Some(store.versionAt("hdb", "t", betweenV0andV1))).count() == 64)
    // an instant before the table refuses loudly
    val ex = intercept[IllegalArgumentException] {
      store.versionAt("hdb", "t", 1000L)
    }
    assert(ex.getMessage.contains("predates"))
    // the query surface: runAt pins the scan to the resolved instant
    val runner = new graft.operators.QueryRunner(store)
    assert(runner.runAt("hdb", "t", Seq("id"), "cls = 'c0'",
      betweenV0andV1).count() == 16,
      "TIMESTAMP AS OF must see the pre-delete snapshot")
    assert(runner.runAt("hdb", "t", Seq("id"), "cls = 'c0'",
      afterV1).count() == 0)
  }

  test("pre-provenance manifests read as unknown, not a parse failure") {
    val store = mkStore()
    val meta = register(store, "t")
    store.overwrite("hdb", "t", frame())
    // strip the provenance line the way an old engine version simply
    // never wrote it (manifests are write-once, so this models history,
    // not tampering); a FRESH store re-parses past the old one's cache
    val p = new org.apache.hadoop.fs.Path(s"${meta.location}/v=000000.manifest")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    f.delete(p, false)
    val out = f.create(p, false)
    try out.write(text.linesIterator.filterNot(_.startsWith("o\t"))
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val store2 = new MergeSnapshotStore(spark, store.catalog, nBuckets = 4,
      keepVersions = 16, vacuumRetentionMs = 0L)
    val h = store2.history("hdb", "t").collect().toSeq
    assert(h.size == 1 && h.head.getString(1) == "unknown" &&
      h.head.getTimestamp(2) == null)
    // and the stripped manifest still READS fine
    assert(store2.read("hdb", "t").count() == 64)
  }
}
