package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * SHALLOW CLONE ([[MergeSnapshotStore.cloneTable]]): a new table whose
 * first manifest borrows the source's files by absolute reference —
 * the Delta `SHALLOW CLONE` story. Pins: the clone is metadata-only
 * (no data copied, borrowed refs absolute, stats lines ride along);
 * both tables diverge independently from the clone point; scoped DML
 * on the clone rewrites only touched buckets locally and keeps
 * borrowing the rest; merge-on-read state (and the sidecar sequence
 * rule) crosses the borrowed/native boundary; the clone's vacuum never
 * reclaims source directories; `deep = true` (or any later compact)
 * severs the borrow; cloning a clone borrows the ORIGINAL files.
 */
class CloneSpec extends AnyFunSuite with SparkFixture {

  private def mkStore(keep: Int = 10): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = 4,
      keepVersions = keep, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String,
                       pk: Seq[String] = Seq("id")): TableMeta = {
    val meta = TableMeta("cdb", tbl,
      Files.createTempDirectory(s"graft-clone-$tbl").toString,
      primaryKey = pk)
    store.catalog.register(meta)
    meta
  }

  private def frame(n: Int = 96): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong, s"c${i % 4}"))
      .toDF("id", "v", "cls")
  }

  private def freshLoc(tag: String): String =
    Files.createTempDirectory(s"graft-clone-$tag").toString + "/t"

  private def sortedRows(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  test("a shallow clone is metadata-only and reads equal the source") {
    val store = mkStore()
    val src = register(store, "src")
    store.overwrite("cdb", "src", frame())
    val loc = freshLoc("dst")
    store.cloneTable("cdb", "src", "cdb", "dst", loc)
    assert(sortedRows(store.read("cdb", "dst")) ==
      sortedRows(store.read("cdb", "src")))
    // every borrowed reference is absolute, rooted at the SOURCE
    val entries = store.manifestEntries("cdb", "dst",
      store.latestVersion("cdb", "dst"))
    assert(entries.nonEmpty && entries.values.forall(
      _.startsWith(src.location)), s"borrowed refs must be absolute: $entries")
    // …and not a byte landed under the clone's own location
    val dataRoot = new java.io.File(s"$loc/data")
    assert(!dataRoot.exists() || dataRoot.listFiles().isEmpty,
      "a shallow clone must not copy data")
    // the source's per-file stats lines rode along (rekeyed absolute),
    // so the clone's skipping scans prune from the first read
    val stats = store.manifestStats("cdb", "dst",
      store.latestVersion("cdb", "dst"))
    assert(stats.nonEmpty && stats.keys.forall(_.startsWith(src.location)))
  }

  test("source and clone diverge independently from the clone point") {
    val store = mkStore()
    register(store, "src")
    store.overwrite("cdb", "src", frame())
    store.cloneTable("cdb", "src", "cdb", "dst", freshLoc("div"))
    val want = sortedRows(store.read("cdb", "src"))
    // a write to the clone leaves the source untouched
    store.deleteWhere("cdb", "dst", col("cls") === "c1")
    assert(sortedRows(store.read("cdb", "src")) == want)
    assert(store.read("cdb", "dst").count() == 72)
    // a write to the source leaves the clone untouched (id 6 is in
    // cls c2, which the clone's own delete above did not touch)
    store.updateWhere("cdb", "src", col("id") === 6L, Map("v" -> lit(-6L)))
    assert(store.read("cdb", "dst").filter(col("id") === 6L)
      .select("v").head().getLong(0) == 6L)
  }

  test("scoped DML on a clone rewrites only the touched bucket locally") {
    val store = mkStore()
    val src = register(store, "src")
    store.overwrite("cdb", "src", frame())
    val loc = freshLoc("dml")
    store.cloneTable("cdb", "src", "cdb", "dst", loc)
    store.deleteWhere("cdb", "dst", col("id") === 3L)
    val v = store.latestVersion("cdb", "dst")
    val entries = store.manifestEntries("cdb", "dst", v)
    val (local, borrowed) = entries.values.partition(_.startsWith("data/"))
    assert(local.size == 1,
      s"exactly the touched bucket rewrites under the clone: $entries")
    assert(borrowed.size == 3 && borrowed.forall(_.startsWith(src.location)),
      "untouched buckets keep borrowing the source's files")
    assert(store.read("cdb", "dst").count() == 95)
  }

  test("merge-on-read crosses the borrowed/native boundary") {
    val store = mkStore()
    register(store, "src")
    store.overwrite("cdb", "src", frame())
    // a LIVE sidecar at clone time clones with the manifest
    store.deleteWhere("cdb", "src", col("cls") === "c2",
      MergeSnapshotStore.MergeOnRead)
    store.cloneTable("cdb", "src", "cdb", "dst", freshLoc("mor"))
    assert(store.read("cdb", "dst").count() == 72)
    assert(store.manifestDeletes("cdb", "dst",
      store.latestVersion("cdb", "dst")).size == 1)
    // a NEW sidecar on the clone masks BORROWED files: the sequence
    // rule works because every borrowed commit number predates the
    // clone's own version space
    store.deleteWhere("cdb", "dst", col("cls") === "c3",
      MergeSnapshotStore.MergeOnRead)
    assert(store.read("cdb", "dst").count() == 48)
    // and folding the debt retires both sidecars without moving answers
    val rep = store.compactDebt("cdb", "dst")
    assert(rep.clearedSidecars == 2)
    assert(store.read("cdb", "dst").count() == 48)
  }

  test("position deletes on a PK-less clone survive the debt fold") {
    val store = mkStore()
    register(store, "psrc", pk = Nil)
    store.overwrite("cdb", "psrc", frame())
    store.cloneTable("cdb", "psrc", "cdb", "pdst", freshLoc("pos"))
    // the sidecar addresses BORROWED files, which the clone's manifest
    // names absolutely
    store.deleteWhere("cdb", "pdst", col("cls") === "c2",
      MergeSnapshotStore.MergeOnRead)
    assert(store.read("cdb", "pdst").count() == 72)
    // the fold must find those files as its footprint, rewrite them
    // under the mask, and only then drop the sidecar
    val rep = store.compactDebt("cdb", "pdst")
    assert(rep.clearedSidecars == 1)
    val after = store.read("cdb", "pdst")
    assert(after.count() == 72)
    assert(after.filter(col("cls") === "c2").isEmpty)
    assert(store.manifestDeletes("cdb", "pdst",
      store.latestVersion("cdb", "pdst")).isEmpty)
    assert(store.read("cdb", "psrc").count() == 96)
  }

  test("the clone's vacuum never reclaims borrowed source directories") {
    val store = mkStore(keep = 2)
    register(store, "src")
    store.overwrite("cdb", "src", frame())
    store.cloneTable("cdb", "src", "cdb", "dst", freshLoc("vac"))
    val want = sortedRows(store.read("cdb", "src"))
    // churn the clone until its borrowed-ref manifests expire: with
    // keep=2 and retention 0 the clone's vacuum deletes aggressively —
    // but only ever under its own location
    (1 to 3).foreach(i =>
      store.overwrite("cdb", "dst", frame().filter(col("id") < 10 * i)))
    assert(sortedRows(store.read("cdb", "src")) == want,
      "source data must survive the clone's vacuum")
  }

  test("deep = true severs the borrow at clone time") {
    val store = mkStore()
    val src = register(store, "src")
    store.overwrite("cdb", "src", frame())
    store.cloneTable("cdb", "src", "cdb", "dst", freshLoc("deep"),
      deep = true)
    val entries = store.manifestEntries("cdb", "dst",
      store.latestVersion("cdb", "dst"))
    assert(entries.values.forall(_.startsWith("data/")),
      s"a deep clone holds no borrowed refs: $entries")
    // the clone now survives the source's complete disappearance
    val f = new Path(src.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(src.location), true)
    assert(store.read("cdb", "dst").count() == 96)
  }

  test("a later compact severs a shallow clone the same way") {
    val store = mkStore()
    val src = register(store, "src")
    store.overwrite("cdb", "src", frame())
    store.cloneTable("cdb", "src", "cdb", "dst", freshLoc("sever"))
    store.compact("cdb", "dst", targetFiles = 2)
    val f = new Path(src.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(src.location), true)
    assert(store.read("cdb", "dst").count() == 96)
  }

  test("cloning a clone borrows the ORIGINAL files (no indirection chain)") {
    val store = mkStore()
    val src = register(store, "src")
    store.overwrite("cdb", "src", frame())
    val loc1 = freshLoc("c1")
    store.cloneTable("cdb", "src", "cdb", "c1", loc1)
    store.cloneTable("cdb", "c1", "cdb", "c2", freshLoc("c2"))
    val entries = store.manifestEntries("cdb", "c2",
      store.latestVersion("cdb", "c2"))
    assert(entries.values.forall(_.startsWith(src.location)),
      s"clone-of-clone must reference the original location: $entries")
    assert(store.read("cdb", "c2").count() == 96)
  }

  test("a pinned-version clone ignores later source commits") {
    val store = mkStore()
    register(store, "src")
    store.overwrite("cdb", "src", frame())
    val v0 = store.latestVersion("cdb", "src")
    store.deleteWhere("cdb", "src", col("cls") === "c0")
    store.cloneTable("cdb", "src", "cdb", "dst", freshLoc("pin"),
      version = Some(v0))
    assert(store.read("cdb", "dst").count() == 96)
  }

  test("CREATE TABLE … SHALLOW CLONE statement dispatches through dml") {
    val store = mkStore()
    register(store, "src")
    store.overwrite("cdb", "src", frame())
    val v0 = store.latestVersion("cdb", "src")
    store.deleteWhere("cdb", "src", col("cls") === "c0")
    val loc = freshLoc("sqlclone")
    val runner = new graft.operators.QueryRunner(store)
    val got = runner.dml("cdb",
      s"CREATE TABLE dst SHALLOW CLONE src VERSION AS OF $v0 LOCATION '$loc'")
    assert(got == store.latestVersion("cdb", "dst").toLong)
    assert(store.read("cdb", "dst").count() == 96,
      "the pinned-version statement clone reads the pre-delete snapshot")
    assert(!new java.io.File(s"$loc/data").exists())
  }

  test("the source's vacuum skips directories a live borrower references") {
    // keepVersions 1 + zero retention: without the clone-aware guard,
    // the source's next rewrite would physically sever the clone
    val store = mkStore(keep = 1)
    register(store, "src")
    store.overwrite("cdb", "src", frame())
    val loc = freshLoc("hold")
    store.cloneTable("cdb", "src", "cdb", "dst", loc)
    val cloneRows = sortedRows(store.read("cdb", "dst"))
    // the source rewrites everything away; its commit-path vacuum runs
    // eagerly — and must leave the borrowed directories standing
    store.overwrite("cdb", "src", frame().withColumn("v", col("v") * 2))
    val rep = store.vacuum("cdb", "src", retainMs = Some(0L))
    assert(rep.borrowedSkipped > 0,
      s"the borrower's hold must be visible in the report: $rep")
    assert(sortedRows(store.read("cdb", "dst")) == cloneRows,
      "a live borrower must keep reading after the source's vacuum")
    // SEVERING releases the hold: one compact on the clone
    // re-materializes every borrowed row under its own location…
    store.compact("cdb", "dst", targetFiles = 4)
    val rep2 = store.vacuum("cdb", "src", retainMs = Some(0L))
    assert(rep2.borrowedSkipped == 0 && rep2.dirsReclaimed > 0,
      s"a severed clone releases the source's space: $rep2")
    assert(sortedRows(store.read("cdb", "dst")) == cloneRows,
      "the severed clone reads from its own files")
  }

  test("cross-CATALOG borrower: registerHold makes it visible; releaseHold frees") {
    // the same source registered in two catalogs (shared filesystem,
    // separate metastores): a clone through store B updates B's entry's
    // borrower index, which store A's vacuum cannot see — the explicit
    // registerHold on A's side is the documented remedy
    val storeA = mkStore(keep = 1)
    val src = register(storeA, "src")
    storeA.overwrite("cdb", "src", frame())
    val storeB = mkStore(keep = 1)
    storeB.catalog.register(src) // same table, B's catalog
    val loc = freshLoc("xcat")
    storeB.cloneTable("cdb", "src", "cdb", "dst", loc)
    val cloneRows = sortedRows(storeB.read("cdb", "dst"))
    // A-side registration (operator action after the B-side clone)
    storeA.registerHold("cdb", "src", loc)
    storeA.overwrite("cdb", "src", frame().withColumn("v", col("v") * 2))
    val rep = storeA.vacuum("cdb", "src", retainMs = Some(0L))
    assert(rep.borrowedSkipped > 0, s"the A-side hold must protect: $rep")
    assert(sortedRows(storeB.read("cdb", "dst")) == cloneRows)
    // sever on B, then explicit release on A (A's auto-release also
    // works — it reads the borrower's manifests off the shared
    // filesystem — but the explicit call must free space NOW)
    storeB.compact("cdb", "dst", targetFiles = 4)
    storeA.releaseHold("cdb", "src", loc)
    val rep2 = storeA.vacuum("cdb", "src", retainMs = Some(0L))
    assert(rep2.borrowedSkipped == 0 && rep2.dirsReclaimed > 0, s"$rep2")
    assert(sortedRows(storeB.read("cdb", "dst")) == cloneRows)
  }

  test("holds persist through the SESSION metastore: one shared external catalog") {
    // the two-cluster scenario done right: both stores open their own
    // SessionCatalog adapter over the SAME metastore, so the hold a
    // clone registers through store B is visible to store A's vacuum
    // with no explicit call — and the metastore's location
    // qualification (file: scheme attached on read-back) must not
    // break the borrowed-ref prefix matching
    val tmp = Files.createTempDirectory("graft-clone-sess").toString
    val catA = new graft.catalog.SessionCatalog(spark)
    catA.register(TableMeta("csess", "src", s"$tmp/src",
      primaryKey = Seq("id")))
    val storeA = new MergeSnapshotStore(spark, catA, nBuckets = 4,
      keepVersions = 1, vacuumRetentionMs = 0L)
    storeA.overwrite("csess", "src", frame())
    val storeB = new MergeSnapshotStore(spark,
      new graft.catalog.SessionCatalog(spark), nBuckets = 4,
      keepVersions = 1, vacuumRetentionMs = 0L)
    storeB.cloneTable("csess", "src", "csess", "dst", s"$tmp/dst")
    val cloneRows = sortedRows(storeB.read("csess", "dst"))
    assert(catA("csess", "src").properties
        .get(MergeSnapshotStore.HoldsProp).exists(_.contains("dst")),
      "the hold must land in the shared metastore")
    storeA.overwrite("csess", "src", frame().withColumn("v", col("v") * 2))
    val rep = storeA.vacuum("csess", "src", retainMs = Some(0L))
    assert(rep.borrowedSkipped > 0,
      s"A must see B's hold through the metastore: $rep")
    assert(sortedRows(storeB.read("csess", "dst")) == cloneRows)
    // sever on B; A's auto-release reads B's manifests off the shared
    // filesystem and frees the space with no explicit release call
    storeB.compact("csess", "dst", targetFiles = 4)
    val rep2 = storeA.vacuum("csess", "src", retainMs = Some(0L))
    assert(rep2.borrowedSkipped == 0 && rep2.dirsReclaimed > 0, s"$rep2")
    assert(!catA("csess", "src").properties
        .contains(MergeSnapshotStore.HoldsProp),
      "the released hold must clear from the metastore")
    assert(sortedRows(storeB.read("csess", "dst")) == cloneRows)
  }

  test("RACE: cloners vs the source's churn+vacuum — survive or refuse, never severed") {
    // keep=1 + zero retention: every source commit's vacuum expires the
    // prior manifest and reclaims its dirs IMMEDIATELY. Cloners race
    // clones of the moving head across that reclaim. Pinned outcome:
    // every clone either (a) reads back the full snapshot it pinned —
    // and KEEPS reading it while churn continues (the hold protects the
    // borrowed dirs) — or (b) refused loudly at clone time. A clone
    // that was handed back successfully and then fails to read is a
    // silently severed clone: the exact bug the hold-before-publish /
    // verify-after-publish protocol exists to prevent.
    val store = mkStore(keep = 1)
    register(store, "src")
    store.overwrite("cdb", "src", frame())
    val refused = new java.util.concurrent.atomic.AtomicInteger
    val okCount = new java.util.concurrent.atomic.AtomicInteger
    val severed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile var writerDone = false
    val writer = new Thread(() => {
      (1 to 18).foreach { k =>
        store.overwrite("cdb", "src",
          frame().withColumn("v", col("v") + lit(k.toLong)))
      }
      writerDone = true
    })
    val live = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val cloners = (1 to 3).map { i =>
      new Thread(() => {
        var k = 0
        while (!writerDone && k < 10) {
          val name = s"dst${i}_$k"
          try {
            val head = store.latestVersion("cdb", "src")
            store.cloneTable("cdb", "src", "cdb", name,
              freshLoc(s"race$i-$k"), version = Some(head))
            // the immediate read exercises the clone under ongoing churn
            if (store.read("cdb", name).count() == 96L) {
              okCount.incrementAndGet(); live.add(name)
            } else severed.add(s"$name: wrong row count")
          } catch {
            case _: java.util.ConcurrentModificationException |
                 _: IllegalArgumentException |
                 _: java.io.FileNotFoundException =>
              refused.incrementAndGet() // loud refusals are the OK arm
            case e: Throwable => severed.add(s"$name at clone: $e")
          }
          k += 1
        }
      })
    }
    (writer +: cloners).foreach(_.start())
    (writer +: cloners).foreach(_.join(300000))
    assert(severed.isEmpty, s"severed clones: ${severed.toArray.mkString("; ")}")
    assert(okCount.get > 0, "the race never produced a successful clone " +
      s"(refused=${refused.get}) — the fixture is not exercising the window")
    // every surviving clone STILL reads in full after all churn+vacuum
    live.forEach { name =>
      val n = try store.read("cdb", name).count()
      catch { case e: Throwable => fail(s"$name severed post-hoc: $e") }
      assert(n == 96L, s"$name reads $n rows after churn")
    }
  }

  test("clone into a used location refuses") {
    val store = mkStore()
    register(store, "src")
    store.overwrite("cdb", "src", frame())
    val loc = freshLoc("used")
    store.cloneTable("cdb", "src", "cdb", "dst", loc)
    intercept[IllegalArgumentException] {
      store.cloneTable("cdb", "src", "cdb", "dst2", loc)
    }
  }
}
