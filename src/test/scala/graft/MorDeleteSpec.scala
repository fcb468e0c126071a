package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * Merge-on-read deletes ([[MergeSnapshotStore.deleteWhere]] with
 * `MergeOnRead`): a delete writes ONLY an equality-delete sidecar (the
 * matched PK tuples — Iceberg v2's shape) and leaves every data file in
 * place; readers anti-join it through every funnel; the sequence rule
 * exempts files committed after the sidecar (re-inserts survive);
 * compaction folds sidecars into a clean rewrite and clears them, and a
 * bucket-scoped rewrite drops the sidecars it makes dead. Logical
 * results are mode-independent: CopyOnWrite and MergeOnRead answer
 * identically, including the changesBetween pure-D feed.
 */
class MorDeleteSpec extends AnyFunSuite with SparkFixture {

  private val Mor = MergeSnapshotStore.MergeOnRead

  private def mkStore(nBuckets: Int = 4): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = nBuckets,
      keepVersions = 2, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String,
                       pk: Seq[String] = Seq("id")): TableMeta = {
    val meta = TableMeta("mdb", tbl,
      Files.createTempDirectory(s"graft-mor-$tbl").toString,
      primaryKey = pk)
    store.catalog.register(meta)
    meta
  }

  private def frame(n: Int = 256): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong, s"c${i % 4}"))
      .toDF("id", "v", "cls")
  }

  private def assertExact(got: DataFrame, want: DataFrame): Unit =
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0, "result drifted")

  test("a 1-row MoR delete writes O(1) data; modes answer identically") {
    val store = mkStore()
    register(store, "t")
    register(store, "t_cow")
    store.overwrite("mdb", "t", frame())
    store.overwrite("mdb", "t_cow", frame())
    val v0 = store.latestVersion("mdb", "t")
    val buckets0 = store.manifestEntries("mdb", "t", v0)

    assert(store.deleteWhere("mdb", "t", col("id") === 17L, Mor) == 1L)
    assert(store.deleteWhere("mdb", "t_cow", col("id") === 17L) == 1L)

    val v1 = store.latestVersion("mdb", "t")
    // O(delete) written: NO bucket moved — the manifest's bucket map is
    // byte-identical to v0's (a CoW 1-row delete rewrites whole buckets)
    assert(store.manifestEntries("mdb", "t", v1) == buckets0,
      "MoR must not rewrite any data bucket")
    val Seq((rel, appliesBelow)) = store.manifestDeletes("mdb", "t", v1)
    assert(appliesBelow == v1)
    // the sidecar holds exactly the matched key
    val sidecar = spark.read.parquet(
      s"${store.catalog("mdb", "t").location}/$rel")
    assert(sidecar.collect().map(_.getLong(0)).toSeq == Seq(17L))
    // logical equivalence across modes, and against the plain filter
    assertExact(store.read("mdb", "t"), store.read("mdb", "t_cow"))
    assertExact(store.read("mdb", "t"), frame().filter(col("id") =!= 17L))
  }

  test("change-feed parity: the MoR commit yields the pure-D changelog") {
    val store = mkStore()
    register(store, "cf")
    store.overwrite("mdb", "cf", frame())
    val v0 = store.latestVersion("mdb", "cf")
    assert(store.deleteWhere("mdb", "cf", col("cls") === "c1", Mor) == 64L)
    val v1 = store.latestVersion("mdb", "cf")
    val chg = store.changesBetween("mdb", "cf", v0, v1)
    val byChange = chg.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byChange == Map("D" -> 64L),
      s"expected a pure-D feed of the deleted rows: $byChange")
  }

  test("every read funnel masks: read, readWhere, readRange, SQL skipping") {
    val store = mkStore()
    register(store, "fun")
    store.overwrite("mdb", "fun", frame())
    assert(store.deleteWhere("mdb", "fun",
      col("v") >= 100L && col("v") < 120L, Mor) == 20L)
    val want = frame().filter(!(col("v") >= 100L && col("v") < 120L))
    assertExact(store.read("mdb", "fun"), want)
    assertExact(store.readWhere("mdb", "fun", col("v") >= 90L && col("v") < 130L),
      want.filter(col("v") >= 90L && col("v") < 130L))
    assertExact(store.readRange("mdb", "fun", Map("v" -> ((90.0, 129.0)))),
      want.filter(col("v") >= 90L && col("v") <= 129L))
    store.read("mdb", "fun").createOrReplaceTempView("mor_fun")
    assertExact(spark.sql("SELECT * FROM mor_fun WHERE v < 200"),
      want.filter(col("v") < 200L))
  }

  test("sequence rule: a re-inserted key survives the older sidecar") {
    import spark.implicits._
    val store = mkStore()
    register(store, "seq")
    store.overwrite("mdb", "seq", frame())
    assert(store.deleteWhere("mdb", "seq", col("id") === 5L, Mor) == 1L)
    assert(store.read("mdb", "seq").filter(col("id") === 5L).count() == 0)
    // CDC re-insert of the deleted key, new value
    store.mergeScoped("mdb", "seq", Seq(5L).toDF("id"))(old =>
      old.filter(col("id") =!= 5L)
        .unionByName(Seq((5L, 9999L, "c9")).toDF("id", "v", "cls")))
    val row = store.read("mdb", "seq").filter(col("id") === 5L).collect()
    assert(row.length == 1 && row.head.getLong(1) == 9999L,
      "the re-inserted key's NEW file postdates the sidecar and is exempt")
  }

  test("second MoR delete composes; deleted rows never re-match the find") {
    val store = mkStore()
    register(store, "two")
    store.overwrite("mdb", "two", frame())
    assert(store.deleteWhere("mdb", "two", col("v") < 10L, Mor) == 10L)
    // overlapping predicate: already-deleted rows must not re-count
    assert(store.deleteWhere("mdb", "two", col("v") < 20L, Mor) == 10L)
    assertExact(store.read("mdb", "two"), frame().filter(col("v") >= 20L))
    assert(store.manifestDeletes("mdb", "two",
      store.latestVersion("mdb", "two")).size == 2)
  }

  test("compaction folds the sidecar in and clears it") {
    val store = mkStore()
    register(store, "fold")
    store.overwrite("mdb", "fold", frame())
    assert(store.deleteWhere("mdb", "fold", col("cls") === "c2", Mor) == 64L)
    store.compact("mdb", "fold", targetFiles = 1)
    val v = store.latestVersion("mdb", "fold")
    assert(store.manifestDeletes("mdb", "fold", v).isEmpty,
      "the full rewrite must clear the sidecar list")
    assertExact(store.read("mdb", "fold"),
      frame().filter(col("cls") =!= "c2"))
    // physically folded too: the raw files of the new version hold no
    // deleted row (read the bucket dirs without the masking view)
    val loc = store.catalog("mdb", "fold").location
    val raw = store.manifestEntries("mdb", "fold", v).values
      .map(dir => spark.read.parquet(s"$loc/$dir"))
      .reduce(_ unionByName _)
    assert(raw.filter(col("cls") === "c2").count() == 0)
  }

  test("a bucket-scoped rewrite drops the sidecars it makes dead") {
    import spark.implicits._
    val store = mkStore(nBuckets = 2)
    register(store, "dead")
    store.overwrite("mdb", "dead", frame(64))
    assert(store.deleteWhere("mdb", "dead", col("id") === 3L, Mor) == 1L)
    // rewrite EVERY bucket (keys hashing to both) — after it, no data
    // file predates the sidecar, so the carry filters it out
    store.mergeScoped("mdb", "dead",
      (0L until 64L).toDF("id"))(old => old)
    val v = store.latestVersion("mdb", "dead")
    assert(store.manifestDeletes("mdb", "dead", v).isEmpty,
      "a sidecar no surviving file predates is dead and must drop")
    assertExact(store.read("mdb", "dead"),
      frame(64).filter(col("id") =!= 3L))
  }

  test("delete-debt advisor: fires on sidecar buildup, quiet after compaction") {
    import graft.catalog.MergeSnapshotStore.DeleteDebt
    val store = mkStore()
    register(store, "debt")
    store.overwrite("mdb", "debt", frame(256))
    assert(store.deleteDebt("mdb", "debt") ==
      DeleteDebt(0, 0, 0L, rowsKnown = true, compactAdvised = false),
      "a sidecar-free table carries no debt")

    // three 1-row takedowns: counts and recorded key mass are exact,
    // below the default thresholds — no advice yet
    (0 until 3).foreach { i =>
      assert(store.deleteWhere("mdb", "debt", col("id") === i.toLong, Mor) == 1L)
    }
    val d3 = store.deleteDebt("mdb", "debt")
    assert(d3 == DeleteDebt(3, 3, 3L, rowsKnown = true, compactAdvised = false))

    // threshold math, both dimensions independently: the same state
    // advises at a count threshold it reaches, and at a mass threshold
    // the recorded keys reach — the advisor prices per-read sidecar
    // opens AND broadcast mass, whichever crosses first
    assert(store.deleteDebt("mdb", "debt", adviseAtSidecars = 3).compactAdvised)
    assert(store.deleteDebt("mdb", "debt", adviseAtRows = 3L).compactAdvised)
    assert(!store.deleteDebt("mdb", "debt",
      adviseAtSidecars = 4, adviseAtRows = 4L).compactAdvised)

    // a fourth, fatter takedown crosses the default count threshold
    assert(store.deleteWhere("mdb", "debt", col("cls") === "c3", Mor) == 64L)
    val d4 = store.deleteDebt("mdb", "debt")
    assert(d4 == DeleteDebt(4, 4, 67L, rowsKnown = true, compactAdvised = true))

    // compaction reports exactly the debt it folded away, and the
    // advisor goes quiet on the rewritten table
    val rep = store.compact("mdb", "debt", targetFiles = 1)
    assert(rep.version == store.latestVersion("mdb", "debt"))
    assert(rep.clearedSidecars == 4 && rep.clearedDeletedRows == 67L)
    assert(store.deleteDebt("mdb", "debt") ==
      DeleteDebt(0, 0, 0L, rowsKnown = true, compactAdvised = false))
    assertExact(store.read("mdb", "debt"),
      frame(256).filter(col("cls") =!= "c3" && col("id") >= 3L))
  }

  test("maintainIfAdvised: acts only when an advisor fires, reports the debt paid") {
    import graft.catalog.MergeSnapshotStore.DeleteDebt
    val store = mkStore()
    register(store, "auto")
    store.overwrite("mdb", "auto", frame())
    // a fresh hash-bucketed table smears v across every file, so the
    // LAYOUT advisor fires and the pass cluster-compacts (no sidecars
    // yet — the report's debt side is zero)
    val rep0 = store.maintainIfAdvised("mdb", "auto", layout = Seq("v"))
    assert(rep0.exists(r => r.clearedSidecars == 0 && r.clearedDeletedRows == 0L))
    // clustered now: both advisors quiet — no write, no version consumed
    val v1 = store.latestVersion("mdb", "auto")
    assert(store.maintainIfAdvised("mdb", "auto", layout = Seq("v")).isEmpty)
    assert(store.latestVersion("mdb", "auto") == v1,
      "a healthy table must not pay a rewrite")
    // sidecar buildup crosses the count threshold: the same call now
    // folds the debt and says exactly what it paid
    (0 until 4).foreach { i =>
      assert(store.deleteWhere("mdb", "auto", col("id") === i.toLong, Mor) == 1L)
    }
    val rep = store.maintainIfAdvised("mdb", "auto", layout = Seq("v"))
    assert(rep.exists(r => r.clearedSidecars == 4 && r.clearedDeletedRows == 4L))
    assert(store.deleteDebt("mdb", "auto") ==
      DeleteDebt(0, 0, 0L, rowsKnown = true, compactAdvised = false))
    assert(store.maintainIfAdvised("mdb", "auto", layout = Seq("v")).isEmpty)
    assertExact(store.read("mdb", "auto"), frame().filter(col("id") >= 4L))
  }

  test("compactDebt: keyed fold rewrites only key-owning buckets, clears every sidecar") {
    import spark.implicits._
    val store = mkStore()
    register(store, "pfold")
    store.overwrite("mdb", "pfold", frame())
    def bucketOfId(id: Long): Int =
      spark.range(id, id + 1).select(store.bucketOf(Seq(col("id"))))
        .head().getInt(0)
    // two takedowns whose keys land in DIFFERENT buckets
    val k1 = 3L
    val k2 = (4L until 64L).find(i => bucketOfId(i) != bucketOfId(k1)).get
    assert(store.deleteWhere("mdb", "pfold", col("id") === k1, Mor) == 1L)
    assert(store.deleteWhere("mdb", "pfold", col("id") === k2, Mor) == 1L)
    val vPre = store.latestVersion("mdb", "pfold")
    val entriesPre = store.manifestEntries("mdb", "pfold", vPre)
    val owning = Set(bucketOfId(k1), bucketOfId(k2))

    val rep = store.compactDebt("mdb", "pfold")
    assert(rep.clearedSidecars == 2 && rep.clearedDeletedRows == 2L)
    assert(rep.version == vPre + 1)
    val entriesPost = store.manifestEntries("mdb", "pfold", rep.version)
    // O(deleted region): every bucket owning no masked key carries its
    // dir byte-verbatim; exactly the owning buckets moved
    entriesPre.keySet.foreach { b =>
      if (owning(b)) assert(entriesPost(b) != entriesPre(b),
        s"key-owning bucket $b must rewrite")
      else assert(entriesPost(b) == entriesPre(b),
        s"bucket $b owns no masked key and must carry verbatim")
    }
    assert(store.manifestDeletes("mdb", "pfold", rep.version).isEmpty,
      "the fold must retire every sidecar")
    // fold-then-read equality, and physically folded: the rewritten
    // buckets' raw files hold no masked row
    assertExact(store.read("mdb", "pfold"),
      frame().filter(col("id") =!= k1 && col("id") =!= k2))
    val loc = store.catalog("mdb", "pfold").location
    owning.foreach { b =>
      val raw = spark.read.parquet(s"$loc/${entriesPost(b)}")
      assert(raw.filter(col("id").isin(k1, k2)).count() == 0)
    }
    // idempotent: a debt-free table returns a zero report, no version
    val again = store.compactDebt("mdb", "pfold")
    assert(again == graft.catalog.CompactionReport(rep.version, 0, 0L))
    assert(store.latestVersion("mdb", "pfold") == rep.version)
  }

  test("compactDebt: dead sidecars clear metadata-only; re-inserts survive the fold") {
    import spark.implicits._
    val store = mkStore()
    register(store, "dfold")
    store.overwrite("mdb", "dfold", frame(64))
    assert(store.deleteWhere("mdb", "dfold", col("id") === 5L, Mor) == 1L)
    // re-insert the deleted key (rewrites its bucket — the sidecar's
    // only masked row is gone, but OTHER buckets still predate it, so
    // the commit-number rule keeps the line alive as dead weight)
    store.mergeScoped("mdb", "dfold", Seq(5L).toDF("id"))(old =>
      old.filter(col("id") =!= 5L)
        .unionByName(Seq((5L, 9999L, "c9")).toDF("id", "v", "cls")))
    val vPre = store.latestVersion("mdb", "dfold")
    assert(store.manifestDeletes("mdb", "dfold", vPre).size == 1,
      "fixture: the dead sidecar must still ride the manifest")
    val entriesPre = store.manifestEntries("mdb", "dfold", vPre)

    val rep = store.compactDebt("mdb", "dfold")
    assert(rep.version == vPre + 1 && rep.clearedSidecars == 1)
    // metadata-only: NO bucket moved, the delete lines just dropped
    assert(store.manifestEntries("mdb", "dfold", rep.version) == entriesPre,
      "a dead-sidecar clear must not touch any data")
    assert(store.manifestDeletes("mdb", "dfold", rep.version).isEmpty)
    val row = store.read("mdb", "dfold").filter(col("id") === 5L).collect()
    assert(row.length == 1 && row.head.getLong(1) == 9999L,
      "the re-inserted key must survive the fold")
  }

  test("compactDebt: PK-less fold rewrites only addressed files, carries the rest; folds stack") {
    val store = mkStore()
    register(store, "posfold", pk = Nil)
    // disjoint v ranges per file so the position delete addresses a
    // strict subset of the files
    store.overwrite("mdb", "posfold",
      frame().repartitionByRange(4, col("v")))
    val v0 = store.latestVersion("mdb", "posfold")
    val loc = store.catalog("mdb", "posfold").location
    val dir0 = store.manifestEntries("mdb", "posfold", v0)(0)
    val files0 = new java.io.File(s"$loc/$dir0").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(f => s"$dir0/${f.getName}").toSet
    assert(files0.size == 4, s"fixture wants 4 range files: $files0")

    assert(store.deleteWhere("mdb", "posfold", col("v") < 10L, Mor) == 10L)
    val rep = store.compactDebt("mdb", "posfold")
    assert(rep.clearedSidecars == 1 && rep.clearedDeletedRows == 10L)
    assert(store.manifestDeletes("mdb", "posfold", rep.version).isEmpty)
    // file-granular carry: the three unaddressed files ride as carried
    // lines with their ORIGINAL paths; only the addressed file rewrote
    val carries = store.manifestCarries("mdb", "posfold", rep.version)
    assert(carries.keySet == Set(0))
    assert(carries(0).toSet.subsetOf(files0) && carries(0).size == 3,
      s"expected 3 of the 4 original files carried verbatim: $carries")
    assertExact(store.read("mdb", "posfold"),
      frame().filter(col("v") >= 10L))
    // the pruned funnels read the mixed dir+carry layout identically —
    // and the CARRIED files' stats keep pruning: a v<100 band plans
    // only the rewritten dir + the one carried range file that overlaps
    val pruned = store.readWhere("mdb", "posfold", col("v") < 100L)
    assert(pruned.inputFiles.length == 2,
      s"carried stats must keep biting: planned ${pruned.inputFiles.length}")
    assertExact(pruned,
      frame().filter(col("v") >= 10L && col("v") < 100L))
    store.read("mdb", "posfold").createOrReplaceTempView("posfold_v")
    assert(spark.sql("SELECT count(*) AS n FROM posfold_v").head().getLong(0)
      == 246L)

    // a second delete lands in a CARRIED file; the second fold reads it,
    // rewrites it, keeps the 2 unaddressed carries verbatim, and turns
    // the first fold's (unaddressed, but bucket-colliding) dir into
    // carries — paths only ever come from the prior version
    assert(store.deleteWhere("mdb", "posfold",
      col("v") >= 240L && col("v") < 250L, Mor) == 10L)
    val dir1 = store.manifestEntries("mdb", "posfold", rep.version)(0)
    val dir1Files = new java.io.File(s"$loc/$dir1").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(f => s"$dir1/${f.getName}").toSet
    val rep2 = store.compactDebt("mdb", "posfold")
    assert(rep2.clearedSidecars == 1 && rep2.clearedDeletedRows == 10L)
    val carries2 = store.manifestCarries("mdb", "posfold", rep2.version)
    val untouched = carries(0).toSet.intersect(carries2(0).toSet)
    assert(untouched.size == 2,
      s"2 of the 3 prior carries must ride verbatim: $carries2")
    assert(carries2(0).toSet == untouched ++ dir1Files,
      s"second fold must not invent paths: $carries2")
    assertExact(store.read("mdb", "posfold"),
      frame().filter(col("v") >= 10L &&
        !(col("v") >= 240L && col("v") < 250L)))

    // CoW DML over the mixed layout folds carries back into a dir
    assert(store.deleteWhere("mdb", "posfold", col("v") === 100L) == 1L)
    assertExact(store.read("mdb", "posfold"),
      frame().filter(col("v") >= 10L && col("v") =!= 100L &&
        !(col("v") >= 240L && col("v") < 250L)))
    assert(store.manifestCarries("mdb", "posfold",
      store.latestVersion("mdb", "posfold")).isEmpty,
      "the whole-bucket CoW rewrite subsumes every carry")
  }

  test("vacuum reclaims a carry-only dir's rewritten leftovers file-granularly") {
    val store = mkStore() // keepVersions = 2, retention 0 (eager)
    register(store, "vc", pk = Nil)
    store.overwrite("mdb", "vc", frame().repartitionByRange(4, col("v")))
    val loc = store.catalog("mdb", "vc").location
    val v0 = store.latestVersion("mdb", "vc")
    val dir0 = store.manifestEntries("mdb", "vc", v0)(0)
    def dirFiles(): Set[String] = new java.io.File(s"$loc/$dir0").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(_.getName).toSet
    val files0 = dirFiles()
    assert(files0.size == 4)

    assert(store.deleteWhere("mdb", "vc", col("v") < 10L,
      MergeSnapshotStore.MergeOnRead) == 10L) // v1
    val rep = store.compactDebt("mdb", "vc") // v2: dir0 split into carries
    val carried = store.manifestCarries("mdb", "vc", rep.version)(0)
      .map(_.split('/').last).toSet
    val rewritten = files0 -- carried
    assert(rewritten.size == 1)
    // v1 (which still names dir0 as a bucket entry) is retained, so the
    // rewritten leftover must SURVIVE this commit's vacuum
    assert(dirFiles() == files0,
      "a dir-referencing retained manifest protects the whole dir")

    // the next commit expires v1: dir0 becomes carry-only and the
    // leftover reclaims file-granularly (retention 0 = same pass);
    // the three carried files stay byte-verbatim
    assert(store.deleteWhere("mdb", "vc", col("v") === 50L,
      MergeSnapshotStore.MergeOnRead) == 1L) // v3
    assert(dirFiles() == carried,
      s"carry-only reclaim must drop exactly the rewritten leftover: " +
        s"left=${dirFiles()}, carried=$carried")
    // reads over the post-reclaim mixed layout stay exact, and a second
    // fold still reads the carried files fine
    assertExact(store.read("mdb", "vc"),
      frame().filter(col("v") >= 10L && col("v") =!= 50L))
    val rep2 = store.compactDebt("mdb", "vc")
    assert(rep2.clearedSidecars == 1)
    assertExact(store.read("mdb", "vc"),
      frame().filter(col("v") >= 10L && col("v") =!= 50L))
  }

  test("pre-count-field manifests read as rows-unknown, still counted") {
    // a 3-field `d` line (manifests written before the row-count field)
    // must parse as rows = unknown: the mass sum turns lower-bound and
    // rowsKnown false, while the COUNT threshold still sees the sidecar
    // — accumulation is never invisible on an old table
    val store = mkStore()
    val meta = register(store, "old")
    store.overwrite("mdb", "old", frame(64))
    assert(store.deleteWhere("mdb", "old", col("id") === 5L, Mor) == 1L)
    val v = store.latestVersion("mdb", "old")
    val mf = java.nio.file.Paths.get(meta.location, f"v=$v%06d.manifest")
    val stripped = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
      .linesIterator.map { l =>
        if (l.startsWith("d\t")) l.split('\t').take(3).mkString("\t") else l
      }.mkString("\n")
    java.nio.file.Files.write(mf, stripped.getBytes("UTF-8"))
    // a FRESH store re-parses (the writer's instance-scoped cache still
    // holds the 4-field form — write-once manifests are never re-read)
    val reader = new MergeSnapshotStore(spark, store.catalog, nBuckets = 4,
      keepVersions = 2, vacuumRetentionMs = 0L)
    val d = reader.deleteDebt("mdb", "old")
    assert(d.sidecars == 1 && d.deletedRows == 0L && !d.rowsKnown)
    assert(reader.deleteDebt("mdb", "old", adviseAtSidecars = 1).compactAdvised)
    // and the logical view is untouched by the missing field
    assertExact(reader.read("mdb", "old"),
      frame(64).filter(col("id") =!= 5L))
  }

  test("MoR composes with IVM: the pure-D feed folds a dashboard to rebuild equality") {
    import graft.operators.Ivm
    val store = mkStore()
    register(store, "ivm")
    store.overwrite("mdb", "ivm", frame())
    val spec = Ivm.countSumSpec("ivm_agg", col("cls"), col("v"))
    val before = spec.seed(store.read("mdb", "ivm"))
    val v0 = store.latestVersion("mdb", "ivm")
    assert(store.deleteWhere("mdb", "ivm", col("cls") === "c3", Mor) == 64L)
    val v1 = store.latestVersion("mdb", "ivm")
    val feed = store.changesBetween("mdb", "ivm", v0, v1)
    // the MoR delete is an ordinary version transition to the delta
    // rule: folding its feed lands exactly on the from-scratch rebuild
    val folded = spec.fold(before,
      store.readVersion(store.catalog("mdb", "ivm"), v0),
      store.read("mdb", "ivm"), feed, Seq("id"))
    val rebuilt = spec.seed(store.read("mdb", "ivm"))
    assertExact(folded, rebuilt)
  }

  test("no-match MoR delete commits nothing (either kind)") {
    val store = mkStore()
    register(store, "nm")
    store.overwrite("mdb", "nm", frame())
    val v0 = store.latestVersion("mdb", "nm")
    assert(store.deleteWhere("mdb", "nm", col("v") > 100000L, Mor) == 0L)
    assert(store.latestVersion("mdb", "nm") == v0, "no version bump")
    assert(store.manifestDeletes("mdb", "nm", v0).isEmpty)
    register(store, "nopk_nm", pk = Nil)
    store.overwrite("mdb", "nopk_nm", frame())
    val p0 = store.latestVersion("mdb", "nopk_nm")
    assert(store.deleteWhere("mdb", "nopk_nm", col("v") > 100000L, Mor) == 0L)
    assert(store.latestVersion("mdb", "nopk_nm") == p0, "no version bump")
  }

  test("position deletes: PK-less MoR masks exact row addresses, O(delete) written") {
    val store = mkStore()
    register(store, "nopk", pk = Nil)
    store.overwrite("mdb", "nopk", frame())
    val v0 = store.latestVersion("mdb", "nopk")
    val buckets0 = store.manifestEntries("mdb", "nopk", v0)

    assert(store.deleteWhere("mdb", "nopk", col("cls") === "c1", Mor) == 64L)
    val v1 = store.latestVersion("mdb", "nopk")
    assert(store.manifestEntries("mdb", "nopk", v1) == buckets0,
      "a position delete must not rewrite any data file")
    // every read funnel masks: full load, stats-pruned load, SQL scan
    assertExact(store.read("mdb", "nopk"),
      frame().filter(col("cls") =!= "c1"))
    assertExact(store.readWhere("mdb", "nopk", col("v") < 10L),
      frame().filter(col("v") < 10L && col("cls") =!= "c1"))
    val (sqlFrame, _) = store.skippingScan("mdb", "nopk")
    assert(sqlFrame.count() == 192L)

    // composition: a second delete works over the logical view — rows
    // the first sidecar masked never re-match
    assert(store.deleteWhere("mdb", "nopk", col("v") === 0L, Mor) == 1L)
    assert(store.deleteWhere("mdb", "nopk", col("cls") === "c1", Mor) == 0L)
    assertExact(store.read("mdb", "nopk"),
      frame().filter(col("cls") =!= "c1" && col("v") =!= 0L))

    // the debt advisor and the compaction report see position sidecars
    // exactly like equality ones, and compact folds them away
    val debt = store.deleteDebt("mdb", "nopk")
    assert(debt.sidecars == 2 && debt.deletedRows == 65L && debt.rowsKnown)
    val rep = store.compact("mdb", "nopk", targetFiles = 2)
    assert(rep.clearedSidecars == 2 && rep.clearedDeletedRows == 65L)
    assert(store.manifestDeletes("mdb", "nopk",
      store.latestVersion("mdb", "nopk")).isEmpty)
    assertExact(store.read("mdb", "nopk"),
      frame().filter(col("cls") =!= "c1" && col("v") =!= 0L))
  }

  test("position deletes mask duplicate physical rows individually") {
    import spark.implicits._
    // PK-less corpora hold byte-identical rows (raw crawl shards); a
    // position delete erases the MATCHED PHYSICAL rows — the count is
    // the physical row count, not the distinct-value count
    val store = mkStore()
    register(store, "dup", pk = Nil)
    val rows = Seq(("a", 1L), ("a", 1L), ("a", 1L), ("b", 2L))
      .toDF("k", "v")
    store.overwrite("mdb", "dup", rows)
    assert(store.deleteWhere("mdb", "dup", col("k") === "a", Mor) == 3L)
    assert(store.read("mdb", "dup").collect().map(_.getString(0)).toSeq ==
      Seq("b"))
  }

  test("pos races: a racing pos delete composes; a data rewrite refuses") {
    // PK-less tables hold ONE logical bucket, so any data rewrite moves
    // it and a CAS-losing position delete must refuse (its recorded
    // addresses point at files the winner just killed — rebasing would
    // publish a delete that silently un-happens); a racing MoR delete
    // moves no bucket, so the loser rebases and the two compose
    val store = new MergeSnapshotStore(spark, new InMemoryCatalog,
      nBuckets = 4, keepVersions = 2, vacuumRetentionMs = 3600000L)
    store.catalog.register(TableMeta("mdb", "prace",
      Files.createTempDirectory("graft-mor-prace").toString))
    store.overwrite("mdb", "prace", frame(64))
    store.beforePublish = () => {
      store.deleteWhere("mdb", "prace", col("v") === 1L, Mor)
      ()
    }
    assert(store.deleteWhere("mdb", "prace", col("v") === 2L, Mor) == 1L)
    store.beforePublish = () => ()
    assertExact(store.read("mdb", "prace"),
      frame(64).filter(col("v") =!= 1L && col("v") =!= 2L))
    store.beforePublish = () => {
      store.compact("mdb", "prace", targetFiles = 2)
      ()
    }
    intercept[java.util.ConcurrentModificationException] {
      store.deleteWhere("mdb", "prace", col("v") === 3L, Mor)
    }
    store.beforePublish = () => ()
    // the refused delete left no trace; the racer's compaction stands
    assertExact(store.read("mdb", "prace"),
      frame(64).filter(col("v") =!= 1L && col("v") =!= 2L))
  }

  test("races: key-bucket rewrite refuses; elsewhere-merge rebases clean") {
    import spark.implicits._
    // a REAL retention window (the DeleteWhereSpec race contract): with
    // retention 0 the racing writer's vacuum reclaims this delete's
    // written-but-unpublished sidecar dir
    val store = new MergeSnapshotStore(spark, new InMemoryCatalog,
      nBuckets = 4, keepVersions = 2, vacuumRetentionMs = 3600000L)
    // value-set stats on cls make the racer's files PROVABLY clean (the
    // DeleteWhereSpec fixture shape) — hash-scattered id bounds alone
    // could not prove a rewritten bucket holds no matching row
    val meta = TableMeta("mdb", "race",
      Files.createTempDirectory("graft-mor-race").toString,
      primaryKey = Seq("id"),
      properties = Map(MergeSnapshotStore.SetStatsProp -> "cls"))
    store.catalog.register(meta)
    def bucketOfId(id: Long): Int =
      spark.range(id, id + 1).select(store.bucketOf(Seq(col("id"))))
        .head().getInt(0)
    val doomed = 7L
    val other = (0L until 64L).find(i => bucketOfId(i) != bucketOfId(doomed)).get
    store.overwrite("mdb", "race",
      (0L until 64L).map(i =>
        (i, if (i == doomed) "gone" else "keep")).toDF("id", "cls"))
    // clean rebase: the racer rewrites a bucket owning NO matched key
    // and its set stats PROVE no 'gone' row appeared
    store.beforePublish = () => {
      store.mergeScoped("mdb", "race", Seq(other).toDF("id"))(old =>
        old.filter(col("id") =!= other))
      ()
    }
    assert(store.deleteWhere("mdb", "race", col("cls") === "gone", Mor) == 1L)
    assert(store.read("mdb", "race")
      .filter(col("id").isin(doomed, other)).count() == 0,
      "both the rebased MoR delete and the racing merge must stand")
    // refusal: the racer rewrites the bucket owning a matched key — its
    // rewrite carries the row without the sidecar's knowledge
    val doomed2 = (0L until 64L)
      .find(i => i != doomed && i != other).get
    store.mergeScoped("mdb", "race", Seq(doomed2).toDF("id"))(old =>
      old.filter(col("id") =!= doomed2)
        .unionByName(Seq((doomed2, "gone2")).toDF("id", "cls")))
    store.beforePublish = () => {
      store.mergeScoped("mdb", "race", Seq(doomed2).toDF("id"))(old => old)
      ()
    }
    intercept[java.util.ConcurrentModificationException] {
      store.deleteWhere("mdb", "race", col("cls") === "gone2", Mor)
    }
    store.beforePublish = () => ()
    // and the inverse: a MERGE racing an in-flight MoR delete refuses
    // at its own CAS (the delete set changed under it)
    store.beforePublish = () => {
      store.deleteWhere("mdb", "race", col("id") === 11L, Mor)
      ()
    }
    intercept[java.util.ConcurrentModificationException] {
      store.mergeScoped("mdb", "race", Seq(12L).toDF("id"))(old => old)
    }
    store.beforePublish = () => ()
  }
}
