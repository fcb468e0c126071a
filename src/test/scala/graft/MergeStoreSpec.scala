package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
import graft.model.CdcModel
import graft.operators.ChangeLogApplier

/**
 * The incremental MERGE commit path: partition-scoped rewrites (only the
 * PK-hash buckets a batch touches), manifest-by-reference carry-over of
 * untouched files, vacuum of unreferenced data, and CDC `run()` parity
 * with the plain-frame reference fold (`ChangeLogApplier.applyTable`).
 */
class MergeStoreSpec extends AnyFunSuite with SparkFixture {

  // retention 0 = eager vacuum: these tests assert on prompt deletion.
  // The PRODUCTION default is a 30-minute horizon (tested below).
  // Concurrent-writer tests MUST pass a real horizon: a pre-publish data
  // dir is an orphan to a racing writer's vacuum, and retention is what
  // protects the write->publish window (the class doc's contract).
  private def mkStore(nBuckets: Int = 8, keep: Int = 2,
                      retentionMs: Long = 0L): MergeSnapshotStore = {
    val cat = new InMemoryCatalog
    new MergeSnapshotStore(spark, cat, nBuckets = nBuckets, keepVersions = keep,
      vacuumRetentionMs = retentionMs)
  }

  private def register(store: MergeSnapshotStore, db: String, tbl: String,
                       pk: String): TableMeta = {
    val meta = TableMeta(db, tbl,
      Files.createTempDirectory(s"graft-merge-$tbl").toString,
      primaryKey = Seq(pk))
    store.catalog.register(meta)
    meta
  }

  private def idTable(n: Int): DataFrame =
    spark.range(1, n + 1).select(col("id").cast("int").as("id"),
      concat(lit("name-"), col("id")).as("name"))

  test("scoped-merge schema evolution: add-column CDC batch, carried files read as NULL") {
    import spark.implicits._
    // keep enough versions for the cross-evolution change feed below
    val store = mkStore(nBuckets = 8, keep = 4)
    register(store, "mdb", "evo", "id")
    store.overwrite("mdb", "evo", idTable(256))
    val v0 = store.latestVersion("mdb", "evo")
    val entries0 = store.manifestEntries("mdb", "evo", v0)
    // MoR sidecar BEFORE the evolution: the mask must keep applying to
    // carried pre-evolution files after the schema widens
    assert(store.deleteWhere("mdb", "evo", col("id") === 200,
      MergeSnapshotStore.MergeOnRead) == 1L)
    // the evolving CDC batch: keys < 40 arrive with a NEW column; the
    // rewrite widens every row of the touched buckets (the assignment
    // rule is key-based, so the final table is bucket-independent)
    val touched = store.mergeScoped("mdb", "evo",
      (1 to 39).toDF("id")) { old =>
      old.withColumn("tier",
        when(col("id") < 40, lit("hot")).otherwise(lit(null).cast("string")))
    }
    val v1 = store.latestVersion("mdb", "evo")
    // the manifest schema widened; untouched buckets carried VERBATIM
    val entries1 = store.manifestEntries("mdb", "evo", v1)
    (entries0.keySet -- touched).foreach { b =>
      assert(entries1(b) == entries0(b),
        s"untouched bucket $b must carry its pre-evolution files")
    }
    // end-to-end read: carried rows surface NULL in the new column,
    // rewritten rows carry their values, the sidecar still masks
    val got = store.read("mdb", "evo")
    assert(got.schema.fieldNames.toSeq ==
      Seq("id", "name", "tier"))
    assert(got.filter(col("id") === 200).isEmpty,
      "the pre-evolution sidecar must keep masking carried files")
    assert(got.filter(col("tier") === "hot").count() == 39)
    assert(got.filter(col("id") >= 40 && col("tier").isNotNull).count() == 0,
      "carried rows must read as NULL in the added column")
    assert(got.count() == 255)
    // pruned reads on the NEW column: carried files have no stats for
    // it (conservative keep), rewritten files do — answers stay exact
    assert(store.readWhere("mdb", "evo", col("tier") === "hot").count() == 39)
    assert(store.readWhere("mdb", "evo",
      col("tier").isNull && col("id") <= 50).count() ==
      (50 - 39)) // ids 40..50
    // the change feed across the evolution commit compares the SHARED
    // columns (the diff cannot see a column one side lacks): the
    // key-preserving rewrite emits no spurious rows
    val feed = store.changesBetween("mdb", "evo", v0, v1)
    assert(feed.filter(col("change") =!= "D").isEmpty,
      "a value-preserving evolution commit must not fabricate I/U rows")
    // a later plain merge against the evolved table keeps the column
    store.mergeScoped("mdb", "evo", Seq(300).toDF("id")) { old =>
      old.unionByName(Seq((300, "name-300", "hot"))
        .toDF("id", "name", "tier"))
    }
    assert(store.read("mdb", "evo").filter(col("tier") === "hot").count() == 40)
    // refusals: dropping and retyping refuse loudly; a non-nullable
    // add refuses before any manifest moves
    val eDrop = intercept[IllegalArgumentException] {
      store.mergeScoped("mdb", "evo", Seq(1).toDF("id"))(_.drop("tier"))
    }
    assert(eDrop.getMessage.contains("DROPS column"))
    val eRetype = intercept[IllegalArgumentException] {
      store.mergeScoped("mdb", "evo", Seq(1).toDF("id"))(old =>
        old.withColumn("name", col("name").cast("binary")))
    }
    assert(eRetype.getMessage.contains("RETYPES column"))
    val vStable = store.latestVersion("mdb", "evo")
    val eNonNull = intercept[IllegalArgumentException] {
      store.mergeScoped("mdb", "evo", Seq(1).toDF("id"))(old =>
        old.withColumn("flag", lit(true)))
    }
    assert(eNonNull.getMessage.contains("NON-NULLABLE column"))
    assert(store.latestVersion("mdb", "evo") == vStable,
      "a refused evolution must not consume a version")
  }

  test("rebucket: online bucket-count evolution; lookups and merges follow") {
    import spark.implicits._
    val store = mkStore(nBuckets = 4)
    register(store, "mdb", "grow", "id")
    val df = idTable(256)
    store.overwrite("mdb", "grow", df)
    assert(store.manifestEntries("mdb", "grow",
      store.latestVersion("mdb", "grow")).size == 4)
    // a takedown sidecar rides into the rewrite: the rebucket folds it
    // and the report says so
    assert(store.deleteWhere("mdb", "grow", col("id") === 7,
      MergeSnapshotStore.MergeOnRead) == 1L)

    val rep = store.rebucket("mdb", "grow", 16)
    assert(rep.clearedSidecars == 1 && rep.clearedDeletedRows == 1L)
    val v = store.latestVersion("mdb", "grow")
    assert(rep.version == v)
    assert(store.manifestEntries("mdb", "grow", v).size == 16,
      "the rewrite must land under the new modulus")
    val want = df.filter(col("id") =!= 7)
    val back = store.read("mdb", "grow")
    assert(back.exceptAll(want).count() == 0 &&
      want.exceptAll(back).count() == 0,
      "rebucketing must not move the logical snapshot")
    // the catalog's meta now carries the new count, so lookups and
    // scoped merges hash with the committed modulus
    assert(store.pointLookup("mdb", "grow",
      Seq(42).toDF("id")).count() == 1)
    store.mergeScoped("mdb", "grow", Seq(999).toDF("id"))(old =>
      old.unionByName(Seq((999, "name-999")).toDF("id", "name")))
    assert(store.read("mdb", "grow").count() == 256)
    // refusals: no PK, silly count
    store.catalog.register(TableMeta("mdb", "nopk_rb",
      Files.createTempDirectory("graft-merge-nopk-rb").toString))
    intercept[IllegalArgumentException] {
      store.rebucket("mdb", "nopk_rb", 8)
    }
    intercept[IllegalArgumentException] { store.rebucket("mdb", "grow", 0) }
  }

  test("rebucket racing a commit refuses and restores the old property") {
    import spark.implicits._
    val store = mkStore(nBuckets = 4, retentionMs = 3600000L)
    val meta = register(store, "mdb", "rrace", "id")
    store.overwrite("mdb", "rrace", idTable(64))
    // the racer writes through its OWN catalog still holding the
    // pre-flip meta (the shared-catalog case refuses EAGERLY on the
    // manifest-vs-meta count check — loud, never wrong — so the true
    // base-moved race needs an independent writer)
    store.beforePublish = () => {
      val sideCat = new InMemoryCatalog
      sideCat.register(meta)
      val side = new MergeSnapshotStore(spark, sideCat, nBuckets = 4,
        keepVersions = 2, vacuumRetentionMs = 3600000L)
      side.mergeScoped("mdb", "rrace", Seq(3).toDF("id"))(old =>
        old.filter(col("id") =!= 3))
      ()
    }
    intercept[java.util.ConcurrentModificationException] {
      store.rebucket("mdb", "rrace", 16)
    }
    store.beforePublish = () => ()
    // the refused rewrite restored the old property: the racing commit
    // stands and the table still merges under its committed modulus
    assert(store.catalog("mdb", "rrace")
      .properties.get(MergeSnapshotStore.BucketsProp).isEmpty)
    assert(store.read("mdb", "rrace").count() == 63)
    store.mergeScoped("mdb", "rrace", Seq(5).toDF("id"))(old =>
      old.filter(col("id") =!= 5))
    assert(store.read("mdb", "rrace").count() == 62)
  }

  test("reserved internal column names refuse at the write boundary") {
    import spark.implicits._
    // __b is the bucket routing column, __fv the read-time file-commit
    // column, __graft_* the position-delete addresses — a user column
    // with any of these names would be silently replaced or would skip
    // address derivation, so the write refuses loudly instead
    val store = mkStore()
    val meta = register(store, "rdb", "resv", "id")
    Seq("__b", "__fv", "__graft_pos_file").foreach { bad =>
      val err = intercept[IllegalArgumentException] {
        store.overwrite("rdb", "resv",
          Seq((1L, "x")).toDF("id", bad))
      }
      assert(err.getMessage.contains("reserved"), s"$bad must refuse")
    }
  }

  test("overwrite + read roundtrip spreads rows across buckets") {
    val store = mkStore()
    register(store, "mdb", "t1", "id")
    val df = idTable(100)
    store.overwrite("mdb", "t1", df)
    val back = store.read("mdb", "t1")
    assert(back.count() == 100)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    assert(store.manifestEntries("mdb", "t1", 0).size > 1, "expected >1 bucket")
  }

  test("pointLookup reads only the keys' bucket dirs, result equals full-scan filter") {
    import spark.implicits._
    val store = mkStore(nBuckets = 8)
    register(store, "mdb", "tpl", "id")
    store.overwrite("mdb", "tpl", idTable(200))
    val keys = Seq(5, 37, 90).toDF("id")
    val got = store.pointLookup("mdb", "tpl", keys)
    // content: exactly the full-scan filter's rows
    val expect = store.read("mdb", "tpl").filter(col("id").isin(5, 37, 90))
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)
    assert(got.count() == 3)
    // pruning: the lookup's planned files are a strict subset — only
    // the three keys' bucket dirs, not the table's
    val wantBuckets = keys
      .select(store.bucketOf(col("id").cast("int")).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val lookupFiles = got.inputFiles.toSet
    val allFiles = store.read("mdb", "tpl").inputFiles.toSet
    assert(lookupFiles.nonEmpty && lookupFiles.size < allFiles.size,
      s"lookup planned ${lookupFiles.size} of ${allFiles.size} files")
    assert(lookupFiles.forall(f => wantBuckets.exists(b => f.contains(s"__b=$b"))),
      s"lookup read outside its buckets: $lookupFiles")
    // the PK predicate is pushed into the parquet scan (row-group
    // stats can skip within the surviving buckets)
    val scans = got.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty &&
      scans.forall(_.metadata("PushedFilters").contains("In(id")),
      s"expected pushed In(id...) filter: ${scans.map(_.metadata("PushedFilters"))}")
    // keys absent from the table return no rows without error
    assert(store.pointLookup("mdb", "tpl", Seq(100000).toDF("id")).count() == 0)
    // a key frame of the "wrong" literal type still matches (cast seam)
    assert(store.pointLookup("mdb", "tpl", Seq(5L).toDF("id")).count() == 1)
  }

  test("changesBetween: committed-version diff replays v0 into v1") {
    import spark.implicits._
    val store = mkStore()
    register(store, "mdb", "tcdf", "id")
    store.overwrite("mdb", "tcdf", idTable(30))
    // v1: id 3 updated, id 7 deleted, id 31 inserted
    val v1 = idTable(30)
      .filter(col("id") =!= 7)
      .withColumn("name", when(col("id") === 3, lit("renamed")).otherwise(col("name")))
      .unionByName(Seq((31, "name-31")).toDF("id", "name"))
    store.overwrite("mdb", "tcdf", v1)
    val cdf = store.changesBetween("mdb", "tcdf", 0, 1)
    val kinds = cdf.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(kinds == Map(3 -> "U", 7 -> "D", 31 -> "I"))
    // replay: v0 minus U/D keys, plus I/U new rows == v1
    val v0 = store.readVersion(store.catalog("mdb", "tcdf"), 0)
    val replayed = v0
      .join(cdf.filter(col("change").isin("U", "D")).select("id"), Seq("id"), "left_anti")
      .unionByName(cdf.filter(col("change").isin("I", "U")).select("id", "name"))
    val back = store.read("mdb", "tcdf")
    assert(replayed.exceptAll(back).count() == 0 &&
      back.exceptAll(replayed).count() == 0)
    // diff of a version against itself is empty
    assert(store.changesBetween("mdb", "tcdf", 1, 1).isEmpty)
  }

  test("a 1-row merge rewrites ONLY the touched bucket's files") {
    val store = mkStore()
    register(store, "mdb", "t2", "id")
    store.overwrite("mdb", "t2", idTable(100))
    val v0 = store.manifestEntries("mdb", "t2", 0)

    val change = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(7, "renamed"))),
      StructType(Seq(StructField("id", IntegerType), StructField("name", StringType))))
    val touched = store.mergeScoped("mdb", "t2", change) { old =>
      old.filter(col("id") =!= 7).unionByName(change)
    }
    assert(touched.size == 1)
    val v1 = store.manifestEntries("mdb", "t2", 1)
    // untouched buckets: same physical directories by reference, no rewrite
    (v0.keySet - touched.head).foreach { b =>
      assert(v1(b) == v0(b), s"untouched bucket $b was rewritten")
    }
    assert(v1(touched.head) != v0(touched.head))
    assert(v1(touched.head).startsWith("data/c000001"))
    // and the data is right
    val back = store.read("mdb", "t2")
    assert(back.count() == 100)
    assert(back.filter(col("id") === 7).select("name").head().getString(0) == "renamed")
  }

  test("merge deletes drop rows; an emptied bucket leaves the manifest") {
    val store = mkStore(nBuckets = 64)
    register(store, "mdb", "t3", "id")
    store.overwrite("mdb", "t3", idTable(20))
    // pick an id that is ALONE in its bucket, so the delete empties it
    val byBucket = idTable(20)
      .groupBy(store.bucketOf(col("id")).as("__b"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("id"))
      .filter(col("n") === 1).select("id").head().getInt(0)
    val keys = idTable(20).filter(col("id") === byBucket).select("id")
    store.mergeScoped("mdb", "t3", keys)(old => old.filter(col("id") =!= byBucket))
    val back = store.read("mdb", "t3")
    assert(back.count() == 19)
    assert(back.filter(col("id") === byBucket).count() == 0)
    val v1 = store.manifestEntries("mdb", "t3", 1)
    assert(v1.size == store.manifestEntries("mdb", "t3", 0).size - 1,
      "emptied bucket should disappear from the manifest")
  }

  test("per-table bucket counts: small dims keep few files beside a wide fact") {
    import spark.implicits._
    val store = mkStore(nBuckets = 16, retentionMs = 60000L)
    store.catalog.register(TableMeta("ptb", "fact",
      Files.createTempDirectory("graft-ptb-fact").toString,
      primaryKey = Seq("id")))
    val dimMeta = TableMeta("ptb", "dim",
      Files.createTempDirectory("graft-ptb-dim").toString,
      primaryKey = Seq("id"),
      properties = Map(MergeSnapshotStore.BucketsProp -> "2"))
    store.catalog.register(dimMeta)
    store.overwrite("ptb", "fact", idTable(256))
    store.overwrite("ptb", "dim", idTable(64))
    assert(store.manifestEntries("ptb", "fact",
      store.latestVersion("ptb", "fact")).size == 16)
    assert(store.manifestEntries("ptb", "dim",
      store.latestVersion("ptb", "dim")).size == 2,
      "the override, not the store default, shapes the dim's layout")
    // merge + point lookup run against the TABLE's own modulus
    store.mergeScoped("ptb", "dim", Seq(7).toDF("id"))(old =>
      old.withColumn("name",
        when(col("id") === 7, lit("dim-upd")).otherwise(col("name"))))
    assert(store.read("ptb", "dim")
      .filter(col("name") === "dim-upd").count() == 1)
    val lk = store.pointLookup("ptb", "dim", Seq(7).toDF("id"))
    assert(lk.count() == 1)
    assert(lk.inputFiles.length <
      store.read("ptb", "dim").inputFiles.length,
      "the lookup must prune to the key's own bucket")
    // the count travels with the TABLE: a store opened with a different
    // DEFAULT still reads and merges the overridden dim correctly...
    val other = new MergeSnapshotStore(spark, store.catalog, nBuckets = 8,
      keepVersions = 2, vacuumRetentionMs = 60000L)
    assert(other.read("ptb", "dim").count() == 64)
    other.mergeScoped("ptb", "dim", Seq(9).toDF("id"))(old =>
      old.filter(col("id") =!= 9))
    assert(other.read("ptb", "dim").count() == 63)
    // ...while the DEFAULT-bucketed fact refuses under the wrong default
    intercept[IllegalArgumentException] {
      other.mergeScoped("ptb", "fact", Seq(1).toDF("id"))(old => old)
    }
    // changing the override on committed data refuses at the merge seam
    // until an overwrite re-buckets
    store.catalog.register(dimMeta.copy(properties =
      Map(MergeSnapshotStore.BucketsProp -> "4")))
    intercept[IllegalArgumentException] {
      store.mergeScoped("ptb", "dim", Seq(3).toDF("id"))(old => old)
    }
    store.overwrite("ptb", "dim", idTable(64))
    assert(store.manifestEntries("ptb", "dim",
      store.latestVersion("ptb", "dim")).size == 4)
  }

  test("manifest cache: one parse per version, vacuumed versions still fail loudly") {
    val store = mkStore(nBuckets = 4)
    register(store, "mc", "mc_t", "id")
    store.overwrite("mc", "mc_t", idTable(64))
    val meta = store.catalog("mc", "mc_t")
    val p0 = store.manifestParses.get()
    // repeated reads of one committed version parse its manifest ONCE
    // (the file is write-once — putIfAbsent — so the parse is cacheable;
    // serving paths resolve four manifests per query batch, and at
    // object-store scale the GET+parse per read is the serving tax)
    store.read("mc", "mc_t").count()
    val p1 = store.manifestParses.get()
    store.read("mc", "mc_t").count()
    store.readVersion(meta, 0).count()
    assert(store.manifestParses.get() == p1,
      "re-reading a cached version must not re-parse its manifest")
    // the overwrite's own vacuum may already have parsed-and-cached v0,
    // so the reads above can be all-hits; the invariant is exactly ONE
    // parse of this table's single committed manifest, ever
    assert(p1 - p0 <= 1)
    // this store's own vacuum INVALIDATES the cache entries it expires
    // (no per-hit existence probe — a lagging object store would
    // falsify it): after v0 expires, reading it fails loudly
    store.overwrite("mc", "mc_t", idTable(65))
    store.overwrite("mc", "mc_t", idTable(66)) // keepVersions=2: v0 manifest gone
    // with the pinned read's own retention message
    val err = intercept[IllegalArgumentException] {
      store.read("mc", "mc_t", Some(0))
    }
    assert(err.getMessage.contains("retention"))
    val byMeta = intercept[IllegalArgumentException] {
      store.readVersion(meta, 0)
    }
    assert(byMeta.getMessage == err.getMessage)
  }

  test("vacuum retains keepVersions manifests and deletes unreferenced dirs") {
    val store = mkStore(keep = 2)
    val meta = register(store, "mdb", "t4", "id")
    store.overwrite("mdb", "t4", idTable(20))           // v0: all dirs c000000
    def oneRow(id: Int): DataFrame = idTable(20).filter(col("id") === id)
    store.mergeScoped("mdb", "t4", oneRow(1).select("id")) { old =>
      old.withColumn("name", when(col("id") === 1, lit("x")).otherwise(col("name")))
    }                                                    // v1
    store.mergeScoped("mdb", "t4", oneRow(2).select("id")) { old =>
      old.withColumn("name", when(col("id") === 2, lit("y")).otherwise(col("name")))
    }                                                    // v2 -> v0 vacuumed
    intercept[Exception] { store.manifestEntries("mdb", "t4", 0) }
    // v1 and v2 both readable (retained), and v2 reflects both merges
    assert(store.readVersion(meta, 1).count() == 20)
    val latest = store.read("mdb", "t4")
    assert(latest.filter(col("id") === 1).select("name").head().getString(0) == "x")
    assert(latest.filter(col("id") === 2).select("name").head().getString(0) == "y")
    // v0's bucket dir for the re-merged buckets is unreferenced -> deleted;
    // every directory still referenced by v1/v2 exists
    val fs = new org.apache.hadoop.fs.Path(meta.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val referenced = (store.manifestEntries("mdb", "t4", 1).values ++
      store.manifestEntries("mdb", "t4", 2).values).toSet
    referenced.foreach { d =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"${meta.location}/$d")), d)
    }
  }

  test("vacuum retention guard: a reader pinned on an expired version survives commits") {
    val cat = new InMemoryCatalog
    // one-hour horizon: expired versions' data dirs are tombstoned, not
    // deleted, so a scan that resolved its manifest before expiry finishes
    val guarded = new MergeSnapshotStore(spark, cat, nBuckets = 8,
      keepVersions = 2, vacuumRetentionMs = 60 * 60 * 1000L)
    val meta = TableMeta("mdb", "t8",
      Files.createTempDirectory("graft-merge-t8").toString, primaryKey = Seq("id"))
    cat.register(meta)
    guarded.overwrite("mdb", "t8", idTable(20))          // v0
    val pinned = guarded.readVersion(meta, 0)            // manifest resolved NOW
    def touch(id: Int, label: String): Unit =
      guarded.mergeScoped("mdb", "t8",
        idTable(20).filter(col("id") === id).select("id")) { old =>
        old.withColumn("name", when(col("id") === id, lit(label))
          .otherwise(col("name")))
      }
    touch(1, "x")                                        // v1
    touch(2, "y")                                        // v2 -> v0 manifest expires
    // version count is still bounded: v0's manifest is gone...
    intercept[Exception] { guarded.manifestEntries("mdb", "t8", 0) }
    // ...but the pinned reader's scan still succeeds (dirs tombstoned)
    assert(pinned.count() == 20)
    assert(pinned.filter(col("id") === 1).select("name").head().getString(0)
      == "name-1", "pinned snapshot must still show pre-merge data")
    // a zero-retention store on the same table deletes overdue dirs on the
    // next commit — the guard delays deletion, it does not disable vacuum
    val eager = new MergeSnapshotStore(spark, cat, nBuckets = 8,
      keepVersions = 2, vacuumRetentionMs = 0L)
    val beforeTouched = (guarded.manifestEntries("mdb", "t8", 1).values.toSet ++
      guarded.manifestEntries("mdb", "t8", 2).values.toSet)
    eager.mergeScoped("mdb", "t8",
      idTable(20).filter(col("id") === 3).select("id")) { old =>
      old.withColumn("name", when(col("id") === 3, lit("z")).otherwise(col("name")))
    }                                                    // v3 -> v1 expires
    val fs = new org.apache.hadoop.fs.Path(meta.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = (eager.manifestEntries("mdb", "t8", 2).values.toSet ++
      eager.manifestEntries("mdb", "t8", 3).values.toSet)
    val dead = beforeTouched -- live
    assert(dead.nonEmpty, "the eager commit should orphan at least one dir")
    dead.foreach { d =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${meta.location}/$d")),
        s"zero-retention vacuum must delete the unreferenced dir $d")
    }
    live.foreach { d =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"${meta.location}/$d")), d)
    }
  }

  test("default-constructed store refuses to delete young unreferenced dirs") {
    // the production default must be the conservative horizon, not eager
    assert(MergeSnapshotStore.DefaultRetentionMs == 30 * 60 * 1000L)
    val cat = new InMemoryCatalog
    // retention NOT passed: this is the default users get
    val store = new MergeSnapshotStore(spark, cat, nBuckets = 8, keepVersions = 2)
    val meta = TableMeta("mdb", "tDef",
      Files.createTempDirectory("graft-merge-tdef").toString, primaryKey = Seq("id"))
    cat.register(meta)
    store.overwrite("mdb", "tDef", idTable(20))          // v0
    val v0dirs = store.manifestEntries("mdb", "tDef", 0).values.toSet
    def touch(id: Int, label: String): Unit =
      store.mergeScoped("mdb", "tDef",
        idTable(20).filter(col("id") === id).select("id")) { old =>
        old.withColumn("name", when(col("id") === id, lit(label))
          .otherwise(col("name")))
      }
    touch(1, "x")                                        // v1
    touch(2, "y")                                        // v2 -> v0 manifest expires
    intercept[Exception] { store.manifestEntries("mdb", "tDef", 0) }
    val fs = new org.apache.hadoop.fs.Path(meta.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = (store.manifestEntries("mdb", "tDef", 1).values.toSet ++
      store.manifestEntries("mdb", "tDef", 2).values.toSet)
    val dead = v0dirs -- live
    assert(dead.nonEmpty, "the commits should orphan at least one v0 dir")
    dead.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"${meta.location}/$d")
      assert(fs.exists(p),
        s"default store deleted $d seconds after it became unreferenced")
      assert(fs.exists(new org.apache.hadoop.fs.Path(p, "_expired_at")),
        s"unreferenced dir $d should carry a retention tombstone")
    }
  }

  test("garbled tombstone: commit succeeds, dir survives, tombstone repaired") {
    // the crash-tolerance contract: a 0-byte/garbled _expired_at (crash
    // mid-write) must not fail the commit and must restart the retention
    // clock with a REAL tombstone (not a silently no-op'd repair)
    val cat = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, cat, nBuckets = 8,
      keepVersions = 2, vacuumRetentionMs = 60 * 60 * 1000L)
    val meta = TableMeta("mdb", "tGar",
      Files.createTempDirectory("graft-merge-tgar").toString, primaryKey = Seq("id"))
    cat.register(meta)
    store.overwrite("mdb", "tGar", idTable(20))          // v0
    val v0dirs = store.manifestEntries("mdb", "tGar", 0).values.toSet
    def touch(id: Int, label: String): Unit =
      store.mergeScoped("mdb", "tGar",
        idTable(20).filter(col("id") === id).select("id")) { old =>
        old.withColumn("name", when(col("id") === id, lit(label))
          .otherwise(col("name")))
      }
    touch(1, "x")                                        // v1
    touch(2, "y")                                        // v2 -> v0 unreferenced
    val fs = new org.apache.hadoop.fs.Path(meta.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = (store.manifestEntries("mdb", "tGar", 1).values.toSet ++
      store.manifestEntries("mdb", "tGar", 2).values.toSet)
    val dead = (v0dirs -- live).toSeq.sorted
    assert(dead.nonEmpty)
    // garble the tombstone the v2 vacuum just wrote: truncate to 0 bytes
    val tomb = new org.apache.hadoop.fs.Path(
      s"${meta.location}/${dead.head}/_expired_at")
    assert(fs.exists(tomb))
    fs.create(tomb, true).close()
    assert(fs.getFileStatus(tomb).getLen == 0)
    touch(3, "z")                                        // v3: vacuum sees garble
    // commit succeeded (we got here), the young dir survived, and the
    // tombstone now holds a parseable epoch — the repair really landed
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"${meta.location}/${dead.head}")))
    val in = fs.open(tomb)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    assert(text.trim.nonEmpty && text.trim.forall(_.isDigit),
      s"tombstone should hold an epoch after repair, got '$text'")
    assert(store.read("mdb", "tGar").count() == 20)
  }

  test("a crashed previous attempt never wedges the table") {
    val store = mkStore()
    val meta = register(store, "mdb", "t6", "id")
    store.overwrite("mdb", "t6", idTable(50))
    // simulate a crash between data write and manifest commit: the next
    // version's data dir exists (fully or as tmp) with no manifest
    val fs = new org.apache.hadoop.fs.Path(meta.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${meta.location}/data/c000001/__b=0"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${meta.location}/data/.tmp-c000001"))
    val keys = idTable(50).filter(col("id") === 9).select("id")
    store.mergeScoped("mdb", "t6", keys) { old =>
      old.withColumn("name", when(col("id") === 9, lit("retry")).otherwise(col("name")))
    }
    val back = store.read("mdb", "t6")
    assert(back.count() == 50)
    assert(back.filter(col("id") === 9).select("name").head().getString(0) == "retry")
  }

  test("a store with the wrong nBuckets fails fast instead of corrupting") {
    val cat = new InMemoryCatalog
    val meta = TableMeta("mdb", "t7",
      Files.createTempDirectory("graft-merge-t7").toString, primaryKey = Seq("id"))
    cat.register(meta)
    new MergeSnapshotStore(spark, cat, nBuckets = 8).overwrite("mdb", "t7", idTable(20))
    val wrong = new MergeSnapshotStore(spark, cat, nBuckets = 16)
    val e = intercept[IllegalArgumentException] {
      wrong.mergeScoped("mdb", "t7", idTable(20).filter(col("id") === 1).select("id"))(
        identity)
    }
    assert(e.getMessage.contains("nBuckets"))
    // a full overwrite legitimately re-buckets
    wrong.overwrite("mdb", "t7", idTable(20))
    assert(wrong.read("mdb", "t7").count() == 20)
    wrong.mergeScoped("mdb", "t7", idTable(20).filter(col("id") === 1).select("id"))(
      old => old)
    assert(wrong.read("mdb", "t7").count() == 20)
  }

  test("PK-less tables keep the frame's own write parallelism") {
    val store = mkStore()
    val meta = TableMeta("mdb", "t8",
      Files.createTempDirectory("graft-merge-t8").toString) // no PK
    store.catalog.register(meta)
    store.overwrite("mdb", "t8", idTable(100).repartition(4))
    val fs = new org.apache.hadoop.fs.Path(meta.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucket0Dir(v: Int): String =
      s"${meta.location}/${store.manifestEntries("mdb", "t8", v)(0)}"
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(bucket0Dir(0)))
      .count(_.getPath.getName.startsWith("part-"))
    assert(files == 4, s"expected 4 parallel files, got $files")
    assert(store.read("mdb", "t8").count() == 100)
    // compact collapses them to the requested count
    store.compact("mdb", "t8", targetFiles = 2)
    val compacted = fs.listStatus(new org.apache.hadoop.fs.Path(bucket0Dir(1)))
      .count(_.getPath.getName.startsWith("part-"))
    assert(compacted == 2, s"expected 2 compacted files, got $compacted")
    assert(store.read("mdb", "t8").count() == 100)
  }

  test("scoped commits compose with schema evolution: carried buckets null-fill") {
    val store = mkStore()
    register(store, "mdb", "t9", "id")
    store.overwrite("mdb", "t9", idTable(40))
    // the rewrite adds a column; untouched buckets' files lack it and
    // must read back null-filled under the new manifest schema
    val keys = idTable(40).filter(col("id") === 3).select("id")
    store.mergeScoped("mdb", "t9", keys) { old =>
      old.withColumn("flag", when(col("id") === 3, lit("x")))
    }
    val back = store.read("mdb", "t9")
    assert(back.columns.contains("flag"))
    assert(back.count() == 40)
    assert(back.filter(col("flag") === "x").select("id").head().getInt(0) == 3)
    assert(back.filter(col("flag").isNull).count() == 39)
  }

  test("a small batch writes a small fraction of the full-rewrite bytes") {
    val store = mkStore(nBuckets = 32)
    val meta = register(store, "mdb", "t10", "id")
    store.overwrite("mdb", "t10", idTable(20000))
    val fs = new org.apache.hadoop.fs.Path(meta.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // commit dirs carry per-attempt nonces: resolve them from the
    // manifest instead of assuming deterministic names
    def bytesOfCommit(v: Int, marker: String): Long =
      store.manifestEntries("mdb", "t10", v).values
        .filter(_.contains(marker)).map(_.split("/").take(2).mkString("/"))
        .toSet.map((rel: String) => fs.getContentSummary(
          new org.apache.hadoop.fs.Path(s"${meta.location}/$rel")).getLength)
        .sum
    val fullBytes = bytesOfCommit(0, "c000000")
    store.mergeScoped("mdb", "t10", idTable(20000).filter(col("id") === 7).select("id")) {
      old => old.withColumn("name", when(col("id") === 7, lit("z")).otherwise(col("name")))
    }
    val mergeBytes = bytesOfCommit(1, "c000001")
    // 1 touched bucket of 32 -> the commit should be far below a full
    // rewrite (parquet per-file overhead keeps it above exactly 1/32)
    assert(mergeBytes * 8 < fullBytes,
      s"scoped commit wrote $mergeBytes of $fullBytes full-rewrite bytes")
    assert(store.read("mdb", "t10").count() == 20000)
  }

  test("manifest stats prune range reads; exact through merge, compact, lookup") {
    import spark.implicits._
    val store = mkStore(nBuckets = 8)
    // (a) PK-LESS table with a caller-chosen layout: 16 range-partitioned
    // files carry disjoint id ranges, so a narrow range predicate plans a
    // handful of them — the stats-in-manifest story where layout bites
    store.catalog.register(TableMeta("mdb", "flat",
      Files.createTempDirectory("graft-merge-flat").toString))
    val flat = spark.range(20000).select(col("id"), (col("id") % 97).as("v"))
      .repartitionByRange(16, col("id"))
    store.overwrite("mdb", "flat", flat)
    val ranged = store.readRange("mdb", "flat", Map("id" -> ((3000.0, 4000.0))))
    val expect = store.read("mdb", "flat").filter(col("id").between(3000, 4000))
    assert(ranged.exceptAll(expect).count() == 0 &&
      expect.exceptAll(ranged).count() == 0)
    assert(ranged.count() == 1001)
    val all = store.read("mdb", "flat").inputFiles.length
    val planned = ranged.inputFiles.length
    assert(planned < all / 2, s"planned $planned of $all files")
    // (a2) NaN rows must not poison a file's stats: NaN is excluded
    // from the measurement, so a mixed file keeps its FINITE bounds and
    // stays readable — without the exclusion max() returns NaN and the
    // overlap check prunes every such file, silently losing in-range
    // rows the full-scan filter returns
    store.catalog.register(TableMeta("mdb", "fnan",
      Files.createTempDirectory("graft-merge-fnan").toString))
    val nan = spark.range(1000).select(col("id"),
      when(col("id") % 100 === 0, lit(Double.NaN))
        .otherwise(col("id").cast("double") / 2).as("v"))
      .repartitionByRange(4, col("id"))
    store.overwrite("mdb", "fnan", nan)
    val gotNan = store.readRange("mdb", "fnan", Map("v" -> ((10.0, 20.0))))
    val wantNan = store.read("mdb", "fnan")
      .filter(col("v") >= 10.0 && col("v") <= 20.0)
    assert(gotNan.exceptAll(wantNan).count() == 0 &&
      wantNan.exceptAll(gotNan).count() == 0 && gotNan.count() > 0,
      "NaN-bearing files were pruned away")
    // (b) PK table through a scoped merge: touched buckets re-measure,
    // carried buckets keep their stats, results stay == full-scan filter
    register(store, "mdb", "tst", "id")
    store.overwrite("mdb", "tst",
      idTable(500).withColumn("v", col("id") * 2))
    store.mergeScoped("mdb", "tst", Seq(7).toDF("id")) { old =>
      old.withColumn("v",
        when(col("id") === 7, lit(7000)).otherwise(col("v")))
    }
    def exact(lo: Double, hi: Double): DataFrame = {
      val got = store.readRange("mdb", "tst", Map("v" -> ((lo, hi))))
      val want = store.read("mdb", "tst")
        .filter(col("v") >= lo && col("v") <= hi)
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0, s"range [$lo,$hi] drifted")
      got
    }
    // the merged-in extremum is found, and only its file is planned
    // (every other file's v stays <= 1000)
    val hot = exact(6999.0, 7001.0)
    assert(hot.count() == 1 && hot.inputFiles.length == 1)
    val v = store.latestVersion("mdb", "tst")
    val entries = store.manifestEntries("mdb", "tst", v)
    val stats = store.manifestStats("mdb", "tst", v)
    val carriedDirs = entries.values.filter(d => !d.contains(f"c$v%06d"))
    assert(carriedDirs.nonEmpty, "expected carried-over bucket dirs")
    assert(carriedDirs.forall(d => stats.keys.exists(_.startsWith(s"$d/"))),
      "carried buckets lost their stats across the scoped merge")
    // compaction rewrites every bucket and re-measures its stats
    store.compact("mdb", "tst", 4)
    assert(exact(6999.0, 7001.0).count() == 1)
    assert(exact(2.0, 100.0).count() == 49) // ids 1..50 minus the moved id 7
    // pointLookup composes PK-bucket pruning with stats pruning and
    // applies BOTH exact predicates
    val pl = store.pointLookup("mdb", "tst", Seq(7, 9).toDF("id"),
      Map("v" -> ((7000.0, 7000.0))))
    assert(pl.collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("footer-lifted stats: decimal rescaling and the distributed footer job") {
    import spark.implicits._
    val store = mkStore(nBuckets = 8)
    // (a) DECIMAL columns: footer bounds are the unscaled int32/int64
    // (or binary) representation and must rescale — decimal(9,2) packs
    // to INT32, decimal(18,3) to INT64, decimal(38,6) to binary, so all
    // three physical encodings are crossed
    store.catalog.register(TableMeta("mdb", "decs",
      Files.createTempDirectory("graft-merge-dec").toString))
    val decs = spark.range(1000).select(col("id"),
      (col("id").cast("decimal(7,0)") / 100).cast("decimal(9,2)").as("d32"),
      (col("id").cast("decimal(15,0)") / 1000).cast("decimal(18,3)").as("d64"),
      (col("id").cast("decimal(30,0)") / 1000000).cast("decimal(38,6)").as("dbin"))
      .repartitionByRange(4, col("id"))
    store.overwrite("mdb", "decs", decs)
    val v0 = store.latestVersion("mdb", "decs")
    val decStats = store.manifestStats("mdb", "decs", v0)
    assert(decStats.nonEmpty, "decimal table produced no stats")
    // global bounds across files must equal the true decimal extremes
    def bound(c: String, pick: Seq[Double] => Double): Double =
      pick(decStats.values.flatten.filter(_._1 == c).map(s =>
        pick(Seq(s._2, s._3))).toSeq)
    assert(bound("d32", _.min) == 0.0 && bound("d32", _.max) == 9.99)
    assert(bound("d64", _.min) == 0.0 && bound("d64", _.max) == 0.999)
    assert(bound("dbin", _.min) == 0.0 && bound("dbin", _.max) == 0.000999)
    // and a range read over the rescaled stats is exact AND pruning
    val gotDec = store.readRange("mdb", "decs", Map("d32" -> ((2.0, 3.0))))
    val wantDec = store.read("mdb", "decs")
      .filter(col("d32") >= 2.0 && col("d32") <= 3.0)
    assert(gotDec.exceptAll(wantDec).count() == 0 &&
      wantDec.exceptAll(gotDec).count() == 0 && gotDec.count() > 0)
    assert(gotDec.inputFiles.length <
      store.read("mdb", "decs").inputFiles.length)
    // (b) a commit writing MORE than FooterInlineFiles files takes the
    // distributed footer job; its stats must be identical in coverage
    // and exactness to the driver-loop form
    assert(MergeSnapshotStore.FooterInlineFiles < 80)
    store.catalog.register(TableMeta("mdb", "wide",
      Files.createTempDirectory("graft-merge-wide").toString))
    val wide = spark.range(8000).select(col("id"), (col("id") * 3).as("w"))
      .repartitionByRange(80, col("id"))
    store.overwrite("mdb", "wide", wide)
    val wideStats = store.manifestStats("mdb", "wide",
      store.latestVersion("mdb", "wide"))
    assert(wideStats.size == 80,
      s"expected stats for all 80 files, got ${wideStats.size}")
    val gotWide = store.readRange("mdb", "wide", Map("id" -> ((100.0, 199.0))))
    assert(gotWide.count() == 100)
    assert(gotWide.inputFiles.length <= 3,
      s"distributed-footer stats failed to prune: ${gotWide.inputFiles.length} files planned")
  }

  /** A seeded event log over two source tables (`S.T` -> `t`, `S.U` ->
   * `u`) in the shape of CdcFoldPropSpec's random cases: ids 1..8 plus
   * NULL, target rows holding random applied positions (events below
   * them are stale), some events replayed verbatim, and a D-then-I run
   * on id 9 of each table. An image's hash is its position; an event's
   * `before_hash` continues its key's chain four times in five, so the
   * chain-verified fold both applies and rejects events. Returns each
   * target's bootstrap frame and the one shuffled log. */
  private def cdcCase(seed: Int): (Map[String, DataFrame], DataFrame) = {
    val rnd = new scala.util.Random(seed)
    val tSchema = StructType(Seq(StructField("id", IntegerType),
      StructField("name", StringType)) ++ CdcModel.adminFields)
    val payload = StructType(Seq(StructField("ID", IntegerType),
      StructField("NAME", StringType)))
    val evSchema = StructType(Seq(
      StructField("table", StringType), StructField("op_type", StringType),
      StructField("op_ts", StringType), StructField("pos", StringType),
      StructField("before", payload), StructField("after", payload),
      StructField("after_hash", IntegerType), StructField("before_hash", IntegerType)))
    val ids: Seq[Integer] = (1 to 8).map(Int.box) :+ null
    val sources = Seq("t" -> "S.T", "u" -> "S.U")
    // (source, id) -> hash of the key's latest image
    val chain = scala.collection.mutable.Map.empty[(String, Integer), Int]
    val targets = sources.map { case (tbl, src) =>
      val rows = (ids.filter(_ => rnd.nextBoolean()) :+ Int.box(9)).map { id =>
        chain((src, id)) = -rnd.nextInt(1000) - 1
        Row(id, s"$tbl$id", chain((src, id)), f"${rnd.nextInt(30)}%020d", null, null)
      }
      tbl -> spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), tSchema)
    }.toMap
    var pos = 0
    def event(src: String, id: Integer, op: String): Row = {
      pos += 1 + rnd.nextInt(2)
      val prev: Integer =
        if (rnd.nextInt(5) == 0) -1 - rnd.nextInt(1000)
        else chain.get((src, id)).map(Int.box).orNull
      if (op != "D") chain((src, id)) = pos
      val img = Row(id, s"v$pos")
      Row(src, op, "2022-09-26 14:57:13.817732", f"$pos%020d",
        if (op == "I") null else img, if (op == "D") null else img,
        if (op == "D") null else Int.box(pos), prev)
    }
    val fresh = (1 to 60).map { _ =>
      event(sources(rnd.nextInt(2))._2, ids(rnd.nextInt(ids.size)),
        Seq("I", "U", "D")(rnd.nextInt(3)))
    } ++ sources.flatMap { case (_, src) =>
      Seq(event(src, 9, "D"), event(src, 9, "I"))
    }
    val replayed = fresh.filter(_ => rnd.nextInt(5) == 0)
    (targets, spark.createDataFrame(
      spark.sparkContext.parallelize(rnd.shuffle(fresh ++ replayed), 2), evSchema))
  }

  test("CDC run() through the merge store matches applyTable on a seeded two-table log") {
    for (seed <- 1 to 3; chainVerified <- Seq(false, true)) {
      val (targets, events) = cdcCase(seed)
      val store = mkStore(nBuckets = 4)
      targets.foreach { case (tbl, df) =>
        register(store, "cdb", tbl, "id")
        store.overwrite("cdb", tbl, df)
      }
      val applied = ChangeLogApplier.run(spark, store, "cdb", events,
        chainVerified = chainVerified)
      assert(applied.sorted == Seq("t", "u"))
      targets.foreach { case (tbl, target) =>
        val want = ChangeLogApplier.applyTable(target,
          events.filter(col("table") === s"S.${tbl.toUpperCase}"), "id",
          chainVerified).drop(CdcModel.AdminEventTs)
        val got = store.read("cdb", tbl).drop(CdcModel.AdminEventTs)
        val ctx = s"seed=$seed chainVerified=$chainVerified table=$tbl"
        assert(got.count() == want.count(), ctx)
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, ctx)
        // one scoped commit on top of the bootstrap
        assert(store.latestVersion("cdb", tbl) == 1, ctx)
      }
    }
  }

  test("maintained aggregate: N scoped commits == from-scratch recompute") {
    import graft.operators.{Ivm, Scd}
    val store = mkStore(nBuckets = 8)
    register(store, "mdb", "facts", "id")
    register(store, "mdb", "facts_agg", "grp")
    val maintained = new Ivm.MaintainedCountSum(store, "mdb", "facts",
      "facts_agg", col("grp_in"), col("v"))
    def snap(rows: Seq[(Int, String, java.lang.Long)]): DataFrame = {
      import spark.implicits._
      rows.toDF("id", "grp_in", "v")
    }
    def toMap(df: DataFrame): Map[String, (Long, Option[Long], Long)] =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getLong(3)))).toMap
    // seed, then walk the table through four snapshots covering updates
    // in place, group moves, deletes that EMPTY a group, inserts that
    // create one, and an all-NULL-value group
    val states = Seq(
      Seq((1, "a", 10L: java.lang.Long), (2, "a", 20L: java.lang.Long),
        (3, "b", 30L: java.lang.Long), (4, "c", 40L: java.lang.Long)),
      Seq((1, "a", 11L: java.lang.Long), (2, "b", 20L: java.lang.Long),
        (3, "b", 30L: java.lang.Long), (5, "a", 50L: java.lang.Long),
        (6, "d", 60L: java.lang.Long)),
      Seq((1, "d", 11L: java.lang.Long), (2, "b", 20L: java.lang.Long),
        (3, "b", 30L: java.lang.Long), (6, "d", 60L: java.lang.Long),
        (7, "n", null: java.lang.Long)),
      Seq((2, "b", 21L: java.lang.Long), (3, "b", 30L: java.lang.Long),
        (7, "n", null: java.lang.Long), (8, "n", null: java.lang.Long)))
    maintained.seed(snap(states.head))
    states.sliding(2).foreach { case Seq(prev, next) =>
      maintained.commit(Scd.snapshotDiff(snap(prev), snap(next), Seq("id")))
      // the maintained aggregate equals a recompute over the COMMITTED
      // base table (not the in-memory frame: store round-trip included)
      assert(toMap(maintained.read()) == toMap(Ivm.countSumAgg(
        store.read("mdb", "facts"), col("grp_in"), col("v"))))
    }
    // base table itself folded correctly across all commits
    assert(store.read("mdb", "facts").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq ==
      Seq((2, "b", Some(21L)), (3, "b", Some(30L)), (7, "n", None),
        (8, "n", None)))
    // the final all-NULL group round-trips as a NULL sum
    assert(toMap(maintained.read())("n") == ((2L, None, 0L)))
    // and the base commits really were partition-scoped: only the last
    // two manifests survive vacuum (keepVersions = 2); the PREVIOUS one
    // must carry at least one bucket dir from an older commit by
    // reference (the last one may by chance touch every surviving
    // bucket — hashing decides)
    val lastV = store.latestVersion("mdb", "facts")
    val carried = Seq(lastV - 1, lastV).flatMap(v =>
      store.manifestEntries("mdb", "facts", v).values
        .filter(d => !d.contains(f"c$v%06d")))
    assert(carried.nonEmpty,
      s"expected carried-over old bucket dirs in versions ${lastV - 1}/$lastV")
  }

  test("MaintainedAggregates: three dashboards move together per commit") {
    import graft.operators.{Ivm, Scd}
    import spark.implicits._
    val store = mkStore(nBuckets = 8)
    register(store, "mdb", "facts3", "id")
    Seq("f3_cs", "f3_mm", "f3_dc").foreach(t => register(store, "mdb", t, "grp"))
    val m = new Ivm.MaintainedAggregates(store, "mdb", "facts3", Seq(
      Ivm.countSumSpec("f3_cs", col("grp_in"), col("v")),
      Ivm.minMaxSpec("f3_mm", col("grp_in"), col("v")),
      Ivm.distinctSpec("f3_dc", col("grp_in"), col("v"))))
    def snap(rows: Seq[(Int, String, Long)]) = rows.toDF("id", "grp_in", "v")
    // dup value 5 in a (distinct-count regime), a's max deleted (min/max
    // rescan regime), group move + insert (count/sum regime)
    val s0 = Seq((1, "a", 10L), (2, "a", 5L), (3, "a", 5L), (4, "b", 30L))
    val s1 = Seq((2, "a", 5L), (3, "a", 5L), (4, "c", 30L), (5, "a", 7L))
    val s2 = Seq((3, "a", 5L), (4, "c", 31L), (5, "a", 7L), (6, "c", 31L))
    m.seed(snap(s0))
    Seq(s0 -> s1, s1 -> s2).foreach { case (prev, next) =>
      m.commit(Scd.snapshotDiff(snap(prev), snap(next), Seq("id")))
      val base = store.read("mdb", "facts3")
      def canon(df: DataFrame) = df.collect().map(_.toString).toSet
      assert(canon(m.read("f3_cs")) ==
        canon(Ivm.countSumAgg(base, col("grp_in"), col("v"))))
      assert(canon(m.read("f3_mm")) ==
        canon(Ivm.minMaxAgg(base, col("grp_in"), col("v"))))
      assert(canon(m.read("f3_dc")) ==
        canon(Ivm.distinctAux(base, col("grp_in"), col("v"))))
    }
    // the distinct count reads off the maintained view
    val dc = Ivm.distinctCount(m.read("f3_dc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dc == Map("a" -> 2L, "c" -> 1L))
  }

  test("MaintainedAggregates: replays are refused; crashed batches repair") {
    import graft.operators.{Ivm, Scd}
    import spark.implicits._
    val store = mkStore(nBuckets = 8)
    register(store, "mdb", "facts4", "id")
    register(store, "mdb", "f4_cs", "grp")
    val m = new Ivm.MaintainedAggregates(store, "mdb", "facts4",
      Seq(Ivm.countSumSpec("f4_cs", col("grp_in"), col("v"))))
    val s0 = Seq((1, "a", 10L), (2, "a", 20L), (3, "b", 30L)).toDF("id", "grp_in", "v")
    val s1 = Seq((1, "a", 11L), (3, "b", 30L), (4, "b", 40L)).toDF("id", "grp_in", "v")
    val s2 = Seq((1, "a", 12L), (4, "b", 40L), (5, "c", 50L)).toDF("id", "grp_in", "v")
    m.seed(s0)
    val chg = Scd.snapshotDiff(s0, s1, Seq("id"))
    m.commit(chg)
    def baseSet() = store.read("mdb", "facts4").collect().map(_.toString).toSet
    def aggSet() = m.read("f4_cs").collect().map(_.toString).toSet
    def recompute() = Ivm.countSumAgg(store.read("mdb", "facts4"),
      col("grp_in"), col("v")).collect().map(_.toString).toSet
    val (base1, agg1) = (baseSet(), aggSet())
    // an at-least-once runner REPLAYS the fully-applied batch: naively
    // re-folding it would corrupt the aggregates (D decrements lost, U
    // old-values wrong) — the commit marker detects and REFUSES it
    val ex = intercept[IllegalStateException](m.commit(chg))
    assert(ex.getMessage.contains("already fully applied"))
    assert(baseSet() == base1, "refused replay changed the base")
    assert(aggSet() == agg1, "refused replay changed the aggregates")
    // crash INSIDE the window the marker exists for: base committed,
    // aggregates not — the replayed batch is detected and REPAIRED
    val chg2 = Scd.snapshotDiff(s1, s2, Seq("id"))
    m.failAfterBaseCommit = true
    intercept[IllegalStateException](m.commit(chg2))
    m.failAfterBaseCommit = false
    assert(aggSet() == agg1, "crash left aggregates at the previous batch")
    m.commit(chg2) // the at-least-once retry
    assert(aggSet() == recompute(),
      "retried crashed batch must leave aggregates == recompute")
    // and now that it IS fully applied, a further replay is refused
    intercept[IllegalStateException](m.commit(chg2))
    assert(aggSet() == recompute())
    // an empty changelog is a plain no-op, twice in a row
    val empty = chg2.filter(lit(false))
    m.commit(empty); m.commit(empty)
    assert(aggSet() == recompute())
  }

  test("MaintainedAggregates: crashed batch followed by a DIFFERENT batch repairs first") {
    import graft.operators.{Ivm, Scd}
    import spark.implicits._
    val store = mkStore(nBuckets = 8)
    register(store, "mdb", "facts6", "id")
    register(store, "mdb", "f6_cs", "grp")
    val m = new Ivm.MaintainedAggregates(store, "mdb", "facts6",
      Seq(Ivm.countSumSpec("f6_cs", col("grp_in"), col("v"))))
    val s0 = Seq((1, "a", 10L), (2, "a", 20L), (3, "b", 30L)).toDF("id", "grp_in", "v")
    val s1 = Seq((1, "a", 11L), (3, "b", 30L), (4, "b", 40L)).toDF("id", "grp_in", "v")
    val s2 = Seq((1, "a", 12L), (4, "b", 40L), (5, "c", 50L)).toDF("id", "grp_in", "v")
    m.seed(s0)
    def aggSet() = m.read("f6_cs").collect().map(_.toString).toSet
    def recompute() = Ivm.countSumAgg(store.read("mdb", "facts6"),
      col("grp_in"), col("v")).collect().map(_.toString).toSet
    // batch B crashes after its base commit, before the aggregates...
    m.failAfterBaseCommit = true
    intercept[IllegalStateException](
      m.commit(Scd.snapshotDiff(s0, s1, Seq("id"))))
    m.failAfterBaseCommit = false
    // ...and the caller moves ON to the next, DIFFERENT batch instead
    // of replaying B. The marker's digest doesn't match, but its
    // stale-incomplete evidence (aggsDone=false, base version moved)
    // must still fire: without the cross-digest repair, C runs as fresh
    // and the aggregates are silently one batch behind forever.
    m.commit(Scd.snapshotDiff(s1, s2, Seq("id")))
    assert(aggSet() == recompute(),
      "aggregates fell a batch behind: stale marker ignored for a new digest")
    // and the repaired state keeps composing: one more normal commit
    val s3 = Seq((1, "a", 13L), (5, "c", 51L)).toDF("id", "grp_in", "v")
    m.commit(Scd.snapshotDiff(s2, s3, Seq("id")))
    assert(aggSet() == recompute())
  }

  test("replayAggregates rebuilds every dashboard at any retained version") {
    import graft.operators.{Ivm, Scd}
    import spark.implicits._
    val store = mkStore(nBuckets = 8, keep = 10)
    register(store, "mdb", "facts5", "id")
    val tables = Seq("f5_cs", "f5_mm", "f5_dc")
    tables.foreach(t => register(store, "mdb", t, "grp"))
    val m = new Ivm.MaintainedAggregates(store, "mdb", "facts5", Seq(
      Ivm.countSumSpec("f5_cs", col("grp_in"), col("v")),
      Ivm.minMaxSpec("f5_mm", col("grp_in"), col("v")),
      Ivm.distinctSpec("f5_dc", col("grp_in"), col("v"))))
    def snap(rows: Seq[(Int, String, Long)]) = rows.toDF("id", "grp_in", "v")
    // updates, group moves, an emptied group, duplicate values, inserts
    val states = Seq(
      Seq((1, "a", 10L), (2, "a", 5L), (3, "b", 30L)),
      Seq((1, "a", 11L), (3, "b", 30L), (4, "c", 40L)),
      Seq((3, "b", 31L), (4, "c", 40L), (5, "a", 7L), (6, "c", 40L)),
      Seq((4, "c", 41L), (5, "a", 7L), (6, "c", 40L)))
    m.seed(snap(states.head))
    def canon(df: DataFrame) = df.collect().map(_.toString).toSet
    val live = scala.collection.mutable.Map[Int, Map[String, Set[String]]]()
    live(0) = tables.map(t => t -> canon(m.read(t))).toMap
    states.sliding(2).zipWithIndex.foreach { case (Seq(p, n), i) =>
      m.commit(Scd.snapshotDiff(snap(p), snap(n), Seq("id")))
      live(i + 1) = tables.map(t => t -> canon(m.read(t))).toMap
    }
    // the dashboards' time travel: replay v0 -> each retained version
    // equals what the live-maintained aggregates showed at that step —
    // even though no changelog was recorded and the aggregate tables
    // only hold their final state
    (0 to 3).foreach { v =>
      val replayed = m.replayAggregates(0, v)
      tables.foreach { t =>
        assert(canon(replayed(t)) == live(v)(t),
          s"replay to v$v drifted on $t")
      }
    }
    // seeding from a later retained version shortens the walk, same answer
    val mid = m.replayAggregates(2, 3)
    tables.foreach(t => assert(canon(mid(t)) == live(3)(t)))
    graft.operators.Materialize.releaseAll()
  }

  test("the ANN index rides the maintained-aggregate registry unchanged") {
    // composition, no new API: applyIndexDelta's shape IS a MaintainedAgg
    // fold, so one CDC commit keeps the vector index current in the store
    // next to any dashboards sharing the changelog cut
    import graft.operators.{Ivm, Scd, Similarity}
    import spark.implicits._
    val store = mkStore(nBuckets = 8)
    register(store, "mdb", "vecs", "vec_id")
    register(store, "mdb", "vecs_idx", "vec_id")
    val rnd = new scala.util.Random(5)
    def vec() = Seq.fill(8)(rnd.nextFloat())
    val oldC = (1L to 40L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val cents = Similarity.defaultCentroids(oldC, "vec_id", "embedding", 4)
    val idxSpec = Ivm.MaintainedAgg("vecs_idx",
      base => Similarity.assignCellsFor(base, "vec_id", "embedding", cents),
      (idx, _, _, chg, _) =>
        Similarity.applyIndexDelta(idx, chg, "vec_id", "embedding", cents))
    val m = new Ivm.MaintainedAggregates(store, "mdb", "vecs", Seq(idxSpec))
    m.seed(oldC)
    // deletes, one re-embedded update, inserts
    val newC = oldC.filter(col("vec_id") % 5 =!= 0)
      .unionByName(Seq((3L, vec()), (100L, vec()), (101L, vec()))
        .toDF("vec_id", "embedding"))
      .groupBy("vec_id").agg(last("embedding").as("embedding"))
    val newRows = newC.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1))).toSeq
    val newDf = newRows.toDF("vec_id", "embedding")
    m.commit(Scd.snapshotDiff(store.read("mdb", "vecs"), newDf, Seq("vec_id")))
    // the committed index equals a from-scratch assignment of the
    // committed base, and searching it equals searching the rebuild
    val base = store.read("mdb", "vecs")
    val scratch = Similarity.assignCellsFor(base, "vec_id", "embedding", cents)
    def cells(df: DataFrame) = df.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cells(m.read("vecs_idx")) == cells(scratch))
    val q = newDf.filter(col("vec_id") <= 2)
    def search(idx: DataFrame) =
      Similarity.ivfTopKFromIndex(idx, q, "vec_id", "embedding",
          k = 5, probes = 2, cents)
        .collect().map(_.toString).sorted.toSeq
    assert(search(m.read("vecs_idx")) == search(scratch))
    assert(search(m.read("vecs_idx")).nonEmpty)
  }

  test("served ANN index: cell-bucketed lookup prunes files, answers == in-memory") {
    import graft.operators.{Ivm, Scd, Similarity}
    import spark.implicits._
    // 16 buckets so the 8 cells spread: a 4-cell batch then provably
    // carries untouched cell buckets (8 buckets collapse cells 2-per)
    val store = mkStore(nBuckets = 16)
    register(store, "mdb", "svecs", "vec_id")
    store.catalog.register(graft.operators.Similarity.ivfIndexMeta("mdb",
      "svecs_cells", Files.createTempDirectory("graft-svecs-cells").toString))
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(8)(rnd.nextFloat())
    val oldC = (1L to 60L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val cents = Similarity.defaultCentroids(oldC, "vec_id", "embedding", 8)
    val m = new Ivm.MaintainedAggregates(store, "mdb", "svecs",
      Seq(Similarity.ivfIndexSpec("svecs_cells", "vec_id", "embedding", cents)))
    m.seed(oldC)
    // small batch: one delete, one re-embed, one insert — touches few cells
    val newC = oldC.filter(col("vec_id") =!= 10L)
      .unionByName(Seq((3L, vec()), (100L, vec())).toDF("vec_id", "embedding"))
      .groupBy("vec_id").agg(last("embedding").as("embedding"))
    m.commit(Scd.snapshotDiff(store.read("mdb", "svecs"), newC, Seq("vec_id")))
    // the committed index equals a from-scratch assignment of the base
    val base = store.read("mdb", "svecs")
    val scratch = Similarity.assignCellsFor(base, "vec_id", "embedding", cents)
    def cells(df: DataFrame) = df.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cells(store.read("mdb", "svecs_cells")) == cells(scratch))
    // and the commit was SCOPED: untouched cell buckets carried over
    val pv = store.latestVersion("mdb", "svecs_cells")
    assert(pv >= 1)
    val carried = store.manifestEntries("mdb", "svecs_cells", pv).values
      .filter(d => !d.contains(f"c$pv%06d"))
    assert(carried.nonEmpty, "index commit rewrote every cell bucket")
    // serving from the store == in-memory search over the rebuild, and
    // the served read plans only the probed cells' bucket files
    val q = newC.filter(col("vec_id") === 1L)
    def canon(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val served = Similarity.ivfTopKFromStore(store, "mdb", "svecs_cells",
      q, "vec_id", "embedding", k = 5, probes = 2, cents)
    val mem = Similarity.ivfTopKFromIndex(scratch, q, "vec_id", "embedding",
      k = 5, probes = 2, cents)
    assert(canon(served) == canon(mem) && served.count() > 0)
    val full = store.read("mdb", "svecs_cells").inputFiles.length
    val planned = served.inputFiles.length
    assert(planned > 0 && planned < full,
      s"served lookup planned $planned of $full index files")
    graft.operators.Materialize.releaseAll()
  }

  // ---- plan shape: the target side of the apply never shuffles ----

  /** Expand an executed plan across AQE stage / reuse boundaries. */
  private def expand(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: expand(a.executedPlan)
    case q: QueryStageExec => p +: expand(q.plan)
    case r: ReusedExchangeExec => p +: expand(r.child)
    case other => other +: other.children.flatMap(expand)
  }

  test("apply plan: no shuffle exchange ever sits above a target-bucket scan") {
    val store = mkStore(nBuckets = 8)
    val meta = register(store, "mdb", "t5", "id")
    val tSchema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType)) ++ CdcModel.adminFields)
    val rows = (1 to 200).map(i =>
      Row(i, s"n$i", i, f"$i%020d", null, null))
    store.overwrite("mdb", "t5",
      spark.createDataFrame(spark.sparkContext.parallelize(rows), tSchema))

    // a 3-key event batch through the real mapper
    val payload = StructType(Seq(
      StructField("ID", IntegerType), StructField("NAME", StringType)))
    val evSchema = StructType(Seq(
      StructField("table", StringType), StructField("op_type", StringType),
      StructField("op_ts", StringType), StructField("pos", StringType),
      StructField("before", payload), StructField("after", payload),
      StructField("after_hash", IntegerType), StructField("before_hash", IntegerType)))
    val evRows = Seq(1, 2, 3).map(i =>
      Row("S.T5", "U", "2022-09-26 14:57:13.817732", f"${1000 + i}%020d",
        Row(i, s"n$i"), Row(i, s"upd$i"), 1000 + i, i))
    // parquet-backed, like the real landing zone: the scan's size stats are
    // what lets the planner broadcast the tiny batch side STATICALLY —
    // the target must never even enter a shuffle write (AQE's runtime
    // SMJ->BHJ conversion happens after leaf stages already materialized)
    val evDir = Files.createTempDirectory("graft-merge-ev").toString
    spark.createDataFrame(spark.sparkContext.parallelize(evRows), evSchema)
      .write.mode("overwrite").parquet(evDir)
    val events = spark.read.parquet(evDir)
    val mapped = ChangeLogApplier.mapEvents(events, tSchema)

    val touched = mapped.select(bucketIds(store, mapped)).distinct()
      .collect().map(_.getInt(0)).toSeq
    val old = store.read("mdb", "t5")
      .filter(store.bucketOf(col("id")).isin(touched: _*))
    val result = ChangeLogApplier.applyLastWins(old, mapped, "id")
    assert(result.count() == old.count()) // 3 updates, no inserts/deletes

    val shuffles = expand(result.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    shuffles.foreach { s =>
      val scansTarget = expand(s).exists(n =>
        n.children.isEmpty && n.toString.contains(meta.location))
      assert(!scansTarget,
        s"target-bucket scan found beneath a shuffle:\n$s")
    }
  }

  private def bucketIds(store: MergeSnapshotStore, df: DataFrame) =
    store.bucketOf(df("id")).as("__b")

  /** id -> bucket for ids 1..n under this store's hash (driver-side,
   * test-sized) — lets the concurrency tests pick keys with known
   * bucket relationships. */
  private def bucketsOf(store: MergeSnapshotStore, n: Int): Map[Int, Int] =
    idTable(n).select(col("id"), store.bucketOf(col("id")).as("b"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap

  test("optimistic concurrency: disjoint-bucket interleaved commits both land") {
    import spark.implicits._
    val store = mkStore(nBuckets = 8, retentionMs = 60000L)
    register(store, "mdb", "occ1", "id")
    store.overwrite("mdb", "occ1", idTable(100))
    val bk = bucketsOf(store, 100)
    val keyA = 1
    val keyB = (2 to 100).find(bk(_) != bk(keyA)).get
    // writer B commits BETWEEN writer A's data write and A's manifest
    // publish — A loses the version CAS, sees B's buckets disjoint from
    // its own, rebases (its written data is still byte-valid), and
    // republishes carrying B's work
    store.beforePublish = () =>
      store.mergeScoped("mdb", "occ1", Seq(keyB).toDF("id")) { old =>
        old.withColumn("name",
          when(col("id") === keyB, lit("from-B")).otherwise(col("name")))
      }
    store.mergeScoped("mdb", "occ1", Seq(keyA).toDF("id")) { old =>
      old.withColumn("name",
        when(col("id") === keyA, lit("from-A")).otherwise(col("name")))
    }
    val back = store.read("mdb", "occ1")
    assert(back.count() == 100)
    assert(back.filter(col("id") === keyA).select("name").head().getString(0)
      == "from-A", "the rebased loser's effect is missing")
    assert(back.filter(col("id") === keyB).select("name").head().getString(0)
      == "from-B", "the interleaved winner's effect was clobbered")
    // two commits landed: versions advanced by 2 over the seed
    assert(store.latestVersion("mdb", "occ1") == 2)
    // and the rebased manifest carries the WINNER's bucket dir for keyB
    val entries = store.manifestEntries("mdb", "occ1", 2)
    val v1Entries = store.manifestEntries("mdb", "occ1", 1)
    assert(entries(bk(keyB)) == v1Entries(bk(keyB)),
      "rebase dropped the winner's bucket work")
  }

  test("optimistic concurrency: overlapping buckets refuse; rerun succeeds") {
    import spark.implicits._
    val store = mkStore(nBuckets = 8, retentionMs = 60000L)
    register(store, "mdb", "occ2", "id")
    store.overwrite("mdb", "occ2", idTable(100))
    val bk = bucketsOf(store, 100)
    val keyA = 1
    // a DIFFERENT key in the SAME bucket: the conflict is adjudicated at
    // bucket granularity, not key granularity
    val keyB = (2 to 100).find(bk(_) == bk(keyA)).get
    store.beforePublish = () =>
      store.mergeScoped("mdb", "occ2", Seq(keyB).toDF("id")) { old =>
        old.withColumn("name",
          when(col("id") === keyB, lit("from-B")).otherwise(col("name")))
      }
    val e = intercept[java.util.ConcurrentModificationException] {
      store.mergeScoped("mdb", "occ2", Seq(keyA).toDF("id")) { old =>
        old.withColumn("name",
          when(col("id") === keyA, lit("from-A")).otherwise(col("name")))
      }
    }
    assert(e.getMessage.contains("rewrote buckets"))
    // the winner's commit stands untouched; the loser left NO trace
    val back = store.read("mdb", "occ2")
    assert(back.count() == 100)
    assert(back.filter(col("id") === keyB).select("name").head().getString(0)
      == "from-B")
    assert(back.filter(col("id") === keyA).select("name").head().getString(0)
      == s"name-$keyA", "the refused loser's write leaked into the table")
    assert(store.latestVersion("mdb", "occ2") == 1)
    // the documented recovery — rerun against the new snapshot — works
    store.mergeScoped("mdb", "occ2", Seq(keyA).toDF("id")) { old =>
      old.withColumn("name",
        when(col("id") === keyA, lit("from-A")).otherwise(col("name")))
    }
    val after = store.read("mdb", "occ2")
    assert(after.filter(col("id") === keyA).select("name").head().getString(0)
      == "from-A")
    assert(after.filter(col("id") === keyB).select("name").head().getString(0)
      == "from-B")
  }

  test("optimistic concurrency: a concurrent full overwrite refuses every merge") {
    import spark.implicits._
    val store = mkStore(nBuckets = 8, retentionMs = 60000L)
    register(store, "mdb", "occ3", "id")
    store.overwrite("mdb", "occ3", idTable(50))
    store.beforePublish = () =>
      store.overwrite("mdb", "occ3", idTable(50).withColumn("name", lit("ow")))
    val e = intercept[java.util.ConcurrentModificationException] {
      store.mergeScoped("mdb", "occ3", Seq(1).toDF("id")) { old =>
        old.withColumn("name",
          when(col("id") === 1, lit("merged")).otherwise(col("name")))
      }
    }
    assert(e.getMessage.contains("rewrote buckets"))
    // the overwrite (which rewrote every bucket) is what the table holds
    assert(store.read("mdb", "occ3").filter(col("name") =!= "ow").count() == 0)
  }

  test("optimistic concurrency: a losing IVM registry commit leaves aggregates repairable") {
    import graft.operators.{Ivm, Scd}
    import spark.implicits._
    val store = mkStore(nBuckets = 8, retentionMs = 60000L)
    register(store, "mdb", "occ4", "id")
    register(store, "mdb", "occ4_cs", "grp")
    val m = new Ivm.MaintainedAggregates(store, "mdb", "occ4",
      Seq(Ivm.countSumSpec("occ4_cs", col("grp_in"), col("v"))))
    val s0 = Seq((1, "a", 10L), (2, "a", 20L), (3, "b", 30L)).toDF("id", "grp_in", "v")
    val s1 = Seq((1, "a", 11L), (3, "b", 30L), (4, "b", 40L)).toDF("id", "grp_in", "v")
    m.seed(s0)
    def aggSet() = m.read("occ4_cs").collect().map(_.toString).toSet
    def recompute() = Ivm.countSumAgg(store.read("mdb", "occ4"),
      col("grp_in"), col("v")).collect().map(_.toString).toSet
    val aggBefore = aggSet()
    // a concurrent writer rewrites one of the batch's own keys between
    // the registry's marker write and its base commit: the base commit
    // refuses, and the refusal must leave the marker restored — without
    // the restore, the RETRY would read a fresh-incomplete marker with a
    // moved base version, wrongly conclude "crashed after base commit",
    // reseed, and mark this batch applied though it never was
    store.beforePublish = () =>
      store.mergeScoped("mdb", "occ4", Seq(1).toDF("id")) { old =>
        old.withColumn("v", when(col("id") === 1, lit(999L)).otherwise(col("v")))
      }
    val chg = Scd.snapshotDiff(s0, s1, Seq("id"))
    intercept[java.util.ConcurrentModificationException](m.commit(chg))
    assert(aggSet() == aggBefore, "refused commit moved the aggregates")
    // the interleaver wrote the base OUT-OF-BAND (bypassing the
    // registry), so the aggregates no longer match the base — the
    // documented recovery for out-of-band writes is a reseed; the
    // refusal's marker restore is what makes the SUBSEQUENT batch
    // commit legal at all (a stale fresh-incomplete marker would make
    // it wrongly conclude "crashed after base commit" and mark this
    // batch applied though it never was)
    m.reseedAggregates()
    assert(aggSet() == recompute())
    // the retry lands cleanly against the new base and the aggregates
    // equal the from-scratch recompute — the batch was neither lost nor
    // double-applied
    m.commit(chg)
    assert(aggSet() == recompute())
    // the changelog's own image for key 1 won over the interleaver's
    assert(store.read("mdb", "occ4").filter(col("id") === 1)
      .select("v").head().getLong(0) == 11L)
    // and the marker discipline survives: a replay is still refused
    val ex = intercept[IllegalStateException](m.commit(chg))
    assert(ex.getMessage.contains("already fully applied"))
  }

  test("temporal footer stats: date and micros-timestamp windows prune files") {
    import spark.implicits._
    val store = mkStore(nBuckets = 4)
    // PK-less table: writeData keeps the range partitioning, so 8 files
    // hold contiguous date slices — the shape time-window pruning bites
    store.catalog.register(TableMeta("mdb", "evts",
      Files.createTempDirectory("graft-evts").toString))
    def fixture = spark.range(0, 800).select(col("id"),
        date_add(to_date(lit("1995-01-01")), col("id").cast("int")).as("d"))
      .withColumn("ts", col("d").cast("timestamp"))
      .repartitionByRange(8, col("id"))
    val tsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      store.overwrite("mdb", "evts", fixture)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", tsType)
    val total = store.read("mdb", "evts").inputFiles.length
    assert(total == 8, s"expected 8 range files, got $total")
    // DATE window: ~30 of 800 days -> at most 2 of 8 files planned
    def day(s: String) = java.time.LocalDate.parse(s).toEpochDay.toDouble
    val gotD = store.readRange("mdb", "evts",
      Map("d" -> ((day("1995-02-01"), day("1995-03-02")))))
    val wantD = store.read("mdb", "evts").filter(
      col("d") >= lit("1995-02-01") && col("d") <= lit("1995-03-02"))
    assert(gotD.exceptAll(wantD).count() == 0 &&
      wantD.exceptAll(gotD).count() == 0 && gotD.count() == 30)
    assert(gotD.inputFiles.length <= 2,
      s"date window failed to prune: ${gotD.inputFiles.length} of $total")
    // TIMESTAMP window (micros since epoch): same pruning, same rows
    def micros(s: String) =
      java.time.LocalDate.parse(s).toEpochDay.toDouble * 86400d * 1e6
    val gotT = store.readRange("mdb", "evts",
      Map("ts" -> ((micros("1995-02-01"), micros("1995-03-02")))))
    assert(gotT.exceptAll(wantD.select(wantD.columns.map(col).toIndexedSeq: _*))
      .count() == 0 && gotT.count() == 30)
    assert(gotT.inputFiles.length <= 2,
      s"timestamp window failed to prune: ${gotT.inputFiles.length} of $total")
    // an infinite bound is an open side, as on numeric columns; a range
    // open on both sides still refuses NULL; a NaN bound is refused
    val all = store.read("mdb", "evts")
    Seq("d" -> day _, "ts" -> micros _).foreach { case (c, at) =>
      val below = store.readRange("mdb", "evts",
        Map(c -> ((Double.NegativeInfinity, at("1995-01-10")))))
      assert(below.count() == 10 && below.inputFiles.length == 1, c)
      val above = store.readRange("mdb", "evts",
        Map(c -> ((at("1997-03-02"), Double.PositiveInfinity))))
      assert(above.count() == all.filter(col("d") >= lit("1997-03-02")).count() &&
        above.inputFiles.length == 1, c)
      assert(store.readRange("mdb", "evts",
        Map(c -> ((Double.NegativeInfinity, Double.PositiveInfinity))))
        .count() == 800, c)
      Seq((Double.NaN, at("1995-02-01")), (at("1995-02-01"), Double.NaN))
        .foreach { r =>
          intercept[IllegalArgumentException] {
            store.readRange("mdb", "evts", Map(c -> r))
          }
        }
    }
    // a finite date bound past Spark's Int day range (and LocalDate's
    // own: ofEpochDay(1e15) throws) is an open side on its own end, an
    // empty read on the other
    def dateRows(r: (Double, Double)) =
      store.readRange("mdb", "evts", Map("d" -> r)).count()
    assert(dateRows((0.0, 1e15)) == 800)
    assert(dateRows((-1e15, day("1995-01-10"))) == 10)
    assert(dateRows((1e15, 2e15)) == 0)
    assert(dateRows((-2e15, -1e15)) == 0)
    // timestamps take the same rule at the Long micros range (a bound
    // saturated to Long.MinValue micros overflows Spark's filter pushdown)
    def tsRows(r: (Double, Double)) =
      store.readRange("mdb", "evts", Map("ts" -> r)).count()
    assert(tsRows((-1e300, 1e300)) == 800)
    assert(tsRows((1e300, 2e300)) == 0)
    // legacy INT96 timestamps (the session default) carry no orderable
    // stats: reads stay CORRECT, files conservatively all kept
    store.catalog.register(TableMeta("mdb", "evts96",
      Files.createTempDirectory("graft-evts96").toString))
    store.overwrite("mdb", "evts96", fixture)
    val got96 = store.readRange("mdb", "evts96",
      Map("ts" -> ((micros("1995-02-01"), micros("1995-03-02")))))
    assert(got96.count() == 30, "INT96 read must stay exact")
    assert(got96.inputFiles.length == 8,
      "INT96 stats are unusable — pruning would be unsound")
  }

  test("cluster-on-compact by DATE: time windows prune in the epoch double space") {
    import spark.implicits._
    val store = mkStore(nBuckets = 2)
    register(store, "mdb", "dtevts", "id")
    // dates arrive scattered: each bucket's single file spans the whole
    // 400-day range, so a time-window read initially plans every file
    val rows = (0 until 800).map { i =>
      (i.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.parse("1995-01-01").plusDays((i * 37) % 400)))
    }
    store.overwrite("mdb", "dtevts", rows.toDF("id", "d"))
    def day(s: String) = java.time.LocalDate.parse(s).toEpochDay.toDouble
    def window(lo: String, hi: String) =
      store.readRange("mdb", "dtevts", Map("d" -> ((day(lo), day(hi)))))
    def wantWindow(lo: String, hi: String) =
      store.read("mdb", "dtevts")
        .filter(col("d") >= lit(lo).cast("date") && col("d") <= lit(hi).cast("date"))
    val before = window("1995-02-01", "1995-03-02")
    assert(before.inputFiles.length ==
      store.read("mdb", "dtevts").inputFiles.length)
    // a raw DATE cannot even cast to double — this proves the promotion
    // path, not just the layout
    store.compactClustered("mdb", "dtevts", Seq("d" -> None),
      filesPerBucket = 4)
    val total = store.read("mdb", "dtevts").inputFiles.length
    assert(total == 8, s"expected 2 buckets x 4 slices, got $total")
    val after = window("1995-02-01", "1995-03-02")
    val want = wantWindow("1995-02-01", "1995-03-02")
    assert(after.exceptAll(want).count() == 0 &&
      want.exceptAll(after).count() == 0 && after.count() > 0)
    assert(after.inputFiles.length <= 2,
      s"a 30-of-400-day window should plan ~1 slice/bucket: ${after.inputFiles.length}")
  }

  test("a persistent manifest-rename failure surfaces as I/O error, not contention") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.setClass("fs.faily.impl",
      classOf[ManifestRenameFailingFs], classOf[org.apache.hadoop.fs.FileSystem])
    val store = mkStore(nBuckets = 4)
    val dir = Files.createTempDirectory("graft-faily").toString
    store.catalog.register(TableMeta("mdb", "faily", s"faily://$dir",
      primaryKey = Seq("id")))
    // the non-local publish path renames; this fs fails EVERY manifest
    // rename while leaving the version untaken — before the fix the CAS
    // loop burned all attempts and misreported writer contention
    val err = intercept[java.io.IOException] {
      store.overwrite("mdb", "faily", Seq((1L, 1.0)).toDF("id", "v"))
    }
    assert(err.getMessage.contains("not writer contention"),
      s"expected the real I/O cause, got: ${err.getMessage}")
  }

  test("vacuum resets a stale tombstone on a dir that is currently referenced") {
    import spark.implicits._
    val store = mkStore(nBuckets = 2, keep = 2, retentionMs = 60L * 60 * 1000)
    val meta = register(store, "mdb", "tmb", "id")
    store.overwrite("mdb", "tmb", Seq((1L, 1.0)).toDF("id", "v"))
    val v0 = store.latestVersion("mdb", "tmb")
    val dir0 = store.manifestEntries("mdb", "tmb", v0).values.head
    // simulate the racing vacuum that tombstoned this commit's dir
    // between its data rename and manifest publish, landing AFTER
    // clearTombstones swept: a stale epoch-0 tombstone on a LIVE dir
    val tomb = new org.apache.hadoop.fs.Path(s"${meta.location}/$dir0/_expired_at")
    val f = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(tomb, true)
    try out.write("0".getBytes("UTF-8")) finally out.close()
    // the next commit's vacuum sees the dir still referenced and must
    // DROP the stale tombstone — leaving it would let a later genuine
    // expiry inherit epoch 0 and delete under pinned readers instantly
    store.overwrite("mdb", "tmb", Seq((2L, 2.0)).toDF("id", "v"))
    assert(!f.exists(tomb),
      "stale tombstone on a referenced dir survived the vacuum pass")
  }

  test("a compaction that loses a race refuses instead of clobbering the winner") {
    import spark.implicits._
    val store = mkStore(nBuckets = 4)
    register(store, "mdb", "cc", "id")
    store.overwrite("mdb", "cc",
      spark.range(1, 101).select(col("id"), (col("id") * 2).as("v")))
    def raceWith(win: () => Unit)(lose: => Unit): Unit = {
      store.beforePublish = () => win()
      val ex = intercept[java.util.ConcurrentModificationException](lose)
      assert(ex.getMessage.contains("stale"),
        s"expected the stale-rewrite refusal, got: ${ex.getMessage}")
    }
    // a CDC batch lands between the compaction's read and its publish:
    // the compaction must refuse — republishing its pre-race rewrite
    // would resurrect id 7's old value under a NEW version number
    def updateId7(): Unit =
      store.mergeScoped("mdb", "cc", Seq(7L).toDF("id")) { rows =>
        rows.withColumn("v",
          when(col("id") === 7L, lit(999L)).otherwise(col("v")))
      }
    raceWith(() => updateId7()) { store.compact("mdb", "cc", 4) }
    def v7(): Long = store.read("mdb", "cc")
      .filter(col("id") === 7L).select("v").head().getLong(0)
    assert(v7() == 999L, "the racing batch's commit must survive")
    // the re-run against the new snapshot lands and keeps the winner
    store.compact("mdb", "cc", 4)
    assert(v7() == 999L && store.read("mdb", "cc").count() == 100)
    // same refusal on the clustered form
    raceWith(() =>
      store.mergeScoped("mdb", "cc", Seq(8L).toDF("id")) { rows =>
        rows.withColumn("v",
          when(col("id") === 8L, lit(777L)).otherwise(col("v")))
      }) {
      store.compactClustered("mdb", "cc", Seq("v" -> None), filesPerBucket = 2)
    }
    assert(store.read("mdb", "cc").filter(col("id") === 8L)
      .select("v").head().getLong(0) == 777L)
    store.compactClustered("mdb", "cc", Seq("v" -> None), filesPerBucket = 2)
    assert(v7() == 999L && store.read("mdb", "cc").count() == 100)
  }

  test("compactClustered with one file per bucket still sorts the bucket") {
    import spark.implicits._
    val store = mkStore(nBuckets = 2)
    register(store, "mdb", "one", "id")
    store.overwrite("mdb", "one",
      spark.range(0, 200).select(col("id"),
        ((col("id") * 37) % 200).cast("double").as("v")))
    // fpb = 1 must take the clustered path (sorted buckets, re-lifted
    // stats), not silently degrade to a plain rewrite after paying the
    // range-inference scan
    store.compactClustered("mdb", "one", Seq("v" -> None), filesPerBucket = 1)
    val got = store.readRange("mdb", "one", Map("v" -> ((10.0, 20.0))))
    val want = store.read("mdb", "one")
      .filter(col("v") >= 10.0 && col("v") <= 20.0)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0 && got.count() == 11)
    assert(store.read("mdb", "one").inputFiles.length == 2,
      "one file per bucket expected")
  }

  test("cluster-on-compact: scattered buckets regain their prune fraction") {
    import spark.implicits._
    val store = mkStore(nBuckets = 4)
    register(store, "mdb", "aged", "id")
    // scattered arrival: values interleave across the id space, so each
    // bucket's single file spans the WHOLE value range — the aged-table
    // shape where per-file stats stop pruning anything
    val rows = (0 until 1024).map(i => (i.toLong, ((i * 37) % 1024).toDouble))
    store.overwrite("mdb", "aged", rows.toDF("id", "v"))
    def planned(lo: Double, hi: Double): (Int, Int) = {
      val got = store.readRange("mdb", "aged", Map("v" -> ((lo, hi))))
      (got.inputFiles.length, store.read("mdb", "aged").inputFiles.length)
    }
    def exact(lo: Double, hi: Double): Unit = {
      val got = store.readRange("mdb", "aged", Map("v" -> ((lo, hi))))
      val want = store.read("mdb", "aged")
        .filter(col("v") >= lo && col("v") <= hi)
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0, s"range [$lo,$hi] drifted")
    }
    val (before, beforeTotal) = planned(100.0, 150.0)
    assert(before == beforeTotal,
      "the scattered fixture must leave stats unable to prune")
    exact(100.0, 150.0)
    // v is uniform over [0,1023]: 4 slices/bucket cut it into 256-wide
    // disjoint slices, so a 51-wide range lives in ONE slice per bucket
    store.compactClustered("mdb", "aged", Seq("v" -> None),
      filesPerBucket = 4)
    val (after, total) = planned(100.0, 150.0)
    assert(total == 16, s"expected 4 buckets x 4 slice files, got $total")
    assert(after.toDouble / total < before.toDouble / beforeTotal,
      s"prune fraction did not improve: $after/$total vs $before/$beforeTotal")
    assert(after <= 4, s"a one-slice range should plan <=1 file/bucket: $after")
    exact(100.0, 150.0)
    exact(1000.0, 1023.0)
    // PK bucketing survived the clustered rewrite: point lookups stay
    // exact and bucket-pruned
    val pl = store.pointLookup("mdb", "aged", Seq(7L).toDF("id"))
    assert(pl.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((7L, ((7 * 37) % 1024).toDouble)))
    assert(pl.inputFiles.length <= 4,
      "lookup should plan only one bucket's slice files")
    // stats stay consistent through a later scoped merge + vacuum: the
    // touched bucket rewrites (one file again), carried buckets keep
    // their clustered slice stats by reference
    store.mergeScoped("mdb", "aged", Seq(5L).toDF("id")) { bucketRows =>
      bucketRows.withColumn("v",
        when(col("id") === 5L, lit(2000.0)).otherwise(col("v")))
    }
    exact(100.0, 150.0)
    exact(1999.0, 2001.0)
    val (after2, total2) = planned(100.0, 150.0)
    assert(after2.toDouble / total2 < 1.0,
      "carried buckets must keep pruning after a scoped merge")
  }
}

/** A local filesystem whose RENAME fails for manifest destinations only
 * (data commits and committer renames pass) while `exists` stays honest —
 * the "flaky connector / permission wall" shape the publish path must
 * report as an I/O failure, never as writer contention. Top-level class:
 * Hadoop instantiates filesystems reflectively. */
class ManifestRenameFailingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faily:///")
  override def getScheme: String = "faily"
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    if (dst.getName.endsWith(".manifest")) false else super.rename(src, dst)
}
