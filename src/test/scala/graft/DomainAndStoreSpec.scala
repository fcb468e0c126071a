package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
import graft.operators.{CuratedApplier, DomainRunner, QueryRunner}

/**
 * Domain materialization parity (reference tests/test_4_apply_to_domains.py
 * on the checked-in definition CSVs and curated offender tables) plus the
 * snapshot store's Delta-overwrite-equivalent semantics.
 */
class DomainAndStoreSpec extends AnyFunSuite with SparkFixture {
  private lazy val tmp = Files.createTempDirectory("graft-test").toString
  private lazy val catalog = new InMemoryCatalog
  private lazy val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4)

  private def bootstrap(): Unit = synchronized {
    if (catalog.get("db", "offenders").isEmpty) {
      Seq("offenders", "offender_bookings", "domain1_off_book").foreach { t =>
        catalog.register(TableMeta("db", t, s"$tmp/$t", primaryKey = Seq("offender_id")))
      }
      // curated fixtures: the pair whose offender_id ranges overlap
      // (reference test_4 joins the curated zone)
      store.overwrite("db", "offenders",
        spark.read.parquet(refData("database/oms_owner/offenders_curated")))
      store.overwrite("db", "offender_bookings",
        spark.read.parquet(refData("database/oms_owner/offender_bookings_curated")))
    }
  }

  test("snapshot store: overwrite/read roundtrip and version advance") {
    bootstrap()
    val n0 = store.read("db", "offenders").count()
    assert(n0 == 18) // reference curated fixture size
    store.overwrite("db", "offenders", store.read("db", "offenders").limit(5))
    assert(store.read("db", "offenders").count() == 5)
    // restore for later tests
    store.overwrite("db", "offenders",
      spark.read.parquet(refData("database/oms_owner/offenders_curated")))
    assert(store.read("db", "offenders").count() == 18)
  }

  test("snapshot store: mergeSchema keeps existing columns, null-fills gaps") {
    bootstrap()
    val before = store.read("db", "offenders")
    val narrowed = before.select("offender_id", "last_name")
      .withColumn("extra", lit(1))
    store.overwrite("db", "offenders", narrowed, mergeSchema = true)
    val after = store.read("db", "offenders")
    assert(after.columns.contains("first_name")) // union-aligned
    assert(after.columns.contains("extra"))
    assert(after.filter(col("first_name").isNotNull).count() == 0)
    store.overwrite("db", "offenders",
      spark.read.parquet(refData("database/oms_owner/offenders_curated")))
  }

  test("compaction rewrites the snapshot into the target file count") {
    bootstrap()
    // `targetFiles` shapes PK-less tables (a PK table is already one
    // file per bucket): fragment a key-less copy, then compact it
    catalog.register(TableMeta("db", "offenders_frag", s"$tmp/offenders_frag"))
    store.overwrite("db", "offenders_frag",
      store.read("db", "offenders").repartition(7))
    store.compact("db", "offenders_frag", targetFiles = 1)
    val after = store.read("db", "offenders_frag")
    assert(after.count() == 18)
    assert(after.rdd.getNumPartitions == 1)
  }

  test("domain defs load + dependency activation") {
    bootstrap()
    val runner = new DomainRunner(spark, store)
    val defs = runner.loadDefs(refData("database/domain_definitions/domain_table_1.csv"))
    val all = defs.collect()
    assert(all.length == 1)
    assert(all.head.dependencies.map(_.trim) == Seq("offenders", "offender_bookings"))
    assert(runner.activate(defs, Seq("offenders")).count() == 1)
    assert(runner.activate(defs, Seq("unrelated")).count() == 0)
  }

  test("domain SQL materializes offenders x bookings with concat name") {
    bootstrap()
    val runner = new DomainRunner(spark, store)
    val made = runner.run("db",
      refData("database/domain_definitions/domain_table_1.csv"),
      changedTables = Seq("offenders"), processId = 42L)
    assert(made == Seq("domain1_off_book"))
    val out = store.read("db", "domain1_off_book")
    assert(out.columns.toSet.contains("offender_name"))
    assert(out.count() > 0)
    // reference test_4 expects NULL booking_end_date rows to survive the join
    val one = out.select("offender_name").limit(1).collect().head.getString(0)
    assert(one.contains(" ")) // "first last"
    assert(out.select("process_id").distinct().collect().map(_.getLong(0)).toSeq == Seq(42L))
    // the run registers the narrowed output schema in the catalog
    // (reference update_column_list_in_glue, apply_to_domains.py:147-166,
    // 279-281: anything outside {integer,date,timestamp,string} -> string)
    val meta = catalog("db", "domain1_off_book")
    assert(meta.schema.isDefined)
    val st = meta.schema.get
    assert(st.fieldNames.contains("offender_name"))
    assert(st.fields.forall(f =>
      Set("integer", "date", "timestamp", "string").contains(f.dataType.typeName)))
    assert(st("process_id").dataType.typeName == "string") // long narrows to string
  }

  test("domain_table_2: only the definition whose deps changed runs") {
    bootstrap()
    catalog.register(TableMeta("db", "domain2_book_off", s"$tmp/domain2_book_off"))
    val runner = new DomainRunner(spark, store)
    val defs = runner.loadDefs(refData("database/domain_definitions/domain_table_2.csv"))
    assert(defs.count() == 2)
    // of the two definitions, only the offenders-dependent one activates
    assert(runner.activate(defs, Seq("offender_bookings")).count() == 1)
    val made = runner.run("db",
      refData("database/domain_definitions/domain_table_2.csv"),
      changedTables = Seq("offender_bookings"), processId = 7L)
    assert(made == Seq("domain2_book_off"))
    val out = store.read("db", "domain2_book_off")
    assert(out.columns.toSet
      .intersect(Set("offender_book_id", "offender_name", "in_out_status")).size == 3)
    assert(out.count() > 0)
  }

  test("domain SQL with a pinned dependency resolves AS-OF that version") {
    import graft.model.DomainDef
    // own fixture table — the shared offenders bootstrap stays untouched
    catalog.register(TableMeta("db", "asof_dep", s"$tmp/asof_dep"))
    import spark.implicits._
    store.overwrite("db", "asof_dep",
      (0 until 20).map(i => (i.toLong, s"r$i")).toDF("id", "name"))
    val v0 = store.latestVersion("db", "asof_dep")
    store.overwrite("db", "asof_dep",
      (0 until 5).map(i => (i.toLong, s"r$i")).toDF("id", "name"))
    val d = DomainDef("live", "table", "dom", Seq("asof_dep"), "asof_out",
      "SELECT id, name FROM asof_dep")
    val runner = new DomainRunner(spark, store)
    // HEAD resolution sees the new snapshot; the pinned one sees v0
    assert(runner.runStatement("db", d, 1L).count() == 5)
    assert(runner.runStatement("db", d, 1L,
      pins = Map("asof_dep" -> v0)).count() == 20)
    // an uncommitted pin refuses EAGERLY with the retention-window
    // message — never a lazy path-not-found
    val err = intercept[IllegalArgumentException] {
      runner.runStatement("db", d, 1L, pins = Map("asof_dep" -> 99))
    }
    assert(err.getMessage.contains("retention"))
  }

  /** A store of its own holding `db.offenders`, 18 rows keyed by
   * offender_id (the reference curated fixture's size), built here. */
  private def structuredStore(): (MergeSnapshotStore, String) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-curated").toString
    val s = new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = 4)
    s.catalog.register(TableMeta("db", "offenders", s"$dir/offenders",
      primaryKey = Seq("offender_id")))
    s.overwrite("db", "offenders", (1 to 18)
      .map(i => (i, s"first$i", s"last$i", i % 3 == 0))
      .toDF("offender_id", "first_name", "last_name", "active"))
    (s, dir)
  }

  private def parquetUnder(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val walk = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      } finally walk.close()
    }
  }

  test("curated promotion is the identity hook (reference stage 3)") {
    val (store, dir) = structuredStore()
    store.catalog.register(TableMeta("db", "offenders_curated", s"$dir/offenders_curated"))
    // the notify stub fires once per curated table, after its write
    // (reference trigger_kinesis_event, src/apply_to_curated.py:143-150)
    val notified = scala.collection.mutable.ArrayBuffer.empty[String]
    val made = new CuratedApplier(store).run("db", Seq("offenders"),
      onTableDone = notified += _)
    assert(made == Seq("offenders_curated"))
    assert(notified.toSeq == Seq("offenders_curated"))
    assert(store.read("db", "offenders_curated").count() ==
      store.read("db", "offenders").count())
    // promoted by reference: the curated location holds manifests only
    assert(parquetUnder(s"$dir/offenders_curated").isEmpty)
  }

  test("curated hook applies a real transform (masking) when supplied") {
    val (store, dir) = structuredStore()
    store.catalog.register(TableMeta("db", "offenders_masked", s"$dir/offenders_masked"))
    val masking = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("last_name", lit("***"))
    val made = new CuratedApplier(store, Some(masking)).run("db", Seq("offenders"),
      suffix = "_masked")
    assert(made == Seq("offenders_masked"))
    val out = store.read("db", "offenders_masked")
    assert(out.select("last_name").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("***"))
    assert(out.count() == store.read("db", "offenders").count())
    // a transform's output is the curated table's own files
    assert(parquetUnder(s"$dir/offenders_masked").nonEmpty)
  }

  test("query runner: projection + catalyst predicate string (glue_query CLI)") {
    bootstrap()
    val qr = new QueryRunner(store)
    val out = qr.run("db", "offenders",
      Seq("offender_id", "last_name"), "offender_id > 15")
    assert(out.columns.toSeq == Seq("offender_id", "last_name"))
    assert(out.filter(col("offender_id") <= 15).count() == 0)
    // default predicate
    assert(qr.run("db", "offenders", Seq("offender_id")).count() == 18)
  }
}
