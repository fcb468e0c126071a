package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
import graft.operators.QueryRunner

/**
 * SQL DML dispatch ([[QueryRunner.dml]]): `DELETE FROM` / `UPDATE`
 * statements parse through Spark's own SQL grammar and route to the
 * store's row-level [[MergeSnapshotStore.deleteWhere]] /
 * [[MergeSnapshotStore.updateWhere]] — answer parity with the typed
 * calls (the q65/q66 oracle shapes), both delete modes, faithful
 * literal/identifier round-tripping, and loud refusals for everything
 * that is not a single-table DML statement.
 */
class SqlDmlSpec extends AnyFunSuite with SparkFixture {

  private def mkStore(): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = 4,
      keepVersions = 2, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String): TableMeta = {
    val meta = TableMeta("sdb", tbl,
      Files.createTempDirectory(s"graft-sqldml-$tbl").toString,
      primaryKey = Seq("id"))
    store.catalog.register(meta)
    meta
  }

  private def frame(n: Int = 128): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong, s"c${i % 4}"))
      .toDF("id", "v", "cls")
  }

  private def assertExact(got: DataFrame, want: DataFrame): Unit =
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0, "result drifted")

  test("DELETE FROM routes to deleteWhere: typed-call parity, both modes") {
    val store = mkStore()
    val runner = new QueryRunner(store)
    Seq("t_sql", "t_typed", "t_mor").foreach(register(store, _))
    Seq("t_sql", "t_typed", "t_mor").foreach(t =>
      store.overwrite("sdb", t, frame()))
    val typed = store.deleteWhere("sdb", "t_typed",
      col("cls") === "c1" && col("v") < 100L)
    val viaSql = runner.dml("sdb",
      "DELETE FROM t_sql WHERE cls = 'c1' AND v < 100")
    assert(viaSql == typed && typed > 0L,
      s"SQL and typed counts must agree: $viaSql vs $typed")
    assertExact(store.read("sdb", "t_sql"), store.read("sdb", "t_typed"))
    // merge-on-read through the same statement: a sidecar, no rewrite
    val entries0 = store.manifestEntries("sdb", "t_mor",
      store.latestVersion("sdb", "t_mor"))
    val viaMor = runner.dml("sdb",
      "DELETE FROM t_mor WHERE cls = 'c1' AND v < 100",
      MergeSnapshotStore.MergeOnRead)
    assert(viaMor == typed)
    val vMor = store.latestVersion("sdb", "t_mor")
    assert(store.manifestEntries("sdb", "t_mor", vMor) == entries0,
      "MoR via SQL must not rewrite any bucket")
    assert(store.manifestDeletes("sdb", "t_mor", vMor).size == 1)
    assertExact(store.read("sdb", "t_mor"), store.read("sdb", "t_typed"))
    // no-WHERE form keeps SQL semantics: every row goes
    assert(runner.dml("sdb", "DELETE FROM t_sql") ==
      128L - typed)
    assert(store.read("sdb", "t_sql").isEmpty)
  }

  test("UPDATE routes to updateWhere: typed-call parity, expressions in SET") {
    val store = mkStore()
    val runner = new QueryRunner(store)
    Seq("u_sql", "u_typed").foreach(register(store, _))
    Seq("u_sql", "u_typed").foreach(t => store.overwrite("sdb", t, frame()))
    val typed = store.updateWhere("sdb", "u_typed", col("cls") === "c2",
      Map("v" -> (col("v") * 10L + 1L), "cls" -> lit("fixed")))
    val viaSql = runner.dml("sdb",
      "UPDATE u_sql SET v = v * 10 + 1, cls = 'fixed' WHERE cls = 'c2'")
    assert(viaSql == typed && typed > 0L)
    assertExact(store.read("sdb", "u_sql"), store.read("sdb", "u_typed"))
    // duplicate SET targets refuse before anything commits
    val v0 = store.latestVersion("sdb", "u_sql")
    intercept[IllegalArgumentException] {
      runner.dml("sdb", "UPDATE u_sql SET v = 1, v = 2 WHERE id = 1")
    }
    assert(store.latestVersion("sdb", "u_sql") == v0)
  }

  test("literals and identifiers round-trip faithfully through the parser") {
    import spark.implicits._
    val store = mkStore()
    val runner = new QueryRunner(store)
    register(store, "lit")
    store.overwrite("sdb", "lit",
      Seq((1L, "O'Brien"), (2L, "plain"), (3L, "O'Brien"))
        .toDF("id", "name"))
    // an embedded quote must survive parse -> render -> re-parse
    assert(runner.dml("sdb",
      "DELETE FROM lit WHERE name = 'O''Brien'") == 2L)
    assert(store.read("sdb", "lit").collect().map(_.getString(1)).toSeq ==
      Seq("plain"))
    // db-qualified target agrees with the bound db; a foreign one refuses
    assert(runner.dml("sdb", "DELETE FROM sdb.lit WHERE id = 2") == 1L)
    intercept[IllegalArgumentException] {
      runner.dml("sdb", "DELETE FROM otherdb.lit WHERE id = 2")
    }
  }

  test("non-DML statements refuse loudly") {
    val store = mkStore()
    val runner = new QueryRunner(store)
    register(store, "r")
    store.overwrite("sdb", "r", frame(16))
    val eSel = intercept[IllegalArgumentException] {
      runner.dml("sdb", "SELECT * FROM r")
    }
    assert(eSel.getMessage.contains("not a DML statement"))
  }

  test("TIMESTAMP AS OF statements resolve through the provenance stamps") {
    // deep history: the restore commit must not age the stamped target
    // out before the clone statement pins it
    val store = new MergeSnapshotStore(spark, new InMemoryCatalog,
      nBuckets = 4, keepVersions = 8, vacuumRetentionMs = 0L)
    val runner = new QueryRunner(store)
    register(store, "t")
    store.overwrite("sdb", "t", frame())
    store.deleteWhere("sdb", "t", col("id") < 8L)
    // versionAt pins by instant; the RESTORE statement's TIMESTAMP form
    // must land on exactly the version the typed call names
    val stamp = store.history("sdb", "t").orderBy("version")
      .collect().head.getAs[java.sql.Timestamp]("timestamp")
    val typed = store.versionAt("sdb", "t", stamp.getTime)
    assert(typed == 0)
    val restored = runner.dml("sdb",
      s"RESTORE TABLE t TO TIMESTAMP AS OF '${stamp.getTime}'")
    assert(restored == store.latestVersion("sdb", "t").toLong)
    assert(store.read("sdb", "t").count() == 128,
      "the timestamp restore rewinds to the pre-delete snapshot")
    // a clone pinned by timestamp borrows the same snapshot
    val loc = java.nio.file.Files
      .createTempDirectory("graft-sqldml-tsclone").toString + "/t"
    runner.dml("sdb", "CREATE TABLE dst SHALLOW CLONE t TIMESTAMP AS OF " +
      s"'${stamp.getTime}' LOCATION '$loc'")
    assert(store.read("sdb", "dst").count() == 128)
  }

  test("OPTIMIZE OPTIONS exposes the typed knobs; unknown keys refuse") {
    val store = mkStore()
    val runner = new QueryRunner(store)
    register(store, "t")
    store.overwrite("sdb", "t", frame(512))
    runner.dml("sdb", "OPTIMIZE t ZORDER BY (v) OPTIONS (filesPerBucket = 2)")
    val perBucket = store.filesOf("sdb", "t").groupBy("bucket").count()
      .agg(max("count")).head().getLong(0)
    assert(perBucket <= 2, s"filesPerBucket must reach the rewrite: $perBucket")
    val bad = intercept[IllegalArgumentException] {
      runner.dml("sdb", "OPTIMIZE t OPTIONS (fileCount = 3)")
    }
    assert(bad.getMessage.contains("unknown OPTIMIZE option"))
    val cross = intercept[IllegalArgumentException] {
      runner.dml("sdb", "OPTIMIZE t OPTIONS (filesPerBucket = 3)")
    }
    assert(cross.getMessage.contains("ZORDER"))
  }

  test("the frame-returning sql surface: DESCRIBE HISTORY and files()") {
    val store = mkStore()
    val runner = new QueryRunner(store)
    register(store, "t")
    store.overwrite("sdb", "t", frame())
    store.deleteWhere("sdb", "t", col("id") === 1L)
    val hist = runner.sql("sdb", "DESCRIBE HISTORY t")
    assert(hist.columns.contains("operation") && hist.count() ==
      store.history("sdb", "t").count())
    val files = runner.sql("sdb", "SELECT * FROM files(t)")
    assert(files.count() == store.filesOf("sdb", "t").count())
    // pinned files() form
    val v0files = runner.sql("sdb", "SELECT * FROM files(t, 0)")
    assert(v0files.count() == store.filesOf("sdb", "t", Some(0)).count())
    // a DML statement through sql() comes back as a one-row frame
    val del = runner.sql("sdb", "DELETE FROM t WHERE id = 2")
    assert(del.columns.toSeq == Seq("affected") && del.head().getLong(0) == 1L)
  }

  test("DESCRIBE DETAIL and SHOW TBLPROPERTIES summarize the snapshot") {
    val store = mkStore()
    val runner = new QueryRunner(store)
    register(store, "t")
    store.overwrite("sdb", "t", frame())
    store.deleteWhere("sdb", "t", col("id") === 1L,
      MergeSnapshotStore.MergeOnRead)
    val d = runner.sql("sdb", "DESCRIBE DETAIL t").head()
    assert(d.getAs[String]("name") == "sdb.t")
    assert(d.getAs[String]("primary_key") == "id")
    assert(d.getAs[Int]("version") == store.latestVersion("sdb", "t"))
    assert(d.getAs[Int]("num_files") ==
      store.filesOf("sdb", "t").count().toInt)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[Int]("delete_sidecars") == 1)
    // a fresh-sidecar window answers num_rows from the manifest
    assert(d.getAs[java.lang.Long]("num_rows") == 127L)
    store.addCheckConstraint("sdb", "t", "v_nonneg", "v >= 0")
    val props = runner.sql("sdb", "SHOW TBLPROPERTIES t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.exists(_._1.contains("v_nonneg")),
      s"constraints live in the property map: $props")
  }

  test("INSERT INTO: new keys land scoped; duplicates refuse toward MERGE; OVERWRITE replaces") {
    val store = mkStore()
    val runner = new QueryRunner(store)
    register(store, "t")
    store.overwrite("sdb", "t", frame()) // 128 rows, ids 0..127
    // bare VALUES bind positionally; literal ints cast to the bigints
    val n = runner.dml("sdb",
      "INSERT INTO t VALUES (1000, 1, 'c9'), (1001, 2, 'c9')")
    assert(n == 2L && store.read("sdb", "t").count() == 130)
    assert(store.read("sdb", "t").filter(col("cls") === "c9").count() == 2)
    // a column list binds names in ANY order
    assert(runner.dml("sdb",
      "INSERT INTO t (cls, id, v) VALUES ('c9', 1002, 3)") == 1L)
    assert(store.read("sdb", "t")
      .filter(col("id") === 1002L && col("v") === 3L).count() == 1)
    // INSERT … SELECT resolves the source through the store splice
    val m = runner.dml("sdb",
      "INSERT INTO t SELECT id + 5000, v, cls FROM t WHERE id < 3")
    assert(m == 3L && store.read("sdb", "t")
      .filter(col("id") >= 5000L && col("id") < 5003L).count() == 3)
    // refusals: existing key (the upsert pointer), batch-internal
    // repeat, positional arity, omitted NON-NULLABLE column, PK-less
    val dup = intercept[IllegalArgumentException] {
      runner.dml("sdb", "INSERT INTO t VALUES (5, 5, 'x')")
    }
    assert(dup.getMessage.contains("MERGE INTO"), dup.getMessage)
    val rep = intercept[IllegalArgumentException] {
      runner.dml("sdb",
        "INSERT INTO t VALUES (7000, 1, 'a'), (7000, 2, 'b')")
    }
    assert(rep.getMessage.contains("repeats"), rep.getMessage)
    intercept[IllegalArgumentException] {
      runner.dml("sdb", "INSERT INTO t VALUES (1)")
    }
    // an omitted NULLABLE column fills NULL (the committed schema is
    // the parquet-written one, where columns are optional)
    assert(runner.dml("sdb",
      "INSERT INTO t (id, cls) VALUES (8000, 'c1')") == 1L)
    assert(store.read("sdb", "t")
      .filter(col("id") === 8000L && col("v").isNull).count() == 1)
    store.catalog.register(TableMeta("sdb", "pl",
      Files.createTempDirectory("graft-sqldml-pl").toString))
    store.overwrite("sdb", "pl", frame())
    val pkless = intercept[IllegalArgumentException] {
      runner.dml("sdb", "INSERT INTO pl VALUES (9000, 1, 'z')")
    }
    assert(pkless.getMessage.contains("PK"), pkless.getMessage)
    // INSERT OVERWRITE replaces the whole snapshot (reading the table
    // it replaces — snapshot isolation by file immutability)
    val k = runner.dml("sdb",
      "INSERT OVERWRITE t SELECT * FROM t WHERE id < 10")
    assert(k == 10L && store.read("sdb", "t").count() == 10)
  }

  test("SET/UNSET TBLPROPERTIES: policy lands, typed values validate, bookkeeping refuses") {
    val store = mkStore()
    val runner = new QueryRunner(store)
    register(store, "t")
    store.overwrite("sdb", "t", frame())
    // SET lands and the next policy read honors it: a huge retention
    // means vacuum reclaims NOTHING on an immediate pass
    runner.dml("sdb", "ALTER TABLE t SET TBLPROPERTIES (" +
      s"'${MergeSnapshotStore.RetentionProp}'='${3600L * 1000}', " +
      "'owner'='graft')")
    assert(store.catalog("sdb", "t").properties("owner") == "graft")
    store.overwrite("sdb", "t", frame().withColumn("v", col("v") * 2))
    store.overwrite("sdb", "t", frame().withColumn("v", col("v") * 3))
    val held = store.vacuum("sdb", "t")
    assert(held.dirsReclaimed == 0 && held.dirsAwaitingHorizon > 0,
      s"the SET retention must hold the space: $held")
    // read-back through the statement surface
    val props = runner.sql("sdb", "SHOW TBLPROPERTIES t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props(MergeSnapshotStore.RetentionProp) == "3600000")
    // UNSET restores the store default (zero here): space reclaims
    runner.dml("sdb", "ALTER TABLE t UNSET TBLPROPERTIES (" +
      s"'${MergeSnapshotStore.RetentionProp}')")
    val freed = store.vacuum("sdb", "t")
    assert(freed.dirsReclaimed > 0, s"the UNSET must free the space: $freed")
    // absent keys are a silent no-op (the safe direction)
    runner.dml("sdb", "ALTER TABLE t UNSET TBLPROPERTIES ('nope')")
    // typed values validate AT SET — a malformed retention refuses here
    // instead of wedging every later commit's vacuum
    intercept[IllegalArgumentException] {
      runner.dml("sdb", "ALTER TABLE t SET TBLPROPERTIES (" +
        s"'${MergeSnapshotStore.RetentionProp}'='soon')")
    }
    intercept[IllegalArgumentException] {
      runner.dml("sdb", "ALTER TABLE t SET TBLPROPERTIES (" +
        s"'${MergeSnapshotStore.ManifestKeepProp}'='-5')")
    }
    // the store's own bookkeeping refuses with the pointer to its API
    def refuseKey(k: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException] {
        runner.dml("sdb", s"ALTER TABLE t SET TBLPROPERTIES ('$k'='x')")
      }
      assert(ex.getMessage.toLowerCase.contains(needle.toLowerCase),
        s"$k: ${ex.getMessage}")
      val ex2 = intercept[IllegalArgumentException] {
        runner.dml("sdb", s"ALTER TABLE t UNSET TBLPROPERTIES ('$k')")
      }
      assert(ex2.getMessage.toLowerCase.contains(needle.toLowerCase))
    }
    refuseKey(MergeSnapshotStore.HoldsProp, "registerHold")
    refuseKey(MergeSnapshotStore.PkPhysicalProp, "renamePrimaryKeyColumn")
    refuseKey(MergeSnapshotStore.BucketsProp, "rebucket")
    refuseKey(MergeSnapshotStore.CheckPropPrefix + "x", "CONSTRAINT")
    // malformed pair syntax refuses by name
    val bad = intercept[IllegalArgumentException] {
      runner.dml("sdb", "ALTER TABLE t SET TBLPROPERTIES (k=v)")
    }
    assert(bad.getMessage.contains("'key'='value'"), bad.getMessage)
  }

  test("a CTE alias SHADOWS a same-named store table; qualified names splice") {
    val store = mkStore()
    val runner = new QueryRunner(store)
    register(store, "t")
    store.overwrite("sdb", "t", frame()) // ids 0..127, v = id
    // the CTE wins over the store table of the same name: the splice
    // must NOT eagerly replace the bare reference (which would read
    // all 128 rows and silently drop the CTE's filter)
    val viaCte = runner.sql("sdb",
      "WITH t AS (SELECT id, v FROM sdb.t WHERE v < 10) " +
        "SELECT count(*) AS n FROM t").head().getLong(0)
    assert(viaCte == 10L, s"the CTE's filter must apply: got $viaCte")
    // a bare self-reference inside the colliding CTE's own definition
    // refuses LOUDLY (unresolved) instead of this splice guessing —
    // the qualified spelling above is the supported form
    intercept[Exception] {
      runner.sql("sdb",
        "WITH t AS (SELECT * FROM t WHERE v < 10) SELECT * FROM t")
        .collect()
    }
    // time travel over a CTE-bound bare name refuses by name
    val tt = intercept[IllegalArgumentException] {
      runner.sql("sdb",
        "WITH t AS (SELECT id FROM sdb.t) " +
          "SELECT * FROM t VERSION AS OF 0").collect()
    }
    assert(tt.getMessage.contains("CTE alias"), tt.getMessage)
  }

  test("INSERT OVERWRITE aligns to the committed schema: no shrink, no retype") {
    val store = mkStore()
    val runner = new QueryRunner(store)
    register(store, "t")
    store.overwrite("sdb", "t", frame()) // (id long, v long, cls string)
    // a column-list OVERWRITE keeps the FULL committed schema — the
    // omitted nullable column fills NULL instead of vanishing
    runner.dml("sdb", "INSERT OVERWRITE t (id, v) VALUES (1, 10), (2, 20)")
    val after = store.read("sdb", "t")
    assert(after.columns.toSeq == Seq("id", "v", "cls"),
      s"schema must not shrink: ${after.columns.toSeq}")
    assert(after.count() == 2 && after.filter(col("cls").isNull).count() == 2)
    // a drifted source type casts to the committed type, never retypes
    runner.dml("sdb",
      "INSERT OVERWRITE t SELECT id, CAST(v AS STRING), cls FROM t")
    assert(store.read("sdb", "t").schema("v").dataType ==
      org.apache.spark.sql.types.LongType, "v must stay bigint")
    assert(store.read("sdb", "t").filter(col("v") === 10L).count() == 1)
    // an unknown column refuses toward schema evolution
    val ex = intercept[IllegalArgumentException] {
      runner.dml("sdb",
        "INSERT OVERWRITE t (id, v, bogus) VALUES (1, 1, 'x')")
    }
    assert(ex.getMessage.contains("unknown column"), ex.getMessage)
  }

  test("CREATE TABLE re-attach adopts a rebucketed head's bucket count") {
    val store = mkStore() // store default nBuckets = 4
    val runner = new QueryRunner(store)
    val meta = register(store, "t")
    store.overwrite("sdb", "t", frame())
    store.rebucket("sdb", "t", newBuckets = 8)
    val before = store.read("sdb", "t").orderBy("id").collect().toSeq
    // detach (metadata-only), then re-attach through the statement
    // surface — SHOW CREATE TABLE's own round trip. Without head
    // adoption the re-created registration would resolve nBuckets=4
    // and every read refuse on the manifest-vs-meta count check.
    runner.dml("sdb", "DROP TABLE t")
    runner.dml("sdb",
      "CREATE TABLE t (id bigint, v bigint, cls string) USING parquet " +
        s"LOCATION '${meta.location}' TBLPROPERTIES ('graft.pk'='id')")
    assert(store.read("sdb", "t").orderBy("id").collect().toSeq == before,
      "re-attached reads must serve the committed history unchanged")
    // and the layout stays writable: a merge under the adopted modulus
    store.deleteWhere("sdb", "t", col("v") < 2L)
    assert(store.read("sdb", "t").count() == before.size - 2)
  }
}
