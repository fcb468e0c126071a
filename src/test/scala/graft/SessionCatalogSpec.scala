package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Catalog, InMemoryCatalog, MergeSnapshotStore, SessionCatalog, TableMeta}

/** The session-catalog-backed Catalog: metadata round-trips through the
 * metastore client surface, and the versioned snapshot store runs over it
 * unchanged — the swap-the-metastore-by-conf seam, proven live. */
class SessionCatalogSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("register/get/list round-trip incl. PK, partitioning, properties") {
    val cat = new SessionCatalog(spark)
    val tmp = Files.createTempDirectory("graft-sess-cat").toString
    val meta = TableMeta("scdb", "offenders", s"$tmp/offenders",
      primaryKey = Seq("offender_id"), partitionBy = Seq("part_date"),
      properties = Map("owner" -> "graft"))
    cat.register(meta)
    val got = cat("scdb", "offenders")
    // a real metastore stores the QUALIFIED location (scheme attached);
    // Hadoop Path treats both forms identically downstream
    assert(got.location == meta.location || got.location == s"file:${meta.location}")
    assert(got.primaryKey.contains("offender_id"))
    assert(got.partitionBy == Seq("part_date"))
    assert(got.properties("owner") == "graft")
    assert(got.schema.isEmpty) // none registered -> none back
    assert(cat.primaryKey("scdb", "offenders") == Seq("offender_id"))
    // re-registration (the landing-write schema refresh) wins
    val df = Seq((1L, "a")).toDF("offender_id", "name")
    cat.register(meta.copy(schema = Some(df.schema)))
    assert(cat("scdb", "offenders").schema.contains(df.schema))
    assert(cat.list("scdb").map(_.name) == Seq("offenders"))
    assert(cat.get("scdb", "missing").isEmpty)
    assert(cat.get("no_such_db", "x").isEmpty)
  }

  test("composite PK round-trips through the metastore property") {
    val cat = new SessionCatalog(spark)
    val tmp = Files.createTempDirectory("graft-sess-cpk").toString
    cat.register(TableMeta("scdbc", "links", s"$tmp/links",
      primaryKey = Seq("src_id", "dst_id")))
    assert(cat("scdbc", "links").primaryKey == Seq("src_id", "dst_id"))
    assert(cat.primaryKey("scdbc", "links") == Seq("src_id", "dst_id"))
  }

  test("a NARROWING re-registration wins too (drop+recreate fallback)") {
    // Spark's alterTableDataSchema refuses to drop columns on a real
    // metastore, so "last registration wins" for a schema that removed
    // or renamed a column must take the drop+recreate route — and keep
    // the PK/partitioning properties through it
    val cat = new SessionCatalog(spark)
    val tmp = Files.createTempDirectory("graft-sess-narrow").toString
    val wide = Seq((1L, "a", 2.0)).toDF("id", "name", "score")
    val narrow = Seq((1L, "a")).toDF("id", "label") // drops + renames
    val meta = TableMeta("scdb3", "t", s"$tmp/t",
      primaryKey = Seq("id"), schema = Some(wide.schema))
    cat.register(meta)
    assert(cat("scdb3", "t").schema.contains(wide.schema))
    cat.register(meta.copy(schema = Some(narrow.schema)))
    val got = cat("scdb3", "t")
    assert(got.schema.contains(narrow.schema),
      s"narrowed schema did not win: ${got.schema}")
    assert(got.primaryKey.contains("id"), "PK property lost in recreate")
    // additive refresh still takes the windowless in-place path
    val wider = Seq((1L, "a", 5L)).toDF("id", "label", "extra")
    cat.register(meta.copy(schema = Some(wider.schema)))
    assert(cat("scdb3", "t").schema.contains(wider.schema))
  }

  test("the versioned snapshot store runs unchanged over the session catalog") {
    val cat = new SessionCatalog(spark)
    val tmp = Files.createTempDirectory("graft-sess-store").toString
    cat.register(TableMeta("scdb2", "t", s"$tmp/t"))
    val store = new MergeSnapshotStore(spark, cat)
    val v1 = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    store.overwrite("scdb2", "t", v1)
    assert(store.latestVersion("scdb2", "t") == 0)
    val v2 = Seq((1L, 11L), (3L, 30L)).toDF("k", "v")
    store.overwrite("scdb2", "t", v2)
    assert(store.latestVersion("scdb2", "t") == 1)
    val got = store.read("scdb2", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 11L), (3L, 30L)))
    // pinned reads still see the earlier version
    val old = store.readVersion(cat("scdb2", "t"), 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(old == Set((1L, 10L), (2L, 20L)))
  }

  test("the reference arc is catalog-implementation-blind: stage outputs identical") {
    // stages 1-5 (ingest -> apply -> curated -> domains -> query) run
    // once over the in-memory map and once over the session metastore;
    // every landed table and the query answer must be identical — the
    // reference's Glue deployment story (jobs resolve locations/PKs/
    // schemas through the metastore) with nothing catalog-specific in
    // any stage. The two run-varying wall-clock stamps are excluded:
    // process_id (reference apply_to_domains.py:54-68) and the applied
    // rows' admin_event_ts (current_timestamp at apply, reference
    // apply_change_log_to_delta.py's event-time stamp) — both differ
    // between ANY two runs, catalog-blind or not.
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns
        .filterNot(c => c == "process_id" ||
          c.equalsIgnoreCase(graft.model.CdcModel.AdminEventTs))
        .sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    }
    def runArc(cat: Catalog, db: String) = {
      val work = Files.createTempDirectory(s"graft-arc-$db").toString
      val arc = PipelineMain.referenceArc(spark, cat, work, refData(), db)
      (arc, Map(
        "raw_events" -> canon(arc.store.readFlat(db, "raw_events")),
        "offenders" -> canon(arc.store.read(db, "offenders")),
        "offenders_curated" -> canon(arc.store.read(db, "offenders_curated")),
        "domain1_off_book" -> canon(arc.store.read(db, "domain1_off_book")),
        "query" -> canon(arc.query)))
    }
    val (memArc, mem) = runArc(new InMemoryCatalog, "arc_mem")
    val (sesArc, ses) = runArc(new SessionCatalog(spark), "arc_ms")
    assert(memArc.applied == sesArc.applied && memArc.curated == sesArc.curated &&
      memArc.made == sesArc.made)
    mem.foreach { case (k, v) =>
      assert(v.nonEmpty, s"stage output '$k' is empty")
      assert(v == ses(k), s"stage output '$k' differs across catalog impls")
    }
    // the domain stage's narrowed schema registration went through the
    // metastore data-schema path, not just the in-memory map
    assert(new SessionCatalog(spark)("arc_ms", "domain1_off_book").schema.isDefined)
  }
}
