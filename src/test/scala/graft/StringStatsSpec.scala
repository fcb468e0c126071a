package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * Truncated string footer stats (the Iceberg `truncate(16)` pattern):
 * string columns now carry per-file lexicographic bounds in the
 * manifest, so string-keyed range and prefix reads skip files the way
 * numeric [[MergeSnapshotStore.readRange]] always could. Bounds
 * compare in UTF-8 byte order; truncation only widens, so pruning is a
 * superset and every read equals its full-scan filter.
 */
class StringStatsSpec extends AnyFunSuite with SparkFixture {
  import MergeSnapshotStore.{incrementLast, strCmp, truncLower, truncUpper}

  private def mkStore(nBuckets: Int = 1): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = nBuckets,
      keepVersions = 2, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String,
                       pk: Seq[String] = Nil): TableMeta = {
    val meta = TableMeta("sdb", tbl,
      Files.createTempDirectory(s"graft-str-$tbl").toString, primaryKey = pk)
    store.catalog.register(meta)
    meta
  }

  /** ids "u0000".."u0799" range-partitioned so each file holds a tight
   * lexicographic slice — the layout where string stats bite. */
  private def idFrame(n: Int = 800, parts: Int = 8): DataFrame =
    spark.range(n)
      .select(format_string("u%04d", col("id")).as("uid"),
        col("id").as("v"))
      .repartitionByRange(parts, col("uid"))

  // ---- unit semantics of the bound helpers ----

  test("truncation helpers: sound bounds, surrogate-safe, MAX fallbacks") {
    assert(truncLower("short") == "short")
    assert(truncLower("a" * 40) == "a" * 16)
    assert(truncUpper("short").contains("short"))
    // upper: last char increments after truncation
    assert(truncUpper("abcdefghijklmnop-rest").contains("abcdefghijklmnoq"))
    // soundness on the raw values: lo <= v <= hi in UTF-8 byte order
    val v = "abcdefghijklmnop-rest"
    assert(strCmp(truncLower(v), v) <= 0)
    assert(strCmp(truncUpper(v).get, v) >= 0)
    // a 17th char at code-point MAX: the increment walks left
    val vMax = "abcdefghijklmno" + new String(Character.toChars(Character.MAX_CODE_POINT)) + "x"
    assert(strCmp(truncUpper(vMax).get, vMax) >= 0)
    // every truncated char at MAX -> unbounded above
    val allMax = new String(Character.toChars(Character.MAX_CODE_POINT)) * 17
    assert(truncUpper(allMax).isEmpty)
    // surrogate pair straddling the cut is not split (no dangling half)
    val emoji = new String(Character.toChars(0x1F600)) // 2 UTF-16 chars
    val straddle = "a" * 15 + emoji + "tail"
    val lo = truncLower(straddle)
    assert(lo == "a" * 15 && strCmp(lo, straddle) <= 0)
    // incrementLast skips the surrogate gap: U+D7FF + 1 = U+E000
    assert(incrementLast("x" + "\ud7ff").contains("x" + "\ue000"))
  }

  test("strCmp is UTF-8 byte order, not UTF-16 code-unit order") {
    // U+FF61 (efbca1 in UTF-8) vs U+10000 (f0908080): byte order puts the
    // supplementary char LAST; Java's compareTo puts its surrogate first
    val bmp = "｡"
    val supp = new String(Character.toChars(0x10000))
    assert(strCmp(bmp, supp) < 0)
    assert(bmp.compareTo(supp) > 0, "fixture: the two orders must disagree")
  }

  // ---- store behavior ----

  test("readStringRange prunes to the overlapping files and equals the full-scan filter") {
    val store = mkStore()
    register(store, "ids")
    store.overwrite("sdb", "ids", idFrame())
    val total = store.read("sdb", "ids").inputFiles.length
    assert(total >= 6, s"fixture needs several files, got $total")
    val got = store.readStringRange("sdb", "ids", Map("uid" -> (("u0100", "u0199"))))
    val want = store.read("sdb", "ids")
      .filter(col("uid") >= "u0100" && col("uid") <= "u0199")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.count() == 100)
    assert(got.inputFiles.length < total,
      s"string range failed to prune: ${got.inputFiles.length} of $total")
    // a null bound names no range
    Seq(((null, "u0199")), (("u0100", null))).foreach { r =>
      intercept[IllegalArgumentException] {
        store.readStringRange("sdb", "ids", Map("uid" -> r))
      }
    }
  }

  test("readPrefix answers a prefix scan from a fraction of the files") {
    val store = mkStore()
    register(store, "pids")
    store.overwrite("sdb", "pids", idFrame())
    val total = store.read("sdb", "pids").inputFiles.length
    val got = store.readPrefix("sdb", "pids", "uid", "u07")
    assert(got.count() == 100)
    assert(got.inputFiles.length < total,
      s"prefix read failed to prune: ${got.inputFiles.length} of $total")
    // correctness against the like-filter
    val want = store.read("sdb", "pids").filter(col("uid").startsWith("u07"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("bounds longer than 16 chars truncate in the manifest yet stay sound") {
    val store = mkStore()
    register(store, "urls")
    // URLs share a >16-char prefix, so every TRUNCATED bound collapses to
    // the same 16/17-char neighborhood — pruning must degrade to keep-all,
    // never to a wrong skip
    val urls = spark.range(200)
      .select(format_string("https://example.com/site/%04d", col("id")).as("url"),
        col("id").as("v"))
      .repartitionByRange(4, col("url"))
    store.overwrite("sdb", "urls", urls)
    val ys = store.manifestStrStats("sdb", "urls",
      store.latestVersion("sdb", "urls")).values.flatten.toSeq
    assert(ys.nonEmpty)
    assert(ys.forall { case (_, lo, hi) =>
      lo.length <= 16 && hi.forall(_.length <= 17) },
      s"bounds not truncated: $ys")
    val got = store.readStringRange("sdb", "urls",
      Map("url" -> (("https://example.com/site/0050", "https://example.com/site/0060"))))
    assert(got.count() == 11, "truncated bounds must never lose rows")
  }

  test("a scoped merge carries untouched files' string stats by reference") {
    import spark.implicits._
    val store = mkStore(nBuckets = 4)
    register(store, "mrg", pk = Seq("uid"))
    store.overwrite("sdb", "mrg", idFrame(400, parts = 1))
    val v0 = store.latestVersion("sdb", "mrg")
    assert(store.manifestStrStats("sdb", "mrg", v0).nonEmpty)
    store.mergeScoped("sdb", "mrg", Seq("u0007").toDF("uid")) { old =>
      old.withColumn("v",
        when(col("uid") === "u0007", lit(9999L)).otherwise(col("v")))
    }
    val v1 = store.latestVersion("sdb", "mrg")
    val ys = store.manifestStrStats("sdb", "mrg", v1)
    // every bucket dir in the new manifest still has uid bounds —
    // carried buckets kept theirs, the rewritten bucket re-measured
    val entries = store.manifestEntries("sdb", "mrg", v1)
    entries.values.foreach { dir =>
      assert(ys.keys.exists(_.startsWith(s"$dir/")),
        s"bucket dir $dir lost its string stats after the merge")
    }
    // and a string range read still prunes nothing incorrectly
    val got = store.readStringRange("sdb", "mrg", Map("uid" -> (("u0007", "u0007"))))
    assert(got.select("v").head().getLong(0) == 9999L)
  }

  test("string-dim cluster-on-compact restores prefix pruning; advisor tracks it") {
    import spark.implicits._
    val store = mkStore(nBuckets = 4)
    register(store, "agedstr", pk = Seq("id"))
    // scattered arrival: ids interleave the uid space, so each bucket's
    // file spans the whole lexicographic range and nothing prunes
    val rows = (0 until 1024).map(i => (i.toLong, f"u${(i * 37) % 1024}%04d"))
    store.overwrite("sdb", "agedstr", rows.toDF("id", "uid"))
    val Seq(before) = store.maintenanceAdvisor("sdb", "agedstr", Seq("uid"))
    assert(before.compactAdvised && before.expectedScanFraction > 0.9,
      s"the scattered string layout must score near full-scan: $before")
    val total = store.read("sdb", "agedstr").inputFiles.length
    assert(store.readPrefix("sdb", "agedstr", "uid", "u01")
      .inputFiles.length == total, "scattered: a prefix read scans all")
    // cluster ON THE STRING DIMENSION: the 6-byte monotone projection
    // routes the z-slices; re-lifted string bounds make prefix reads
    // prune again
    store.compactClustered("sdb", "agedstr", Seq("uid" -> None),
      filesPerBucket = 4)
    val Seq(after) = store.maintenanceAdvisor("sdb", "agedstr", Seq("uid"))
    assert(!after.compactAdvised && after.expectedScanFraction < 0.5,
      s"clustering must restore string layout health: $after")
    // digit-dense keys occupy a SPARSE slice of byte space, so
    // equal-width z-slices may populate fewer than filesPerBucket files
    // per bucket (here: 2 of 4 — 'u0999' -> 'u1000' jumps most of the
    // projected span); the layout still splits and still prunes
    val total2 = store.read("sdb", "agedstr").inputFiles.length
    assert(total2 > total && total2 <= 16,
      s"expected a finer split than $total files, got $total2")
    val post = store.readPrefix("sdb", "agedstr", "uid", "u01")
    assert(post.inputFiles.length < total2,
      s"clustered prefix read must prune: ${post.inputFiles.length}/$total2")
    val want = store.read("sdb", "agedstr")
      .filter(col("uid").startsWith("u01"))
    assert(post.exceptAll(want).count() == 0 &&
      want.exceptAll(post).count() == 0)
    // a lexicographic range read through the same layout, exact + pruned
    val rr = store.readStringRange("sdb", "agedstr",
      Map("uid" -> (("u0100", "u0299"))))
    val wantR = store.read("sdb", "agedstr")
      .filter(col("uid") >= "u0100" && col("uid") <= "u0299")
    assert(rr.exceptAll(wantR).count() == 0 &&
      wantR.exceptAll(rr).count() == 0)
    assert(rr.inputFiles.length < total2)
    // PK bucketing survived: the point lookup stays bucket-pruned
    val pl = store.pointLookup("sdb", "agedstr", Seq(7L).toDF("id"))
    assert(pl.collect().map(_.getString(1)).toSeq ==
      Seq(f"u${(7 * 37) % 1024}%04d"))
  }

  test("empty-string bounds round-trip the manifest (split-limit regression)") {
    val store = mkStore()
    register(store, "empty")
    // a column whose every value is "" writes bounds whose base64 form
    // is the EMPTY string — a default tab-split would drop the trailing
    // field and brick every read of the committed version
    val df = spark.range(20)
      .select(lit("").as("s"), col("id").as("v")).repartition(2)
    store.overwrite("sdb", "empty", df)
    val ys = store.manifestStrStats("sdb", "empty",
      store.latestVersion("sdb", "empty")).values.flatten.toSeq
    assert(ys.nonEmpty && ys.forall { case (c, lo, hi) =>
      c == "s" && lo == "" && hi == Some("") }, s"bounds drifted: $ys")
    assert(store.readStringRange("sdb", "empty", Map("s" -> (("", ""))))
      .count() == 20)
    // every file's range is ["",""], strictly below "a": all pruned
    assert(store.readStringRange("sdb", "empty", Map("s" -> (("a", "b"))))
      .inputFiles.isEmpty)
  }

  test("all-null and absent string columns stay conservative") {
    val store = mkStore()
    register(store, "nulls")
    val df = spark.range(100)
      .select(lit(null).cast("string").as("s"), col("id").as("v"))
      .repartition(2)
    store.overwrite("sdb", "nulls", df)
    // no stats lines for an all-null column...
    val ys = store.manifestStrStats("sdb", "nulls",
      store.latestVersion("sdb", "nulls")).values.flatten
    assert(ys.isEmpty, s"all-null column produced bounds: $ys")
    // ...and a range read keeps the files (conservative) and stays exact
    val got = store.readStringRange("sdb", "nulls", Map("s" -> (("a", "z"))))
    assert(got.count() == 0)
  }
}
