package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * Decimal footer stats: DECIMAL columns (parquet decimal logical type
 * over int32/int64/binary) carry manifest min/max bounds through the
 * shared double space — the footer lift rescales the unscaled
 * representation, predicate literals rescale identically, and because
 * the decimal→double projection is MONOTONE the non-strict comparison
 * rule keeps pruning sound even past the injective ±2^53 regime: a tie
 * in the rounded image keeps the file, and the exact predicate on top
 * re-filters in the column's own type. The one place rounding could
 * lie — proving a whole file EQUALS one probe from pinched bounds, the
 * negated-equality prune — explicitly excludes decimals.
 */
class DecimalStatsSpec extends AnyFunSuite with SparkFixture {

  private def mkStore(nBuckets: Int = 1): MergeSnapshotStore =
    new MergeSnapshotStore(spark, new InMemoryCatalog, nBuckets = nBuckets,
      keepVersions = 2, vacuumRetentionMs = 0L)

  private def register(store: MergeSnapshotStore, tbl: String,
                       pk: Seq[String] = Nil): TableMeta = {
    val meta = TableMeta("ddb", tbl,
      Files.createTempDirectory(s"graft-dec-$tbl").toString, primaryKey = pk)
    store.catalog.register(meta)
    meta
  }

  /** Range-split decimal(12,2) amounts so files carry disjoint bounds. */
  private def amounts(n: Int = 256): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, BigDecimal(i * 100 + 25, 2).toString))
      .toDF("id", "amt_s")
      .select(col("id"), col("amt_s").cast("decimal(12,2)").as("amt"))
      .repartitionByRange(4, col("amt"))
  }

  private def assertExact(got: DataFrame, want: DataFrame): Unit =
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0, "result drifted from full scan")

  test("decimal columns carry footer bounds; readWhere prunes and stays exact") {
    val store = mkStore()
    register(store, "amt")
    store.overwrite("ddb", "amt", amounts())
    val v = store.latestVersion("ddb", "amt")
    val stats = store.manifestStats("ddb", "amt", v)
    assert(stats.nonEmpty && stats.values.forall(_.exists(_._1 == "amt")),
      s"every file must carry an amt bounds line: $stats")
    val full = store.read("ddb", "amt")
    val total = full.inputFiles.length
    assert(total >= 4)
    // a band predicate in the column's own decimal literal space
    val pred = col("amt") >= lit("10.00").cast("decimal(12,2)") &&
      col("amt") <= lit("30.00").cast("decimal(12,2)")
    val got = store.readWhere("ddb", "amt", pred)
    assert(got.inputFiles.length < total,
      "the disjoint-range layout must actually prune on the decimal band")
    assertExact(got, full.filter(pred))
    // readRange's double-space bounds agree, and prune as well
    val ranged = store.readRange("ddb", "amt", Map("amt" -> ((10.0, 30.0))))
    assertExact(ranged, full.filter(col("amt") >= 10.0 && col("amt") <= 30.0))
    assert(ranged.inputFiles.length < total,
      "double bounds must prune the decimal column like its own literals")
  }

  test("precision boundary: decimal(18,0) past 2^53 stays correct (non-strict)") {
    import spark.implicits._
    val store = mkStore()
    register(store, "big")
    // 2^53 = 9007199254740992: from here up, distinct unscaled longs can
    // share one double image — bounds may TIE, never separate, so the
    // three-valued walk must keep (and the exact filter decide)
    val base = 9007199254740992L
    val rows = Seq(base - 2, base - 1, base, base + 1, base + 3)
      .zipWithIndex.map { case (v, i) => (i.toLong, BigDecimal(v).toString) }
    store.overwrite("ddb", "big",
      rows.toDF("id", "v_s")
        .select(col("id"), col("v_s").cast("decimal(18,0)").as("v")))
    val full = store.read("ddb", "big")
    // equality probes on both sides of an indistinguishable pair: the
    // rounded image cannot tell base from base+1, so pruning keeps the
    // file and the exact predicate answers — one row each, the right one
    for (probe <- Seq(base, base + 1)) {
      val got = store.readWhere("ddb", "big",
        col("v") === lit(BigDecimal(probe).bigDecimal).cast("decimal(18,0)"))
      assert(got.collect().map(_.getDecimal(1).longValueExact()).toSeq ==
        Seq(probe), s"exactness at the double boundary broke for $probe")
    }
    // negated equality must NOT prune via pinched bounds on decimals
    // (two different values can share one image): all rows but one
    val ne = store.readWhere("ddb", "big",
      col("v") =!= lit(BigDecimal(base).bigDecimal).cast("decimal(18,0)"))
    assert(ne.count() == 4)
  }

  test("all-null and statless decimal files conservatively keep") {
    import spark.implicits._
    val store = mkStore()
    register(store, "nulls")
    store.overwrite("ddb", "nulls",
      (0 until 16).map(i => (i.toLong, Option.empty[String]))
        .toDF("id", "v_s")
        .select(col("id"), col("v_s").cast("decimal(10,2)").as("v")))
    // bounds of an all-null column don't exist; reads keep the file and
    // the exact predicate returns nothing — never a crash, never a skip
    assert(store.readWhere("ddb", "nulls", col("v") > lit(0)).count() == 0)
    assert(store.read("ddb", "nulls").count() == 16)
  }
}
