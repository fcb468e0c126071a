package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * Property check for the expression-derived data skipping — the one
 * surface where a bug is silent data loss rather than an error: a
 * pseudo-random grammar of band / one-sided / equality / IN / prefix /
 * null-test leaves composed under AND / OR / NOT runs against a
 * clustered table (numeric footer bounds, truncated string bounds,
 * value-set stats, NULLs in play), and for EVERY predicate the pruned
 * read must equal the full-scan filter exactly while planning a subset
 * of the files. The hand-written DeleteWhereSpec cases pin the known
 * shapes; this property walks the composition space those cases cannot
 * enumerate.
 */
class SkippingPropSpec extends AnyFunSuite with SparkFixture {

  test("random predicates: readWhere == full-scan filter, pruning sound") {
    import spark.implicits._
    val store = new MergeSnapshotStore(spark, new InMemoryCatalog,
      nBuckets = 4, keepVersions = 2, vacuumRetentionMs = 0L)
    val loc = Files.createTempDirectory("graft-skipprop").toString
    store.catalog.register(TableMeta("sdb", "fuzz", loc,
      primaryKey = Seq("id"),
      properties = Map(MergeSnapshotStore.SetStatsProp -> "tag")))
    // s is NULL every 11th row: the three-valued corners (NOT over a
    // null comparison, IS [NOT] NULL, null-in-prefix) are live in every
    // generated predicate, not a separate hand case
    val df = (0 until 4000).map { i =>
      (i.toLong, (i * 37 % 1009).toDouble,
        if (i % 11 == 0) null else f"k$i%05d", i % 7)
    }.toDF("id", "v", "s", "tag")
    store.overwrite("sdb", "fuzz", df)
    // cluster on v so numeric bounds actually discriminate; string
    // bounds and the tag value sets re-lift from the rewritten files
    store.compactClustered("sdb", "fuzz", Seq("v" -> None),
      filesPerBucket = 4)
    val full = store.read("sdb", "fuzz")
    val total = full.inputFiles.length
    var prunedSomewhere = false

    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(20260815L * seed)
      def leaf(): Column = rnd.nextInt(8) match {
        case 0 =>
          val lo = rnd.nextInt(1009).toDouble
          col("v") >= lo && col("v") <= lo + rnd.nextInt(200).toDouble
        case 1 => col("id") >= rnd.nextInt(4500).toLong
        case 2 => col("v") < rnd.nextInt(1100).toDouble
        case 3 => col("tag") === rnd.nextInt(9) // sometimes matches nothing
        case 4 => col("tag").isin(rnd.nextInt(9), rnd.nextInt(9))
        case 5 => col("s").startsWith(f"k0${rnd.nextInt(5)}")
        case 6 => col("s") === f"k${rnd.nextInt(4500)}%05d"
        case 7 => if (rnd.nextBoolean()) col("s").isNull else col("s").isNotNull
      }
      def gen(depth: Int): Column =
        if (depth == 0) leaf()
        else rnd.nextInt(4) match {
          case 0 => gen(depth - 1) && gen(depth - 1)
          case 1 => gen(depth - 1) || gen(depth - 1)
          case 2 => !gen(depth - 1)
          case _ => leaf()
        }
      for (i <- 1 to 15) {
        val p = gen(2)
        val got = store.readWhere("sdb", "fuzz", p)
        val want = full.filter(p)
        assert(got.exceptAll(want).count() == 0 &&
          want.exceptAll(got).count() == 0,
          s"seed=$seed predicate #$i diverged: ${p.toString}")
        val kept = store.prunedFiles("sdb", "fuzz", p).size
        assert(kept <= total, s"seed=$seed #$i planned MORE than all files")
        if (kept < total) prunedSomewhere = true
      }
      // the typed reads are predicates over the same walk: each one's
      // rows equal the full-scan filter of its exact predicate, and it
      // plans exactly that predicate's pruned files
      def rel(f: String) = f.substring(f.indexOf(loc) + loc.length + 1)
      for (i <- 1 to 12) {
        val (a, b) = (rnd.nextInt(9), rnd.nextInt(9))
        val (got, p) = rnd.nextInt(6) match {
          case 0 =>
            val lo = rnd.nextInt(1009).toDouble
            val hi = lo + rnd.nextInt(200)
            (store.readRange("sdb", "fuzz", Map("v" -> ((lo, hi)))),
              col("v") >= lo && col("v") <= hi)
          case 1 => // a long column against double bounds
            val lo = rnd.nextInt(4500).toDouble
            val hi = lo + rnd.nextInt(300)
            (store.readRange("sdb", "fuzz", Map("id" -> ((lo, hi)))),
              col("id") >= lo && col("id") <= hi)
          case 2 =>
            (store.readEquals("sdb", "fuzz", Map("tag" -> Seq(a, b))),
              col("tag").isin(a, b))
          case 3 => // long probes on the int column; one past its range
            (store.readEquals("sdb", "fuzz",
              Map("tag" -> Seq(a.toLong, b.toLong, Int.MaxValue + 1L))),
              col("tag").isin(a, b))
          case 4 =>
            val lo = f"k${rnd.nextInt(4500)}%05d"
            val hi = f"k${rnd.nextInt(4500)}%05d"
            (store.readStringRange("sdb", "fuzz", Map("s" -> ((lo, hi)))),
              col("s") >= lo && col("s") <= hi)
          case 5 =>
            val prefix = f"k0${rnd.nextInt(5)}"
            (store.readPrefix("sdb", "fuzz", "s", prefix),
              col("s").startsWith(prefix))
        }
        val want = full.filter(p)
        assert(got.exceptAll(want).count() == 0 &&
          want.exceptAll(got).count() == 0,
          s"seed=$seed typed read #$i diverged: ${p.toString}")
        assert(got.inputFiles.map(rel).toSet ==
          store.prunedFiles("sdb", "fuzz", p).toSet,
          s"seed=$seed typed read #$i planned other files than ${p.toString}")
      }
    }
    assert(prunedSomewhere,
      "no generated predicate pruned a single file — the fixture makes " +
        "the property vacuous; re-check the clustering")
  }
}
