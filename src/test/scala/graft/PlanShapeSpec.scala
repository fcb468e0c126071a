package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan shape of the round-7 operators: the properties that make
 * them 100 TB-viable are plan facts (broadcast joins, pushed filters,
 * shuffle counts), so they are pinned here against regressions — an
 * operator that silently falls back to a shuffle join or an unpushed
 * filter still passes its value-correctness oracle.
 */
class PlanShapeSpec extends AnyFunSuite with SparkFixture {
  private val sf = "/root/testdata/sf0.001"

  /** Finalized (post-AQE) executed-plan text of a SparkEntry query —
   * the ADAPTIVE node's toString prints Initial AND Final sections,
   * which would double-count scans/exchanges, so unwrap the final. */
  private def plan(name: String): String =
    planOf(SparkEntry.queries(name)(spark, sf))

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.collect() // finalize adaptive plans
    graft.operators.Materialize.releaseAll()
    val ex = df.queryExecution.executedPlan
    val finals = ex.collect { case a: AdaptiveSparkPlanExec => a.executedPlan.toString }
    if (finals.nonEmpty) finals.mkString("\n") else ex.toString
  }

  private def shuffles(p: String): Int =
    p.linesIterator.count(l => l.contains("Exchange rangepartitioning") ||
      l.contains("Exchange hashpartitioning") ||
      l.contains("Exchange SinglePartition"))

  private def scans(p: String): Int =
    p.linesIterator.count(_.contains("FileScan"))

  test("readWhere: manifest-pruned file set AND the exact predicate pushed into the scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
    val work = java.nio.file.Files.createTempDirectory("graft-plan-rw").toString
    val cat = new InMemoryCatalog
    cat.register(TableMeta("pdb", "t", s"$work/t"))
    val store = new MergeSnapshotStore(spark, cat, nBuckets = 1)
    import spark.implicits._
    store.overwrite("pdb", "t",
      (0 until 256).map(i => (i.toLong, i.toLong, s"n$i"))
        .toDF("id", "v", "nm").repartitionByRange(4, col("v")))
    val df = store.readWhere("pdb", "t",
      col("v") >= 70L && col("v") < 120L && col("nm") =!= "nope")
    df.collect()
    // two pruning layers must BOTH be in effect: the manifest plans a
    // strict subset of the files before Spark sees them, and the exact
    // predicate still reaches the scan node (dataFilters + parquet
    // PushedFilters), so row groups inside the kept files skip too
    assert(df.inputFiles.length == 1,
      s"the one-slice band must plan one file, got ${df.inputFiles.length}")
    val fscans = deepCollect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    assert(fscans.nonEmpty, "expected a parquet file scan")
    assert(fscans.exists(_.dataFilters.exists(_.toString.contains("v#"))),
      "the band predicate must reach the scan node as a data filter")
    assert(fscans.exists(_.metadata.get("PushedFilters")
        .exists(s => s.contains("GreaterThanOrEqual(v") ||
          s.contains("IsNotNull(v"))),
      s"the predicate must push into the parquet reader: " +
        s"${fscans.map(_.metadata.get("PushedFilters")).mkString(",")}")
  }

  test("every store read scans its data files through a StoreFileIndex relation") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.functions._
    import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, StoreFileIndex, TableMeta}
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-plan-scan").toString
    val cat = new InMemoryCatalog
    val meta = TableMeta("pdb", "k", s"$work/k", primaryKey = Seq("id"))
    cat.register(meta)
    val store = new MergeSnapshotStore(spark, cat, nBuckets = 4, keepVersions = 8)
    store.overwrite("pdb", "k",
      (0 until 64).map(i => (i.toLong, i % 8, s"n$i")).toDF("id", "v", "nm"))
    val v0 = store.latestVersion("pdb", "k")
    // a live sidecar: its own scan is the one other file relation a
    // read may hold
    store.deleteWhere("pdb", "k", col("id") === 3L, MergeSnapshotStore.MergeOnRead)
    var rewriteInput: DataFrame = null
    store.mergeScoped("pdb", "k", Seq(5L).toDF("id")) { old => rewriteInput = old; old }
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "read" -> (() => store.read("pdb", "k")),
      "read pinned" -> (() => store.read("pdb", "k", Some(v0 + 1))),
      "readVersion" -> (() => store.readVersion(meta, v0 + 1)),
      "readWhere" -> (() => store.readWhere("pdb", "k", col("v") === 2)),
      "pointLookup" -> (() => store.pointLookup("pdb", "k", Seq(7L).toDF("id"))),
      "mergeScoped rewrite input" -> (() => rewriteInput))
    reads.foreach { case (name, frame) =>
      val files = frame().queryExecution.optimizedPlan.collectLeaves().collect {
        case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
          l.relation.asInstanceOf[HadoopFsRelation].location
      }
      val (indexed, other) = files.partition(_.isInstanceOf[StoreFileIndex])
      assert(indexed.nonEmpty, s"$name: no StoreFileIndex scan")
      val dataScans = other.filter(_.inputFiles.exists(!_.contains("/data/d")))
      assert(dataScans.isEmpty,
        s"$name scans data files outside a StoreFileIndex: ${dataScans.mkString("; ")}")
    }
  }

  test("s09 range search: probe join broadcasts, never a shuffle join") {
    val p = plan("s09_ann_range_search")
    assert(p.contains("BroadcastHashJoin"),
      "the probed-query side must broadcast into the corpus scan")
    assert(!p.contains("SortMergeJoin"),
      "a shuffle join on the candidate path would reshuffle the corpus")
  }

  test("d10 mixture sample: one pushed-filter scan plus the output sort") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("d10_mixture_sample")(spark, sf)
    val p = planOf(df)
    assert(scans(p) == 1, s"expected a single corpus scan:\n$p")
    // the md5 keep-rule must reach the scan NODE as a data filter — a
    // plan-wide contains() would also match a post-scan Filter over a
    // full read. Asserted on the scan exec's REAL dataFilters, not the
    // display string (whose metadata sections Spark truncates at
    // spark.sql.maxMetadataStringLength — the q48 lesson).
    val fscans = deepCollect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    assert(fscans.exists(_.dataFilters.exists(_.toString.contains("md5"))),
      s"keep filter did not reach the scan node:\n$p")
    assert(shuffles(p) == 1, s"only the orderBy may shuffle:\n$p")
  }

  test("d12 span dedup: one corpus scan, content-keyed joins, no cartesian") {
    val p = plan("d12_span_dedup")
    // the position index is cut once and feeds both sides of the pair
    // join: the final stage must read ONLY the materialized index (a
    // FileScan here would mean the corpus tokenizes a second time), and
    // the cut must appear on both join sides
    assert(scans(p) == 0, s"corpus re-scanned past the index cut:\n$p")
    assert(p.linesIterator.count(_.contains("Scan ExistingRDD")) >= 2,
      s"both pair-join sides must read the same cut:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "the pair stage must stay keyed on the shingle hash")
  }

  test("d12 span dedup: hot-shingle guard never windows by the gram key") {
    val p = plan("d12_span_dedup")
    // the guard counts grams via a map-side-combinable groupBy and
    // anti-joins a broadcast hot-gram list; a count-over-Window
    // partitionBy(g) here would send every occurrence of a boilerplate
    // shingle to ONE window partition — the exact skew the guard exists
    // to defuse. Windows keyed by (doc_a, doc_b, d) / doc_id (the run
    // and merge stages) are fine; a gram-keyed one is the regression.
    // (At sf0.001 nothing is hot, so AQE's empty-relation propagation
    // erases the anti-join itself — the guard's zero-cost fast path;
    // its join shape is pinned on a hot fixture below.)
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && l.contains("windowspecdefinition(g#")),
      s"hot-shingle guard regressed to a gram-keyed window:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("LeftAnti")),
      s"the hot-gram list must never arrive via a shuffle join:\n$p")
  }

  test("d18 cross spans: no gram-keyed window on either guard") {
    val p = plan("d18_cross_spans")
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && l.contains("windowspecdefinition(g#")),
      s"a guard regressed to a gram-keyed window:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("LeftAnti")),
      s"the hot-gram list must never arrive via a shuffle join:\n$p")
  }

  test("span hot-gram guard: a HOT gram leaves via a broadcast anti-join") {
    // fixture with a genuinely hot shingle (12 > maxOcc=2 occurrences)
    // so AQE cannot erase the guard: the hot list must meet the index
    // as a BROADCAST anti-join — the skew-safe form
    import spark.implicits._
    // a boilerplate shingle in all 12 docs (hot, dropped by the guard)
    // plus a 2-doc shared run (cold, survives) so the RESULT is
    // non-empty and AQE cannot collapse the plan to EmptyRelation
    val docs = Seq.tabulate(12) { i =>
      val tail = if (i < 2) "alpha beta gamma delta epsilon"
                 else s"unique$i word$i tail$i extra$i more$i"
      (i.toLong, s"shared boilerplate header text $tail")
    }.toDF("doc_id", "text")
    val p = planOf(graft.operators.Dedup.spanDedup(
      docs, "doc_id", "text", minTokens = 3, maxOcc = 2))
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"hot grams must leave via a broadcast anti-join:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && l.contains("windowspecdefinition(g#")),
      s"hot-shingle guard regressed to a gram-keyed window:\n$p")
  }

  test("d13 paragraph dedup: canonical pick is an aggregate, never a window") {
    val p = plan("d13_paragraph_dedup")
    // the canonical (min id, min para_idx) occurrence per fingerprint
    // comes from a map-side-combinable groupBy + join-back; a
    // row_number window keyed by the fingerprint would funnel every
    // occurrence of a hot paragraph (cookie banner, license footer) —
    // full text included — into ONE window partition at crawl scale.
    // The only window allowed on this path is d13's own output ordering
    // (none — it sorts via Exchange rangepartitioning).
    assert(!p.contains("windowspecdefinition"),
      s"canonical pick regressed to a window:\n$p")
    assert(p.linesIterator.exists(_.contains("partial_min")),
      s"expected a map-side-combined min(struct) aggregate:\n$p")
  }

  test("q40 url filter: blocklist broadcasts, corpus side never shuffles") {
    val p = plan("q40_url_filter")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"the config-sized blocklist must broadcast-anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "a shuffle join would reshuffle the 100 TB corpus against a config list")
    assert(scans(p) == 1, s"expected a single corpus scan:\n$p")
    assert(shuffles(p) == 1, s"only the orderBy may shuffle:\n$p")
  }

  test("t09 pii: narrow regexp pass — one scan, no join, sort only") {
    val p = plan("t09_pii")
    assert(scans(p) == 1)
    assert(shuffles(p) == 1, s"only the orderBy may shuffle:\n$p")
    assert(!p.contains("Join"), "counts + redaction must ride one pass")
  }

  test("t08 repetition: pure narrow expressions — one scan, sort only") {
    val p = plan("t08_repetition")
    assert(scans(p) == 1)
    assert(shuffles(p) == 1, s"only the orderBy may shuffle:\n$p")
    assert(!p.contains("Join"), "repetition ratios must not join anything")
  }

  test("t12 chunking: narrow stepped-explode — one scan, sort only, no join") {
    val p = plan("t12_chunk_tokens")
    assert(scans(p) == 1, s"expected a single corpus scan:\n$p")
    assert(shuffles(p) == 1, s"only the orderBy may shuffle:\n$p")
    assert(!p.contains("Join"), "chunking must not join anything")
  }

  test("d16 bloom sweep: the corpus path carries NO join at all") {
    val p = plan("d16_bloom_decontaminate")
    // the whole point of the packed-bits broadcast literal: membership is
    // a narrow expression, so the 100 TB side sees only its own
    // spread/aggregate/sort exchanges — never a join of any kind
    assert(!p.contains("Join"), s"bloom membership must not join:\n$p")
    assert(scans(p) == 1, s"expected a single corpus scan:\n$p")
  }

  test("s10 kmeans labels: size join broadcasts, corpus never sort-merges") {
    val p = plan("s10_kmeans_clusters")
    assert(p.contains("BroadcastHashJoin"),
      "the nCells-row size table must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a shuffle join against a 16-row size table would reshuffle the corpus")
  }

  test("t15 bm25: the query-term table broadcasts into the postings join") {
    val p = plan("t15_bm25_topk")
    // the postings restriction is the scale lever: the corpus-sized tf
    // table must meet the benchmark-sized query terms via broadcast,
    // never by reshuffling the postings on term. Asserting "some
    // BroadcastHashJoin exists" would be satisfied by an AQE-broadcast
    // dfreq/dl join, so pin the absence of any term-keyed shuffle join
    // (the dl join on doc is allowed to sort-merge)
    assert(p.contains("BroadcastHashJoin"),
      s"query terms must broadcast into tf:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("term")),
      s"postings must never meet query terms via a term shuffle join:\n$p")
  }

  test("q41 domain cap: rank limit pushed below the host exchange") {
    val p = plan("q41_domain_cap")
    // the Zipf-host defense is Catalyst's, and this pins it: a PARTIAL
    // WindowGroupLimit before the host shuffle caps what each map task
    // forwards per host, so a hot host's reducer input is bounded by
    // cap x mapTasks no matter the corpus size
    assert(p.linesIterator.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected a map-side Partial WindowGroupLimit:\n$p")
    assert(shuffles(p) == 2,
      s"expected one host exchange plus the output sort, got:\n$p")
  }

  test("d19 url dedup: keep-1 rank limit pushed below the canonical-key exchange") {
    val p = plan("d19_url_dedup")
    // dedupByCanonicalUrl delegates to capPerDomain, so a viral canonical
    // URL inherits the same map-side bound: at most 1 row per key leaves
    // each map task
    assert(p.linesIterator.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected a map-side Partial WindowGroupLimit:\n$p")
    assert(scans(p) == 1, s"expected one corpus scan, got:\n$p")
  }

  test("t24 embedding + d20 cdc chunks: pure narrow passes — one scan, sort only") {
    for (name <- Seq("t24_hashed_embedding", "d20_cdc_chunks")) {
      val p = plan(name)
      // d20 runs the STREAMED chunker: the corpus scan lives inside the
      // mapPartitions RDD lineage, so the SQL plan shows one ExistingRDD
      // leaf instead of the FileScan; either way it is ONE pass
      val oneScan = scans(p) == 1 ||
        (scans(p) == 0 && p.contains("Scan ExistingRDD"))
      assert(oneScan, s"$name: expected one corpus pass:\n$p")
      // the only exchange is the contract ORDER BY — embedding folds and
      // chunk cuts never leave their row
      assert(shuffles(p) == 1, s"$name: expected the output sort only:\n$p")
      assert(!p.contains("Join"), s"$name: expected no join:\n$p")
    }
  }

  test("m06 keyframes: one blob-key exchange plus output sort, one scan") {
    val p = plan("m06_keyframes")
    // chunking is a narrow explode; the only data shuffle is the per-blob
    // window (lag needs blob-local order), then the contract output sort
    assert(shuffles(p) == 2,
      s"expected the blob exchange plus the output sort, got:\n$p")
    assert(scans(p) == 1, s"expected one corpus scan, got:\n$p")
  }

  test("s14 filtered ANN: queries broadcast with the key equality, no shuffle join") {
    val p = plan("s14_ann_filtered_topk")
    // the key restriction must ride the broadcast-join condition as a
    // map-side filter — a shuffle join keyed on the label would
    // repartition the 100 TB corpus by a low-cardinality key (worst-case
    // skew) just to apply a filter
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"key equality regressed to a corpus shuffle:\n$p")
  }

  test("q48 point lookup: pruned scan carries the pushed PK predicate") {
    val df = SparkEntry.queries("q48_point_lookup")(spark, sf)
    val p = planOf(df)
    // the lookup path's scan must show the In(...) filter pushed into
    // parquet (row-group stats skipping inside the surviving buckets);
    // no join anywhere — the inline-keys form is a pure filtered scan
    val lookupScan = p.linesIterator.filter(_.contains("FileScan"))
      .filter(_.contains("o_orderkey")).toSeq
    // a 1-key fixture folds In to EqualTo — either form proves pushdown
    assert(lookupScan.exists(l => l.contains("In(o_orderkey") ||
        l.contains("EqualTo(o_orderkey")),
      s"PK predicate not pushed into the lookup scan:\n$p")
    // and the lookup's file index lists ONLY the keys' bucket dirs (the
    // manifest pruned the 32-bucket table before planning). Asserted on
    // the REAL file list, not the plan's `Location:` display string —
    // Spark truncates that at spark.sql.maxMetadataStringLength, so a
    // longer data-dir prefix silently pushes `__b=` past the cut.
    val storeFiles = df.inputFiles.filter(_.contains("__b="))
    assert(storeFiles.nonEmpty,
      s"lookup read no store bucket dirs: ${df.inputFiles.mkString(", ")}")
    val buckets = storeFiles.map { f =>
      val i = f.indexOf("__b=")
      f.substring(i, f.indexOf('/', i))
    }.toSet
    assert(buckets.size == 1,
      s"single-bucket key set scanned ${buckets.size} buckets: $buckets")
  }

  test("d23 scaled decontamination: corpus meets only the probe set, never an NL join") {
    val p = plan("d23_decontaminate_scaled")
    // the candidate restriction must arrive map-side as a broadcast
    // semi-join on the tiny probe-bucket set — the whole point of the
    // scaled form is that the bench itself never rides a broadcast
    // nested-loop over the corpus
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"candidate restriction must be a broadcast semi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
      s"scaled form must never NL-join the bench:\n$p")
  }

  test("q52 distinct-count IVM: no window, map-side-combined delta") {
    val p = plan("q52_ivm_distinct")
    // the delta and the view merge are aggregates + one join — a window
    // on (grp, val) would funnel hot values; partial_count proves the
    // delta combines map-side
    assert(!p.contains("windowspecdefinition"),
      s"distinct maintenance regressed to a window:\n$p")
    assert(p.linesIterator.exists(_.contains("partial_count")),
      s"expected map-side partial aggregation:\n$p")
  }
}
