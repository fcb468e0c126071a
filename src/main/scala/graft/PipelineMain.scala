package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import org.apache.spark.sql.DataFrame

import graft.catalog.{Catalog, InMemoryCatalog, MergeSnapshotStore, SessionCatalog, TableMeta}
import graft.ingest.GgLogsToParquet
import graft.operators.{ChangeLogApplier, CuratedApplier, Dedup, DomainRunner, Graphs, Ivm, Materialize, PrefixScan, QueryRunner, Sampling, Scd, Similarity, TextAnalysis, UrlFilter}

/**
 * One-command end-to-end run of the five reference stages on the
 * reference's own fixtures (run order per
 * dev/_dummy_records_run_order.txt:8-14):
 *
 *   1. gg_logs_to_parquet   raw GG JSON logs -> hashed parquet landing
 *   2. apply_change_log     landing I/U/D events -> structured snapshots
 *   3. apply_to_curated     structured -> curated promotion
 *   4. apply_to_domains     definition CSV SQL -> domain snapshot
 *   5. glue_query           ad-hoc projection + predicate (demo_querys:3)
 *
 * plus sixteen training-data stages beyond the reference's surface:
 *
 *   6. fused dedup pipeline    pairs -> clusters -> keep from ONE pair
 *                              graph, kept corpus landed as a table
 *   7. quality gate            conjunctive quality/repetition/
 *                              familiarity keep decision (t11 operator)
 *   8. mixture rebalance       content-keyed downsample to target
 *                              language weights (the d10 operator)
 *   9. shard packing           contiguous fixed-token training shards,
 *                              no single-task window (the q39 operator)
 *  10. decontamination sweep   IVF range search quarantines corpus
 *                              vectors near probe/benchmark vectors
 *                              (the s09 operator)
 *  11. window chunking         fixed-token training windows cut from
 *                              the rebalanced corpus, token-conserving,
 *                              packed into shards (t12 + q39 compose)
 *  12. per-domain cap          C4-style host attribution + at most N
 *                              docs per host, longest kept (the q41
 *                              operator)
 *  13. retrieval stack         BM25 + sign-LSH + IVF channels, RRF
 *                              fusion, recall@k vs brute force
 *  14. URL-level dedup         crawl variants of one page collapse to
 *                              a canonical form, best copy kept (the
 *                              d19 operator)
 *  15. incremental aggregates  a snapshot edit's changelog folded into
 *                              a per-host aggregate, proven equal to
 *                              the from-scratch recompute (q45 + q46)
 *  16. sentence hygiene        sentence segmentation + cross-document
 *                              boilerplate-sentence removal (t25 + d21)
 *  17. store serving           PK-keyed corpus + maintained aggregate
 *                              commit together; version diff rebuilds
 *                              the changelog; bucket-pruned point
 *                              lookups; zone-mapped box query (q48 +
 *                              q49/q52 + q51 + q53 composed)
 *  18. served analytics        the store's own file stats answer a
 *                              range scan pruned-and-exact; the
 *                              dashboard time-travels to its pre-edit
 *                              version; link-graph centrality ranks
 *                              the curated hosts (q55 + replay + q57)
 *  19. storage maintenance     the manifest-only advisor fires on a
 *                              smeared layout, cluster-on-compact
 *                              restores pruning, value-set equality
 *                              scans prune, HLL dashboard == exact
 *  20. row-level DML           updateWhere relabels a cohort in place,
 *                              deleteWhere purges a predicate, the
 *                              pure-D change feed folds the dashboards,
 *                              readWhere plans pruned-and-exact; a
 *                              merge-on-read takedown lands as ONE key
 *                              sidecar (no bucket moves), serves masked
 *                              through the skipping SQL view, and
 *                              compaction folds it flat
 *  21. theta-triage decontam   one overlap-sketch pass gates the exact
 *                              span machinery per shard; the gate is
 *                              asserted LOSSLESS against the ungated
 *                              run (d24 -> d17 composition)
 *
 *   sbt "runMain graft.PipelineMain [workDir]"
 *
 * Exits non-zero if any stage invariant fails.
 */
object PipelineMain {
  private val Db = "pipeline"

  /** What the reference arc produced — everything main's stage gates
   * (and the catalog-equivalence spec) inspect after the run. */
  final case class ReferenceArc(
      store: MergeSnapshotStore,
      landed: DataFrame,
      beforeOffenders: Long,
      applied: Seq[String],
      curated: Seq[String],
      made: Seq[String],
      query: DataFrame)

  /**
   * Stages 1–5 — the reference's five-executable Glue arc (ingest →
   * change-log apply → curated → domains → ad-hoc query, run order per
   * reference dev/_dummy_records_run_order.txt:8-14) — against an
   * arbitrary [[Catalog]]. The arc is catalog-implementation-blind:
   * the same run works over the in-memory map and over Spark's session
   * metastore ([[SessionCatalog]] — the surface a cluster points at
   * Glue/HMS by conf), which is exactly the reference's deployment
   * story (its jobs resolve locations and PKs through Glue). The
   * domain stage's schema registration exercises the metastore
   * data-schema refresh path on the session-catalog run.
   */
  def referenceArc(spark: SparkSession, catalog: Catalog, work: String,
                   refData: String, db: String = Db): ReferenceArc = {
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 16)
    catalog.register(TableMeta(db, "raw_events", s"$work/raw_events",
      partitionBy = GgLogsToParquet.PartitionBy))
    Seq("offenders", "offender_bookings").foreach { t =>
      catalog.register(TableMeta(db, t, s"$work/$t", primaryKey = Seq("offender_id")))
      catalog.register(TableMeta(db, s"${t}_curated", s"$work/${t}_curated"))
    }
    catalog.register(TableMeta(db, "domain1_off_book", s"$work/domain1_off_book"))

    // 1. ingest the raw JSON logs: the I/U/D dirs have ragged schemas
    // (inserts lack `before`), unioned by name like the reference's
    // union_dfs (gg_logs_to_parquet.py:216-226)
    val rawRoot = s"$refData/kinesis/transac/json/oms_owner/offenders"
    val raw = GgLogsToParquet.unionRagged(
      Seq("base", "inserts", "deletes").map(d =>
        GgLogsToParquet.readRaw(spark, s"$rawRoot/$d")))
    store.appendPartitioned(db, "raw_events", GgLogsToParquet.ingest(raw))
    val landed = store.readFlat(db, "raw_events")

    // 2. bootstrap structured targets, then merge the change log
    store.overwrite(db, "offenders",
      spark.read.parquet(s"$refData/database/oms_owner/offenders"))
    store.overwrite(db, "offender_bookings",
      spark.read.parquet(s"$refData/database/oms_owner/offender_bookings"))
    val before = store.read(db, "offenders").count()
    val applied = ChangeLogApplier.run(spark, store, db, landed)

    // 3. curated promotion (identity hook)
    val curated = new CuratedApplier(store).run(db, applied)

    // 4. domain materialization from the definitions CSV
    val made = new DomainRunner(spark, store).run(db,
      s"$refData/database/domain_definitions/domain_table_1.csv",
      changedTables = applied)

    // 5. ad-hoc query (docs/demo_querys:3)
    val query = new QueryRunner(store).run(db, "offenders",
      Seq("offender_id", "title", "first_name", "last_name", "birth_date"),
      "offender_id > 15")
    ReferenceArc(store, landed, before, applied, curated, made, query)
  }

  def main(args: Array[String]): Unit = {
    val work =
      if (args.nonEmpty) args(0)
      else Files.createTempDirectory("graft-pipeline").toString
    val refData = sys.env.getOrElse("GRAFT_REF_DATA", "/root/reference/tests/data/dummy")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.caseSensitive", "false")
      .config("spark.ui.enabled", "false")
      // events.parquet is TIMESTAMP(NANOS); declared here so the
      // events() helper's conf dependency is visible at session build
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def stage(n: Int, what: String)(ok: => Boolean): Unit = {
      if (!ok) { System.err.println(s"[pipeline] FAIL stage $n: $what"); sys.exit(1) }
      println(s"[pipeline] stage $n ok: $what")
    }

    // the incremental MERGE backend end-to-end: CDC batches commit only
    // the PK-hash buckets they touch (stage-2 assert below proves it).
    // GRAFT_CATALOG=session runs the arc over Spark's session metastore
    // (the Glue/HMS seam) instead of the in-memory map — same stages,
    // same gates.
    val catalog: Catalog = sys.env.get("GRAFT_CATALOG") match {
      case Some("session") => new SessionCatalog(spark)
      case _ => new InMemoryCatalog
    }
    val arc = referenceArc(spark, catalog, work, refData)
    val store = arc.store
    val landed = arc.landed

    val nLanded = landed.count()
    stage(1, s"ingest -> $nLanded hashed, date-partitioned events") {
      nLanded > 0 &&
        landed.columns.map(_.toLowerCase).toSet
          .intersect(Set("after_hash", "part_date")).size == 2 &&
        !landed.columns.map(_.toLowerCase).contains("tokens")
    }

    val before = arc.beforeOffenders
    val applied = arc.applied
    val after = store.read(Db, "offenders").count()
    // scoped-commit proof: every bucket the batch's keys did NOT touch
    // must be carried into v1 by reference (same data dir, no rewrite).
    // Keys hash through the TARGET's pk type — mapEvents casts them there
    val v0 = store.manifestEntries(Db, "offenders", 0)
    val v1 = store.manifestEntries(Db, "offenders", 1)
    val pkType = store.committedSchema(Db, "offenders")("offender_id").dataType
    val touched = landed
      .selectExpr("coalesce(after.OFFENDER_ID, before.OFFENDER_ID) AS k")
      .na.drop()
      .select(store.bucketOf(col("k").cast(pkType)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val untouchedCarried = (v0.keySet -- touched).forall(b => v1.get(b) == v0.get(b))
    val carried = v0.keySet.intersect(v1.keySet).count(b => v0(b) == v1(b))
    stage(2, s"change-log apply -> tables=$applied, offenders $before -> $after rows, " +
        s"${touched.size} buckets touched, $carried carried by reference") {
      applied == Seq("offenders") && after > before && untouchedCarried
    }

    // 3. curated promotion (identity hook)
    val curated = arc.curated
    stage(3, s"curated -> $curated") {
      curated == Seq("offenders_curated") &&
        store.read(Db, "offenders_curated").count() == after
    }

    // 4. domain materialization from the definitions CSV
    val made = arc.made
    val domain = store.read(Db, "domain1_off_book")
    stage(4, s"domains -> $made, ${domain.count()} rows, " +
        s"schema registered=${catalog(Db, "domain1_off_book").schema.isDefined}") {
      made == Seq("domain1_off_book") &&
        domain.columns.contains("offender_name") && domain.count() > 0 &&
        catalog(Db, "domain1_off_book").schema.isDefined
    }

    // 5. ad-hoc query (docs/demo_querys:3)
    val q = arc.query.cache()
    q.show(10, truncate = false)
    val nQ = q.count()
    stage(5, s"query -> $nQ rows with offender_id > 15") {
      nQ > 0 && q.filter(col("offender_id") <= 15).count() == 0
    }

    // 6. training-data dedup: the fused pairs -> clusters -> keep
    // pipeline over the synthetic documents corpus — one pair-graph
    // computation feeds all three answers, and the kept corpus lands as
    // a catalog table like any other snapshot
    val docsPath = sys.env.getOrElse("GRAFT_DOCS_DATA",
      "/root/testdata/sf0.001/documents.parquet")
    val docs = spark.read.parquet(docsPath)
    val dd = Dedup.dedupPipeline(docs, "doc_id", "text", n = 1, threshold = 0.95)
    val nDocs = docs.count()
    val nPairs = dd.pairs.count()
    val nDrop = dd.labels.filter(col("doc") =!= col("cluster")).count()
    val nKeep = dd.keep.count()
    catalog.register(TableMeta(Db, "documents_kept", s"$work/documents_kept"))
    store.overwrite(Db, "documents_kept", dd.keep)
    stage(6, s"dedup pipeline -> $nPairs pairs, $nDrop non-canonical dropped, " +
        s"$nKeep of $nDocs kept") {
      nPairs > 0 && nDrop > 0 && nKeep + nDrop == nDocs &&
        store.read(Db, "documents_kept").count() == nKeep
    }
    Materialize.releaseAll()

    // 7. quality gate (the t11 operator): conjunctive keep decision
    // over quality score, repetition ratios, and trigram familiarity
    // of the DEDUPED corpus (familiarity is corpus-relative, so the
    // threshold is set for the post-dedup document count)
    val dedupedAll = store.read(Db, "documents_kept")
    val nDeduped = dedupedAll.count()
    // landed as a table (the stage-6 precedent): stages 8-10 fire several
    // driver actions each, and an unlanded gate would replay the feature
    // pipeline and familiarity join for every one of them
    catalog.register(TableMeta(Db, "documents_gated", s"$work/documents_gated"))
    store.overwrite(Db, "documents_gated", dedupedAll.join(
      TextAnalysis.qualityGate(dedupedAll, "doc_id", "text",
        minQualityBp = 5500, maxRep2 = 0.05, maxRep3 = 0.05,
        minFamiliarity = 150.0).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    val gated = store.read(Db, "documents_gated")
    val nGated = gated.count()
    stage(7, s"quality gate -> $nGated of $nDeduped deduped docs pass") {
      nGated > 0 && nGated < nDeduped
    }

    // 8. mixture rebalance (the d10 operator): downsample the gated
    // corpus to target language weights — content-keyed, so retries and
    // repartitions keep the same rows; the binding class keeps all
    val targets = Map("en" -> 2.0, "fr" -> 1.0, "es" -> 1.0,
      "de" -> 1.0, "zh" -> 1.0)
    val kept = gated
    val keptCounts = kept.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mixed = Sampling.mixtureSample(kept, "lang", "doc_id", targets)
    val mixCounts = mixed.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMixed = mixCounts.values.sum
    stage(8, s"mixture rebalance -> $nMixed rows: " +
        mixCounts.toSeq.sorted.map { case (c, n) => s"$c=$n" }.mkString(", ")) {
      mixCounts.nonEmpty && mixCounts.keySet.subsetOf(targets.keySet) &&
        mixCounts.forall { case (c, n) => n <= keptCounts(c) } &&
        // the binding class (min n/w) is kept in full by contract
        mixCounts.exists { case (c, n) => n == keptCounts(c) }
    }

    // 9. token-budget shard packing (the q39 operator) of the rebalanced
    // corpus — the step that turns a corpus into contiguous fixed-token
    // training shards without a single-task global window
    val budget = 5000L
    val packed = PrefixScan.packShards(
      mixed.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", budget)
    val nPacked = packed.count()
    // contract checks as aggregates (no row collect): every doc's start
    // offset inside its shard's token range, shard ids contiguous from 0
    val misplaced = packed.filter(
      col("cum_tokens") - col("n_tokens") < col("shard") * budget ||
        col("cum_tokens") - col("n_tokens") >= (col("shard") + 1) * budget).count()
    val nShards = packed.select("shard").distinct().count()
    val Array(maxShard, maxDocTokens) = packed
      .agg(max("shard"), max(col("n_tokens").cast("long")))
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    stage(9, s"shard packing -> $nPacked docs into $nShards shards of <=$budget tokens") {
      // contiguity holds only while no single doc overflows the budget
      // (an over-budget doc SKIPS shard ids by the floor contract)
      nPacked == nMixed && misplaced == 0 && maxShard >= 0 &&
        (maxDocTokens > budget || nShards == maxShard + 1)
    }
    Materialize.releaseAll() // packShards' internal range cut

    // 10. decontamination sweep (the s09 operator): quarantine every
    // corpus vector within cosine radius of a probe (benchmark) vector;
    // the probed-cell restriction bounds per-probe scan cost by design
    val embPath = sys.env.getOrElse("GRAFT_EMB_DATA",
      "/root/testdata/sf0.001/embeddings.parquet")
    val emb = spark.read.parquet(embPath)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val hits = Similarity.ivfRangeSearch(emb, probes, "vec_id", "embedding",
      threshold = 0.3)
    val contaminated = hits.select(col("neighbor_id").as("vec_id")).distinct()
    val nContam = contaminated.count()
    val nClean = emb.join(contaminated, Seq("vec_id"), "left_anti").count()
    stage(10, s"range-search decontamination -> $nContam quarantined, $nClean clean") {
      nContam > 0 && nContam + nClean == emb.count()
    }
    Materialize.releaseAll()

    // 11. training-window chunking (the t12 operator): the rebalanced
    // corpus cut into fixed 128-token windows (stride = window size:
    // exact cover, no overlap), then the WINDOWS packed into
    // token-budget shards — the final corpus -> training-shard step,
    // composing t12 with the q39 packer on a window-grain key
    val windows = TextAnalysis.chunkTokens(mixed, "doc_id", "text",
      chunkSize = 128, stride = 128)
    val nWindows = windows.count()
    val totTokens = mixed
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")))
      .head.getLong(0)
    val winTokens = windows.agg(sum("n_tokens")).head.getLong(0)
    val oversized = windows.filter(col("n_tokens") > 128).count()
    // zero-padded string key: lexicographic order == (doc, chunk) order
    // while doc_id is non-negative and chunk_id fits 10 digits (~1.3T
    // tokens per doc at stride 128 — far past any real corpus); an
    // arithmetic doc*K+chunk key would silently collide once a document
    // exceeds K windows, and packShards' order-key contract requires
    // uniqueness
    val packedW = PrefixScan.packShards(
      windows.select(
        format_string("%019d:%010d", col("doc_id"), col("chunk_id")).as("win_id"),
        col("n_tokens")),
      "win_id", "n_tokens", budget = 4096L)
    val nShardsW = packedW.select("shard").distinct().count()
    stage(11, s"window chunking -> $nWindows windows from $nMixed docs, " +
        s"$winTokens tokens conserved, $nShardsW window shards") {
      nWindows >= nMixed && winTokens == totTokens && oversized == 0 &&
        nShardsW > 0 && packedW.count() == nWindows
    }

    // 12. per-domain cap (the q41 operator): crawl-style host
    // attribution, then at most `cap` docs per host, longest kept —
    // the keep count per host must be exactly min(cap, host size) and
    // every kept doc must be at least as long as every dropped one
    val hosts = mixed.select(col("doc_id"),
      element_at(array(lit("en.wikipedia.org"), lit("github.com"),
        lit("docs.python.org"), lit("arxiv.org"), lit("news.example.com")),
        (col("doc_id") % 5 + 1).cast("int")).as("host"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val cap = 10
    val capped = UrlFilter.capPerDomain(hosts, "host", "n_tokens", "doc_id", cap)
    val hostN = hosts.groupBy("host").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val capN = capped.groupBy("host").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptMin = capped.groupBy("host").agg(min("n_tokens").as("m"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val droppedMax = hosts
      .join(capped.select("doc_id"), Seq("doc_id"), "left_anti")
      .groupBy("host").agg(max("n_tokens").as("m"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val nCapped = capN.values.sum
    stage(12, s"domain cap -> $nCapped of $nMixed docs across " +
        s"${capN.size} hosts (cap $cap, ${droppedMax.size} hosts capped)") {
      capN.keySet == hostN.keySet && droppedMax.nonEmpty &&
        capN.forall { case (h, n) => n == math.min(cap.toLong, hostN(h)) } &&
        // boundary order: ties may straddle the cut, strict longer never drops
        droppedMax.forall { case (h, m) => keptMin(h) >= m }
    }
    Materialize.releaseAll()

    // 13. retrieval stack end-to-end (the t15/s02/s03/s11/s13 harness):
    // sign-LSH and IVF candidates over the embeddings, RRF-fused, recall
    // measured against brute-force ground truth — fusion's contract is
    // that two channels with different blind spots recover neighbors
    // either alone misses; plus the sparse BM25 channel over the curated
    // text corpus fused cross-modally with the dense list (structural:
    // every fused candidate must come from one of its channels)
    // each channel feeds several consumers below (recall, fusion, the
    // source check) — cut them once instead of re-running corpus-wide
    // join+window jobs per driver action
    val kRet = 10
    val retQ = emb.filter(col("vec_id") % 100 === 0)
    val sign = Materialize.eager(Similarity.signTopK(emb, retQ, "vec_id",
      "embedding", k = kRet, planes = 4))
    val ivf = Materialize.eager(Similarity.ivfTopK(emb, retQ, "vec_id",
      "embedding", k = kRet, nCells = 16, probes = 4))
    val fused = Similarity.rrfFuse(sign, ivf, k = kRet)
    val truth = Materialize.eager(
      Similarity.bruteForceTopK(emb, retQ, "vec_id", "embedding", kRet))
    def meanRecall(ch: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(ch, truth, kRet)
        .agg(avg("recall")).head.getDouble(0)
    val (rSign, rIvf, rFused) = (meanRecall(sign), meanRecall(ivf), meanRecall(fused))
    // cross-modal: BM25 doc candidates (doc_id == vec_id in the fixture)
    // fused with the dense sign list
    val bmQ = mixed.filter(col("doc_id").isin(
      retQ.select("vec_id").collect().map(_.getLong(0)).toSeq: _*))
    val bm = Materialize.eager(
      TextAnalysis.bm25TopK(mixed, bmQ, "doc_id", "text",
          k = kRet, maxDfFrac = 1.0)
        .select(col("query_id"), col("rank"), col("doc_id").as("neighbor_id")))
    val cross = Similarity.rrfFuse(bm, sign, k = kRet)
    val nCross = cross.count()
    val sources = bm.select(col("query_id"), col("neighbor_id"))
      .unionByName(sign.select(col("query_id"), col("neighbor_id"))).distinct()
    val orphan = cross.join(sources, Seq("query_id", "neighbor_id"), "left_anti")
      .count()
    // fused >= each channel holds on the pinned fixture (and is the
    // point of running the harness: catching a fusion regression); it
    // is NOT an RRF theorem — two channels agreeing on k mediocre
    // candidates can outvote a truth hit one channel found alone — so
    // on overridden data (GRAFT_EMB_DATA) only the floor is asserted
    val fixtureEmb = !sys.env.contains("GRAFT_EMB_DATA")
    stage(13, f"retrieval -> recall@$kRet sign $rSign%.3f, ivf $rIvf%.3f, " +
        f"fused $rFused%.3f over ${retQ.count()} queries; " +
        s"cross-modal fused $nCross rows, $orphan orphans") {
      (!fixtureEmb || (rFused >= rSign && rFused >= rIvf)) &&
        rFused >= math.min(rSign, rIvf) && rFused > 0.0 &&
        orphan == 0 && nCross > 0 &&
        bm.groupBy("query_id").count().collect().forall(_.getLong(1) <= kRet)
    }
    Materialize.releaseAll()

    // 14. URL-level dedup (the d19 operator): each doc is a crawl of a
    // page; docs sharing (host, page) arrive as DIFFERENT surface URLs
    // (tracking params, www + default port, trailing slash) and must
    // collapse to one canonical key with the longest copy kept
    val crawled = Materialize.eager(
      hosts.select(col("doc_id"), col("host"), col("n_tokens"),
      concat(lit("https://"),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
        col("host"),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 3 === 1, lit("/?utm_source=crawl"))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 2, lit("#top")).otherwise(lit("")))
        .as("url")))
    val nCrawled = crawled.count()
    val urlKept = Materialize.eager(
      UrlFilter.dedupByCanonicalUrl(crawled, "url", "n_tokens", "doc_id"))
    val nKept = urlKept.count()
    // ground the output against the INPUT's canonical groups: exactly
    // one row per group, and every kept row carries its group's max
    val groups = crawled
      .withColumn("canon_url", UrlFilter.canonicalizeUrl(col("url")))
      .groupBy("canon_url").agg(max("n_tokens").as("mx"))
    val nCanonIn = groups.count()
    val notBest = urlKept.join(groups, Seq("canon_url"))
      .filter(col("n_tokens") =!= col("mx")).count()
    stage(14, s"url dedup -> $nCrawled crawls collapse to $nKept " +
        s"canonical pages ($notBest non-best kept)") {
      nKept == nCanonIn && nKept < nCrawled && notBest == 0
    }
    Materialize.releaseAll()

    // 15. incremental aggregate maintenance (q45 + q46 compose): a
    // snapshot edit — deletes, in-place updates, host MOVES, inserts —
    // diffs into a changelog that folds into the per-host (count, token
    // sum) aggregate; the maintained table must equal the from-scratch
    // recompute over the new snapshot, while the fold itself only ever
    // touches changelog-sized inputs plus the group-cardinality merge
    val oldHosts = hosts.select(col("doc_id"), col("host"),
      col("n_tokens").cast("long").as("n_tokens"))
    val newHosts = oldHosts
      .filter(col("doc_id") % 13 =!= 0) // deletes
      .withColumn("host", when(col("doc_id") % 11 === 0,
        lit("mirror.example.org")).otherwise(col("host"))) // group moves
      .withColumn("n_tokens", when(col("doc_id") % 7 === 0,
        col("n_tokens") + 5).otherwise(col("n_tokens"))) // in-place updates
      .unionByName(oldHosts.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("fresh.example.net").as("host"), col("n_tokens"))) // inserts
    val ivmBase = Ivm.countSumAgg(oldHosts, col("host"), col("n_tokens"))
    val ivmChanges = Materialize.eager(
      Scd.snapshotDiff(oldHosts, newHosts, Seq("doc_id")))
    val changeKinds = ivmChanges.groupBy("change").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val maintained = Ivm.applyCountSumDelta(ivmBase, oldHosts, ivmChanges,
      Seq("doc_id"), col("host"), col("n_tokens"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (gotAgg, scratchAgg) =
      (asMap(maintained), asMap(Ivm.countSumAgg(newHosts, col("host"), col("n_tokens"))))
    stage(15, s"ivm -> changelog ${ivmChanges.count()} rows " +
        s"(${changeKinds.getOrElse("I", 0L)}I/${changeKinds.getOrElse("U", 0L)}U/" +
        s"${changeKinds.getOrElse("D", 0L)}D) maintains ${gotAgg.size} host " +
        s"aggregates == recompute") {
      gotAgg == scratchAgg && Seq("I", "U", "D").forall(changeKinds.contains) &&
        ivmChanges.count() < oldHosts.count()
    }
    Materialize.releaseAll()

    // 16. sentence hygiene (the t25 + d21 operators): the rebalanced
    // corpus is segmented into sentences and cross-document boilerplate
    // sentences are stripped — a shared footer planted on EVERY doc must
    // vanish from EVERY survivor while the cleaned corpus keeps real body
    // text
    val footer = "Follow us on social media today."
    val sentSrc = mixed.select(col("doc_id"), concat(
        regexp_replace(col("text"),
          "([a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ", "$1. "),
        lit(". " + footer)).as("text"))
    val cleaned = Materialize.eager(
      Dedup.removeBoilerplateSentences(sentSrc, "doc_id", "text", minDocs = 3))
    val nCleaned = cleaned.count()
    val leaked = cleaned.filter(col("text").contains(footer)).count()
    val emptied = cleaned.filter(length(trim(col("text"))) === 0).count()
    stage(16, s"sentence hygiene -> $nCleaned of $nMixed docs keep body " +
        s"text, footer leaked in $leaked, emptied $emptied") {
      nCleaned > 0 && nCleaned <= nMixed && leaked == 0 && emptied == 0
    }
    Materialize.releaseAll()

    // 17. store serving (the q48/q49/q51/q52/q53 arc composed): the
    // host-attributed corpus lands PK-keyed in the MERGE store with a
    // maintained per-host aggregate; a CDC edit batch commits through
    // both (scoped bucket rewrite + delta fold); the two committed
    // versions diff back into a changelog; point lookups plan only
    // their keys' buckets; and a zone-mapped copy answers a box query
    // file-pruned — every read path proven against its full-scan twin
    val srv = hosts.select(col("doc_id"), col("host"),
      col("n_tokens").cast("long").as("n_tokens"))
    catalog.register(TableMeta(Db, "docs_keyed", s"$work/docs_keyed",
      primaryKey = Seq("doc_id")))
    catalog.register(TableMeta(Db, "docs_agg", s"$work/docs_agg"))
    val served = new Ivm.MaintainedCountSum(store, Db, "docs_keyed",
      "docs_agg", col("host"), col("n_tokens"))
    served.seed(srv)
    val v0srv = store.latestVersion(Db, "docs_keyed")
    val srvNew = srv.filter(col("doc_id") % 31 =!= 0)
      .withColumn("n_tokens", when(col("doc_id") % 23 === 0,
        col("n_tokens") + 7).otherwise(col("n_tokens")))
    val srvEdits = Materialize.eager(Scd.snapshotDiff(srv, srvNew, Seq("doc_id")))
    served.commit(srvEdits)
    val v1srv = store.latestVersion(Db, "docs_keyed")
    def aggMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val aggOk = aggMap(served.read()) ==
      aggMap(Ivm.countSumAgg(store.read(Db, "docs_keyed"), col("host"),
        col("n_tokens")))
    val cdf = store.changesBetween(Db, "docs_keyed", v0srv, v1srv)
    val cdfKinds = cdf.groupBy("change").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val editKinds = srvEdits.groupBy("change").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lkKeys = srvNew.filter(col("doc_id") % 23 === 0).limit(3)
      .select("doc_id")
    val lk = store.pointLookup(Db, "docs_keyed", lkKeys)
    val lkFiles = lk.inputFiles.length
    val allFiles = store.read(Db, "docs_keyed").inputFiles.length
    val lkOk = lk.count() == lkKeys.count() && lkFiles < allFiles
    graft.catalog.Layout.writeClustered(srv, s"$work/docs_z",
      Seq("doc_id" -> None, "n_tokens" -> None), files = 16)
    val zBox = Map("doc_id" -> ((0.0, 200.0)), "n_tokens" -> ((50.0, 200.0)))
    val zGot = graft.catalog.Layout.readPruned(spark, s"$work/docs_z", zBox)
    val zWant = srv.filter(col("doc_id").between(0, 200) &&
      col("n_tokens").between(50, 200))
    val zOk = zGot.exceptAll(zWant).count() == 0 &&
      zWant.exceptAll(zGot).count() == 0
    stage(17, s"store serving -> maintained agg == recompute: $aggOk, " +
        s"cdf $cdfKinds vs edits $editKinds, lookup planned " +
        s"$lkFiles/$allFiles files, zone-map box ${zGot.count()} rows") {
      aggOk && cdfKinds == editKinds && cdfKinds.nonEmpty && lkOk && zOk
    }
    Materialize.releaseAll()

    // 18. the round-12 serving arcs composed over the SAME keyed table:
    // the store's own per-file stats answer a token-range scan exactly
    // (stats-in-manifest data skipping); the maintained dashboard
    // time-travels to its PRE-EDIT version via after-the-fact
    // changelogs (no changelog was recorded at write time); and
    // link-graph centrality ranks the hosts the curation stages
    // consumed — every path proven against its recompute twin
    val rGot = store.readRange(Db, "docs_keyed",
      Map("n_tokens" -> ((50.0, 150.0))))
    val rWant = store.read(Db, "docs_keyed")
      .filter(col("n_tokens").between(50, 150))
    val rangeOk = rGot.exceptAll(rWant).count() == 0 &&
      rWant.exceptAll(rGot).count() == 0
    // replay ACROSS the edit: seed at the pre-edit version, fold the
    // after-the-fact v0->v1 changelog, land on the LIVE dashboard —
    // the non-trivial path (a same-version replay would just re-seed)
    val replayed = served.replayTo(v0srv, v1srv)
    val replayOk = aggMap(replayed) == aggMap(served.read())
    // coprime moduli so the link graph is IRREGULAR (a single-modulus
    // arithmetic graph is a permutation — uniform ranks, nothing to
    // rank): hosts 11-12 receive no links and sink to the base rank,
    // hosts 0-10 accumulate real mass
    val hostEdges = srv.select((col("doc_id") % 13).as("src"),
      (col("doc_id") % 11).as("dst"))
    val pr = Graphs.pageRankMicro(hostEdges, "src", "dst", iterations = 3)
    val prTop = pr.orderBy(col("rank_micro").desc).limit(1)
      .collect().headOption.map(r => (r.getLong(0), r.getLong(1)))
    val prStats = pr.agg(min("rank_micro"), max("rank_micro")).head()
    // falsifiable: the base term alone gives every node >= 150000, so
    // ALSO require real mass propagation (max strictly above min)
    val prOk = pr.count() == 13 && prStats.getLong(0) >= 150000L &&
      prStats.getLong(1) > prStats.getLong(0)
    stage(18, s"served analytics -> stats-pruned range scan " +
        s"${rGot.count()} rows exact: $rangeOk, dashboard replay " +
        s"v$v0srv->v$v1srv == live: $replayOk, pagerank top host $prTop") {
      rangeOk && replayOk && prOk
    }
    Materialize.releaseAll()

    // 19. storage self-maintenance + sketched cardinality (round-15
    // arcs): scattered-arrival commits smear a keyed table's layout;
    // the advisor fires from the MANIFEST ALONE (no data I/O),
    // cluster-on-compact restores the prune fraction, and the advisor
    // goes quiet — the full maintenance loop. Alongside: an enum
    // dimension opted into value-set stats answers an equality read
    // from a pruned plan, and an HLL dashboard folded through an
    // insert-only batch matches its exact recompute (coupon regime).
    catalog.register(TableMeta(Db, "maint_docs", s"$work/maint_docs",
      primaryKey = Seq("doc_id")))
    store.overwrite(Db, "maint_docs", mixed.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("double").as("ntok")))
    val hB = store.maintenanceAdvisor(Db, "maint_docs", Seq("ntok")).head
    store.compactClustered(Db, "maint_docs", Seq("ntok" -> None),
      filesPerBucket = 4)
    val hA = store.maintenanceAdvisor(Db, "maint_docs", Seq("ntok")).head
    val mGot = store.readRange(Db, "maint_docs",
      Map("ntok" -> ((40.0, 90.0))))
    val mWant = store.read(Db, "maint_docs")
      .filter(col("ntok").between(40.0, 90.0))
    val maintOk = hA.expectedScanFraction < hB.expectedScanFraction &&
      !hA.compactAdvised &&
      mGot.exceptAll(mWant).count() == 0 &&
      mWant.exceptAll(mGot).count() == 0
    catalog.register(TableMeta(Db, "maint_enum", s"$work/maint_enum",
      properties = Map(MergeSnapshotStore.SetStatsProp -> "cls")))
    store.overwrite(Db, "maint_enum",
      mixed.select(col("doc_id"),
          concat(lit("cls"), (col("doc_id") % 4).cast("string")).as("cls"))
        .repartitionByRange(4, col("cls")))
    val eTotal = store.read(Db, "maint_enum").inputFiles.length
    val eGot = store.readEquals(Db, "maint_enum", Map("cls" -> Seq("cls2")))
    val eWant = store.read(Db, "maint_enum").filter(col("cls") === "cls2")
    val enumOk = eGot.inputFiles.length < eTotal &&
      eGot.exceptAll(eWant).count() == 0 &&
      eWant.exceptAll(eGot).count() == 0
    val hllAll = mixed.select(col("doc_id"), (col("doc_id") % 31).as("hv"))
    val hllS0 = hllAll.filter(col("doc_id") % 9 =!= 0)
    val hllSpec = Ivm.hllDistinctSpec("m_hll", col("doc_id") % 5, col("hv"))
    val hllFolded = hllSpec.fold(hllSpec.seed(hllS0), hllS0, hllAll,
      Scd.snapshotDiff(hllS0, hllAll, Seq("doc_id")), Seq("doc_id"))
    def hllCanon(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hllOk = hllCanon(Ivm.hllDistinctCount(hllFolded)) ==
      hllCanon(hllAll.groupBy((col("doc_id") % 5).as("grp"))
        .agg(countDistinct(col("hv")).as("dcnt")))
    stage(19, f"storage maintenance -> advisor ${hB.expectedScanFraction}%.2f" +
        f" -> ${hA.expectedScanFraction}%.2f, equality scan " +
        s"${eGot.inputFiles.length}/$eTotal files, hll == exact: $hllOk") {
      maintOk && enumOk && hllOk
    }
    Materialize.releaseAll()

    // 20. row-level DML on the governed store (round-15 arc): the
    // takedown request arrives AFTER the data landed — updateWhere
    // relabels a matched cohort in place (copy-on-write, only the
    // owning buckets rewrite), deleteWhere purges a predicate (found
    // through stats-pruned candidate files), the change feed exposes
    // the delete as pure D rows, and a count/sum dashboard folds that
    // feed to rebuild equality — deletes are ordinary version
    // transitions to every delta rule. readWhere closes the loop: an
    // arbitrary mixed predicate over the stage-19 CLUSTERED table
    // plans a pruned file set and still equals the full-scan filter.
    catalog.register(TableMeta(Db, "dml_docs", s"$work/dml_docs",
      primaryKey = Seq("doc_id")))
    store.overwrite(Db, "dml_docs", mixed.select(col("doc_id"),
      concat(lit("src"), (col("doc_id") % 3).cast("string")).as("src"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("ntok")))
    val relabeled = store.updateWhere(Db, "dml_docs",
      col("src") === "src2" && col("doc_id") % 2 === 0,
      Map("src" -> lit("src2-audited")))
    val vPre = store.latestVersion(Db, "dml_docs")
    val aggSpec = Ivm.countSumSpec("dml_agg", col("src"), col("ntok"))
    val aggBefore = aggSpec.seed(store.read(Db, "dml_docs"))
    val purged = store.deleteWhere(Db, "dml_docs", col("src") === "src0")
    val vPost = store.latestVersion(Db, "dml_docs")
    val feed = store.changesBetween(Db, "dml_docs", vPre, vPost)
    val feedRows = feed.collect()
    val feedOk = feedRows.length == purged.toInt &&
      feedRows.forall(_.getAs[String]("change") == "D")
    val aggFolded = aggSpec.fold(aggBefore,
      store.readVersion(catalog(Db, "dml_docs"), vPre),
      store.read(Db, "dml_docs"), feed, Seq("doc_id"))
    val aggRebuilt = aggSpec.seed(store.read(Db, "dml_docs"))
    val dashOk = aggFolded.exceptAll(aggRebuilt).count() == 0 &&
      aggRebuilt.exceptAll(aggFolded).count() == 0
    val survivors = store.read(Db, "dml_docs")
    val dmlOk = relabeled > 0 && purged > 0 &&
      survivors.filter(col("src") === "src0").count() == 0 &&
      survivors.filter(col("src") === "src2-audited").count() == relabeled
    val wTotal = store.read(Db, "maint_docs").inputFiles.length
    val wPred = col("ntok") >= 40.0 && col("ntok") <= 90.0 &&
      !col("doc_id").isNull
    val wGot = store.readWhere(Db, "maint_docs", wPred)
    val wWant = store.read(Db, "maint_docs").filter(wPred)
    val whereOk = wGot.inputFiles.length < wTotal &&
      wGot.exceptAll(wWant).count() == 0 &&
      wWant.exceptAll(wGot).count() == 0
    // the MERGE-ON-READ takedown on the same governed table: a small
    // predicate delete writes only a key sidecar (no bucket moves), the
    // skipping SQL view serves the masked snapshot, and compaction
    // folds the sidecar flat — the steady-takedown arc at the cost
    // shape a 100 TB corpus needs (O(delete) written, not O(bucket))
    val bucketsPre = store.manifestEntries(Db, "dml_docs",
      store.latestVersion(Db, "dml_docs"))
    val morPurged = store.deleteWhere(Db, "dml_docs",
      col("src") === "src1" && col("ntok") % 7 === 0,
      MergeSnapshotStore.MergeOnRead)
    val vMor = store.latestVersion(Db, "dml_docs")
    store.read(Db, "dml_docs").createOrReplaceTempView("dml_v")
    val morSurvivors = spark.sql(
      "SELECT count(*) AS n FROM dml_v WHERE src = 'src1' AND ntok % 7 = 0")
      .head.getLong(0)
    val morOk = morPurged > 0 && morSurvivors == 0 &&
      store.manifestEntries(Db, "dml_docs", vMor) == bucketsPre &&
      store.manifestDeletes(Db, "dml_docs", vMor).size == 1
    store.compact(Db, "dml_docs", targetFiles = 4)
    val morFolded = store.manifestDeletes(Db, "dml_docs",
      store.latestVersion(Db, "dml_docs")).isEmpty &&
      store.read(Db, "dml_docs")
        .filter(col("src") === "src1" && col("ntok") % 7 === 0).count() == 0
    stage(20, s"row-level DML -> relabeled $relabeled, purged $purged " +
        s"(feed pure-D: $feedOk, dashboard folds delete: $dashOk), " +
        s"readWhere ${wGot.inputFiles.length}/$wTotal files exact, " +
        s"MoR takedown $morPurged rows via 1 sidecar, no bucket moved: " +
        s"$morOk, compaction folds: $morFolded") {
      dmlOk && feedOk && dashOk && whereOk && morOk && morFolded
    }
    Materialize.releaseAll()

    // 21. theta-triage decontamination (the d24 -> d17 composition the
    // d24 scaladoc promises): ONE sketch pass estimates contamination
    // mass per corpus shard WITHOUT joining corpus and benchmark, and
    // the exact span machinery (crossSpans -> removeSpans) runs ONLY on
    // the flagged shards. Gate soundness: the sketches fold the SAME
    // md5 shingle space crossSpans matches in (Dedup.spanShingles), a
    // span needs >= 1 shared shingle, and at lgK=18 both sides stay
    // far inside theta's exact regime on this fixture (every retained
    // hash kept, nothing sampled) — so est_overlap == 0 is PROOF of an
    // empty intersection and the gate provably loses nothing. The run
    // asserts exactly that: gated spans AND the cleaned corpus equal
    // the ungated run's. Past the exact regime a positive threshold
    // trades recall for scan mass — SCALE.md records that contract.
    val MinSpan = 8
    val NShards = 8
    val shardOf = pmod(col("doc_id"), lit(NShards.toLong)).cast("int")
    // contamination by construction: two synthetic benchmark sentences
    // (tokens that occur nowhere in natural text) injected into docs of
    // shards 2 and 5 only — flagged set is deterministic
    val benchSent = Map(
      2 -> (0 until MinSpan + 2).map(i => s"bmqzalpha$i").mkString(" "),
      5 -> (0 until MinSpan + 2).map(i => s"bmqzbeta$i").mkString(" "))
    val corpus21 = mixed.select(col("doc_id"),
      when(shardOf === 2, concat(col("text"), lit(" " + benchSent(2))))
        .when(shardOf === 5, concat(col("text"), lit(" " + benchSent(5))))
        .otherwise(col("text")).as("text"))
    val bench21 = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(2000000001L, benchSent(2)),
        org.apache.spark.sql.Row(2000000002L, benchSent(5)))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    val corpusGrams = Dedup.spanShingles(corpus21, "doc_id", "text", MinSpan)
      .select(shardOf.as("shard"), col("g"))
    // the benchmark is tiny: replicate its grams to every shard so the
    // per-shard sketch pair is complete (a broadcast-scale explode)
    val benchGrams = Dedup.spanShingles(bench21, "doc_id", "text", MinSpan)
      .select(explode(sequence(lit(0), lit(NShards - 1))).as("shard"),
        col("g"))
    val overlap21 = Similarity.corpusOverlapSketch(corpusGrams, benchGrams,
      col("shard"), col("g"), lgK = 18)
    val flagged = overlap21.filter(col("est_overlap") > 0)
      .select(col("grp").cast("int")).collect()
      .map(_.getInt(0)).toSet // <= NShards values
    val gatedCorpus = corpus21.filter(shardOf.isin(flagged.toSeq: _*))
    val spansGated = Dedup.crossSpans(gatedCorpus, bench21, "doc_id",
      "text", MinSpan)
    val spansAll = Dedup.crossSpans(corpus21, bench21, "doc_id",
      "text", MinSpan)
    val nSpans = spansGated.count()
    val gateLossless = nSpans == spansAll.count() &&
      spansGated.exceptAll(spansAll).count() == 0 &&
      spansAll.exceptAll(spansGated).count() == 0
    val cleanedGated = Dedup.removeSpans(corpus21, "doc_id", "text",
      spansGated)
    val cleanedAll = Dedup.removeSpans(corpus21, "doc_id", "text", spansAll)
    val keepEqual = cleanedGated.exceptAll(cleanedAll).count() == 0 &&
      cleanedAll.exceptAll(cleanedGated).count() == 0
    // and the cleanup actually removed the injected contamination
    val residue = cleanedGated
      .filter(col("text").contains("bmqzalpha0") ||
        col("text").contains("bmqzbeta0")).count()
    stage(21, s"theta triage -> ${flagged.size}/$NShards shards flagged " +
        s"(${flagged.toSeq.sorted.mkString(",")}), $nSpans spans, " +
        s"gate lossless: $gateLossless, keep set equal: $keepEqual") {
      flagged == Set(2, 5) && nSpans > 0 && gateLossless && keepEqual &&
        residue == 0
    }
    Materialize.releaseAll()

    // 22. PK-less takedown lifecycle (round-17 arc): raw shard tables
    // have no row identity, so takedowns land as POSITION sidecars
    // ((file, row-ordinal) addresses — no data file moves); steady
    // takedowns accumulate read-side debt the advisor prices straight
    // off the manifest, ONE maintainIfAdvised call folds it exactly
    // when a threshold crosses (and refuses to act below it), and an
    // AS-OF query over the pre-compaction version still serves the
    // masked logical snapshot through the pinned manifest's skipping
    // scan — the full advise -> act -> time-travel loop on the corpus
    // shape a 100 TB crawl store actually has.
    catalog.register(TableMeta(Db, "shard_docs", s"$work/shard_docs"))
    store.overwrite(Db, "shard_docs",
      corpus21.select(col("doc_id"), col("text")).repartition(4))
    val total22 = store.read(Db, "shard_docs").count()
    val buckets22 = store.manifestEntries(Db, "shard_docs",
      store.latestVersion(Db, "shard_docs"))
    val take1 = store.deleteWhere(Db, "shard_docs",
      col("doc_id") % 5 === 0, MergeSnapshotStore.MergeOnRead)
    val take2 = store.deleteWhere(Db, "shard_docs",
      col("doc_id") % 7 === 1, MergeSnapshotStore.MergeOnRead)
    val vMasked = store.latestVersion(Db, "shard_docs")
    val noMove = store.manifestEntries(Db, "shard_docs", vMasked) == buckets22
    val debt22 = store.deleteDebt(Db, "shard_docs", adviseAtSidecars = 2)
    val debtOk = debt22.sidecars == 2 && debt22.rowsKnown &&
      debt22.deletedRows == take1 + take2 && debt22.compactAdvised
    // below the threshold the policy refuses to pay a rewrite; at the
    // crossed threshold one call folds the debt and reports it
    val held = store.maintainIfAdvised(Db, "shard_docs",
      adviseAtSidecars = 3, adviseAtRows = 1L << 40).isEmpty
    val rep22 = store.maintainIfAdvised(Db, "shard_docs",
      adviseAtSidecars = 2, adviseAtRows = 1L << 40)
    val paidOk = rep22.exists(r =>
      r.clearedSidecars == 2 && r.clearedDeletedRows == take1 + take2)
    val masked = store.read(Db, "shard_docs").count()
    // AS-OF through the pinned skipping scan: the pre-compaction
    // version answers the SAME masked snapshot (its manifest carries
    // the sidecars; pinned reads apply them like HEAD reads do)
    val asof = new QueryRunner(store).run(Db, "shard_docs",
      Seq("doc_id"), "1=1", asOfVersion = Some(vMasked)).count()
    stage(22, s"PK-less takedowns -> $take1 + $take2 of $total22 rows " +
        s"via position sidecars (no bucket moved: $noMove), debt " +
        s"advised: $debtOk, policy holds below threshold: $held, " +
        s"fold pays ${rep22.map(_.clearedDeletedRows).getOrElse(-1L)} " +
        s"keys, AS-OF($vMasked) == masked: ${asof == masked}") {
      take1 > 0 && take2 > 0 && noMove && debtOk && held && paidOk &&
        masked == total22 - take1 - take2 && asof == masked &&
        store.deleteDebt(Db, "shard_docs").sidecars == 0
    }
    Materialize.releaseAll()

    // 23. Round-18 arc — the DML surface speaks SQL and maintenance
    // pays the PARTIAL price: a clustered keyed serving table ages (a
    // scoped identity merge smears ONE of its 16 buckets) while a
    // statement-driven takedown (DELETE FROM …, Spark's own parser,
    // merge-on-read) lands a sidecar whose keys live in that same
    // bucket; ONE maintainIfAdvised call rewrites exactly that bucket
    // — the other fifteen carry byte-verbatim — and retires the
    // sidecar in the same clustered commit; a MERGE INTO statement
    // then applies a CDC correction batch through the scoped merge.
    // The takedown story end-to-end, in the dialect its users speak,
    // at the price a 100 TB table can afford.
    catalog.register(TableMeta(Db, "serve23", s"$work/serve23",
      primaryKey = Seq("doc_id")))
    val base23 = corpus21.select(col("doc_id"), col("text"),
      length(col("text")).cast("double").as("len"))
    store.overwrite(Db, "serve23", base23)
    store.compactClustered(Db, "serve23", Seq("len" -> None),
      filesPerBucket = 4)
    val kb23 = store.read(Db, "serve23").select(col("doc_id"),
      store.bucketOf(Seq(col("doc_id"))).as("b")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val target23 = kb23.head._2
    val bucketKeys23 = kb23.collect { case (k, b) if b == target23 => k }
    locally {
      import spark.implicits._
      store.mergeScoped(Db, "serve23",
        bucketKeys23.toSeq.toDF("doc_id"))(old => old)
    }
    val doomed23 = bucketKeys23.take(3)
    val runner23 = new QueryRunner(store)
    val del23 = runner23.dml(Db,
      s"DELETE FROM serve23 WHERE doc_id IN (${doomed23.mkString(", ")})",
      MergeSnapshotStore.MergeOnRead)
    val vPre23 = store.latestVersion(Db, "serve23")
    val entriesPre23 = store.manifestEntries(Db, "serve23", vPre23)
    val rep23 = store.maintainIfAdvised(Db, "serve23", layout = Seq("len"),
      filesPerBucket = 4, adviseAtSidecars = 1)
    val entriesPost23 = store.manifestEntries(Db, "serve23",
      rep23.map(_.version).getOrElse(vPre23))
    val carried23 = (entriesPre23.keySet - target23)
      .forall(b => entriesPost23(b) == entriesPre23(b))
    val moved23 = entriesPost23(target23) != entriesPre23(target23)
    val debtGone23 = store.deleteDebt(Db, "serve23").sidecars == 0
    base23.filter(col("doc_id") % 11 === 2).select(col("doc_id").as("k"))
      .createOrReplaceTempView("fix23")
    val merged23 = runner23.dml(Db,
      """MERGE INTO serve23 t USING fix23 s ON t.doc_id = s.k
         WHEN MATCHED THEN UPDATE SET len = -1.0""")
    val got23 = store.read(Db, "serve23")
    val nNeg23 = got23.filter(col("len") === -1.0).count()
    val wantNeg23 = base23.filter(col("doc_id") % 11 === 2 &&
      !col("doc_id").isin(doomed23.toSeq: _*)).count()
    stage(23, s"statement DML + partial maintenance -> SQL takedown of " +
        s"$del23 keys, ONE policy call rewrote bucket $target23 only " +
        s"(15 carried verbatim: $carried23), sidecar retired: " +
        s"$debtGone23, MERGE statement corrected $merged23 rows") {
      del23 == 3 && rep23.exists(_.clearedSidecars == 1) && carried23 &&
        moved23 && debtGone23 && merged23 == wantNeg23 &&
        nNeg23 == wantNeg23 &&
        got23.count() == base23.count() - del23
    }
    Materialize.releaseAll()

    // 24. Governance drill — the ops surface end to end, statements
    // first: a CHECK constraint guards the serving table (ALTER
    // statement, existing snapshot validated); a violating correction
    // REFUSES in-flight without consuming a version; a conforming but
    // WRONG correction lands (the incident); DESCRIBE HISTORY names it;
    // TIMESTAMP AS OF resolves the pre-incident instant and RESTORE
    // un-happens it as one metadata-only commit; a SHALLOW CLONE pins
    // the repaired state for forensics without copying a byte; and
    // count(*) reads off the manifest, zero jobs. Every step is the
    // 100 TB price: validation rides the write, the rewind and the
    // clone are manifest writes, the audit and the count are
    // driver-side parses.
    val tsBefore24 = System.currentTimeMillis()
    Thread.sleep(5)
    runner23.dml(Db,
      "ALTER TABLE serve23 ADD CONSTRAINT len_floor CHECK (len >= -1.0)")
    val vGuard24 = store.latestVersion(Db, "serve23")
    val refused24 =
      try {
        runner23.dml(Db, "UPDATE serve23 SET len = -2.0 WHERE doc_id % 7 = 0")
        false
      } catch { case scala.util.control.NonFatal(_) => true }
    val noVersion24 = store.latestVersion(Db, "serve23") == vGuard24
    // the incident: conforming, wrong, and marked by a sentinel value
    runner23.dml(Db,
      "UPDATE serve23 SET len = -0.5 WHERE doc_id % 7 = 0")
    val incidentV24 = store.latestVersion(Db, "serve23")
    val tainted24 = store.read(Db, "serve23")
      .filter(col("len") === -0.5).count()
    val audit24 = store.history(Db, "serve23")
      .orderBy(col("version").desc).head()
    val auditOk24 = audit24.getInt(0) == incidentV24 &&
      audit24.getString(1) == "update"
    val restoreTo24 = store.versionAt(Db, "serve23", tsBefore24)
    runner23.dml(Db,
      s"RESTORE TABLE serve23 TO VERSION AS OF $restoreTo24")
    val clean24 = store.read(Db, "serve23")
      .filter(col("len") === -0.5).count() == 0
    val cloneV24 = runner23.dml(Db,
      s"CREATE TABLE forensic24 SHALLOW CLONE serve23 " +
        s"LOCATION '$work/forensic24'")
    val cloneOk24 =
      store.read(Db, "forensic24").count() ==
        store.read(Db, "serve23").count() &&
        !new java.io.File(s"$work/forensic24/data").exists()
    val cnt24 = store.manifestRowCount(Db, "serve23")
    stage(24, s"governance drill -> violating statement refused " +
        s"($refused24, no version consumed: $noVersion24), incident of " +
        s"$tainted24 rows audited as v$incidentV24/update, restored to " +
        s"v$restoreTo24 (clean: $clean24), forensic clone at " +
        s"v$cloneV24 zero-copy: $cloneOk24, manifest count: $cnt24") {
      refused24 && noVersion24 && tainted24 > 0 && auditOk24 &&
        restoreTo24 == vGuard24 && clean24 && cloneOk24 &&
        cnt24.contains(store.read(Db, "serve23").count())
    }
    Materialize.releaseAll()

    println(s"[pipeline] E2E complete under $work")
    spark.stop()
  }
}
