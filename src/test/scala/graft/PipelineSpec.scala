package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}

/** Training-data pipeline operators on the driver's synthetic corpus. */
class PipelineSpec extends AnyFunSuite with SparkFixture {
  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact dedup partitions the corpus (sum of dup_count = rows)") {
    val e = Dedup.exact(docs, "doc_id", "text")
    assert(e.agg(sum("dup_count")).collect().head.getLong(0) == docs.count())
    assert(Dedup.dropExactDuplicates(docs, "doc_id", "text").count() == e.count())
  }

  test("minhash LSH pairs at j=1.0 equal exact token-set duplicates") {
    val lsh = pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 1.0))
    // ground truth: identical distinct-token sets
    val keyed = docs.select(col("doc_id"),
      md5(concat_ws("\u001f", Dedup.tokenSet(col("text")))).as("k"))
    val truth = pairSet(keyed.as("a")
      .join(keyed.as("b"), col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")))
    assert(lsh == truth)
    assert(truth.nonEmpty) // the synthetic corpus does contain such pairs
  }

  test("jaccard pairs are symmetric-free, thresholded, and match brute force") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.9)
    val rows = pairs.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getDouble(2) >= 0.9))
    // spot-check one pair against a direct computation
    val r0 = rows.head
    val direct = docs.filter(col("doc_id").isin(r0.getLong(0), r0.getLong(1)))
      .select(Dedup.tokenSet(col("text")).as("ts")).collect()
    val (a, b) = (direct(0).getSeq[String](0).toSet, direct(1).getSeq[String](0).toSet)
    val j = a.intersect(b).size.toDouble / a.union(b).size.toDouble
    assert(math.abs(j - r0.getDouble(2)) < 1e-12)
  }

  test("simhash: identical token sets collide; pairs respect hamming bound") {
    val sh = Dedup.simHash(docs, "doc_id", "text")
    assert(sh.count() == docs.count())
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
    val got = pairs.collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[Int]("hamming") <= 3))
    // every identical-token-set pair must appear at hamming 0
    val truth = pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 1.0))
    val at0 = got.filter(_.getAs[Int]("hamming") == 0).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(at0))
  }

  test("ngram shingles: n=2 produces word bigrams") {
    val g = docs.limit(1).select(Dedup.ngramSet(col("text"), 2).as("g"))
      .collect().head.getSeq[String](0)
    assert(g.nonEmpty)
    assert(g.forall(_.split(" ").length == 2))
  }

  test("native DotProduct expression is bit-identical to the HOF fold") {
    val v = emb.select(col("embedding").cast("array<double>").as("a"))
      .crossJoin(emb.limit(20).select(col("embedding").cast("array<double>").as("b")))
    val diff = v.select(Similarity.dot(col("a"), col("b")).as("n"),
        Similarity.dotHof(col("a"), col("b")).as("h"))
      .filter(col("n") =!= col("h")) // exact double equality required
    assert(diff.count() == 0)
    // null array, null element, and mismatched lengths all -> null,
    // exactly like the HOF fold
    val one = emb.limit(1).select(col("embedding").cast("array<double>").as("v"))
    val edge = one.select(
      Similarity.dot(lit(null).cast("array<double>"), col("v")).as("na"),
      Similarity.dot(col("v"), slice(col("v"), 1, 32)).as("mismatch"),
      Similarity.dot(col("v"),
        concat(slice(col("v"), 1, 63), array(lit(null).cast("double")))).as("nullel"),
      Similarity.dotHof(col("v"), slice(col("v"), 1, 32)).as("hof_mismatch"))
      .head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
    assert(edge.isNullAt(3)) // the HOF form agrees
    // and the SQL registration path (SparkSessionExtensions / register)
    graft.functions.GraftExtensions.register(spark)
    emb.limit(5).createOrReplaceTempView("emb_v")
    val viaSql = spark.sql(
      """SELECT dot_product(cast(embedding AS array<double>),
                            cast(embedding AS array<double>)) AS d
         FROM emb_v""").collect().map(_.getDouble(0))
    assert(viaSql.length == 5 && viaSql.forall(_ > 0))
  }

  test("brute-force top-k: k rows per query, self excluded, descending cosine") {
    val res = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 5).collect()
    assert(res.length == 15)
    val byQ = res.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.forall(_.getLong(2) != q))
      val cs = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("writeShards: one file per shard, manifest round-trips, rows survive") {
    import graft.operators.{PrefixScan, TextAnalysis}
    val packed = PrefixScan.packShards(
      docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", budget = 2000)
    val path = java.nio.file.Files.createTempDirectory("graft-shards").toString + "/s"
    val nPacked = packed.count() // before release: packed rides an internal cut
    PrefixScan.writeShards(packed, "shard", "doc_id", "n_tokens", path)
    graft.operators.Materialize.releaseAll()
    // every shard=N dir holds exactly ONE data file (the loader contract)
    val root = new java.io.File(path)
    val shardDirs = root.listFiles().filter(f => f.isDirectory &&
      f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName} has ${files.length} files")
    }
    // rows round-trip and the manifest equals the data
    val back = spark.read.parquet(path)
    assert(back.count() == nPacked)
    val manifest = PrefixScan.readShardManifest(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromData = back.groupBy(col("shard").cast("long"))
      .agg(count(lit(1)), sum("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(manifest == fromData && manifest.size == shardDirs.length)
  }

  test("applyIndexDelta maintains the IVF index == from-scratch rebuild") {
    val oldC = emb.filter(col("vec_id") % 17 =!= 0)
      .select(col("vec_id"), col("embedding"))
    // deletes (%13), re-embedded updates (%7 reversed), inserts (%17 back)
    val newC = emb.filter(col("vec_id") % 13 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 7 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
    val cents = Similarity.defaultCentroids(oldC, "vec_id", "embedding", 16)
    val base = Similarity.assignCellsFor(oldC, "vec_id", "embedding", cents)
    val changes = graft.operators.Scd.snapshotDiff(oldC, newC, Seq("vec_id"))
    // the delta really is delta-sized, not corpus-sized
    assert(changes.count() < oldC.count() / 2)
    val got = Similarity.applyIndexDelta(base, changes, "vec_id",
      "embedding", cents)
    val scratch = Similarity.assignCellsFor(newC, "vec_id", "embedding", cents)
    def cellsOf(df: DataFrame) = df.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cellsOf(got) == cellsOf(scratch), "maintained assignment drifted")
    // searching the maintained index equals searching the rebuilt one
    val q = newC.filter(col("vec_id") < 5)
    def search(idx: DataFrame) =
      Similarity.ivfTopKFromIndex(idx, q, "vec_id", "embedding",
          k = 10, probes = 4, cents)
        .collect().map(_.toString).sorted.toSeq
    assert(search(got) == search(scratch) && search(got).nonEmpty)
    // a deleted id is gone from the maintained index
    val deleted = emb.filter(col("vec_id") % 13 === 0 &&
      col("vec_id") % 17 =!= 0).select("vec_id").limit(1)
      .collect().head.getLong(0)
    assert(got.filter(col("vec_id") === deleted).count() == 0)
  }

  test("persisted BM25 index: served path == one-shot path, postings pruned") {
    import graft.catalog.{InMemoryCatalog, MergeSnapshotStore}
    val cat = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, cat, nBuckets = 16)
    val work = java.nio.file.Files.createTempDirectory("graft-bm25").toString
    TextAnalysis.writeBm25Index(store, "bmdb", "bm", work,
      TextAnalysis.buildBm25Index(docs, "doc_id", "text"))
    val queries = docs.filter(col("doc_id") % 100 === 0)
    val served = TextAnalysis.bm25TopKFromStore(store, "bmdb", "bm", queries,
      "doc_id", "text", k = 10, maxDfFrac = 1.0)
      .collect().map(_.toString).sorted.toSeq
    val oneShot = TextAnalysis.bm25TopK(docs, queries, "doc_id", "text",
      k = 10, maxDfFrac = 1.0)
      .collect().map(_.toString).sorted.toSeq
    graft.operators.Materialize.releaseAll()
    assert(served == oneShot && served.nonEmpty)
    // the production property: a small query batch's postings load is
    // bucket-pruned — one term plans a strict subset of the files
    import spark.implicits._
    val term1 = docs.select(Dedup.tokenSet(col("text"))).head.getSeq[String](0).head
    val pruned = store.pointLookup("bmdb", "bm_postings",
      Seq(term1).toDF("term")).inputFiles.length
    val full = store.read("bmdb", "bm_postings").inputFiles.length
    assert(pruned > 0 && pruned < full, s"postings read $pruned of $full files")
  }

  test("maintained BM25 index: one commit == rebuild, index commits bucket-scoped") {
    import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
    import graft.operators.{Ivm, Scd}
    import spark.implicits._
    // wide synthetic vocabulary (~120 terms over 16 buckets) so a small
    // changelog touches FEW term buckets — provable scoped-ness; the
    // sf-fixture corpus' ~31-word vocab would touch every bucket
    val corpus = (0 until 200).map(i =>
      (i.toLong, s"tok${i % 40}x tok${i % 40}y shared${i % 3}"))
      .toDF("doc_id", "text")
    val cat = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, cat, nBuckets = 16)
    val work = java.nio.file.Files.createTempDirectory("graft-bm25m").toString
    cat.register(TableMeta("bmm", "docs", s"$work/docs",
      primaryKey = Seq("doc_id")))
    TextAnalysis.registerBm25Tables(store, "bmm", "bm", work)
    val m = new Ivm.MaintainedAggregates(store, "bmm", "docs",
      TextAnalysis.bm25IndexSpecs("bm", "doc_id", "text"))
    m.seed(corpus)
    // delete 7, update 5 (new term), insert 1000 (new terms)
    val newC = corpus.filter(col("doc_id") =!= 7)
      .select(col("doc_id"),
        when(col("doc_id") === 5, concat(col("text"), lit(" extrafive")))
          .otherwise(col("text")).as("text"))
      .unionByName(Seq((1000L, "brandnew solo")).toDF("doc_id", "text"))
    m.commit(Scd.snapshotDiff(store.read("bmm", "docs"), newC, Seq("doc_id")))
    // every maintained table equals a from-scratch build over the
    // committed base — deletes, the re-tokenized update, inserts
    val base = store.read("bmm", "docs")
    val scratch = TextAnalysis.buildBm25Index(base, "doc_id", "text")
    def canon(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(canon(store.read("bmm", "bm_postings")) == canon(scratch.postings))
    assert(canon(store.read("bmm", "bm_doclens")) == canon(scratch.docLens))
    assert(canon(store.read("bmm", "bm_docfreq")) == canon(scratch.docFreq))
    val st = store.read("bmm", "bm_stats").select("nd", "avgdl").head
    val st0 = scratch.stats.head
    assert(st.getLong(0) == st0.getLong(0) &&
      st.getDouble(1) == st0.getDouble(1),
      "maintained stats drifted from the builder's")
    // served results from the maintained index == one-shot over the
    // new corpus (the t30 oracle contract, spec-local form)
    val queries = newC.filter(col("doc_id") % 50 === 0)
    val served = TextAnalysis.bm25TopKFromStore(store, "bmm", "bm", queries,
        "doc_id", "text", k = 5, maxDfFrac = 1.0)
      .collect().map(_.toString).sorted.toSeq
    val oneShot = TextAnalysis.bm25TopK(base, queries, "doc_id", "text",
        k = 5, maxDfFrac = 1.0)
      .collect().map(_.toString).sorted.toSeq
    graft.operators.Materialize.releaseAll()
    assert(served == oneShot && served.nonEmpty)
    // the index commits were PARTITION-SCOPED: the maintained postings
    // manifest carries untouched term buckets from the seed by reference
    val pv = store.latestVersion("bmm", "bm_postings")
    assert(pv >= 1)
    val carried = store.manifestEntries("bmm", "bm_postings", pv).values
      .filter(d => !d.contains(f"c$pv%06d"))
    assert(carried.nonEmpty, "postings commit rewrote every term bucket")
    // a deleted doc is gone from the maintained postings
    assert(store.read("bmm", "bm_postings")
      .filter(col("doc") === 7).count() == 0)
  }

  test("corruptionSpans: in-bounds, disjoint, deterministic, ~density coverage") {
    import spark.implicits._
    val spans = TextAnalysis.corruptionSpans(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val nTok = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(spans.nonEmpty)
    // every span inside its document, length >= 1
    assert(spans.forall { case (id, _, s, e) =>
      s >= 1 && e >= s && e <= nTok(id)
    })
    // spans of one doc are pairwise DISJOINT and idx-ordered by position
    spans.groupBy(_._1).foreach { case (id, ss) =>
      val ordered = ss.sortBy(_._2)
      ordered.sliding(2).foreach {
        case Seq((_, _, _, e1), (_, _, s2, _)) =>
          assert(e1 < s2, s"overlapping spans in doc $id")
        case _ => ()
      }
    }
    // masked coverage lands near the requested 15% (span lengths are
    // 1..5 uniform, mean 3; grid rounding pulls it a little under)
    val masked = spans.map { case (_, _, s, e) => e - s + 1 }.sum.toDouble
    val total = nTok.values.sum.toDouble
    assert(masked / total > 0.08 && masked / total < 0.18,
      s"coverage ${masked / total} far from requested density")
    // bit-deterministic across invocations
    val again = TextAnalysis.corruptionSpans(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(again.sorted == spans.sorted)
    // NULL text yields no spans — not garbage descending span ids
    import spark.implicits._
    val withNull = Seq((1L, "one two three four five six"),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val ns = TextAnalysis.corruptionSpans(withNull, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ns.forall(_._1 == 1L) && ns.forall(_._2 >= 0L))
  }

  test("semanticDecontaminate: scaled and near copies drop, originals survive") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)),   // exact direction of bench's scaled copy -> drops
      (2L, Seq(1.0, 1.0)),   // cos 0.707 to bench -> survives
      (3L, Seq(0.99, 0.1))). // cos ~0.995 -> paraphrase-grade near copy, drops
      toDF("vec_id", "embedding")
    // the benchmark vector is a SCALED copy (x2) of corpus vector 1:
    // byte-distinct, zero shared n-grams, cosine exactly 1
    val bench = Seq(Tuple1(Seq(2.0, 0.0))).toDF("embedding")
    val got = Similarity.semanticDecontaminate(corpus, bench,
        "embedding", threshold = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L))
    // survivors keep their original columns untouched
    val full = Similarity.semanticDecontaminate(corpus, bench,
      "embedding", threshold = 0.95)
    assert(full.columns.toSeq == Seq("vec_id", "embedding"))
    // an empty benchmark contaminates nothing
    assert(Similarity.semanticDecontaminate(corpus, bench.limit(0),
      "embedding", threshold = 0.95).count() == 3)
    // a ZERO benchmark vector contaminates nothing either: its cosine
    // is 0/0 = NaN, and Spark's NaN-largest ordering would otherwise
    // read `NaN >= threshold` as true and drop the whole corpus
    val zeroBench = Seq(Tuple1(Seq(0.0, 0.0))).toDF("embedding")
    assert(Similarity.semanticDecontaminate(corpus, zeroBench,
      "embedding", threshold = 0.95).count() == 3)
    // and a zero CORPUS vector survives (no direction, no similarity)
    val withZero = corpus.unionByName(
      Seq((9L, Seq(0.0, 0.0))).toDF("vec_id", "embedding"))
    assert(Similarity.semanticDecontaminate(withZero, bench,
        "embedding", threshold = 0.95)
      .filter(col("vec_id") === 9L).count() == 1)
    // a NaN-COMPONENT benchmark vector (the failed/padded-embedding
    // case the zero-norm guard was built for) contaminates nothing:
    // its norm is NaN, NaN > 0 is TRUE under Spark's NaN-largest
    // ordering, and without the isnan guard the NaN cosine would pass
    // `>= threshold` and silently drop the ENTIRE corpus
    val nanBench = Seq(Tuple1(Seq(Double.NaN, 1.0))).toDF("embedding")
    assert(Similarity.semanticDecontaminate(corpus, nanBench,
      "embedding", threshold = 0.95).count() == 3)
    // a NaN-component CORPUS row likewise survives rather than being
    // silently dropped by a NaN cosine against every bench row
    val withNan = corpus.unionByName(
      Seq((10L, Seq(Double.NaN, 0.0))).toDF("vec_id", "embedding"))
    assert(Similarity.semanticDecontaminate(withNan, bench,
        "embedding", threshold = 0.95)
      .filter(col("vec_id") === 10L).count() == 1)
  }

  test("semanticDecontaminateScaled == broadcast form; oversized bench errors") {
    import spark.implicits._
    // planted geometry, planes = 4 over 2 dims (high bits read the
    // missing elements as 0): exact copy, scaled copy and an unflipped
    // near copy share the bench bucket and drop; an orthant-away far
    // vector is not even a candidate and survives
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)),    // exact direction of the bench -> drops
      (2L, Seq(0.99, 0.1)),   // near copy, same sign bits -> drops
      (3L, Seq(1.0, 1.0)),    // candidate but cos 0.707 -> survives
      (4L, Seq(-1.0, -0.1))). // far orthant, Hamming 2 -> never compared
      toDF("vec_id", "embedding")
    val bench = Seq(Tuple1(Seq(2.0, 0.0))).toDF("embedding")
    def scaled(c: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame) =
      Similarity.semanticDecontaminateScaled(c, b, "vec_id", "embedding",
        threshold = 0.95, planes = 4)
    assert(scaled(corpus, bench).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    // survivors keep their original columns untouched
    assert(scaled(corpus, bench).columns.toSeq == Seq("vec_id", "embedding"))
    // zero-norm / NaN vectors have no direction on either side
    val zeroBench = Seq(Tuple1(Seq(0.0, 0.0))).toDF("embedding")
    assert(scaled(corpus, zeroBench).count() == 4)
    val withNan = corpus.unionByName(
      Seq((10L, Seq(Double.NaN, 0.0))).toDF("vec_id", "embedding"))
    assert(scaled(withNan, bench).filter(col("vec_id") === 10L).count() == 1)
    // equivalence on the REAL embedding corpus: the restricted form and
    // the broadcast-NL form agree row for row (the d22/d23 pairing)
    val benchReal = emb.filter(col("vec_id") % 41 === 0)
      .select(col("embedding").cast("array<double>").as("embedding"))
      .unionByName(emb.filter(col("vec_id") % 43 === 0)
        .select(transform(col("embedding").cast("array<double>"),
          x => x * lit(1.1)).as("embedding")))
    val slim = emb.select("vec_id", "label", "embedding")
    val restricted = Similarity.semanticDecontaminateScaled(slim, benchReal,
      "vec_id", "embedding", threshold = 0.95, planes = 8)
    val broadcastNl = Similarity.semanticDecontaminate(slim, benchReal,
      "embedding", threshold = 0.95)
    assert(restricted.exceptAll(broadcastNl).count() == 0 &&
      broadcastNl.exceptAll(restricted).count() == 0)
    // an over-large bench refuses the broadcast form with a pointer at
    // the scaled operator instead of OOMing an executor
    val hugeBench = spark.range(Similarity.MaxBroadcastBenchRows + 1)
      .select(array(lit(1.0), lit(0.0)).as("embedding"))
    val err = intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(corpus, hugeBench,
        "embedding", threshold = 0.95)
    }
    assert(err.getMessage.contains("semanticDecontaminateScaled"))
  }

  test("keyedTopK == per-key brute force; post-filtering under-returns") {
    val queries = emb.filter(col("vec_id") < 20)
    val k = 10
    val got = Similarity.keyedTopK(emb, queries, "vec_id", "embedding",
        "label", k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // ground truth: brute-force top-k run separately inside each label
    val labels = emb.select("label").distinct().collect().map(_.getInt(0))
    val expect = labels.flatMap { l =>
      Similarity.bruteForceTopK(emb.filter(col("label") === l),
          queries.filter(col("label") === l), "vec_id", "embedding", k)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    }.toSet
    assert(got == expect && got.nonEmpty)
    // every query gets its full k (labels hold >> k vectors here)
    val perQ = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQ.values.forall(_ == k))
    // the operator's reason to exist: post-filtering a GLOBAL top-k by
    // label under-returns — with ~5 labels a global top-10 keeps only
    // the same-label subset, short of k for most queries
    val qLabel = queries.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val post = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .collect().filter(r => r.getAs[Int]("label") == qLabel(r.getAs[Long]("query_id")))
    val postPerQ = post.groupBy(_.getAs[Long]("query_id")).view.mapValues(_.size).toMap
    assert(qLabel.keys.exists(q => postPerQ.getOrElse(q, 0) < k),
      "post-filtering should under-return for at least one query")
  }

  test("LSH top-k recall vs brute force is useful (>= 0.3 at k=10)") {
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      dim = 64, k = 10, planes = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall")
    // and the approx result never invents cosines: it is a subset ranked truly
  }

  test("k-means training keeps every cell live and recall useful (real fixture)") {
    // the synthetic embeddings are near-uniform on the sphere, so first-N
    // seeds are already balanced — here we assert training never breaks
    // the operator (cells stay nCells, norms positive, recall useful);
    // the improvement guarantee is tested on the skewed fixture below
    val queries = emb.filter(col("vec_id") < 20)
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      nCells = 16, iters = 5)
    assert(cents.count() == 16, "training must keep every cell")
    assert(cents.filter(col("cnrm") <= 0).count() == 0)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 10, nCells = 16, probes = 4, centroids = Some(cents))
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall > 0.3, s"trained recall $recall not useful")
  }

  test("k-means fixes pathological first-N seeds: better recall AND balance") {
    // skewed corpus — the 100 TB failure mode in miniature: 8 tight
    // clusters, and the first nCells ids ALL sit in cluster 0, so every
    // untrained centroid quantizes one dense region while the other 7
    // clusters smear across arbitrary cells
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Seq.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    def jitter(c: Array[Double]) =
      c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq
    val rows = (0 until 512).map { i =>
      val cluster = if (i < 16) 0 else i % 8 // first 16 ids: cluster 0
      (i.toLong, jitter(centers(cluster)))
    }
    val skew = rows.toDF("vec_id", "embedding")
    val queries = skew.filter(col("vec_id") % 37 === 1)
    def recallOf(cents: Option[org.apache.spark.sql.DataFrame]): Double = {
      val brute = Similarity.bruteForceTopK(skew, queries, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Similarity.ivfTopK(skew, queries, "vec_id", "embedding",
          k = 10, nCells = 16, probes = 2, centroids = cents)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & approx).size.toDouble / brute.size
    }
    def maxCell(cents: org.apache.spark.sql.DataFrame): Long =
      skew.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        .crossJoin(broadcast(cents))
        .withColumn("ccos", Similarity.dot(col("vec"), col("cvec")) /
          (Similarity.l2Norm(col("vec")) * col("cnrm")))
        .groupBy(col("vec_id"))
        .agg(min_by(col("cid"), struct(-col("ccos"), col("cid"))).as("cell"))
        .groupBy("cell").count().agg(max("count")).head().getLong(0)
    val firstN = skew.orderBy("vec_id").limit(16)
      .select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("cvec"))
      .withColumn("cnrm", Similarity.l2Norm(col("cvec")))
    val trained = Similarity.trainIvfCentroids(skew, "vec_id", "embedding",
      nCells = 16, iters = 5)
    val (rU, rT) = (recallOf(None), recallOf(Some(trained)))
    assert(rT >= rU, s"trained recall $rT < untrained $rU")
    assert(maxCell(trained) < maxCell(firstN),
      "training must spread the one-cluster pile-up across cells")
  }

  test("training is bit-deterministic under any partitioning") {
    // the s08 oracle replays training in another engine, so a partial-agg
    // order dependence (double sums) would flip last ulps between runs —
    // the micro-mean makes both trainers invariant to partition layout
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val c7 = Similarity.trainIvfCentroids(emb.repartition(7), "vec_id",
      "embedding", nCells = 16, iters = 2)
    val c3 = Similarity.trainIvfCentroids(emb.repartition(3), "vec_id",
      "embedding", nCells = 16, iters = 2)
    assert(canon(c7) == canon(c3), "centroids moved with partitioning")
    val b7 = Similarity.trainPqCodebooks(emb.repartition(7), "vec_id",
      "embedding", dim = 64, m = 8, codes = 16, iters = 2)
    val b3 = Similarity.trainPqCodebooks(emb.repartition(3), "vec_id",
      "embedding", dim = 64, m = 8, codes = 16, iters = 2)
    assert(canon(b7) == canon(b3), "codebooks moved with partitioning")
  }

  test("trained IVF-PQ: recall >= untrained at the same probe budget") {
    // same pathological fixture as the IVF-flat training test: the first
    // nCells ids all sit in one cluster, so untrained centroids waste the
    // probe budget on one dense region — training must not lose recall
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Seq.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    def jitter(c: Array[Double]) =
      c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq
    val rows = (0 until 512).map { i =>
      val cluster = if (i < 16) 0 else i % 8
      (i.toLong, jitter(centers(cluster)))
    }
    val skew = rows.toDF("vec_id", "embedding")
    val queries = skew.filter(col("vec_id") % 41 === 1)
    val brute = Similarity.bruteForceTopK(skew, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(cents: Option[DataFrame], books: Option[DataFrame]): Double = {
      val approx = Similarity.ivfPqTopK(skew, queries, "vec_id", "embedding",
          k = 10, dim = dim, nCells = 16, probes = 2, m = 8, codes = 16,
          centroids = cents, codebooks = books)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & approx).size.toDouble / brute.size
    }
    val cents = Similarity.trainIvfCentroids(skew, "vec_id", "embedding",
      nCells = 16, iters = 3)
    val books = Similarity.trainPqCodebooks(skew, "vec_id", "embedding",
      dim = dim, m = 8, codes = 16, iters = 3)
    val (rU, rT) = (recallOf(None, None), recallOf(Some(cents), Some(books)))
    assert(rT >= rU, s"trained IVF-PQ recall $rT < untrained $rU")
    // ADC ranks by L2 while the ground truth ranks by cosine, so the
    // absolute floor matches the flat-PQ recall spec, not the IVF one
    assert(rT > 0.15, s"trained IVF-PQ recall $rT not useful")
  }

  test("crossJaccardPairs equals the self-join restricted to probe pairs") {
    val probes = docs.filter(col("doc_id") % 50 === 0)
    val cross = Dedup.crossJaccardPairs(docs, probes, "doc_id", "text",
        n = 1, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the full self-join's pairs where one side is a probe,
    // reoriented as (doc, probe)
    val isProbe = probes.select("doc_id").collect().map(_.getLong(0)).toSet
    val self = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.6)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = self.flatMap { case (a, b, j) =>
      Seq(if (isProbe(b)) Some((a, b, j)) else None,
        if (isProbe(a)) Some((b, a, j)) else None).flatten
    }.toSet
    assert(cross == expected)
    assert(cross.nonEmpty)
    // approximate mode: recall may drop, but every surviving pair keeps
    // its EXACT full-set jaccard (maxDocFreq prunes candidates only)
    val approx = Dedup.crossJaccardPairs(docs, probes, "doc_id", "text",
        n = 1, threshold = 0.6, maxDocFreq = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(approx.subsetOf(cross),
      "maxDocFreq must only reduce recall, never change surviving values")
  }

  test("clusters: chains fuse transitively, components stay separate") {
    import spark.implicits._
    // component {1,2,3,4} is a PATH (1-2, 2-3, 3-4): near-dup is not
    // transitive, so only propagation can label 4 with 1; {10,11} is a
    // separate pair; 11-10 also arrives reversed (symmetry handled)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (11L, 10L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("spanDedup finds hand-computed shared spans, merged per doc") {
    import spark.implicits._
    // 1 and 4 are verbatim copies; 2 embeds 1's first four tokens at
    // offset 2; 5/6 share a prefix and a suffix around an insertion; 7
    // repeats a shingle only WITHIN itself (cross-doc only — no output)
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "x y a b c d q"), (4L, "a b c d e f"),
      (5L, "p q r s t u"), (6L, "p q r z s t u"),
      (7L, "m m m m m m m m")).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, "doc_id", "text", minTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.operators.Materialize.releaseAll()
    // doc 1: [1,4] (vs 2) and [1,6] (vs 4) merge to [1,6]; doc 2: "a b c
    // d" sits at tokens 3..6; doc 5: prefix [1,3] + suffix [4,6] are
    // ADJACENT and merge to [1,6]; doc 6: [1,3] and [5,7] stay separate
    // (gap at token 4, the insertion)
    assert(got == Set(
      (1L, 1L, 6L), (2L, 3L, 6L), (4L, 1L, 6L),
      (5L, 1L, 6L), (6L, 1L, 3L), (6L, 5L, 7L)))
  }

  test("removeSpans drops exactly the spanned tokens, reassembles the rest") {
    import spark.implicits._
    val docsF = Seq(
      (1L, "a b c d e f"), (2L, "x y a b c d q"), (4L, "a b c d e f"),
      (5L, "p q r s t u"), (6L, "p q r z s t u"),
      (7L, "m m m m m m m m")).toDF("doc_id", "text")
    // spans from the spanDedup spec: 1->[1,6], 2->[3,6], 4->[1,6],
    // 5->[1,6], 6->[1,3]+[5,7], 7->none
    val got = Dedup.removeSpans(docsF, "doc_id", "text",
        Dedup.spanDedup(docsF, "doc_id", "text", minTokens = 3))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.operators.Materialize.releaseAll()
    // fully-covered docs (1, 4, 5) drop out; 2 keeps tokens 1,2,7;
    // 6 keeps only token 4 (the insertion); 7 passes through normalized
    assert(got == Map(
      2L -> "x y q",
      6L -> "z",
      7L -> "m m m m m m m m"))
    // the fused pipeline (one corpus tokenize) lands on the same answer
    val fused = Dedup.spanDedupPipeline(docsF, "doc_id", "text", minTokens = 3)
    val fusedClean = fused.cleaned
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.operators.Materialize.releaseAll()
    assert(fusedClean == got)
  }

  test("spanDedup matches a brute-force maximal-common-run oracle on random docs") {
    import spark.implicits._
    val n = 3 // span length floor
    // seeded corpora; token alphabets are prefixed per corpus so one
    // spanDedup call verifies them all without cross-corpus matches
    val rnd = new scala.util.Random(42)
    val corpora = (0 until 12).map { it =>
      val alpha = if (it % 2 == 0) 3 else 6 // dense and sparse match regimes
      val docs = (0 until 6).map { k =>
        val len = rnd.nextInt(13)
        (it * 100L + k,
          (0 until len).map(_ => s"c${it}t${('a' + rnd.nextInt(alpha)).toChar}")
            .mkString(" "))
      }
      docs
    }
    val all = corpora.flatten
    // brute force: per doc pair, maximal equal runs >= n at every offset,
    // then the same overlap-or-adjacent merge per doc
    def runs(a: Array[String], b: Array[String]): Seq[((Int, Int), (Int, Int))] =
      for {
        d <- (-(b.length - n)) to (a.length - n)
        // walk the overlap at offset d (b index = a index - d... define j = i - d)
        seg <- {
          val i0 = math.max(0, d)
          val i1 = math.min(a.length, b.length + d)
          val segs = scala.collection.mutable.Buffer.empty[((Int, Int), (Int, Int))]
          var i = i0
          var runStart = -1
          def close(end: Int): Unit = if (runStart >= 0 && end - runStart >= n) {
            segs += (((runStart + 1, end), (runStart - d + 1, end - d)))
          }
          while (i < i1) {
            if (a(i) == b(i - d)) { if (runStart < 0) runStart = i }
            else { close(i); runStart = -1 }
            i += 1
          }
          close(i1)
          segs.toSeq
        }
      } yield seg
    def merge(spans: Seq[(Int, Int)]): Seq[(Long, Long)] = {
      val sorted = spans.distinct.sorted
      val out = scala.collection.mutable.Buffer.empty[(Long, Long)]
      for ((s, e) <- sorted) out.lastOption match {
        case Some((ps, pe)) if s <= pe + 1 => out(out.length - 1) = (ps, math.max(pe, e))
        case _ => out += ((s.toLong, e.toLong))
      }
      out.toSeq
    }
    val expect = corpora.flatMap { docs =>
      val toks = docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty) }
      val perDoc = scala.collection.mutable.Map.empty[Long, Vector[(Int, Int)]]
        .withDefaultValue(Vector())
      for {
        ((da, ta), ia) <- toks.zipWithIndex; (db, tb) <- toks.drop(ia + 1)
        if ta.length >= n && tb.length >= n
        ((sa, ea), (sb, eb)) <- runs(ta, tb)
      } {
        perDoc(da) :+= ((sa, ea)); perDoc(db) :+= ((sb, eb))
      }
      perDoc.toSeq.flatMap { case (id, sp) => merge(sp).map { case (s, e) => (id, s, e) } }
    }.toSet
    val got = Dedup.spanDedup(all.toDF("doc_id", "text"), "doc_id", "text",
        minTokens = n, maxOcc = 999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.operators.Materialize.releaseAll()
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("spanDedup hot-shingle guard drops ubiquitous shingles from pairing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "x y a b c d q"), (4L, "a b c d e f"))
      .toDF("doc_id", "text")
    // maxOcc=2: "a b c" and "b c d" occur at 3 positions (docs 1, 2, 4)
    // and are dropped; "c d e"/"d e f" (docs 1 and 4 only) survive, so
    // the 1-4 copy is found from token 3 on and the 1-2 overlap is lost
    // — recall reduction is the documented guard contract
    val got = Dedup.spanDedup(docs, "doc_id", "text", minTokens = 3, maxOcc = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.operators.Materialize.releaseAll()
    assert(got == Set((1L, 3L, 6L), (4L, 3L, 6L)))
  }

  test("crossSpans launches no eager guard-count jobs (folded driver actions)") {
    val sc = spark.sparkContext
    def jobsIn(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      def n() = sc.statusTracker.getJobIdsForGroup(group).length
      var prev = -1
      var cur = n()
      while (cur != prev) { Thread.sleep(300); prev = cur; cur = n() }
      cur
    }
    // CONSTRUCTING the d18 plan runs exactly the two Materialize cuts
    // (probe index, probe-restricted corpus index) and nothing else:
    // the hot-gram guard's broadcast-or-not decision belongs to AQE at
    // execution time now, so the two dropHotGrams calls contribute ZERO
    // driver actions of their own — before the fold, construction also
    // ran one eager hot.count() per guard call
    var built: org.apache.spark.sql.DataFrame = null
    val probes = docs.filter(col("doc_id") % 50 === 0)
    val buildJobs = jobsIn("d18-build") {
      built = Dedup.crossSpans(docs, probes, "doc_id", "text",
        minTokens = 8, maxOcc = 64)
    }
    val execJobs = jobsIn("d18-exec") {
      built.collect()
      graft.operators.Materialize.releaseAll()
    }
    // measured on this fixture: post-fold construction = 6 jobs (each
    // Materialize cut's action fans into AQE per-stage jobs); with the
    // eager per-guard hot.count() restored it measures 12 — the two
    // counts cost three jobs each. 7 discriminates with slack for AQE
    // stage-count jitter.
    assert(buildJobs <= 7,
      s"crossSpans construction launched $buildJobs jobs — eager guard counts back?")
    assert(execJobs >= 1)
  }

  test("paragraphDedup keeps first occurrences, reassembly drops the rest") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\n\ngamma delta\n\nalpha beta"), // para 3 repeats para 1
      (2L, "gamma delta\n\nunique two"),               // para 1 dups doc 1's
      (3L, "  \n\nsolo"),                              // blank para filtered
      (4L, "  Alpha   BETA "))                         // normalizes to doc 1 para 1
      .toDF("doc_id", "text")
    val dec = Dedup.paragraphDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(3)).toMap
    assert(dec == Map(
      (1L, 1L) -> true, (1L, 2L) -> true, (1L, 3L) -> false,
      (2L, 1L) -> false, (2L, 2L) -> true,
      (3L, 2L) -> true,
      (4L, 1L) -> false))
    val out = Dedup.dropDuplicateParagraphs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 4 vanishes: its only paragraph is a (normalized) duplicate
    assert(out == Map(
      1L -> "alpha beta\n\ngamma delta",
      2L -> "unique two",
      3L -> "solo"))
  }

  test("dedupPipeline: separate-stage answers from ONE pair-graph computation") {
    import graft.operators.Materialize
    val sc = spark.sparkContext
    // jobs launched inside `body`, tagged via job group; the status
    // tracker is fed asynchronously off the listener bus, so poll until
    // the count is stable across two reads
    def jobsIn(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      def n() = sc.statusTracker.getJobIdsForGroup(group).length
      var prev = -1
      var cur = n()
      while (cur != prev) { Thread.sleep(300); prev = cur; cur = n() }
      cur
    }

    var fusedPairs = Set.empty[(Long, Long)]
    var fusedLabels = Map.empty[Long, Long]
    var fusedKeep = Set.empty[Long]
    val fusedJobs = jobsIn("dedup-fused") {
      val r = Dedup.dedupPipeline(docs, "doc_id", "text", n = 1, threshold = 0.95)
      fusedPairs = pairSet(r.pairs)
      fusedLabels = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      fusedKeep = r.keep.select("doc_id").collect().map(_.getLong(0)).toSet
      Materialize.releaseAll()
    }

    var sepPairs = Set.empty[(Long, Long)]
    var sepLabels = Map.empty[Long, Long]
    var sepKeep = Set.empty[Long]
    val separateJobs = jobsIn("dedup-separate") {
      // d04, d06, d07 exactly as the standalone queries run them
      sepPairs = pairSet(
        Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.95))
      Materialize.releaseAll()
      val labels = Dedup.clusters(
        Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.95),
        "doc_a", "doc_b")
      sepLabels = labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      Materialize.releaseAll()
      val labels2 = Dedup.clusters(
        Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.95),
        "doc_a", "doc_b")
      val drop = labels2.filter(col("doc") =!= col("cluster")).select(col("doc"))
      sepKeep = docs.join(drop, docs("doc_id") === drop("doc"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      Materialize.releaseAll()
    }

    // d04/d06/d07 outputs unchanged by the fusion
    assert(fusedPairs == sepPairs && fusedPairs.nonEmpty)
    assert(fusedLabels == sepLabels)
    assert(fusedKeep == sepKeep)
    // and the fusion actually shares work: the separate path recomputes
    // the pair graph (tokenize + candidates + verify) three times, so it
    // must launch strictly more Spark jobs than the fused run
    assert(fusedJobs < separateJobs,
      s"fused=$fusedJobs jobs, separate=$separateJobs jobs — no reuse?")
  }

  test("clusters: identical labels across a straddled broadcastNodeLimit") {
    import spark.implicits._
    // a 40-node path plus a separate pair: 42 nodes. limit = 8 starts the
    // run on the big-graph (shuffle) path, and the delta frontier — the
    // count of labels that moved, recomputed each round as the
    // convergence scalar — shrinks through 8 mid-run, flipping the push
    // join to a broadcast. Labels must be bit-identical to the pure
    // small-graph (limit > nodes) and pure shuffle (limit = 0) runs.
    val pairs = ((1L until 40L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("doc_a", "doc_b")
    def run(limit: Long): Map[Long, Long] =
      Dedup.clusters(pairs, "doc_a", "doc_b", maxIters = 30,
          broadcastNodeLimit = limit, unionFindEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val straddled = run(8L)
    assert(straddled == run(Long.MaxValue) && straddled == run(0L))
    assert(straddled.filter(_._1 <= 40L).values.toSet == Set(1L) &&
      straddled(100L) == 100L && straddled(101L) == 100L)
    // and the small-graph driver union-find (the default gate) must be
    // bit-identical to every distributed run
    val fast = Dedup.clusters(pairs, "doc_a", "doc_b", maxIters = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == straddled)
  }

  test("clusters: a null pair id takes the distributed loop instead of failing the fast path") {
    import spark.implicits._
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 3L), (7L, null), (null, 9L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    def labels(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val fast = labels(Dedup.clusters(pairs, "doc_a", "doc_b"))
    val loop = labels(Dedup.clusters(pairs, "doc_a", "doc_b",
      unionFindEdgeLimit = 0L))
    assert(fast == loop)
    val byDoc = Dedup.clusters(pairs, "doc_a", "doc_b").collect()
      .filter(!_.isNullAt(0)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc(1L) == 1L && byDoc(3L) == 1L && byDoc(11L) == 10L)
  }

  test("clusters throws rather than returning torn components at maxIters") {
    import spark.implicits._
    // a 64-node path: with pointer jumping reach roughly doubles per
    // round, so 3 rounds cover ~a dozen hops — far short of 63 even if
    // the jump step improves further
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      // unionFindEdgeLimit = 0 pins the DISTRIBUTED loop (the driver
      // union-find needs no iteration budget — it is exact outright)
      Dedup.clusters(chain, "doc_a", "doc_b", maxIters = 3,
        unionFindEdgeLimit = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // with budget it converges to one component
    val ok = Dedup.clusters(chain, "doc_a", "doc_b", maxIters = 30,
        unionFindEdgeLimit = 0L)
      .collect().map(r => r.getLong(1)).toSet
    assert(ok == Set(1L))
    // the fast path agrees without any budget concern
    val fast = Dedup.clusters(chain, "doc_a", "doc_b", maxIters = 3)
      .collect().map(r => r.getLong(1)).toSet
    assert(fast == Set(1L))
  }

  test("clusters over jaccard pairs: every pair lands in one cluster") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.8)
    val lab = Dedup.clusters(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ps = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty)
    ps.foreach { case (a, b) =>
      assert(lab(a) == lab(b), s"pair ($a,$b) split across clusters")
    }
    // the canonical id is a member of its own cluster
    lab.values.foreach(c => assert(lab(c) == c, s"canonical $c not self-labeled"))
  }

  test("PQ-ADC top-k: k rows per query, self excluded, useful recall") {
    val queries = emb.filter(col("vec_id") < 20)
    val res = Similarity.pqAdcTopK(emb, queries, "vec_id", "embedding",
      k = 10, dim = 64, m = 8, codes = 16).collect()
    assert(res.length == 20 * 10)
    res.foreach(r => assert(r.getLong(2) != r.getLong(0)))
    // ADC distances ascend within each query
    res.groupBy(_.getLong(0)).values.foreach { rows =>
      val ds = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
    // 8-byte codes still find a useful share of the true neighbors:
    // exact top-10 via L2 == cosine order only for same-norm vectors, so
    // compare against brute-force COSINE ranking loosely
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = res.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall >= 0.15, s"PQ recall $recall vs cosine brute force")
  }

  test("IVF-PQ: neighbors come only from probed cells, ranked by ADC") {
    val queries = emb.filter(col("vec_id") < 10)
    val res = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 10, dim = 64, nCells = 16, probes = 4).collect()
    assert(res.nonEmpty && res.length <= 10 * 10)
    res.foreach(r => assert(r.getLong(2) != r.getLong(0)))
    // every returned neighbor must be a member of one of its query's
    // probed cells — the candidate restriction is the operator contract,
    // checked against the operator's own cell assignment
    val (cells, qcells) = Similarity.ivfPieces(emb, queries, "vec_id",
      "embedding", nCells = 16, probes = 4, centroids = None)
    val cellOf = cells.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = qcells.collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    res.foreach { r =>
      val (q, nb) = (r.getLong(0), r.getLong(2))
      assert(probed(q).contains(cellOf(nb)),
        s"neighbor $nb of query $q sits in cell ${cellOf(nb)}, " +
          s"outside the probed set ${probed(q)}")
    }
    // and the ADC metric agrees with flat PQ for the same pair
    val flatPq = Similarity.pqAdcTopK(emb, queries, "vec_id", "embedding",
      k = Int.MaxValue, dim = 64).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    res.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(math.abs(flatPq(key) - r.getDouble(3)) < 1e-9,
        "IVF-PQ adist must equal flat-PQ adist for the same pair")
    }
  }

  test("trained PQ codebooks cut quantization error vs the seeds") {
    // total assignment error is the k-means objective: Lloyd's from the
    // same seeds must not increase it
    def totalErr(cb: org.apache.spark.sql.DataFrame): Double =
      // the operator's own decomposition and metric, not a re-derivation
      Similarity.subSlices(emb, "vec_id", "embedding", 64, 8, "vid", "sub")
        .join(broadcast(cb), Seq("s"))
        .withColumn("d2", Similarity.d2(col("sub"), col("csub")))
        .groupBy("vid", "s").agg(min(col("d2")).as("best"))
        .agg(sum("best")).head().getDouble(0)
    val seed = Similarity.seedCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, codes = 16)
    val trained = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, codes = 16, iters = 4)
    assert(trained.count() == 8 * 16, "every (subspace, code) must survive")
    val (eSeed, eTrained) = (totalErr(seed), totalErr(trained))
    assert(eTrained < eSeed,
      s"training should cut quantization error: $eTrained vs $eSeed")
    // and the trained books plug into the same ADC pipeline
    val res = Similarity.pqAdcTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 5, dim = 64, codebooks = Some(trained))
    assert(res.count() == 15)
  }

  test("reliable materialization: same pairs, real checkpoint files on disk") {
    import graft.operators.Materialize
    val baseline = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set(Materialize.ReliableKey, "true")
    try {
      val reliable = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(reliable == baseline)
      // the cut really went through the reliable checkpoint dir
      val ckFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(ckFiles > 0, "no checkpoint files written under the checkpoint dir")
    } finally spark.conf.unset(Materialize.ReliableKey)
  }

  test("cosinePairs with LSH buckets is a subset of exact pairs") {
    val exact = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, dim = 64)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4,
      dim = 64, planes = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(bucketed.subsetOf(exact))
  }

  // brute-force jaccard ground truth over the collected corpus
  private def bruteJaccard(threshold: Double): Set[(Long, Long, Double)] = {
    val sets = docs.select(col("doc_id"), Dedup.tokenSet(col("text")).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      if j >= threshold
    } yield (a, b, j)).toSet
  }

  test("jaccardPairs matches brute force exactly — deletion-neighborhood branch") {
    // t=0.95 with small sets -> radius 1 -> deletion-neighborhood candidates
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == bruteJaccard(0.95))
    assert(got.nonEmpty)
  }

  test("jaccardPairs matches brute force exactly — prefix-filter branch") {
    // t=0.6 -> radius > 1 -> prefix-filter candidates
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == bruteJaccard(0.6))
    assert(got.nonEmpty)
  }

  test("minhash pairs at t<1 are verified-true pairs (subset of brute force)") {
    val got = Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val truth = bruteJaccard(0.8)
    assert(got.subsetOf(truth)) // banding may miss (probabilistic recall),
    assert(got.nonEmpty)        // but must never invent a pair
  }

  test("portable simhash: chunk banding finds exactly the brute-force pairs") {
    val sh = Dedup.simHashPortable(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sh.forall { case (_, h1, h2) => h1 >= 0 && h2 >= 0 &&
      h1 <= 0xFFFFFFFFL && h2 <= 0xFFFFFFFFL })
    val brute = (for {
      (a, a1, a2) <- sh; (b, b1, b2) <- sh if a < b
      ham = java.lang.Long.bitCount(a1 ^ b1) + java.lang.Long.bitCount(a2 ^ b2)
      if ham <= 3
    } yield (a, b, ham)).toSet
    val got = Dedup.simHashPairsPortable(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute) // pigeonhole: hamming<=3 pairs share a 16-bit chunk
  }

  test("signCosinePairs: exactly the hamming<=1 bucket pairs above threshold") {
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def bucket(v: Array[Double], planes: Int): Long =
      (0 until planes).map(i => if (v(i) >= 0) 1L << i else 0L).sum
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      val na = math.sqrt(a.zip(a).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y })
      val nb = math.sqrt(b.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y })
      d / (na * nb)
    }
    val truth = (for {
      (a, va) <- vecs; (b, vb) <- vecs
      if a < b &&
        java.lang.Long.bitCount(bucket(va, 5) ^ bucket(vb, 5)) <= 1 &&
        cos(va, vb) >= 0.4
    } yield (a, b)).toSet
    val got = Similarity.signCosinePairs(emb, "vec_id", "embedding",
        threshold = 0.4, planes = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth)
    // and every bucketed pair is a true cosine pair (subset of exact)
    val exact = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, dim = 64)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact))
  }

  test("quantize: codes in [-127,127], reconstruction within scale/2 per dim") {
    val q = Similarity.quantize(emb, "vec_id", "embedding")
      .withColumn("recon", Similarity.dequantize(col("codes"), col("scale")))
    val rows = q.join(emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("orig")), "vec_id")
      .select("scale", "codes", "recon", "orig").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(0)
      val codes = r.getSeq[Int](1)
      val recon = r.getSeq[Double](2)
      val orig = r.getSeq[Double](3)
      assert(codes.forall(c => c >= -127 && c <= 127))
      orig.zip(recon).foreach { case (o, re) =>
        assert(math.abs(o - re) <= scale / 2 + 1e-12)
      }
    }
  }

  test("ivfTopK: k rows per query, self excluded, decent recall vs brute") {
    val queries = emb.filter(col("vec_id") < 10)
    val got = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCells = 8, probes = 4).collect()
    assert(got.groupBy(_.getLong(0)).forall(_._2.length == 5))
    assert(got.forall(r => r.getLong(2) != r.getLong(0)))
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = got.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("ivfRangeSearch: exact within probed cells, subset of brute threshold") {
    val queries = emb.filter(col("vec_id") < 10)
    val thr = 0.25
    val got = Similarity.ivfRangeSearch(emb, queries, "vec_id", "embedding",
        threshold = thr, nCells = 8, probes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    assert(got.forall(_._3 >= thr))
    assert(got.forall(r => r._1 != r._2))
    // subset of the full-scan threshold matches (probing only loses);
    // brute cosines rounded to the same 6 decimals as the operator's
    // threshold seam so the bar itself cannot disagree
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        k = Int.MaxValue)
      .filter(round(col("cos"), 6) >= thr)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(r => (r._1, r._2)).toSet.subsetOf(brute))
    // with EVERY cell probed, range search equals the exact answer
    val full = Similarity.ivfRangeSearch(emb, queries, "vec_id", "embedding",
        threshold = thr, nCells = 8, probes = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
  }

  test("mixtureSample: output follows target weights, nothing upsampled") {
    import graft.operators.Sampling
    val targets = Map("0" -> 4.0, "1" -> 3.0, "2" -> 2.0, "3" -> 2.0, "4" -> 1.0)
    val in = emb.select(col("vec_id"), col("label"))
    val out = Sampling.mixtureSample(in, "label", "vec_id", targets)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val inCnt = in.collect().map(_.getInt(1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val outCnt = out.map(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    // only target classes survive; none exceeds its input count
    assert(outCnt.keySet.subsetOf(Set(0, 1, 2, 3, 4)))
    assert(outCnt.forall { case (c, n) => n <= inCnt(c) })
    // the binding class (largest n/w deficit) is kept in full
    val bigN = targets.map { case (c, w) => inCnt(c.toInt) / w }.min
    val binding = targets.collectFirst {
      case (c, w) if inCnt(c.toInt) / w == bigN => c.toInt
    }.get
    assert(outCnt(binding) == inCnt(binding))
    // realized mixture tracks the weights (hash-threshold noise aside):
    // every class lands within 35% relative of its target share
    val total = out.length.toDouble
    val wsum = targets.values.sum
    targets.foreach { case (c, w) =>
      val share = outCnt.getOrElse(c.toInt, 0L) / total
      val want = w / wsum
      assert(math.abs(share - want) / want < 0.35,
        s"class $c share $share vs target $want")
    }
    // determinism: same call, same rows
    val again = Sampling.mixtureSample(in, "label", "vec_id", targets)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(again.toSet == out.toSet)
  }

  test("semanticDedup: kept set is exactly corpus minus in-cell near-dups") {
    import graft.operators.Materialize
    val thr = 0.25
    val kept = Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = thr, nCells = 8)
      .collect().map(_.getLong(0)).toSet
    Materialize.releaseAll()
    val n = emb.count()
    assert(kept.nonEmpty && kept.size < n, s"kept ${kept.size} of $n")
    // contract check by brute force: a vector is dropped iff some
    // SMALLER id in the SAME cell is within the cosine bar
    val p = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    val rows = p.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      // same HALF_UP 6-decimal rounding as Spark's round()
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // replicate the cell assignment: nearest of the first-8 centroids by
    // rounded cosine, ties to the low id
    val cents = rows.toSeq.sortBy(_._1).take(8)
    def cellOf(v: Array[Double]): Long =
      cents.map { case (cid, cv) => (-cos(v, cv), cid) }.min._2
    val cells = rows.map { case (id, v) => id -> cellOf(v) }
    val expectDropped = rows.keys.filter { id =>
      rows.exists { case (o, ov) =>
        o < id && cells(o) == cells(id) && cos(ov, rows(id)) >= thr
      }
    }.toSet
    assert(kept == rows.keySet -- expectDropped)
  }

  test("signTopK: k rows per query, self excluded, candidates within hamming 1") {
    val res = Similarity.signTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 5, planes = 3).collect()
    assert(res.groupBy(_.getLong(0)).forall(_._2.length == 5))
    assert(res.forall(r => r.getLong(2) != r.getLong(0)))
  }

  test("pipeline stages compose: mixture -> shard packing -> decontamination") {
    import graft.operators.{Materialize, PrefixScan, Sampling, Similarity}
    // the PipelineMain stage-7..9 chain on the same corpus, with the
    // same invariants the binary gates on
    val targets = Map("en" -> 2.0, "fr" -> 1.0, "es" -> 1.0,
      "de" -> 1.0, "zh" -> 1.0)
    val keptCounts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mixed = Sampling.mixtureSample(docs, "lang", "doc_id", targets)
    val mixCounts = mixed.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mixCounts.nonEmpty && mixCounts.keySet.subsetOf(targets.keySet))
    assert(mixCounts.forall { case (c, n) => n <= keptCounts(c) })
    assert(mixCounts.exists { case (c, n) => n == keptCounts(c) },
      "the binding class must be kept in full")

    val budget = 5000L
    val packed = PrefixScan.packShards(
      mixed.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", budget)
    assert(packed.count() == mixCounts.values.sum)
    assert(packed.filter(
      col("cum_tokens") - col("n_tokens") < col("shard") * budget ||
        col("cum_tokens") - col("n_tokens") >= (col("shard") + 1) * budget)
      .count() == 0, "every doc's start offset must sit in its shard range")
    // this corpus has no over-budget doc, so shard ids are contiguous
    // (the floor contract skips ids when one doc overflows the budget)
    assert(packed.agg(max(col("n_tokens").cast("long"))).head.getLong(0) <= budget)
    val maxShard = packed.agg(max("shard")).head.getLong(0)
    assert(packed.select("shard").distinct().count() == maxShard + 1)
    Materialize.releaseAll()

    val probes = emb.filter(col("vec_id") % 97 === 0)
    val hits = Similarity.ivfRangeSearch(emb, probes, "vec_id", "embedding",
      threshold = 0.3)
    val contaminated = hits.select(col("neighbor_id").as("vec_id")).distinct()
    val nContam = contaminated.count()
    val nClean = emb.join(contaminated, Seq("vec_id"), "left_anti").count()
    assert(nContam > 0, "the sweep must quarantine something at this radius")
    assert(nContam + nClean == emb.count())
    Materialize.releaseAll()

    // the PipelineMain stage-11 tail: window chunking conserves every
    // token and the windows pack like any other token-carrying rows
    val windows = TextAnalysis.chunkTokens(mixed, "doc_id", "text",
      chunkSize = 128, stride = 128)
    val totTokens = mixed
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")))
      .head.getLong(0)
    assert(windows.agg(sum("n_tokens")).head.getLong(0) == totTokens)
    assert(windows.filter(col("n_tokens") > 128).count() == 0)
    // zero-padded key: collision-free at any window count (see PipelineMain)
    val packedW = PrefixScan.packShards(
      windows.select(
        format_string("%019d:%010d", col("doc_id"), col("chunk_id")).as("win_id"),
        col("n_tokens")),
      "win_id", "n_tokens", budget = 4096L)
    assert(packedW.count() == windows.count())
    Materialize.releaseAll()
  }

  test("runningTotal is bit-identical to the single-partition window") {
    import graft.operators.{Materialize, PrefixScan}
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n"))
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = toks.withColumn("cum", sum(col("n")).over(w))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // bucketing must not change the answer — including the degenerate
    // single bucket and more buckets than makes sense for the row count
    for (b <- Seq(1, 3, 16)) {
      val got = PrefixScan.runningTotal(toks, "doc_id", "n", "cum", buckets = b)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == expect, s"buckets=$b diverged from the sequential scan")
      Materialize.releaseAll()
    }
  }

  test("packShards: contiguous shards that close at the token budget") {
    import graft.operators.{Materialize, PrefixScan}
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n"))
    val budget = 500L
    val rows = PrefixScan.packShards(toks, "doc_id", "n", budget, buckets = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    Materialize.releaseAll()
    assert(rows.nonEmpty)
    // shard ids start at 0 and never decrease in doc order (a doc
    // overflowing far past a boundary may SKIP shards — that is the
    // floor contract, not a gap in coverage)
    assert(rows.head._4 == 0L)
    rows.sliding(2).foreach { case Array((_, _, _, a), (_, _, _, b)) =>
      assert(b >= a, s"shard went backwards $a -> $b")
    }
    // the packing contract itself: every doc's START offset falls inside
    // its shard's token range [shard*budget, (shard+1)*budget)
    rows.foreach { case (id, n, cum, s) =>
      val start = cum - n
      assert(start >= s * budget && start < (s + 1) * budget,
        s"doc $id start $start outside shard $s range")
    }
    // and cumulative coverage: when a non-final shard closes, at least
    // (shard+1)*budget tokens have been packed overall
    val lastShard = rows.map(_._4).max
    rows.groupBy(_._4).foreach { case (s, docs) =>
      if (s != lastShard)
        assert(docs.map(_._3).max >= (s + 1) * budget,
          s"shard $s closed before reaching its cumulative budget")
    }
  }

  test("trigramFamiliarity equals a direct per-doc computation") {
    import spark.implicits._
    val tiny = Seq((1L, "abcd"), (2L, "bcde"), (3L, "zzzz"), (4L, "ab"))
      .toDF("doc_id", "text")
    // trigrams: 1 -> {abc,bcd}; 2 -> {bcd,cde}; 3 -> {zzz} (distinct!);
    // 4 has none (too short, excluded). df: abc 1, bcd 2, cde 1, zzz 1.
    // familiarity: 1 -> (1+2)/2 = 1.5; 2 -> (2+1)/2 = 1.5; 3 -> 1/1 = 1
    val got = TextAnalysis.trigramFamiliarity(tiny, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(1L -> ((2L, 1.5)), 2L -> ((2L, 1.5)), 3L -> ((1L, 1.0))))
    // and on the real corpus: every scored doc has at least one trigram,
    // and familiarity is at least 1 (a trigram occurs in its own doc)
    val real = TextAnalysis.trigramFamiliarity(docs, "doc_id", "text").collect()
    assert(real.nonEmpty)
    assert(real.forall(r => r.getLong(1) >= 1 && r.getDouble(2) >= 1.0))
  }

  test("trigramFamiliarity scores a high-entropy corpus without a broadcast") {
    // the adversarial case the operator exists for: ciphertext-like docs
    // whose trigram-type count grows with the corpus, so the df side must
    // NOT be force-broadcast (AQE decides from the measured size). md5 hex
    // is a deterministic high-entropy source — no test-side RNG.
    // base64, not hex: the hex alphabet has only 16^3 possible trigrams,
    // which repeat across docs and would look "familiar"
    val noise = spark.range(300).select(col("id").as("doc_id"),
      concat_ws("", (0 until 6).map(i =>
        base64(unhex(md5(concat(col("id"), lit(i)))))): _*).as("text"))
    val scored = TextAnalysis.trigramFamiliarity(noise, "doc_id", "text")
      .collect()
    assert(scored.length == 300)
    // the filter must separate: noise trigrams are near-unique to their
    // doc (familiarity ~1-2), natural text shares trigrams corpus-wide
    val noiseMean = scored.map(_.getDouble(2)).sum / scored.length
    val naturalMean = TextAnalysis.trigramFamiliarity(docs, "doc_id", "text")
      .agg(avg("familiarity")).head.getDouble(0)
    assert(noiseMean * 10 < naturalMean,
      s"high-entropy docs must score far below natural text " +
        s"(noise $noiseMean vs natural $naturalMean)")
  }

  test("PII counts and redaction on hand-built fixture strings") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail bob.smith+x@corp.example.co, backup bob@ex.org today"),
      (2L, "call +44 20 7946 0958 or 555-867-5309 x12"),
      (3L, "from 192.168.3.21 via 2001:0db8:85a3:0:0:8a2e:370:7334 end"),
      (4L, "no pii here, just words and the number 42"),
      (5L, "mixed a@b.io at 10.0.0.1 dial 07700 900123"),
      (6L, "ticket 12345678 ref 987654321012 ok"),
      (7L, "raw 0612345678 and 12-345678 but not 1-23456 nor 1234567890123456"))
      .toDF("doc_id", "text")
    val counts = TextAnalysis.withPiiCounts(docs, "text")
      .select("doc_id", "n_email", "n_phone", "n_ipv4", "n_ipv6")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(counts == Map(
      1L -> ((2L, 0L, 0L, 0L)), // two emails, "x12"/digits too short for phone
      2L -> ((0L, 2L, 0L, 0L)), // +44 form and 555- form both match
      3L -> ((0L, 0L, 1L, 1L)),
      4L -> ((0L, 0L, 0L, 0L)),
      5L -> ((1L, 1L, 1L, 0L)), // "07700 900123" separator-grouped -> phone
      6L -> ((0L, 1L, 0L, 0L)), // 12-digit bare run -> phone; 8-digit id is not
      // bare 10-digit + grouped 8-total match; 6-total grouped and a
      // 16-digit run (past the 15 cap, fails the trailing \b) do not
      7L -> ((0L, 2L, 0L, 0L))))
    val red = docs.select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) == "mail <EMAIL>, backup <EMAIL> today")
    assert(red(2L) == "call <PHONE> or <PHONE> x12")
    assert(red(3L) == "from <IP4> via <IP6> end")
    assert(red(4L) == "no pii here, just words and the number 42")
    assert(red(5L) == "mixed <EMAIL> at <IP4> dial <PHONE>")
    assert(red(6L) == "ticket 12345678 ref <PHONE> ok")
    assert(red(7L) == "raw <PHONE> and <PHONE> but not 1-23456 nor 1234567890123456")
  }

  test("qualityGate keeps exactly the docs passing every feature bar") {
    val got = TextAnalysis.qualityGate(docs, "doc_id", "text",
        minQualityBp = 5500, maxRep2 = 0.05, maxRep3 = 0.05,
        minFamiliarity = 300.0)
      .collect().map(_.getLong(0)).toSet
    graft.operators.Materialize.releaseAll() // the gate's eager trigram cut
    // recompose from the individually-gated feature operators
    val q = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rr = TextAnalysis.repetitionRatios(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2))))).toMap
    val fam = TextAnalysis.trigramFamiliarity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val expect = q.keySet.filter { id =>
      q(id) >= 5500 &&
        rr(id)._1.forall(_.asInstanceOf[Double] <= 0.05) &&
        rr(id)._2.forall(_.asInstanceOf[Double] <= 0.05) &&
        fam.get(id).exists(_ >= 300.0)
    }
    assert(got == expect)
    // the bars actually bite on this corpus: a proper nonempty subset
    assert(got.nonEmpty && got.size < q.size)
    graft.operators.Materialize.releaseAll() // the standalone fam's cut
  }

  test("luhnCardCount validates the mod-10 checksum, not just card shape") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pay 4111 1111 1111 1111 today"),          // valid visa
      (2L, "oops 4111-1111-1111-1112 mistyped"),      // checksum fails
      (3L, "amex 378282246310005 and mc 5500 0000 0000 0004"), // both valid
      (4L, "diners 30569309025904 ok"),               // valid, 14 digits
      (5L, "fake 1234 5678 9012 3456 and short 4111 1111"),    // none
      (6L, "no digits at all here")).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextAnalysis.luhnCardCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 0L, 3L -> 2L, 4L -> 1L, 5L -> 0L, 6L -> 0L))
  }

  test("urlFilter: blocklist anti-joined, greylist downsampled, rest kept") {
    import graft.operators.UrlFilter
    import spark.implicits._
    val rows = Seq(
      (1L, "https://spam.bad.example/x"), (2L, "HTTPS://Spam.Bad.Example/y"),
      (3L, "https://keep.example.org/a"), (4L, "http://grey.example.net/b?q=1"),
      (5L, "not a url at all"), (6L, "ftp://keep.example.org:21/c"),
      (7L, "https://evil@spam.bad.example/z"),     // userinfo evasion
      (8L, "https://user:pw@spam.bad.example/z"),  // userinfo with password
      (9L, "https://a@b@spam.bad.example/z"),      // double-@ (WHATWG: last @ splits)
      (10L, "https://[2001:DB8::1]/x"),            // IPv6 literal, blocklisted
      (11L, "https://[2001:db8::1]:8443/y"),       // IPv6 literal with port
      (12L, "https://[::ffff:10.0.0.1]/z"))        // IPv4-mapped IPv6, passes
      .toDF("doc_id", "url")
    // mixed-case BLOCKLIST entry must also match (config normalization);
    // greylist at fraction 1.0 isolates routing from sampling noise
    val got = UrlFilter.filterByDomain(rows, "url",
        blocklist = Seq("Spam.Bad.Example", "[2001:db8::1]"),
        greylist = Map("grey.example.net" -> 1.0))
      .select("doc_id", "host")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 1/2/7/8/9 blocklisted (host lowercased, userinfo stripped at the
    // LAST @), 10/11 blocklisted as the BRACKETED IPv6 host (port
    // stripped outside the brackets), 5 unparseable -> dropped; 3/6 pass
    // (6 keeps its port-less host), 4 greylisted at 1.0 -> kept, 12
    // passes with its bracketed host intact
    assert(got == Map(3L -> "keep.example.org", 4L -> "grey.example.net",
      6L -> "keep.example.org", 12L -> "[::ffff:10.0.0.1]"))
    // fraction 0.0 drops the greylisted host entirely, others unaffected
    val none = UrlFilter.filterByDomain(rows, "url",
        blocklist = Seq("spam.bad.example"),
        greylist = Map("grey.example.net" -> 0.0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(none == Set(3L, 6L, 10L, 11L, 12L))
  }

  test("repetitionRatios match hand-computed n-gram repeat fractions") {
    import spark.implicits._
    val tiny = Seq((1L, "a b a b c"), (2L, "x"), (3L, "p q p q p q"))
      .toDF("doc_id", "text")
    // doc 1: bigrams [a b, b a, a b, b c] -> 4 total, 3 distinct -> 0.25;
    //        trigrams [aba, bab, abc] all distinct -> 0.0
    // doc 2: too short for any n-gram -> nulls
    // doc 3: bigrams 5 total 2 distinct -> 0.6; trigrams 4/2 -> 0.5
    val got = TextAnalysis.repetitionRatios(tiny, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(got == Map(
      1L -> ((Some(0.25), Some(0.0))),
      2L -> ((None, None)),
      3L -> ((Some(0.6), Some(0.5)))))
  }

  test("winnowing fingerprints match a direct rolling-hash computation") {
    val one = docs.orderBy("doc_id").limit(1)
    val row = one.select(col("doc_id"),
      TextAnalysis.normalizeText(col("text")).as("t")).head
    val (id, text) = (row.getLong(0), row.getString(1))
    val md = java.security.MessageDigest.getInstance("MD5")
    def gramHash(i: Int): Long = {
      md.reset()
      val hex = md.digest(text.substring(i, i + 8).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val n = text.length - 8 + 1
    val hashes = (0 until n).map(gramHash)
    val expect = (0 to n - 4).map(j => hashes.slice(j, j + 4).min).toSet
    val got = TextAnalysis.winnowFingerprints(one, "doc_id", "text", 8, 4)
      .collect().map(r => r.getLong(1)).toSet
    assert(got == expect)
    assert(got.size < n) // winnowing compresses the gram set
    // the typed fast form is bit-identical to the expression form
    val fastAll = TextAnalysis.winnowFingerprintsFast(docs, "doc_id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exprAll = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fastAll == exprAll)
  }

  test("text features: langId in domain, quality bounded, counts positive") {
    val f = TextAnalysis.withTextFeatures(docs, "text")
    val langs = f.select("lang_pred").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "fr", "de", "es", "und")))
    val q = f.select(min("quality"), max("quality")).collect().head
    assert(q.getLong(0) >= 0 && q.getLong(1) <= 10000)
    assert(f.filter(col("n_tokens") <= 0 || col("n_tokens_bpe") <= 0).count() == 0)
    assert(f.select("fingerprint").distinct().count() == f.select("text").distinct().count())
  }

  test("chunkTokens cuts hand-computed overlapping windows, covers every token") {
    import spark.implicits._
    // 10 tokens, window 4, stride 2: starts 1 3 5 7 9, tails shorten
    val d = Seq((1L, "a b c d e f g h i j"), (2L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkTokens(d, "doc_id", "text", chunkSize = 4, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 4L, "a b c d"), (1L, 1L, 4L, "c d e f"), (1L, 2L, 4L, "e f g h"),
      (1L, 3L, 4L, "g h i j"), (1L, 4L, 2L, "i j"),
      (2L, 0L, 1L, "x")))
    // corpus-wide: concatenating stride-aligned windows rebuilds every doc
    val full = TextAnalysis.chunkTokens(docs, "doc_id", "text",
      chunkSize = 32, stride = 32)
    val rebuilt = full.groupBy("doc_id")
      .agg(concat_ws(" ", collect_list(col("chunk"))).as("t2"),
        sum("n_tokens").as("nt2"))
    val joined = docs.select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("t"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
      .join(rebuilt, Seq("doc_id"))
    assert(joined.filter(col("t") =!= col("t2") || col("nt") =!= col("nt2"))
      .count() == 0)
  }

  test("removeBoilerplateLines drops >=minDocs lines everywhere, keeps the rest") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha body one\nshared footer\nunique one"),
      (2L, "beta body two\nshared footer\n  \nunique two"),
      (3L, "gamma body three\nShared   Footer"), // normalizes to the same line
      (4L, "delta body four\nrare footer"),
      (5L, "shared footer")                      // nothing survives -> drops out
    ).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplateLines(d, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "alpha body one\nunique one",
      2L -> "beta body two\nunique two",
      3L -> "gamma body three",
      4L -> "delta body four\nrare footer"))
  }

  test("bloomDecontaminate flags every true gram-sharing doc (no false negatives)") {
    val probes = docs.filter(col("doc_id") % 50 === 0)
    val flagged = Dedup.bloomDecontaminate(docs, probes, "doc_id", "text",
        n = 3, k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ground truth: docs sharing at least one word trigram with a probe
    val grams = docs.select(col("doc_id"),
      explode(Dedup.ngramSet(col("text"), 3)).as("g"))
    val truth = grams.join(
        grams.filter(col("doc_id") % 50 === 0).select("g").distinct(), Seq("g"))
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    // Bloom filters have no false negatives; every true doc is flagged
    // with at least its true hit count
    assert(truth.subsetOf(flagged.keySet))
    // probes flag themselves (their own grams are all in the filter)
    assert(probes.select("doc_id").collect().map(_.getLong(0))
      .forall(flagged.contains))
  }

  test("bloomDecontaminate widened position hash: d16 semantics at mBits 2^20") {
    val probes = docs.filter(col("doc_id") % 50 === 0)
    val wide = Dedup.bloomDecontaminate(docs, probes, "doc_id", "text",
        n = 3, mBits = 1 << 20, k = 5, posNibbles = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val grams = docs.select(col("doc_id"),
      explode(Dedup.ngramSet(col("text"), 3)).as("g"))
    val truth = grams.join(
        grams.filter(col("doc_id") % 50 === 0).select("g").distinct(), Seq("g"))
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    // no false negatives at any width
    assert(truth.subsetOf(wide.keySet))
    // a 16x larger filter at the same k can only LOWER the false-flag
    // count vs the 16-bit default (same grams, ~16x lower fill)
    val narrow = Dedup.bloomDecontaminate(docs, probes, "doc_id", "text",
        n = 3, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(wide.keySet.size <= narrow.size)
    // the widened hash must cap out correctly: mBits past 16^posNibbles
    // is a contract violation, not silent bias
    assertThrows[IllegalArgumentException] {
      Dedup.bloomDecontaminate(docs, probes, "doc_id", "text",
        n = 3, mBits = 1 << 20, k = 5, posNibbles = 4)
    }
  }

  test("kmeansClusters: one label per vector, sizes are the label histogram") {
    val got = Similarity.kmeansClusters(emb, "vec_id", "embedding",
      nCells = 16, iters = 1)
    assert(got.count() == emb.count())
    assert(got.select("vec_id").distinct().count() == emb.count())
    val byLabel = got.groupBy("cluster")
      .agg(count(lit(1)).as("n"), first("cluster_size").as("sz"))
      .collect()
    assert(byLabel.forall(r => r.getLong(1) == r.getLong(2)))
    // labels must equal the trained-centroid argmax assignment replayed
    // through the public search seam: a vector's own top-1 probed cell
    val cent = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      nCells = 16, iters = 1)
    val sd = Similarity.semanticDedup(emb, "vec_id", "embedding",
      threshold = 2.0, nCells = 16, centroids = Some(cent))
    assert(sd.count() == emb.count()) // sanity: threshold 2.0 drops nothing
  }

  test("truncatedRerankTopK: full-width candidates degenerate to exact search") {
    import org.apache.spark.sql.expressions.Window
    val q = emb.filter(col("vec_id") < 3)
    val n = emb.count().toInt
    val got = Similarity.truncatedRerankTopK(emb, q, "vec_id", "embedding",
        k = 10, dPrime = 16, mCand = n)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // with every corpus row a candidate, the funnel must equal exact
    // search re-ranked on the same rounded score
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val expect = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = Int.MaxValue)
      .withColumn("cos", round(col("cos"), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("query_id", "rank", "neighbor_id", "cos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expect)
    // narrow funnel: k rows per query, neighbors drawn from the
    // stage-1 truncated-cosine top-mCand only
    val narrow = Similarity.truncatedRerankTopK(emb, q, "vec_id", "embedding",
      k = 10, dPrime = 16, mCand = 20)
    val perQ = narrow.groupBy("query_id").agg(count(lit(1)).as("n")).collect()
    assert(perQ.forall(_.getLong(1) == 10L))
    val stage1 = Similarity.bruteForceTopK(
        emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")),
        q.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")),
        "vec_id", "embedding", k = Int.MaxValue)
      .withColumn("tcos", round(col("cos"), 6))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("tcos").desc, col("neighbor_id").asc)
    val candSet = stage1.withColumn("crank", row_number().over(ws))
      .filter(col("crank") <= 20)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrowPairs = narrow.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(narrowPairs.subsetOf(candSet))
  }

  test("weightedSample: per-row probability gates the md5 digest exactly") {
    import spark.implicits._
    val d = Seq(
      (1L, 1.0), (2L, 1.0),          // weight 1: always kept
      (3L, 0.0), (4L, 0.0),          // weight 0: always dropped
      (5L, 0.5), (6L, 0.5), (7L, 0.5), (8L, 0.5), (9L, 0.5), (10L, 0.5),
      (11L, 0.5), (12L, 0.5), (13L, 0.5), (14L, 0.5))
      .toDF("doc_id", "w")
    val got = Sampling.weightedSample(d, "doc_id", "w")
      .collect().map(_.getLong(0)).toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def digest4(id: Long): String = {
      md.reset()
      md.digest(s"$id:42".getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
    }
    val expect = (Set(1L, 2L)
      ++ (5L to 14L).filter(id => digest4(id) < "8000"))
    assert(got == expect)
    // null weight drops
    val withNull = Sampling.weightedSample(
      Seq((1L, Some(1.0)), (2L, Option.empty[Double])).toDF("doc_id", "w"),
      "doc_id", "w")
    assert(withNull.collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("crossSpans localizes probe text inside corpus docs, merged per doc") {
    import spark.implicits._
    // probe 100: tokens p1..p6. Corpus doc 1 embeds p1..p4 at positions
    // 3..6 and p3..p6 at positions 9..12 (overlapping occurrences merge
    // via the probe's own overlap? no — separate matches, adjacent gap);
    // doc 2 shares nothing; doc 3 embeds p2..p5 at 1..4.
    val probe = Seq((100L, "p1 p2 p3 p4 p5 p6")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b p1 p2 p3 p4 c d p3 p4 p5 p6 e"),
      (2L, "x y z w v u t s r q"),
      (3L, "p2 p3 p4 p5 k l m n")).toDF("doc_id", "text")
    val got = Dedup.crossSpans(corpus, probe, "doc_id", "text",
        minTokens = 3, maxOcc = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: match p1p2p3+p2p3p4 -> span 3..6; p3p4p5+p4p5p6 -> 9..12;
    // gap (7..8) > adjacency -> two spans. doc 3: one span 1..4.
    assert(got == Set((1L, 3L, 6L), (1L, 9L, 12L), (3L, 1L, 4L)))
    // feeding removeSpans excises exactly the contaminated runs
    val cleaned = Dedup.removeSpans(corpus, "doc_id", "text",
        Dedup.crossSpans(corpus, probe, "doc_id", "text", minTokens = 3))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) == "a b c d e")
    assert(cleaned(3L) == "k l m n")
    assert(cleaned(2L) == "x y z w v u t s r q")
  }

  test("winnowPairs equals brute-force fingerprint-set jaccard (no hot guard)") {
    val sample = docs.filter(col("doc_id") < 120)
    val got = Dedup.winnowPairs(sample, "doc_id", "text", threshold = 0.4,
        maxOcc = Long.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sets = TextAnalysis.winnowFingerprintsFast(sample, "doc_id", "text", 8, 4)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      j = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if j >= 0.4
    } yield (a, b) -> math.round(j * 1e4) / 1e4).toMap
    assert(got == expect)
    assert(got.nonEmpty, "the fixture corpus has winnow near-dups")
    // the hot guard only removes fingerprints, never invents pairs above
    // the bar for DISJOINT docs: guarded pairs are computed on filtered
    // sets, so just check the shape
    val guarded = Dedup.winnowPairs(sample, "doc_id", "text", threshold = 0.4)
    assert(guarded.columns.toSeq == Seq("doc_a", "doc_b", "jaccard"))
  }

  test("vocabTopK: counts and deterministic tie-break on a hand fixture") {
    import spark.implicits._
    val d = Seq("b a a", "c b A  ", "d").toDF("text")
    val got = TextAnalysis.vocabTopK(d, "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // a:3 (case-normalized), b:2, then c/d tie at 1 -> c wins by name
    assert(got == Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("rrfFuse matches a hand-computed reciprocal-rank ensemble") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 13L, 2), (1L, 10L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val got = Similarity.rrfFuse(a, b, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    def s(r: Int) = 1.0 / (60 + r)
    def rnd(x: Double) = math.round(x * 1e6) / 1e6
    // 11: 1/62+1/61 = .032519; 10: 1/61+1/63 = .032268; 13: 1/62; 12: 1/63
    assert(got.toSeq == Seq(
      (1, 11L, rnd(s(2) + s(1))),
      (2, 10L, rnd(s(1) + s(3))),
      (3, 13L, rnd(s(2)))))
  }

  test("capPerDomain keeps the exact per-host top-N, invariant to partitioning") {
    import graft.operators.UrlFilter
    import spark.implicits._
    val rows = (1L to 20L).map(i =>
        (i, if (i <= 12) "big.example" else "small.example", (i % 7).toInt))
      .toDF("doc_id", "host", "score")
    // big.example scores i%7 for i=1..12: top-3 by (score desc, id asc)
    // = 6 (score 6), then the score-5 tie broken by id: 5, 12.
    // small.example i=13..20: score-6 tie 13, 20, then 19 (score 5).
    val want = Set(5L, 6L, 12L, 13L, 19L, 20L)
    val got = UrlFilter.capPerDomain(rows, "host", "score", "doc_id", maxPerHost = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    // the keep set is partitioning-invariant: the map-side rank-limit
    // prune only bounds reducer input, never changes the result
    val skewed = UrlFilter.capPerDomain(rows.repartition(7), "host",
        "score", "doc_id", maxPerHost = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(skewed == want)
    // cap above the host size keeps everything
    assert(UrlFilter.capPerDomain(rows, "host", "score", "doc_id",
      maxPerHost = 99).count() == 20)
  }

  test("recallAtK counts hits per query, keeps zero-hit queries, caps at k") {
    import spark.implicits._
    val exact = Seq(
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
      (2L, 1, 20L), (2L, 2, 21L), (2L, 3, 22L))
      .toDF("query_id", "rank", "neighbor_id")
    val approx = Seq(
      (1L, 1, 11L), (1L, 2, 99L), (1L, 3, 10L), (1L, 4, 12L), // rank 4 > k
      (2L, 1, 98L), (2L, 2, 97L), (2L, 3, 96L))
      .toDF("query_id", "rank", "neighbor_id")
    val got = Similarity.recallAtK(approx, exact, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // q1: exact {10,11,12} vs approx top-3 {11,99,10} -> 2 hits; the
    // rank-4 hit (12) must NOT count. q2: zero hits, still present.
    assert(got == Set((1L, 2L, 0.6667), (2L, 0L, 0.0)))
  }

  test("bm25TopK: rare-term match outranks common-term match, self excluded") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "cherry apple zebra"), // the query doc
      (1L, "apple date fig"),     // shares the COMMON term (df 3)
      (2L, "cherry date fig"),    // shares the RARE term (df 2)
      (3L, "apple kiwi lime"),    // common term again (id tie-break test)
      (4L, "kiwi lime mango"))    // shares nothing
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(corpus, corpus.filter(col("doc_id") === 0),
        "doc_id", "text", k = 10, maxDfFrac = 1.0)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    // every dl = 3 = avgdl, tf = 1, so each term contributes exactly
    // idf(term): idf(cherry, df=2) = ln(2.4) > idf(apple, df=3) =
    // ln(12/7). Doc 2 (rare) ranks first; docs 1 and 3 tie on the
    // common term and break by id; doc 4 and the query itself absent.
    assert(got.map(_._2).toSeq == Seq(2L, 1L, 3L))
    assert(got(0)._3 > got(1)._3 && got(1)._3 == got(2)._3)
    // the stopword cut: maxDfFrac 0.5 (df <= 2.5) drops the df-3 term,
    // leaving only the rare-term match
    val cut = TextAnalysis.bm25TopK(corpus, corpus.filter(col("doc_id") === 0),
        "doc_id", "text", k = 10, maxDfFrac = 0.5)
      .collect().map(_.getLong(2)).toSeq
    assert(cut == Seq(2L))
  }

  test("bpeMerges replays the classic low/lower/lowest merge sequence") {
    import spark.implicits._
    val corpus = Seq((0L, "low low low"), (1L, "lower lower"), (2L, "lowest"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(corpus, "text", nMerges = 8)
      .orderBy("merge_round")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // word freqs low:3 lower:2 lowest:1. Round 1 ties (l,o) and (o,w)
    // at 6 — lhs ascending picks (l,o); then (lo,w)=6, (low,e)=3,
    // (lowe,r)=2; round 5 ties (lowe,s) and (s,t) at 1 — lhs picks
    // (lowe,s); then (lowes,t)=1, and round 7 finds no pair: the loop
    // stops early with 6 rows, not 8
    assert(got.toSeq == Seq(
      (1, "l", "o", "lo", 6L),
      (2, "lo", "w", "low", 6L),
      (3, "low", "e", "lowe", 3L),
      (4, "lowe", "r", "lower", 2L),
      (5, "lowe", "s", "lowes", 1L),
      (6, "lowes", "t", "lowest", 1L)))
  }

  test("bpeMerges applies merges greedily left-to-right, non-overlapping") {
    import spark.implicits._
    val corpus = Seq((0L, "aaaa aaa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(corpus, "text", nMerges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    // round 1: (a,a) weighted 3+2 = 5. Greedy pairing then encodes
    // aaaa as [aa, aa] and aaa as [aa, a] — NOT [a, aa] — so round 2
    // ties (aa,a) and (aa,aa) at 1 and rhs ascending picks (aa,a);
    // round 3 merges the remaining (aa,aa)
    assert(got.toSeq == Seq(
      (1, "a", "a", 5L), (2, "aa", "a", 1L), (3, "aa", "aa", 1L)))
  }

  test("batched BPE rounds emit the sequential merge sequence with fewer jobs") {
    import spark.implicits._
    def seq(corpus: DataFrame, n: Int,
            batch: Int): (Seq[(Int, String, String, String, Long)], Int) = {
      val (df, rounds) = TextAnalysis.bpeMergesCounted(corpus, "text",
        nMerges = n, roundBatch = batch)
      (df.orderBy("merge_round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq, rounds)
    }
    // fixture corpus: equality is the load-bearing claim; the ~31-word
    // shared-alphabet vocab keeps top pairs interacting (and tied), so
    // the round gain is modest here — sequence-exactness caps it
    val (sequential, r1) = seq(docs, 24, 1)
    val (batched, r8) = seq(docs, 24, 8)
    assert(sequential.size == 24 && r1 == 24)
    assert(batched == sequential, "batched rounds diverged from sequential")
    assert(r8 < r1, s"batching never fired: $r8 vs $r1")
    // disjoint-alphabet corpus with distinct frequencies — the regime a
    // real 32k-merge tail lives in (long disjoint symbols, untied
    // counts): rounds collapse toward nMerges / batch
    val words = Seq("abab", "cdcd", "efef", "ghgh", "ijij", "klkl",
      "mnmn", "opop")
    val syn = words.zipWithIndex.flatMap { case (w, i) =>
      Seq.fill(100 - 7 * i)(w)
    }.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val (seqSyn, rs1) = seq(syn, 16, 1)
    val (batSyn, rs8) = seq(syn, 16, 8)
    assert(batSyn == seqSyn && seqSyn.size == 16)
    assert(rs8 <= rs1 / 3, s"expected ~batch-fold fewer rounds, got $rs8 vs $rs1")
  }

  test("classifyByWeights: parquet-loaded model, argmax ties, unknown fallback") {
    import spark.implicits._
    val classes = Seq("en", "fr")
    // the "model artifact": a parquet weight table, loaded like any
    // trained model — 'bonjour' votes fr, 'hello' votes en, 'de'
    // (ambiguous) votes both, 'bad' votes NEGATIVELY for en
    val wdir = java.nio.file.Files.createTempDirectory("graft-w31").toString
    Seq(("hello", Seq(1000L, 0L)), ("bonjour", Seq(0L, 1000L)),
      ("de", Seq(1000L, 1000L)), ("bad", Seq(-500L, 0L)))
      .toDF("term", "w_milli").write.mode("overwrite").parquet(wdir)
    val weights = spark.read.parquet(wdir)
    val corpus = Seq(
      (1L, "hello hello bonjour"), // en 2000 > fr 1000
      (2L, "bonjour mon ami"),     // fr
      (3L, "de"),                  // tie 1000/1000 -> first class (en)
      (4L, "xyz qqq unseen"),      // nothing known -> und
      (5L, "bad bad"),             // only negative evidence -> und
      // normalization lowercases but keeps punctuation attached:
      // "BONJOUR!" is NOT the token "bonjour" — only the bare repeats vote
      (6L, "hello BONJOUR! bonjour bonjour"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.classifyByWeights(corpus, "doc_id", "text",
        weights, classes)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Long](2))).toSeq
    assert(got == Seq(
      (1L, "en", Seq(2000L, 1000L)),
      (2L, "fr", Seq(0L, 1000L)),
      (3L, "en", Seq(1000L, 1000L)),
      (4L, "und", Seq(0L, 0L)),
      (5L, "und", Seq(-1000L, 0L)),
      (6L, "fr", Seq(1000L, 2000L))))
  }

  test("DSIR selection: target lookalikes rank first; gumbel path deterministic") {
    import spark.implicits._
    // target = chemistry-flavored; raw mixes lookalikes, sports text,
    // and a one-token doc (no bigram evidence at all)
    val target = Seq(
      (100L, "acid base reaction yields salt water"),
      (101L, "acid base titration curve analysis")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "acid base reaction in the lab"),
      (2L, "football season opening match report"),
      (3L, "acid base chemistry acid base notes"),
      (4L, "match report from the stadium"),
      (5L, "word")).toDF("doc_id", "text")
    val w = TextAnalysis.importanceWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.operators.Materialize.releaseAll()
    assert(w.keySet == Set(1L, 2L, 3L, 4L, 5L), "every raw doc is scored")
    assert(w(5L) == 0L, "a doc with no bigram carries zero evidence")
    assert(Seq(1L, 3L).map(w).min > Seq(2L, 4L).map(w).max,
      s"lookalikes must outscore off-domain docs: $w")
    val picked = TextAnalysis.importanceResample(raw, target, "doc_id",
        "text", k = 2)
      .collect().map(_.getLong(0)).toSet
    graft.operators.Materialize.releaseAll()
    // selection IS the weights' top-k (ties by id) — computed from the
    // weights themselves, because with a tiny target the add-one prior
    // legitimately leaves some in-domain docs below the zero-evidence
    // floor (the real DSIR smoothing artifact, not a bug to paper over)
    val expected = w.toSeq.sortBy { case (id, wt) => (-wt, id) }
      .take(2).map(_._1).toSet
    assert(picked == expected, s"selection $picked != weight top-2 $expected")
    // the gumbel form is deterministic under a fixed seed and changes
    // only the ORDER evidence ties would leave ambiguous — rerunning
    // yields the identical selection
    def gum() = {
      val out = TextAnalysis.importanceResample(raw, target, "doc_id",
          "text", k = 3, gumbelSeed = Some(42L))
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
      graft.operators.Materialize.releaseAll()
      out
    }
    val g1 = gum()
    assert(g1 == gum(), "seeded gumbel selection must be bit-stable")
    // the perturbed key really differs from the raw weight (noise landed)
    assert(g1.exists { case (id, key) => key != w(id) })
  }

  test("bm25IndexSpecs fold path: fresh frames per closure, maintained == rebuild") {
    import spark.implicits._
    import graft.operators.{Ivm, Materialize}
    // every closure gets a FRESH frame (new identity each call), so the
    // WeakHashMap tokenize memo can never hit — this pins the memo as a
    // pure optimization: correctness must not depend on the registry
    // handing all closures the same cut frame
    def mkBase() = Seq(
      (1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma delta"),
      (4L, "delta")).toDF("doc_id", "text")
    def mkNew() = Seq(
      (1L, "alpha beta"), (2L, "beta gamma updated"),
      (4L, "delta"), (5L, "new doc epsilon")).toDF("doc_id", "text")
    // an update, an insert, a delete, and a MISDECLARED insert for an
    // existing doc (same content) — the remove-then-reinsert discipline
    // the folds document must absorb it without doubling rows
    def mkChg() = Seq(
      (2L, "beta gamma updated", "U"), (5L, "new doc epsilon", "I"),
      (3L, null.asInstanceOf[String], "D"), (1L, "alpha beta", "I")
    ).toDF("doc_id", "text", "change")
    val specs = TextAnalysis.bm25IndexSpecs("fp", "doc_id", "text")
    assert(specs.size == 4)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    try {
      specs.foreach { a: Ivm.MaintainedAgg =>
        val seeded = a.seed(mkBase())
        val folded = a.fold(seeded, mkBase(), mkNew(), mkChg(), Seq("doc_id"))
        val rebuilt = a.seed(mkNew())
        assert(rowsOf(folded) == rowsOf(rebuilt),
          s"${a.table}: fold over fresh frames drifted from the rebuild")
        // the scope closure also works on fresh frames and stays
        // delta-sized (never the whole key/term space)
        a.scope.foreach { sc =>
          val s = sc(mkBase(), mkNew(), mkChg(), Seq("doc_id"))
          assert(s.count() > 0 && s.count() < 12,
            s"${a.table}: scope should be delta-sized")
        }
      }
    } finally Materialize.releaseAll()
  }

  test("unigramTrain: hand-computed seed, expectation counts, prune rounds") {
    import spark.implicits._
    val corpus = Seq((0L, "abab ab"), (1L, "abab cd")).toDF("doc_id", "text")
    // words: abab×2, ab×1, cd×1. Seed substring counts (maxPieceLen 2):
    //   a:5 b:5 ab:5 ba:2 c:1 d:1 cd:1
    // singles {a,b,c,d} are mandatory; seedSize 2 keeps multis {ab, ba}
    // (cd, count 1, loses the (cnt desc, piece asc) order to ba at 2).
    // Round 1 greedy longest-match: abab→[ab,ab], ab→[ab], cd→[c,d]
    // (cd itself is NOT in the seeded vocab): counts ab:5 c:1 d:1,
    // a/b/ba unused. vocabSize 5 − 4 singles = 1 multi slot → ab.
    // Round 2 re-segments identically → same counts; final table:
    val got = TextAnalysis.unigramTrain(corpus, "text", vocabSize = 5,
        maxPieceLen = 2, rounds = 2, seedSize = 2)
      .orderBy("rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq(
      ("ab", 5L, 1), ("c", 1L, 2), ("d", 1L, 3), ("a", 0L, 4), ("b", 0L, 5)))
    // a vocabSize that cannot even hold the alphabet refuses
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.unigramTrain(corpus, "text", vocabSize = 3,
        maxPieceLen = 2, rounds = 1, seedSize = 2)
    }
    assert(err.getMessage.contains("single-character"))
  }

  test("unigramTrain prunes a seed piece the segmentation never uses") {
    import spark.implicits._
    // seed keeps both "ab" and "ba" (ba occurs inside abab), but greedy
    // longest-match from the left never SELECTS ba — after round 1 its
    // expectation count is zero and it must leave the vocabulary while
    // the unused-but-mandatory singles stay
    val corpus = Seq((0L, "abab abab ab")).toDF("doc_id", "text")
    val pieces = TextAnalysis.unigramTrain(corpus, "text", vocabSize = 4,
        maxPieceLen = 2, rounds = 1, seedSize = 4)
      .collect().map(_.getString(0)).toSet
    assert(pieces == Set("ab", "a", "b"),
      s"expected ba pruned and singles kept, got $pieces")
  }

  test("unigramSegment: greedy longest-match, unknown chars fall back, doc order holds") {
    import spark.implicits._
    val docs = Seq((1L, "abab xcy"), (2L, "  Abab  "), (3L, "")).
      toDF("doc_id", "text")
    val m = TextAnalysis.unigramSegment(docs, "doc_id", "text",
        pieces = Seq("ab", "c"), maxPieceLen = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    // abab → [ab, ab]; xcy → x (fallback), c (vocab), y (fallback)
    assert(m(1L) == ("ab ab x c y", 5))
    // normalization lowers and trims before segmenting
    assert(m(2L) == ("ab ab", 2))
    // an all-blank document yields no words, hence no rows — the
    // explode drops it (callers left-join if they need every doc)
    assert(!m.contains(3L))
    // training→apply round trip: segmenting with the trained pieces
    // reproduces the training-time segmentation counts
    val corpus = Seq((0L, "abab ab"), (1L, "abab cd")).toDF("doc_id", "text")
    val trained = TextAnalysis.unigramTrain(corpus, "text", vocabSize = 5,
        maxPieceLen = 2, rounds = 2, seedSize = 2)
      .collect().map(_.getString(0)).toSeq
    val seg = TextAnalysis.unigramSegment(corpus, "doc_id", "text",
        trained, maxPieceLen = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(seg(0L) == "ab ab ab" && seg(1L) == "ab ab c d")
  }

  test("bpeSegment applies trained merges in order, never across words") {
    import spark.implicits._
    val corpus = Seq((0L, "low low low"), (1L, "lower lower"), (2L, "lowest"))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(corpus, "text", nMerges = 8)
      .orderBy("merge_round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val got = TextAnalysis.bpeSegment(corpus, "doc_id", "text", merges)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // the 6 trained merges (see the bpeMerges spec) fully fuse low and
    // lower and lowest — each word is one piece, boundaries intact
    assert(got.toSeq == Seq(
      (0L, "low low low", 3), (1L, "lower lower", 2), (2L, "lowest", 1)))
    // partial vocabulary: only the first two merges -> "low" fuses,
    // suffixes stay at character grain, and a word the merges never saw
    // segments to characters
    val part = TextAnalysis.bpeSegment(
        Seq((0L, "lower"), (1L, "slow")).toDF("doc_id", "text"),
        "doc_id", "text", merges.take(2))
      .orderBy("doc_id")
      .collect().map(r => (r.getString(1), r.getInt(2)))
    // "lower" -> low e r; "slow": greedy l-o then lo-w fires INSIDE the
    // word only when adjacency survives: s l o w -> s lo w -> s low
    assert(part.toSeq == Seq(("low e r", 3), ("s low", 2)))
  }

  test("bpeSegmentGreedy == bpeSegment on trained tables, prefixes, corpus") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Int)] =
      df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val corpus = Seq((0L, "low low low"), (1L, "lower lower"), (2L, "lowest"))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(corpus, "text", nMerges = 8)
      .orderBy("merge_round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // full table and every training-consistent prefix of it — prefix
    // tables are what a truncated-vocab deployment applies
    for (k <- 0 to merges.length) {
      val m = merges.take(k)
      assert(asMap(TextAnalysis.bpeSegmentGreedy(corpus, "doc_id", "text", m)) ==
        asMap(TextAnalysis.bpeSegment(corpus, "doc_id", "text", m)),
        s"greedy encoder diverged from the replay chain at prefix $k")
    }
    // out-of-vocabulary words, within-word repeats, empty and blank docs
    val tricky = Seq((0L, "slow aaaa aaa"), (1L, ""), (2L, "   "),
      (3L, "low lowlow unseen"), (4L, "a"))
      .toDF("doc_id", "text")
    assert(asMap(TextAnalysis.bpeSegmentGreedy(tricky, "doc_id", "text", merges)) ==
      asMap(TextAnalysis.bpeSegment(tricky, "doc_id", "text", merges)))
    // the real corpus at spec scale, trained on itself
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dm = TextAnalysis.bpeMerges(docs, "text", nMerges = 12)
      .orderBy("merge_round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(asMap(TextAnalysis.bpeSegmentGreedy(docs, "doc_id", "text", dm)) ==
      asMap(TextAnalysis.bpeSegment(docs, "doc_id", "text", dm)))
    // the greedy path carries no table-size cap: a synthetic 5k-merge
    // table (far past any replace-chain codegen depth) must just run
    val big = merges ++ (1 to 5000).map(i => (s"z$i", s"q$i"))
    assert(asMap(TextAnalysis.bpeSegmentGreedy(corpus, "doc_id", "text", big)) ==
      asMap(TextAnalysis.bpeSegment(corpus, "doc_id", "text", merges)))
  }

  test("bigramLogProb: hand-computed add-one bigram LM, exact micro replay") {
    import spark.implicits._
    // corpus: "a b" x3 and "a c" — bigram counts c(a,b)=3 c(a,c)=1,
    // prefix c(a.)=4, vocab {a,b,c} V=3
    val corpus = Seq((0L, "a b"), (1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val micAB = math.floor(math.log((3 + 1.0) / (4 + 3)) * 1e6 + 0.5).toLong
    val micAC = math.floor(math.log((1 + 1.0) / (4 + 3)) * 1e6 + 0.5).toLong
    assert(got.toSeq == Seq((0L, 1L, micAB), (1L, 1L, micAB),
      (2L, 1L, micAB), (3L, 1L, micAC)))
    // the common bigram scores strictly higher than the rare one
    assert(micAB > micAC)
    // single-token docs have no bigram and drop out
    val short = TextAnalysis.bigramLogProb(
      Seq((0L, "a b"), (1L, "a")).toDF("doc_id", "text"), "doc_id", "text")
    assert(short.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(0L))
    // adding "c b" changes the model itself (the model IS the corpus):
    // now c(c,b)=1, c(c.)=1, so doc 9 scores ln(2/4) — conditionally
    // likelier than doc 3's ln(2/7) despite the rarer bigram, because
    // the prefix 'c' is rare too. Exact replay of the new aggregates:
    val ext = TextAnalysis.bigramLogProb(
        (Seq((0L, "a b"), (1L, "a b"), (2L, "a b"), (3L, "a c"), (9L, "c b")))
          .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    def micro(p: Double): Long = math.floor(math.log(p) * 1e6 + 0.5).toLong
    assert(ext(0L) == micro(4.0 / 7) && ext(3L) == micro(2.0 / 7) &&
      ext(9L) == micro(2.0 / 4))
    assert(ext(3L) < ext(9L) && ext(9L) < ext(0L))
  }

  test("extractHtmlText: blocks out, tags to spaces, entities decoded in order") {
    import spark.implicits._
    val cases = Seq(
      // script content (with embedded < > &&) and comments go wholesale;
      // tags become spaces so words do not fuse across elements
      ("<html><head><SCRIPT type=\"a\">if (1 < 2 && 3 > 0) x();</SCRIPT>" +
        "<style>p { a: b }</style></head>" +
        "<body><p>one</p><p>two</p><!-- no -->three</body></html>",
        "one two three"),
      // entity decode: &amp; decodes LAST, so &amp;lt; is the literal
      // text "&lt;", while a real &lt; becomes "<"
      ("A &lt;b&gt; B &amp;lt;c&amp;gt; C &quot;q&quot; &#39;s&#39;&nbsp;D &amp; E",
        "A <b> B &lt;c&gt; C \"q\" 's' D & E"),
      // multi-line block elements and whitespace collapse
      ("<div>\n  alpha\n</div>\n<script>\nvar t = \"<div>\";\n</script>\n<div>beta</div>",
        "alpha beta"))
    val got = cases.map(_._1).zipWithIndex.map { case (h, i) => (i, h) }
      .toDF("i", "h")
      .select(col("i"), TextAnalysis.extractHtmlText(col("h")).as("txt"))
      .orderBy("i").collect().map(_.getString(1)).toSeq
    assert(got == cases.map(_._2))
  }

  test("canonicalizeUrl: case, fragment, tracking, port, www, slash") {
    import graft.operators.UrlFilter
    import spark.implicits._
    val cases = Seq(
      // every normalization at once — incl. the path-final slash BEFORE
      // a surviving query collapsing like the end-of-string one
      ("https://www.Example.com:443/A/1/?utm_source=x&q=2#frag",
        "https://example.com/a/1?q=2"),
      ("HTTPS://EXAMPLE.COM/a/1/", "https://example.com/a/1"),
      ("https://example.com:80/a/1#nav", "https://example.com/a/1"),
      ("https://example.com/a/1?ref=tw", "https://example.com/a/1"),
      // slash variants with a query merge onto one key
      ("https://example.com/a/1/?q=2", "https://example.com/a/1?q=2"),
      // a path segment that merely CONTAINS a tracking-lookalike is
      // untouched (the strip is anchored at ?/&); dangling & cleaned
      ("https://example.com/href=x/page?id=1&utm_campaign=z",
        "https://example.com/href=x/page?id=1"),
      // multiple tracking params back-to-back, kept param survives
      ("http://example.com/p?gclid=1&fbclid=2&keep=3&mc_eid=4",
        "http://example.com/p?keep=3"),
      // port only strips when it IS the default; host case folds
      ("https://Example.com:8443/x", "https://example.com:8443/x"),
      // query values keep their case (base64-style ids are
      // case-SENSITIVE); tracking names still strip case-insensitively
      ("https://example.com/watch?v=AbCdEf&UTM_Source=x",
        "https://example.com/watch?v=AbCdEf"),
      // a '/?' INSIDE a query value (redirect-style params embedding
      // URLs) is data, not a path-final slash — it must survive
      ("https://example.com/r?u=/a/?x=1",
        "https://example.com/r?u=/a/?x=1"))
    val got = cases.map(_._1).zipWithIndex.map { case (u, i) => (i, u) }
      .toDF("i", "u")
      .select(col("i"), UrlFilter.canonicalizeUrl(col("u")).as("c"))
      .orderBy("i").collect().map(_.getString(1)).toSeq
    assert(got == cases.map(_._2))
  }

  test("dedupByCanonicalUrl keeps the best row per canonical form") {
    import graft.operators.UrlFilter
    import spark.implicits._
    val rows = Seq(
      (1L, "https://www.site.com/a?utm_source=x", 10L),
      (2L, "https://site.com/a/", 30L), // best of the /a group
      (3L, "HTTP://SITE.COM/a", 30L),   // http scheme: its own canonical key
      (4L, "https://site.com/b#f", 5L),
      (5L, "https://site.com/a", 30L)   // ties with 2 -> doc_id asc wins
    ).toDF("doc_id", "url", "score")
    val got = UrlFilter.dedupByCanonicalUrl(rows, "url", "score", "doc_id")
      .select("doc_id", "canon_url").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (2L, "https://site.com/a"),
      (3L, "http://site.com/a"),
      (4L, "https://site.com/b")))
    // refuses to silently clobber an existing column
    intercept[IllegalArgumentException] {
      UrlFilter.dedupByCanonicalUrl(
        rows.withColumn("canon_url", lit("x")), "url", "score", "doc_id")
    }
  }

  test("cleanText drops control/zero-width chars, maps NBSP, collapses ws") {
    import spark.implicits._
    val cases = Seq(
      ("a\u0007b\u001fc\u007fd\u009fe", "abcde"),       // controls drop
      ("x\u200by\u200cz\u200dw\ufeffv\ufffdu", "xyzwvu"), // zero-width drop
      ("a\u00a0b  c\t\nd", "a b c d"),                  // NBSP + collapse
      ("  tab\there  ", "tab here"),                    // trim
      ("keep\nnewline\rCR", "keep newline CR"))
    val got = cases.map(_._1).zipWithIndex.map { case (u, i) => (i, u) }
      .toDF("i", "t")
      .select(col("i"), TextAnalysis.cleanText(col("t")).as("c"))
      .orderBy("i").collect().map(_.getString(1)).toSeq
    assert(got == cases.map(_._2))
  }

  test("exactIncremental accepts only unseen fingerprints, in-batch winner") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val seen = Dedup.exact(corpus, "doc_id", "text").select("fingerprint")
    // batch: one store dup (Alpha Beta normalizes onto doc 1's text),
    // one in-batch dup pair, one singleton
    val batch = Seq((10L, "  Alpha   BETA "), (11L, "delta"), (12L, "delta"),
      (13L, "epsilon")).toDF("doc_id", "text")
    val got = Dedup.exactIncremental(batch, "doc_id", "text", seen)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((11L, 2L), (13L, 1L))) // (keep_id, dup_count)
    // closing the loop: replaying the same batch against the grown store
    // accepts nothing
    val grown = seen.union(
      Dedup.exactIncremental(batch, "doc_id", "text", seen)
        .select("fingerprint"))
    assert(Dedup.exactIncremental(batch, "doc_id", "text", grown).isEmpty)
  }

  test("packContexts: concat-then-slice positions, straddle, invariance") {
    import graft.operators.PrefixScan
    import spark.implicits._
    // cum 300,600,1100,1112 at C=512 -> starts 0,300,600,1100
    val rows = Seq((1L, 300), (2L, 300), (3L, 500), (4L, 12))
      .toDF("doc_id", "n_tokens")
    val got = PrefixScan.packContexts(rows, "doc_id", "n_tokens", 512L)
      .select("doc_id", "context_id", "offset", "end_context_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 0L, 0L, 0L), (2L, 0L, 300L, 1L), // doc 2 straddles
      (3L, 1L, 88L, 2L), (4L, 2L, 76L, 2L)))
    graft.operators.Materialize.releaseAll()
    // bucket count must not change the arithmetic
    val alt = PrefixScan.packContexts(rows, "doc_id", "n_tokens", 512L,
        buckets = 3)
      .select("doc_id", "context_id", "offset", "end_context_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(alt == got)
    graft.operators.Materialize.releaseAll()
    intercept[IllegalArgumentException] {
      PrefixScan.packContexts(rows.withColumn("offset", lit(1)),
        "doc_id", "n_tokens", 512L)
    }
  }

  test("removeBoilerplateSentences drops shared sentences, keeps order") {
    import spark.implicits._
    val rows = Seq(
      (1L, "Alpha body one. Buy our plan now! Beta body one."),
      (2L, "Gamma two. Buy our plan now! Delta two."),
      (3L, "Buy our plan now! Epsilon three."),
      (4L, "Zeta four only.")).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplateSentences(rows, "doc_id", "text",
        minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(
      1L -> "Alpha body one. Beta body one.",
      2L -> "Gamma two. Delta two.",
      3L -> "Epsilon three.",
      4L -> "Zeta four only."))
  }

  test("sentences: terminator+space boundaries, trim, dense positions") {
    import spark.implicits._
    val cases = Seq(
      ("One. Two! Three? Four", Seq("One.", "Two!", "Three?", "Four")),
      ("No terminator at all", Seq("No terminator at all")),
      // terminator at END: no trailing empty piece survives
      ("Tail stays. End.", Seq("Tail stays.", "End.")),
      // multiple spaces after the boundary collapse into the split
      ("A.  B.", Seq("A.", "B.")),
      // the documented abbreviation limitation — splits after 'Mr.'
      ("Mr. Smith waved.", Seq("Mr.", "Smith waved.")),
      // '...' splits once at the run's end, not per dot
      ("Wait... done.", Seq("Wait...", "done.")))
    val got = cases.map(_._1).zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "text")
      .select(col("i"), TextAnalysis.sentences(col("text")).as("ss"))
      .orderBy("i").collect().map(_.getSeq[String](1).toSeq).toSeq
    assert(got == cases.map(_._2))
  }

  test("dominantScript: per-class counts, ordered tie-break, und fallback") {
    import spark.implicits._
    val cases = Seq(
      ("hello world", "latin"),
      ("Привет мир", "cyrillic"),
      ("你好世界 ここ", "cjk"),
      ("مرحبا", "arabic"),
      ("αβγδ", "greek"),
      ("नमस्ते", "devanagari"),
      ("안녕하세요", "hangul"),
      ("3.14 1234 !!", "und"),     // no script characters at all
      ("abПр", "latin"))           // 2 vs 2: earlier class wins the tie
    val got = cases.map(_._1).zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "text")
      .select(col("i"), TextAnalysis.dominantScript(col("text")).as("s"))
      .orderBy("i").collect().map(_.getString(1)).toSeq
    assert(got == cases.map(_._2))
  }

  test("trigramBackoffLogProb: hand-computed stupid backoff at every level") {
    import spark.implicits._
    // model: "a b c" x2, "a b d" — trained counts:
    //   unigrams a:3 b:3 c:2 d:1  N=9 V=4
    //   bigrams (a,b):3 (b,c):2 (b,d):1
    //   trigrams (a,b,c):2 (a,b,d):1
    val model = Seq((0L, "a b c"), (1L, "a b c"), (2L, "a b d"))
      .toDF("doc_id", "text")
    // scored docs: every backoff level fires —
    //   doc 10 "a b c":   seen trigram        -> ln(2/3)
    //   doc 11 "c b d"?? trigram (c,b,d) unseen, bigram (b,d) seen
    //                                          -> ln(0.4 * 1/3)
    //   doc 12 "b a x":   trigram unseen, bigram (a,x) unseen, x OOV
    //                                          -> ln(0.4*0.4*(0+1)/(9+4))
    //   doc 13 "c a d":   trigram unseen, bigram (a,d) unseen, d seen
    //                                          -> ln(0.4*0.4*(1+1)/(9+4))
    val scored = Seq((10L, "a b c"), (11L, "c b d"), (12L, "b a x"),
      (13L, "c a d")).toDF("doc_id", "text")
    val got = TextAnalysis.trigramBackoffLogProb(scored, model, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def mic(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    assert(got.toSeq == Seq(
      (10L, 1L, mic(2.0 / 3)),
      (11L, 1L, mic(0.4 * 1 / 3.0)),
      (12L, 1L, mic(0.4 * 0.4 * (0 + 1.0) / (9 + 4))),
      (13L, 1L, mic(0.4 * 0.4 * (1 + 1.0) / (9 + 4)))))
    // a doc shorter than one trigram drops out; occurrence weighting
    // multiplies the fixed micro term
    val rep = TextAnalysis.trigramBackoffLogProb(
        Seq((20L, "a b c a b c"), (21L, "a b")).toDF("doc_id", "text"),
        model, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rep.toSeq == Seq((20L, 4L)))
    // seen trigrams score strictly higher than backed-off ones
    assert(got(0)._3 > got(1)._3 && got(1)._3 > got(3)._3 && got(3)._3 > got(2)._3)
  }

  test("hashedEmbedding: JVM weight replay, unit norm, ANN-ready shape") {
    import spark.implicits._
    def w(tok: String, j: Int): Long = {
      // dimension j = 16-bit slice at hex offset 4j of ONE digest
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.substring(j * 4, j * 4 + 4)
      java.lang.Long.parseLong(hex, 16) % 2001 - 1000
    }
    val texts = Seq("the cat sat", "on the mat", "")
    val expect = texts.map(t => (0 until 4).map(j =>
      TextAnalysisReplay.normalize(t).split(" ", -1).map(w(_, j)).sum).toSeq)
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "text")
    val got = df
      .select(col("i"), TextAnalysis.hashedEmbeddingMilli(col("text"), 4).as("e"))
      .orderBy("i").collect().map(_.getSeq[Long](1).toSeq).toSeq
    assert(got == expect)
    // unit form: norm 1 within float tolerance, cosine-ready
    val norms = df
      .select(TextAnalysis.hashedEmbeddingUnit(col("text"), 4).as("e"))
      .select(aggregate(col("e"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double")).as("n2"))
      .collect().map(_.getDouble(0))
    norms.foreach(n2 => assert(math.abs(n2 - 1.0) < 1e-6))
    // native codegen'd fold == interpreted HOF reference, on real corpus
    // (null-safe inequality: a one-sided NULL must COUNT as a mismatch,
    // not silently drop from the filter)
    val mismatch = docs.select(
        TextAnalysis.hashedEmbeddingMilli(col("text"), 8).as("a"),
        TextAnalysis.hashedEmbeddingMilliHof(col("text"), 8).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(mismatch == 0)
    // null-ELEMENT poisoning matches the HOF too: d null coordinates,
    // not a null array
    val poisoned = spark.range(1)
      .select(array(lit("a"), lit(null).cast("string")).as("toks"))
      .select(graft.functions.HashedEmbedding.hashedBowMilli(col("toks"), 3)
        .as("e"))
      .collect().head.getSeq[Any](0)
    assert(poisoned == Seq(null, null, null))
    // SQL registration path, the dot_product discipline
    graft.functions.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT hashed_bow_embedding(array('the', 'cat'), 2) AS e")
      .collect().head.getSeq[Long](0).toSeq
    val viaCol = spark.range(1)
      .select(graft.functions.HashedEmbedding.hashedBowMilli(
        array(lit("the"), lit("cat")), 2).as("e"))
      .collect().head.getSeq[Long](0).toSeq
    assert(viaSql == viaCol)
    // the generated vectors slot straight into the ANN stack
    val emb = docs.limit(50).select(col("doc_id").as("vec_id"),
      TextAnalysis.hashedEmbeddingUnit(col("text"), 8).as("embedding"))
    val topk = Similarity.bruteForceTopK(emb, emb.limit(5), "vec_id",
      "embedding", k = 3)
    assert(topk.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 3))
  }

  test("learned-weight seam: a loaded weight table overrides the md5 stand-in") {
    import spark.implicits._
    def hashW(tok: String, j: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.substring(j * 4, j * 4 + 4)
      java.lang.Long.parseLong(hex, 16) % 2001 - 1000
    }
    // the parquet -> driver -> broadcast leg: the fixture model artifact
    // round-trips through parquet like any trained-weight table would
    val dir = java.nio.file.Files.createTempDirectory("graft-weights").toString
    Seq(("cat", Array(5L, -7L, 11L)), ("mat", Array(100L, 0L, -3L)))
      .toDF("term", "w_milli").write.mode("overwrite").parquet(dir)
    val weights = spark.read.parquet(dir)
    val df = Seq((0, "the cat sat"), (1, "on the mat"), (2, "dog dog cat"))
      .toDF("i", "text")
    val got = df.select(col("i"),
        TextAnalysis.hashedEmbeddingMilli(col("text"), 3, weights).as("e"))
      .orderBy("i").collect().map(_.getSeq[Long](1).toSeq).toSeq
    // trained terms take table weights, everything else the md5 slices
    val learned = Map("cat" -> Seq(5L, -7L, 11L), "mat" -> Seq(100L, 0L, -3L))
    val expect = Seq("the cat sat", "on the mat", "dog dog cat").map(t =>
      (0 until 3).map(j => t.split(" ").map(tok =>
        learned.get(tok).map(_(j)).getOrElse(hashW(tok, j))).sum).toSeq)
    assert(got == expect)
    // an EMPTY table recovers the hashed twin bit for bit, corpus-wide
    val empty = spark.emptyDataset[(String, Array[Long])].toDF("term", "w_milli")
    val mismatch = docs.select(
        TextAnalysis.hashedEmbeddingMilli(col("text"), 8, empty).as("a"),
        TextAnalysis.hashedEmbeddingMilli(col("text"), 8).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(mismatch == 0)
    // the scalar-weight classifier form: score is coordinate 0
    val sw = Seq(("spamword", -5000L)).toDF("term", "w_milli")
    val scored = Seq((0, "a spamword b"), (1, "a b"))
      .toDF("i", "text")
      .select(col("i"),
        TextAnalysis.hashedLinearScoreMilli(col("text"), sw).as("s"),
        TextAnalysis.hashedLinearScoreMilli(col("text")).as("s0"))
      .orderBy("i").collect()
    // doc 0: spamword's stand-in contribution replaced by -5000
    assert(scored(0).getLong(1) ==
      scored(0).getLong(2) - hashW("spamword", 0) + (-5000L))
    // doc 1 has no trained term: learned == stand-in
    assert(scored(1).getLong(1) == scored(1).getLong(2))
    // malformed tables are rejected loudly, not silently mis-scored
    intercept[IllegalArgumentException] {
      TextAnalysis.hashedEmbeddingMilli(col("text"), 2, weights) // len 3 != 2
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.hashedEmbeddingMilli(col("text"), 3,
        weights.unionByName(weights)) // duplicate terms
    }
  }

  test("hashedLinearScoreMilli equals a JVM replay of the hash weights") {
    import spark.implicits._
    def w(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = d.take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 2001 - 1000
    }
    val texts = Seq("the cat sat", "THE the the", "", "one-token",
      "a b c d e f g h")
    val expect = texts.map(t =>
      TextAnalysisReplay.normalize(t).split(" ", -1).map(w).sum)
    val got = texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "text")
      .select(col("i"),
        TextAnalysis.hashedLinearScoreMilli(col("text")).as("s"))
      .orderBy("i").collect().map(_.getLong(1)).toSeq
    assert(got == expect)
  }
}

/** The normalizeText contract replayed on the JVM for hand-checks. */
private object TextAnalysisReplay {
  def normalize(s: String): String =
    s.trim.toLowerCase.replaceAll("\\s+", " ")
}
