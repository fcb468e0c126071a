package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Brute-force cosine top-k is the exact baseline (broadcast the small query
 * side, scan the corpus once — fine when queries are few). The scale path
 * is LSH bucketing: a 100 TB corpus is sketched once into buckets and
 * queries only scan their own (multi-probed) buckets, turning the
 * O(|Q|×|C|) scan into a bucket-local join. Embedding near-dup detection
 * reuses the same buckets.
 *
 * Two bucket families:
 *  - seeded random hyperplanes ([[lshBucket]]) — the classic SRP sketch;
 *  - sign-bit buckets ([[signBucket]]) — bit i is the sign of dimension i,
 *    which zero-centered embedding spaces make balanced. Deliberately
 *    reproducible by any external SQL engine (the correctness oracle
 *    recomputes buckets, probes, and ranking bit-for-bit).
 *
 * Vector math is `zip_with`/`aggregate` column expressions in double
 * precision with left-to-right summation — deterministic and reproducible
 * by an external oracle engine.
 */
object Similarity {

  /** Codegen'd left-to-right double fold (custom Catalyst expression,
   * graft.functions.DotProduct). Bit-identical to the higher-order
   * `aggregate(zip_with(...))` form — same summation order — but stays in
   * whole-stage codegen instead of interpreting a lambda per element.
   * (An unrolled 64-term element_at chain was measured SLOWER than the
   * HOF — codegen method-size blowup — hence a proper expression.) */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotNative(
      a.cast("array<double>"), b.cast("array<double>"))

  /** The interpreted higher-order-function form, kept as the reference
   * implementation the native expression is tested against. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** cast to double + precompute the norm once per row. */
  def prepared(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vid"), col(vecCol).cast("array<double>").as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))

  /** [[prepared]] for the corpus side of the PAIR-GRAPH operators
   * (cosinePairs / signCosinePairs), whose per-bucket all-pairs dot
   * products are heavy enough to amortize one spread exchange on a
   * one-file corpus (no-op at real scale: file partitions >> cores).
   * The ANN top-k serve paths deliberately keep plain [[prepared]] —
   * measured at bench scale, their per-row vector work is microseconds
   * and the extra AQE query stage cost MORE than the parallelism bought
   * (r21 A/B: s07 +0.14 s, s08 +0.12 s, s12 +0.09 s with the spread;
   * d05 −0.07 s, d11 −0.06 s for the pair ops). */
  private def preparedSpread(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    prepared(graft.operators.TextAnalysis.spreadAcrossCores(df), idCol, vecCol)

  /**
   * Exact cosine top-k: for each query vector, the k nearest corpus
   * vectors. The query side is broadcast (small by construction); the
   * corpus is scanned exactly once; ranking is a per-query window.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val q = prepared(queries, idCol, vecCol)
      .select(col("vid").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val scored = c.join(broadcast(q), col("vid") =!= col("query_id"))
      .withColumn("cos", dot(col("vec"), col("qvec")) / (col("nrm") * col("qnrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vid").as("neighbor_id"), col("cos"))
  }

  /**
   * Cross-corpus SEMANTIC decontamination — the embedding-space twin of
   * the exact/bloom n-gram benchmark checks ([[graft.operators.Dedup
   * .decontaminate]] / `bloomDecontaminate`): drop every corpus row
   * whose vector is within cosine `threshold` of ANY benchmark vector,
   * catching the paraphrased / reformatted / lightly-edited test items
   * that token-overlap checks structurally miss (the modern
   * contamination concern — scaled or re-embedded copies score cosine
   * ~1 while sharing few exact n-grams). Returns the SURVIVING corpus
   * rows with their original columns. NOTE: unlike this file's other
   * (lazy) builders, construction runs ONE eager limit-capped count of
   * the bench side — the price of refusing an oversized bench with a
   * clear error instead of an executor OOM mid-broadcast; callers with
   * an expensive derived bench should cut it ([[Materialize]]) first.
   *
   * Scale shape: benchmark suites are small by construction (10^4–10^5
   * vectors), so the contaminated set leaves via ONE broadcast
   * nested-loop ANTI join whose condition IS the cosine test — the
   * corpus scans once with zero shuffle, and each row short-circuits at
   * its first contaminating match (anti-join semantics), the common
   * case for clean rows being a full sweep of the broadcast bench
   * table at in-memory dot-product speed. If the "benchmark" side is
   * corpus-scale this is the wrong operator — use the banded pair path
   * ([[signCosinePairs]]) and anti-join its hits instead.
   */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
                            vecCol: String, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    // the broadcast-NL form is bounded BY CONSTRUCTION, not by hope: an
    // unbounded bench side would OOM executors long before the join
    // errors usefully. The count is capped (limit pushdown stops the
    // scan at the bound), so the guard itself never scans a large bench.
    val benchRows = bench.limit(MaxBroadcastBenchRows + 1).count()
    require(benchRows <= MaxBroadcastBenchRows,
      s"bench side exceeds $MaxBroadcastBenchRows rows — the broadcast " +
        "nested-loop form would materialize it per executor; use " +
        "semanticDecontaminateScaled (sign-bucket candidate restriction) " +
        "for corpus-scale benchmark sets")
    val b = bench.select(col(vecCol).cast("array<double>").as("__bvec"))
      .withColumn("__bnrm", l2Norm(col("__bvec")))
    val withNorm = corpus
      .withColumn("__cvec", col(vecCol).cast("array<double>"))
      .withColumn("__cnrm", l2Norm(col("__cvec")))
    // the norm guards are load-bearing: a zero-norm vector on EITHER
    // side makes the cosine 0/0 = NaN, and Spark's NaN-largest ordering
    // evaluates `NaN >= threshold` as TRUE — one all-zeros benchmark
    // row (a failed/padded embedding, common in practice) would then
    // silently drop the ENTIRE corpus. Zero-norm vectors have no
    // direction, so they can contaminate nothing and match nothing.
    // The isnan guards close the OTHER failed-embedding shape: a NaN
    // COMPONENT makes the norm NaN, and under NaN-largest ordering
    // `NaN > 0` is TRUE — the zero-norm guard alone would pass it and
    // the NaN cosine would again drop everything. NaN vectors, like
    // zero vectors, have no direction: they match nothing.
    withNorm.join(broadcast(b),
        !isnan(col("__cnrm")) && !isnan(col("__bnrm")) &&
          col("__cnrm") > 0 && col("__bnrm") > 0 &&
          dot(col("__cvec"), col("__bvec")) / (col("__cnrm") * col("__bnrm"))
            >= threshold,
        "left_anti")
      .drop("__cvec", "__cnrm")
  }

  /** Bench-row bound for [[semanticDecontaminate]]'s broadcast form —
   * generous headroom over real benchmark suites (10^4–10^5 items) while
   * keeping the worst-case broadcast build side well under executor
   * memory (256k × 768-dim doubles ≈ 1.6 GB). */
  val MaxBroadcastBenchRows: Int = 262144

  /**
   * Benchmark-scale semantic decontamination — the candidate-restricted
   * twin of [[semanticDecontaminate]] for bench sides too large to
   * broadcast. Both sides sketch to a sign-bit bucket over the first
   * `planes` dimensions ([[signBucket]] — zero-centered embeddings split
   * ~evenly per bit); a corpus row is COMPARED only against bench rows
   * whose bucket lies within Hamming distance 1 of its own, and drops
   * iff such a bench row also passes the exact cosine test. The
   * Hamming<=1 candidate predicate is part of the operator contract
   * (the same discipline as [[signCosinePairs]]) — results are
   * deterministic and oracle-reproducible, not best-effort.
   *
   * Scale shape, stage by stage: (1) the DISTINCT bench buckets expand
   * to their single-bit-flip probe set — at most
   * min(benchRows, 2^planes)·(planes+1) longs, bounded by the bucket
   * space no matter how large the bench is — and broadcast as a
   * semi-join, so the corpus scans once and non-candidates leave
   * map-side with NO shuffle; (2) only the surviving candidates (the
   * rows near any bench bucket) meet the bench in a hash join keyed on
   * the probe id — a bucket pair within Hamming 1 meets on exactly one
   * probe key — with the exact cosine evaluated per candidate pair;
   * (3) contaminated ids anti-join back against the corpus (delta-sized,
   * AQE broadcasts it). Nothing in the plan materializes the bench per
   * executor, which is precisely the failure mode of the broadcast form
   * this variant exists to avoid. Needs an id column (the anti-join
   * key), unlike the broadcast form.
   */
  def semanticDecontaminateScaled(corpus: DataFrame, bench: DataFrame,
                                  idCol: String, vecCol: String,
                                  threshold: Double,
                                  planes: Int = 16): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    // planes caps the PROBE BROADCAST, not just recall: the distinct
    // probe set is min(benchBuckets, 2^planes)·(planes+1) longs, and
    // only the 2^planes ceiling keeps it bench-size-independent — at 16
    // bits that is ≤ ~9 MB however large the bench, while 2^24+ would
    // let a huge bench regrow the very broadcast this operator exists
    // to avoid
    require(planes >= 1 && planes <= 16, "planes must be in [1, 16]")
    val masks = array((lit(0L) +: (0 until planes).map(i => lit(1L << i))): _*)
    // zero-norm / NaN bench vectors have no direction and can
    // contaminate nothing — same guard as the broadcast form
    val b = bench.select(col(vecCol).cast("array<double>").as("__bvec"))
      .withColumn("__bnrm", l2Norm(col("__bvec")))
      .filter(!isnan(col("__bnrm")) && col("__bnrm") > 0)
      .withColumn("__bb", signBucket(col("__bvec"), planes))
    val probeIds = b.select(
        explode(transform(masks, m => col("__bb").bitwiseXOR(m))).as("__probe"))
      .distinct()
    val c = corpus
      .withColumn("__cvec", col(vecCol).cast("array<double>"))
      .withColumn("__cnrm", l2Norm(col("__cvec")))
      .withColumn("__cb", signBucket(col("__cvec"), planes))
    val candidates = c.join(broadcast(probeIds),
      col("__cb") === col("__probe"), "left_semi")
    val bProbes = b.select(col("__bvec"), col("__bnrm"),
      explode(transform(masks, m => col("__bb").bitwiseXOR(m))).as("__probe"))
    val contaminated = candidates
      .join(bProbes, col("__cb") === col("__probe"))
      .filter(!isnan(col("__cnrm")) && col("__cnrm") > 0 &&
        dot(col("__cvec"), col("__bvec")) / (col("__cnrm") * col("__bnrm"))
          >= threshold)
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * Corpus-overlap audit by THETA SKETCH set algebra — the question the
   * dedup/decontamination operators never answer cheaply: "HOW MUCH do
   * corpus A and corpus B share?", per group, WITHOUT joining them.
   * Each side folds to one k-bounded theta sketch per group in a single
   * scan (live-buffer [[graft.functions.ThetaUnionAgg]] — map-side
   * combine, group-cardinality-sized shuffle), and |A|, |B|, |A∩B|,
   * |A\B|, |B\A| read off the sketch PAIR: the cross-corpus "join" is
   * a full-outer on the group key over dashboard-scale rows. That is
   * the 100 TB triage in front of exact decontamination: estimate the
   * contamination MASS per (benchmark, shard) first, run the exact
   * span-level machinery (d08/d16/d22) only where the estimate says
   * there is something to remove. Estimates are EXACT while each side
   * retains under its nominal 2^lgK entries (no sampling yet — the
   * oracle-pinned regime); past it theta's ~1/sqrt(2^lgK) relative
   * error governs. A group absent from one side reads as an empty set
   * (zero overlap, everything "only").
   *
   * Both sides must feed the SAME value type — the sketch hashes by
   * type, so a long 5 and a string "5" are different members; the
   * aggregate's type check refuses anything but string/int/long/double.
   */
  def corpusOverlapSketch(a: DataFrame, b: DataFrame, group: Column,
                          value: Column, lgK: Int = 12): DataFrame = {
    import graft.functions.ThetaSketchExpressions.{thetaAgg, thetaAnotBEstimate,
      thetaEstimate, thetaIntersectEstimate}
    require(lgK >= 4 && lgK <= 26, "theta lgK must be in [4, 26]")
    val sa = a.groupBy(group.as("grp")).agg(thetaAgg(value, lgK).as("__sa"))
    val sb = b.groupBy(group.as("grp")).agg(thetaAgg(value, lgK).as("__sb"))
    sa.join(sb, Seq("grp"), "full_outer")
      .select(col("grp"),
        coalesce(thetaEstimate(col("__sa")), lit(0.0)).as("est_a"),
        coalesce(thetaEstimate(col("__sb")), lit(0.0)).as("est_b"),
        coalesce(thetaIntersectEstimate(col("__sa"), col("__sb")), lit(0.0))
          .as("est_overlap"),
        when(col("__sa").isNull, lit(0.0))
          .when(col("__sb").isNull, thetaEstimate(col("__sa")))
          .otherwise(thetaAnotBEstimate(col("__sa"), col("__sb")))
          .as("est_a_only"),
        when(col("__sb").isNull, lit(0.0))
          .when(col("__sa").isNull, thetaEstimate(col("__sb")))
          .otherwise(thetaAnotBEstimate(col("__sb"), col("__sa")))
          .as("est_b_only"))
  }

  /**
   * Filtered / key-partitioned ANN top-k — the "filtered vector search"
   * production shape (same-language neighbors, same-tenant retrieval,
   * license-compatible matches): each query ranks ONLY corpus vectors
   * sharing its `keyCol` value. The naive alternative — post-filtering
   * a global top-k — silently under-returns whenever the filter is
   * selective (a query whose k global neighbors all carry other keys
   * gets zero rows); restricting the CANDIDATE space keeps the
   * k-of-eligible contract, which is the point of the operator.
   *
   * Scale shape: the key equality rides the broadcast-join condition as
   * a map-side filter — corpus scanned once, nothing shuffles, same as
   * [[bruteForceTopK]]. At 100 TB a key-partitioned table layout
   * (`partitionBy(key)` or [[graft.catalog.Layout]] clustering) turns
   * the equality into file pruning when queries are key-batched; for an
   * index-accelerated form, pre-filter the corpus per key batch and run
   * the IVF family over it (the centroids then quantize the ELIGIBLE
   * distribution rather than the whole corpus). NULL-keyed rows match
   * nothing on either side (SQL equality), deliberately.
   */
  def keyedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, keyCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("vec"), col(keyCol).as("key"))
      .withColumn("nrm", l2Norm(col("vec")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"), col(keyCol).as("qkey"))
      .withColumn("qnrm", l2Norm(col("qvec")))
    val scored = c.join(broadcast(q),
        col("key") === col("qkey") && col("vid") =!= col("query_id"))
      .withColumn("cos", dot(col("vec"), col("qvec")) / (col("nrm") * col("qnrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vid").as("neighbor_id"),
        col("key"), col("cos"))
  }

  /**
   * Two-stage truncated-dimension re-rank ANN — the Matryoshka/MRL
   * funnel (Kusupati et al. 2022, "Matryoshka Representation
   * Learning"): stage 1 ranks the whole corpus by cosine on the FIRST
   * `dPrime` dimensions (a cheap filter: dPrime/dim of the flops, and
   * with dimension-ordered columnar storage dPrime/dim of the bytes);
   * stage 2 re-ranks only each query's top `mCand` survivors with the
   * full-dimension cosine. Recall is bounded by stage 1's funnel — the
   * documented trade; widen mCand to trade cost for recall. Both
   * stages rank ROUNDED scores with id tie-breaks (the family seam),
   * so an external oracle replays the funnel exactly. Zero-norm
   * truncated prefixes are outside the cosine contract, like the rest
   * of the family.
   *
   * Scale shape: stage 1 is the [[bruteForceTopK]] scan shape (queries
   * broadcast, corpus scanned once) at truncated cost plus the one
   * per-query rank window; stage 2 touches mCand rows per query.
   */
  def truncatedRerankTopK(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          dPrime: Int, mCand: Int): DataFrame = {
    require(dPrime >= 1, "dPrime must be >= 1")
    require(mCand >= k, "mCand must be >= k — stage 2 cannot rank rows stage 1 dropped")
    def truncated(df: DataFrame): DataFrame = df
      .withColumn("tvec", slice(col("vec"), 1, dPrime))
      .withColumn("tnrm", l2Norm(col("tvec")))
    val c = truncated(prepared(corpus, idCol, vecCol))
    val q = truncated(prepared(queries, idCol, vecCol))
      .select(col("vid").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"), col("tvec").as("qtvec"), col("tnrm").as("qtnrm"))
    val cw = Window.partitionBy(col("query_id"))
      .orderBy(col("tcos").desc, col("vid").asc)
    val cand = c.join(broadcast(q), col("vid") =!= col("query_id"))
      .withColumn("tcos",
        round(dot(col("tvec"), col("qtvec")) / (col("tnrm") * col("qtnrm")), 6))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= mCand)
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vid").asc)
    cand
      .withColumn("cos",
        round(dot(col("vec"), col("qvec")) / (col("nrm") * col("qnrm")), 4))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vid").as("neighbor_id"),
        col("cos"))
  }

  // --------------------------------------------------- hyperplane LSH

  /** Deterministic random hyperplanes (seeded) as a literal array column. */
  private def hyperplanes(dim: Int, planes: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit sketch of a vector under the seeded hyperplanes -> bucket id. */
  def lshBucket(vec: Column, dim: Int, planes: Int, seed: Long = 42L): Column = {
    val hp = hyperplanes(dim, planes, seed)
    hp.zipWithIndex.map { case (plane, i) =>
      val planeLit = array(plane.map(lit): _*)
      when(dot(vec, planeLit) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Corpus sketched into LSH buckets (the build side of the index). */
  def lshIndex(corpus: DataFrame, idCol: String, vecCol: String,
               dim: Int, planes: Int = 8, seed: Long = 42L): DataFrame =
    prepared(corpus, idCol, vecCol)
      .withColumn("bucket", lshBucket(col("vec"), dim, planes, seed))

  /**
   * Approximate top-k: queries join only their own LSH bucket plus
   * single-bit-flip probe buckets (multi-probe raises recall without
   * widening the scan). Work per query = its buckets' rows, not the corpus.
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int, planes: Int = 8,
              seed: Long = 42L): DataFrame =
    probedTopK(lshIndex(corpus, idCol, vecCol, dim, planes, seed),
      prepared(queries, idCol, vecCol)
        .withColumn("bucket0", lshBucket(col("vec"), dim, planes, seed)),
      k, planes)

  // ----------------------------------------------- sign-bit LSH (portable)

  /** Bucket from the sign bits of the first `planes` dimensions — balanced
   * for zero-centered embeddings and reproducible by any SQL engine.
   * Dimensions past the vector's length read as 0-bits (`try_element_at`
   * yields NULL, failing the `>= 0` test) — the same semantics a SQL
   * oracle's out-of-range `e[i]` produces, rather than an ANSI
   * out-of-bounds error on short vectors. */
  def signBucket(vec: Column, planes: Int): Column =
    (0 until planes).map { i =>
      when(try_element_at(vec, lit(i + 1)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k over sign-bit buckets with single-bit-flip probing
   * (candidates = corpus rows whose bucket is within Hamming 1 of the
   * query's). */
  def signTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, planes: Int = 8): DataFrame =
    probedTopK(
      prepared(corpus, idCol, vecCol)
        .withColumn("bucket", signBucket(col("vec"), planes)),
      prepared(queries, idCol, vecCol)
        .withColumn("bucket0", signBucket(col("vec"), planes)),
      k, planes)

  /** Shared probe-join + rank: query side explodes to its own bucket plus
   * each single-bit flip; the (big) indexed corpus never reshuffles. */
  private def probedTopK(idx: DataFrame, q0: DataFrame,
                         k: Int, planes: Int): DataFrame = {
    val probes = array((lit(0L) +: (0 until planes).map(i => lit(1L << i))): _*)
    val q = q0.select(col("vid").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"),
        explode(transform(probes, m => col("bucket0").bitwiseXOR(m))).as("bucket"))
    val scored = idx.join(broadcast(q),
        idx("bucket") === q("bucket") && col("vid") =!= col("query_id"))
      .withColumn("cos", dot(col("vec"), col("qvec")) / (col("nrm") * col("qnrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vid").as("neighbor_id"), col("cos"))
  }

  // -------------------------------------------------- scalar quantization

  /**
   * Per-vector symmetric int8 scalar quantization: scale = max|v|/127,
   * code_i = floor(v_i/scale + 0.5). Cuts embedding storage 4x (the
   * standard first compression step before ANN indexing at 100 TB); a
   * narrow map, zero shuffles. floor(x+0.5) is used instead of round()
   * because its semantics are identical in every SQL engine (the oracle
   * replays the arithmetic bit-for-bit); reconstruction error is bounded
   * by scale/2 per dimension ([[dequantize]] + spec).
   *
   * All-zero (or null) vectors have no quantization scale and are DROPPED
   * from the output — callers that must keep every id should anti-join
   * the result against the input to find the unquantizable rows.
   */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scale = aggregate(v, lit(0.0),
      (acc, x) => greatest(acc, abs(x))) / 127.0
    df.select(col(idCol), v.as("v"), scale.as("scale"))
      .filter(col("scale") > 0)
      .select(col(idCol), col("scale"),
        transform(col("v"),
          x => floor(x / col("scale") + 0.5).cast("int")).as("codes"))
  }

  /** Reconstruct approximate doubles from the int8 codes. */
  def dequantize(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  // --------------------------------------------------------- IVF (flat)

  /**
   * IVF-flat approximate top-k: the corpus is coarse-quantized into
   * `nCells` cells (nearest centroid by cosine); a query scans only its
   * `probes` nearest cells. The scan cost per query drops from |corpus| to
   * ~probes/nCells of it. Corpus assignment broadcasts the centroids and
   * picks each row's cell with a map-side-combined `max_by` aggregate, so
   * the nCells-times-expanded scoring rows never shuffle — only one
   * corpus-sized pre-aggregated exchange plus the final per-query rank.
   *
   * Default centroids are the first `nCells` corpus vectors by id —
   * deterministic, so the whole operator (assignment, probe choice,
   * ranking, ties by id) is reproducible by an external SQL oracle.
   * Pass `centroids` (schema `cid, cvec, cnrm`, e.g. from
   * [[trainIvfCentroids]]) to swap in a trained coarse quantizer without
   * touching the assignment/probe/rank pipeline.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16,
              probes: Int = 4, centroids: Option[DataFrame] = None): DataFrame = {
    val (indexed, q) =
      ivfFlatPieces(corpus, queries, idCol, vecCol, nCells, probes, centroids)
    scoreCells(indexed, q, k)
  }

  /** Shared IVF-flat stages — the ONE home of the assignment/probe seam
   * for [[ivfTopK]] and [[ivfRangeSearch]] (the oracle replays exactly
   * this, so the two operators must never drift apart):
   *  - `indexed`: each corpus row with its nearest cell. Argmax via
   *    min_by over (-ccos, cid) — highest score first, ties to the
   *    smallest cid, an ordering that works for ids of ANY orderable
   *    type (negating cid itself would null non-numeric ids); partial
   *    aggregation collapses the nCells expansion map-side.
   *  - `q`: each query's `probes` best cells (small side — one window).
   */
  private def ivfFlatPieces(corpus: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String, nCells: Int,
                            probes: Int,
                            centroids: Option[DataFrame]): (DataFrame, DataFrame) = {
    val cent = centroids.getOrElse(defaultCentroids(corpus, idCol, vecCol, nCells))
    val indexed = assignCells(corpus, idCol, vecCol, cent)
    (indexed, probeCells(queries, idCol, vecCol, cent, probes))
  }

  /**
   * Incremental IVF index maintenance — the CDC arc pointed at the ANN
   * stack. A production embedding index refreshes from a changelog (new
   * documents embedded, stale ones deleted, re-embedded ones updated),
   * it is not re-assigned corpus-wide per refresh; centroids re-train
   * rarely and stay PINNED between re-trainings (the frozen-quantizer
   * model). [[assignCellsFor]] materializes (id, cell, vec, nrm) index
   * rows for a vector set; [[applyIndexDelta]] folds an I/U/D vector
   * changelog into an existing index by assigning cells to ONLY the
   * changed vectors — delta-sized work against the broadcast centroid
   * table, plus the anti-join drop of replaced keys; and
   * [[ivfTopKFromIndex]] searches the maintained index through the
   * family's exact probe/rank seam, so a maintained index answers
   * bit-identically to one rebuilt from scratch over the new corpus
   * (the s15 oracle's claim).
   */
  def assignCellsFor(df: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame): DataFrame =
    assignCells(df, idCol, vecCol, centroids)
      .select(col("vid").as(idCol), col("cell"), col("vec"), col("nrm"))

  /** Fold an I/U/D changelog (the [[graft.operators.Scd.snapshotDiff]]
   * contract over (id, vector) rows) into a maintained index. */
  def applyIndexDelta(index: DataFrame, changes: DataFrame, idCol: String,
                      vecCol: String, centroids: DataFrame,
                      changeCol: String = "change"): DataFrame = {
    val gone = changes.filter(col(changeCol).isin("U", "D")).select(col(idCol))
    val arrived = assignCellsFor(
      changes.filter(col(changeCol).isin("I", "U")).select(col(idCol), col(vecCol)),
      idCol, vecCol, centroids)
    index.join(gone, Seq(idCol), "left_anti").unionByName(arrived)
  }

  /** IVF top-k over a maintained [[assignCellsFor]]-shaped index —
   * [[probeCells]] and [[scoreCells]] are the SAME helpers [[ivfTopK]]
   * runs through, so the maintained-index search cannot drift from the
   * one-shot family seam. */
  def ivfTopKFromIndex(index: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, probes: Int,
                       centroids: DataFrame): DataFrame =
    scoreCells(index.select(col(idCol).as("vid"), col("cell"),
        col("vec"), col("nrm")),
      probeCells(queries, idCol, vecCol, centroids, probes), k)

  /**
   * The [[assignCellsFor]] index as a maintained-registry spec
   * ([[graft.operators.Ivm.MaintainedAgg]]) over a vector base table:
   * one changelog commit moves vectors + index together, with the index
   * table committed PARTITION-SCOPED to the cells the batch touches —
   * cells of the changed ids' OLD vectors (re-derived against the
   * PINNED centroids, which is exact because assignment is
   * deterministic and the index was built by the same assignment) plus
   * cells of the new assignments. Register the index table with
   * `cell` as its bucket key; the same layout [[ivfTopKFromStore]]
   * serves from.
   */
  def ivfIndexSpec(table: String, idCol: String, vecCol: String,
                   centroids: DataFrame): graft.operators.Ivm.MaintainedAgg =
    graft.operators.Ivm.MaintainedAgg(table,
      seed = base => assignCellsFor(base, idCol, vecCol, centroids),
      fold = (rows, _, _, chg, _) =>
        applyIndexDelta(rows, chg, idCol, vecCol, centroids),
      scope = Some((old, _, chg, _) =>
        assignCellsFor(
            old.join(chg.select(col(idCol)), Seq(idCol), "left_semi")
              .select(col(idCol), col(vecCol)),
            idCol, vecCol, centroids).select("cell")
          .unionByName(assignCellsFor(
            chg.filter(col("change").isin("I", "U"))
              .select(col(idCol), col(vecCol)),
            idCol, vecCol, centroids).select("cell"))
          .distinct()))

  /** Persist an [[assignCellsFor]]-shaped index into the table store,
   * bucketed by CELL — each cell's members co-locate, so a query batch
   * reads only its probed cells' buckets ([[ivfTopKFromStore]]). */
  def writeIvfIndex(store: graft.catalog.MergeSnapshotStore, db: String,
                    table: String, location: String,
                    index: DataFrame): Unit = {
    store.catalog.register(ivfIndexMeta(db, table, location))
    store.overwrite(db, table, index)
  }

  /** Catalog entry for a cell-bucketed index table: bucketed by `cell`,
   * file-stats measurement opted out (reads are cell point lookups,
   * never numeric ranges — the stats job would be per-commit overhead). */
  def ivfIndexMeta(db: String, table: String,
                   location: String): graft.catalog.TableMeta =
    graft.catalog.TableMeta(db, table, location, primaryKey = Seq("cell"),
      properties =
        Map(graft.catalog.MergeSnapshotStore.StatsProp -> "false"))

  /**
   * Serve an IVF query batch from a persisted cell-bucketed index
   * WITHOUT touching the corpus or the full index: the batch's probed
   * cells (queries × probes ids — driver-sized by the point-lookup
   * contract) load through the store's bucket-pruned point lookup with
   * the cell predicate pushed into the scan, then the family's exact
   * probe/rank seam scores them — the t28 served-retrieval discipline
   * for vectors. Per-batch cost is members-of-probed-cells, never index
   * scale; results are bit-identical to [[ivfTopKFromIndex]] over the
   * same index (the s16 oracle's claim).
   */
  def ivfTopKFromStore(store: graft.catalog.MergeSnapshotStore, db: String,
                       table: String, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, probes: Int,
                       centroids: DataFrame): DataFrame =
    ivfServed(store, db, table, queries, idCol, vecCol, k, probes,
      centroids, None)

  /**
   * [[ivfTopKFromStore]] pinned to one index snapshot — the serving form
   * under concurrent maintenance: `pinVersion` is the index table's
   * manifest version (from [[graft.operators.Ivm.MaintainedAggregates
   * .pinVersions]] when the index is registry-maintained). A reader
   * holding the pin keeps answering from that snapshot while commits
   * land and vacuum runs; the retention horizon is the serving lease.
   */
  def ivfTopKFromStore(store: graft.catalog.MergeSnapshotStore, db: String,
                       table: String, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, probes: Int,
                       centroids: DataFrame, pinVersion: Int): DataFrame =
    ivfServed(store, db, table, queries, idCol, vecCol, k, probes,
      centroids, Some(pinVersion))

  /** The ONE served-ANN body behind both overloads — the version is the
   * only difference between latest-snapshot and pinned serving. */
  private def ivfServed(store: graft.catalog.MergeSnapshotStore, db: String,
                        table: String, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, probes: Int,
                        centroids: DataFrame,
                        version: Option[Int]): DataFrame = {
    // cut: the probe table feeds BOTH the point lookup's key collect
    // and the scoring broadcast — one tiny cut, one pass (t28's qt
    // discipline)
    val q = Materialize(probeCells(queries, idCol, vecCol, centroids, probes))
    val rows = store.pointLookup(db, table, q.select("cell"),
      version = version)
    scoreCells(rows.select(col(idCol).as("vid"), col("cell"),
      col("vec"), col("nrm")), q, k)
  }

  /** Each query's `probes` best cells (small side — one window): the
   * query half of the family seam, shared by [[ivfFlatPieces]] and
   * [[ivfTopKFromIndex]]. */
  private def probeCells(queries: DataFrame, idCol: String, vecCol: String,
                         cent: DataFrame, probes: Int): DataFrame = {
    val qw = Window.partitionBy(col("vid"))
      .orderBy(col("ccos").desc, col("cid").asc)
    cellScores(prepared(queries, idCol, vecCol), cent)
      .withColumn("crank", row_number().over(qw))
      .filter(col("crank") <= probes)
      .select(col("vid").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"), col("cid").as("cell"))
  }

  /** Score probed candidates and rank top-k per query: the shared tail
   * of [[ivfTopK]] and [[ivfTopKFromIndex]]. */
  private def scoreCells(indexed: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val scored = indexed.join(broadcast(q),
        indexed("cell") === q("cell") && col("vid") =!= col("query_id"))
      .withColumn("cos", dot(col("vec"), col("qvec")) / (col("nrm") * col("qnrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vid").as("neighbor_id"),
        col("cos"))
  }

  /** Each corpus row with its nearest cell (vid, cell, vec, nrm) — the
   * corpus half of [[ivfFlatPieces]], shared with [[semanticDedup]]. */
  private def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                          cent: DataFrame): DataFrame =
    cellScores(prepared(corpus, idCol, vecCol), cent)
      .groupBy(col("vid"))
      .agg(min_by(col("cid"), struct(-col("ccos"), col("cid"))).as("cell"),
        first(col("vec")).as("vec"), first(col("nrm")).as("nrm"))

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
   * Data-efficient learning at web-scale through semantic
   * deduplication"): coarse-cluster the embeddings, then WITHIN each
   * cell drop every vector that has a smaller-id neighbor at cosine >=
   * `threshold`. The cells bound the quadratic pair cost — nCells grows
   * with the corpus so per-cell membership (and so per-cell pair work)
   * stays bounded, the paper's scale design — and near-dups in
   * DIFFERENT cells are deliberately not compared (the documented
   * recall trade of the technique). Keep-smallest-id is the
   * deterministic representative rule; like the standard
   * implementations this is pairwise, not transitive — for
   * chain-resolved groups feed [[signCosinePairs]] (or the in-cell pair
   * list) to [[Dedup.clusters]] instead. Returns the KEPT ids under the
   * original id column name. Same rounded-cosine seam as the rest of
   * the IVF family, so an external oracle replays membership exactly;
   * like the rest of that family, zero-norm embeddings are outside the
   * cosine contract (NaN scores order differently across engines) —
   * filter them out upstream.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nCells: Int = 16,
                    centroids: Option[DataFrame] = None): DataFrame = {
    val cent = centroids.getOrElse(defaultCentroids(df, idCol, vecCol, nCells))
    // both sides of the in-cell self-join read the assignment — cut it
    val idx = Materialize(assignCells(df, idCol, vecCol, cent))
    val drop = idx.as("a")
      .join(idx.as("b"),
        col("a.cell") === col("b.cell") && col("a.vid") < col("b.vid") &&
          round(dot(col("a.vec"), col("b.vec")) /
            (col("a.nrm") * col("b.nrm")), 6) >= threshold)
      .select(col("b.vid").as("vid")).distinct()
    idx.join(drop, Seq("vid"), "left_anti").select(col("vid").as(idCol))
  }

  /**
   * IVF-probed cosine RANGE search: for each query vector, EVERY corpus
   * vector with cosine >= `threshold` among the query's `probes` nearest
   * cells — the retrieval twin of [[ivfTopK]] for consumers that want
   * "all matches above a similarity bar" (contamination sweeps,
   * recall-bounded candidate generation, radius joins) rather than a
   * fixed k. Same deterministic coarse-quantizer seam and cell-scoring
   * formula as the rest of the IVF family; the probed-cell restriction
   * is part of the operator contract (recall bounded by the probed
   * cells, exact within them — the same shape as [[signCosinePairs]]'s
   * bucket predicate). Per-query scan cost is ~probes/nCells of the
   * corpus and the output size is the true match count — nothing is
   * capped, so no per-query window/rank shuffle is needed at all. The
   * returned `cos` is ROUNDED to 6 decimals before the threshold test,
   * the same seam rule as [[cellScores]]: a last-ulp difference in an
   * external engine's cosine cannot flip membership at the bar.
   */
  def ivfRangeSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, threshold: Double, nCells: Int = 16,
                     probes: Int = 4,
                     centroids: Option[DataFrame] = None): DataFrame = {
    val (indexed, q) =
      ivfFlatPieces(corpus, queries, idCol, vecCol, nCells, probes, centroids)
    indexed.join(broadcast(q),
        indexed("cell") === q("cell") && col("vid") =!= col("query_id"))
      .withColumn("cos",
        round(dot(col("vec"), col("qvec")) / (col("nrm") * col("qnrm")), 6))
      .filter(col("cos") >= threshold)
      .select(col("query_id"), col("vid").as("neighbor_id"), col("cos"))
  }

  /**
   * Lloyd's k-means training for the IVF coarse quantizer (spherical
   * assignment: nearest centroid by cosine, new centroid = member mean).
   * Returns `(cid, cvec, cnrm)` for [[ivfTopK]]'s `centroids` seam.
   *
   * Seeded from the first `nCells` corpus vectors by id — the same seam
   * the untrained operator uses — so training strictly refines the
   * untrained assignment and balances cells on real data distributions
   * (first-N seeds at 100 TB can land in one dense region and overload a
   * cell; a few Lloyd's rounds spread them).
   *
   * Scale shape per iteration: centroids broadcast (nCells x dim doubles);
   * assignment is the same map-side-combined `min_by` as the query path
   * (the nCells-expanded rows never shuffle); the mean reduces via
   * posexplode + partial aggregation, so the (cell, dim) shuffle carries
   * at most nCells x dim rows per map partition. Centroids round-trip
   * through the driver between iterations — nCells x dim doubles, loop
   * control only — which keeps every iteration's plan flat instead of
   * stacking a lineage of self-referencing jobs.
   *
   * Training is BIT-DETERMINISTIC: assignment scores use the same
   * rounded [[cellScores]] formula as the query path, and each mean is
   * computed in integer micro space (sum of per-component long micros,
   * then floor(sum/n + 0.5)) — long sums commute, so the result cannot
   * drift with partitioning or task order, and an external SQL oracle
   * replays the identical rounds (s08_ann_trained_ivfpq).
   */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        nCells: Int = 16, iters: Int = 5): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val spark = corpus.sparkSession
    def centroidFrame(cent: Seq[Seq[Double]]): DataFrame = {
      import spark.implicits._
      cent.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cid", "cvec")
        .withColumn("cnrm", l2Norm(col("cvec")))
    }
    val p = prepared(corpus, idCol, vecCol)
    var cent: Seq[Seq[Double]] =
      prepared(corpus.orderBy(col(idCol)).limit(nCells), idCol, vecCol)
        .select(col("vec")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 1 to iters) {
      val assigned = cellScores(p, centroidFrame(cent))
        .groupBy(col("vid"))
        .agg(min_by(col("cid"), struct(-col("ccos"), col("cid"))).as("cell"),
          first(col("vec")).as("vec"))
      val means = assigned
        .select(col("cell"), posexplode(col("vec")))
        .toDF("cell", "pos", "x")
        .groupBy(col("cell"), col("pos"))
        .agg(microMean.as("m"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mean"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      // empty cell (no members) or degenerate all-zero mean: keep the
      // previous centroid — cell count stays nCells and cnrm stays > 0
      cent = cent.indices.map { i =>
        means.get(i).filter(_.exists(_ != 0.0)).getOrElse(cent(i))
      }
    }
    centroidFrame(cent)
  }

  /**
   * K-means embedding clustering as a first-class curation operator:
   * every vector labeled with its cluster (nearest trained centroid)
   * and the cluster's size — the clustering half of the IVF index,
   * exposed for the jobs a training pipeline runs it for: topic
   * balancing, cluster-stratified sampling ([[Sampling.hashSampleBy]]
   * over the label), and [[semanticDedup]]'s cells. Centroids default
   * to [[trainIvfCentroids]]'s bit-deterministic Lloyd's rounds, so the
   * labels (and an external oracle's replay of them) cannot drift with
   * partitioning; pass `centroids` to reuse an already-trained frame.
   *
   * Scale shape: assignment is the broadcast-centroids + map-side
   * `min_by` of the IVF family (the corpus never shuffles); sizes are
   * one nCells-row aggregate joined back broadcast.
   */
  def kmeansClusters(df: DataFrame, idCol: String, vecCol: String,
                     nCells: Int = 16, iters: Int = 1,
                     centroids: Option[DataFrame] = None): DataFrame = {
    val cent = centroids.getOrElse(
      trainIvfCentroids(df, idCol, vecCol, nCells, iters))
    val asg = assignCells(df, idCol, vecCol, cent)
      .select(col("vid"), col("cell"))
    val sizes = asg.groupBy(col("cell"))
      .agg(count(lit(1)).as("cluster_size"))
    asg.join(broadcast(sizes), Seq("cell"))
      .select(col("vid").as(idCol), col("cell").as("cluster"),
        col("cluster_size"))
  }

  /**
   * Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
   * candidate lists: score(q, c) = Σ_lists 1/(k0 + rank), re-ranked
   * descending with the id as the deterministic tie-break. Fusing
   * retrieval channels with DIFFERENT blind spots (an LSH index and an
   * IVF index, a sparse BM25 list and a dense ANN list) recovers
   * candidates either channel alone drops — the standard cheap
   * ensembling step in retrieval/dedup pipelines. Inputs are any two
   * (query_id, neighbor_id, rank) frames, e.g. [[signTopK]] and
   * [[ivfTopK]]. The fused score is rounded to 6 decimals BEFORE
   * ranking (the [[cellScores]] seam rule) so a last-ulp double
   * difference in an external engine cannot flip the order — with k0 in
   * the tens, 1e-6 separates true rank differences from ulps.
   *
   * Scale shape: one union + one (query, candidate)-keyed aggregate +
   * one per-query rank window over at most 2·k rows per query — cost
   * is the candidate lists' size, never the corpus.
   */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, k0: Int = 60): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(k0 >= 1, "k0 must be >= 1")
    def ranks(df: DataFrame) =
      df.select(col("query_id"), col("neighbor_id"), col("rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    ranks(a).unionByName(ranks(b))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(round(sum(lit(1.0) / (lit(k0) + col("rank"))), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /**
   * Recall@k of an approximate ANN result against exact ground truth —
   * the evaluation harness every ANN deployment runs before trusting an
   * index: per query, the fraction of the exact top-k the approximate
   * channel recovered. Both inputs use the (query_id, rank, neighbor_id)
   * shape every top-k operator here emits ([[bruteForceTopK]],
   * [[signTopK]], [[lshTopK]], [[ivfTopK]], [[pqAdcTopK]], ...); rows
   * past rank k on either side are ignored, so a k' > k result can be
   * evaluated at k directly. Queries with zero hits appear with
   * recall 0 (a silent inner-join would hide exactly the queries an
   * index is failing).
   *
   * Scale shape: both inputs are top-k tables — output-scale, not
   * corpus-scale — so the hit join and per-query count are trivially
   * small; the expensive part (the exact channel) is [[bruteForceTopK]]
   * itself, typically run once on a sampled query set — and it is
   * consumed exactly ONCE: a left join marks hits and the per-query
   * count ignores the null marks, so the query universe (every query
   * has a rank-1 ground-truth row) survives without a second pass over
   * the exact plan. The recall division is the only float and is
   * rounded, so any engine replays it.
   */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def topK(df: DataFrame) = df.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    topK(exact)
      .join(topK(approx).withColumn("__hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id").agg(count(col("__hit")).as("n_hit"))
      .withColumn("recall", round(col("n_hit") / lit(k.toDouble), 4))
  }

  /** Order-independent mean of grouped `x`: per-component long micros sum
   * exactly in any order, and floor(sum/n + 0.5) is the same IEEE double
   * in every engine — the one aggregate both Lloyd's trainers use, so
   * trained centroids and codebooks are reproducible bit-for-bit. */
  private def microMean: Column =
    floor(sum(round(col("x") * 1e6).cast("long")) / count(lit(1)) + 0.5) / 1e6

  // ----------------------------------------------- product quantization

  /**
   * Product-quantization ADC (asymmetric distance computation) top-k.
   *
   * The vector splits into `m` subspaces; each sub-vector is replaced by
   * the id of its nearest codebook entry, so a corpus row compresses to
   * `m` small codes (the 100 TB representation: 8 bytes/vector here vs
   * 256 for float32x64). A query never decompresses the corpus: it
   * precomputes its distance to every codebook entry per subspace (an
   * m x codes table, tiny) and a candidate's distance is the SUM of m
   * table lookups — the codes join the broadcast table and aggregate
   * map-side; the corpus is scanned once and shuffles only the
   * (query, candidate) partial sums.
   *
   * Codebooks here are deterministic — entry k of subspace s is the s-th
   * slice of the k-th corpus vector by id (the PQ analogue of the
   * first-N IVF seam), so encode + ADC + rank replay exactly in an
   * external SQL oracle. A trained quantizer (per-subspace k-means)
   * slots into the same codebook shape without touching encode/ADC.
   * Distances are squared-L2 composed from the codegen'd dot product
   * (`|a-b|^2 = a.a - 2a.b + b.b`), rounded before every argmin/rank so
   * oracle last-ulp differences cannot flip an order.
   */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, dim: Int, m: Int = 8,
                codes: Int = 16,
                codebooks: Option[DataFrame] = None): DataFrame = {
    val (enc, qt) = pqPieces(corpus, queries, idCol, vecCol, dim, m, codes, codebooks)
    rankAdc(enc.join(broadcast(qt), Seq("s", "code"))
      .filter(col("vid") =!= col("query_id")), k)
  }

  /**
   * IVF-PQ top-k — the production ANN composition: the IVF coarse
   * quantizer restricts each query to its `probes` nearest cells'
   * members, and PQ-ADC scores ONLY those candidates from their m-byte
   * codes. Per query the work is (probes / nCells) of the corpus in
   * table lookups — neither the full scan of brute force nor the full
   * ADC pass of flat PQ, and nothing decompresses. Both quantizers use
   * their deterministic first-N seams by default (SQL-replayable oracle);
   * trained centroids/codebooks slot into the same seams.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, dim: Int, nCells: Int = 16,
                probes: Int = 4, m: Int = 8, codes: Int = 16,
                centroids: Option[DataFrame] = None,
                codebooks: Option[DataFrame] = None): DataFrame = {
    val (cells, qcells) =
      ivfPieces(corpus, queries, idCol, vecCol, nCells, probes, centroids)
    val (enc, qt) = pqPieces(corpus, queries, idCol, vecCol, dim, m, codes, codebooks)
    // candidate restriction WITHOUT any corpus-derived broadcast: the
    // codes shuffle-join their cell assignment (both corpus-sized), and
    // only the genuinely tiny frames — the query cells and ADC tables —
    // broadcast. A corpus row has exactly one cell, so no (query,
    // candidate) pair appears twice.
    rankAdc(
      enc.join(cells, Seq("vid"))
        .join(broadcast(qcells), Seq("cell"))
        .filter(col("vid") =!= col("query_id"))
        .join(broadcast(qt), Seq("query_id", "s", "code")), k)
  }

  /** Shared IVF stages: one cell per corpus row (`cells`: vid, cell) and
   * each query's probed cells (`qcells`: query_id, cell) — the single
   * home of the centroid seam and cell-scoring formula for the IVF
   * family. Ids must be integral (they key the PQ compositions). */
  private[graft] def ivfPieces(corpus: DataFrame, queries: DataFrame,
                               idCol: String, vecCol: String, nCells: Int,
                               probes: Int,
                               centroids: Option[DataFrame]): (DataFrame, DataFrame) = {
    requireIntegralId(corpus, idCol)
    val cent = centroids.getOrElse(
      Materialize(defaultCentroids(corpus, idCol, vecCol, nCells)))
    val cells = cellScores(prepared(corpus, idCol, vecCol), cent)
      .groupBy(col("vid").cast("long").as("vid"))
      .agg(min_by(col("cid"), struct(-col("ccos"), col("cid"))).as("cell"))
    val qw = Window.partitionBy(col("vid"))
      .orderBy(col("ccos").desc, col("cid").asc)
    val qcells = cellScores(prepared(queries, idCol, vecCol), cent)
      .withColumn("crank", row_number().over(qw))
      .filter(col("crank") <= probes)
      .select(col("vid").cast("long").as("query_id"), col("cid").as("cell"))
    (cells, qcells)
  }

  /** First-nCells-by-id centroid seam shared by the IVF family. */
  private[graft] def defaultCentroids(corpus: DataFrame, idCol: String,
                               vecCol: String, nCells: Int): DataFrame =
    prepared(corpus.orderBy(col(idCol)).limit(nCells), idCol, vecCol)
      .select(col("vid").as("cid"), col("vec").as("cvec"), col("nrm").as("cnrm"))

  /** The one cell-scoring formula: cosine to every broadcast centroid,
   * ROUNDED so an external oracle's last-ulp arithmetic cannot flip an
   * assignment argmin or probe ranking. */
  private def cellScores(df: DataFrame, cent: DataFrame): DataFrame =
    df.crossJoin(broadcast(cent))
      .withColumn("ccos",
        round(dot(col("vec"), col("cvec")) / (col("nrm") * col("cnrm")), 6))

  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema.find(_.name.equalsIgnoreCase(idCol))
      .getOrElse(throw new IllegalArgumentException(s"no column $idCol")).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$idCol must be an integral id for the PQ/IVF-PQ pipelines, got $dt " +
        "(a non-numeric id would cast to null and silently empty the result)")
  }

  /** Shared PQ stages: validated/default codebooks, corpus codes `enc`
   * (vid, s, code), and per-query ADC tables `qt` (query_id, s, code, qd2). */
  private def pqPieces(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, dim: Int, m: Int, codes: Int,
                       codebooks: Option[DataFrame]): (DataFrame, DataFrame) = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    requireIntegralId(corpus, idCol)
    // default codebooks are cut once ([[Materialize]]) — the enc and qt
    // branches both broadcast them, and derived subtrees get no exchange
    // reuse, so without the cut the corpus-wide TakeOrdered runs twice.
    // Supplied codebooks are validated against m/dim up front: a books/m
    // mismatch would otherwise join only the overlapping subspaces and
    // return a complete-looking but silently wrong ranking.
    val cb = codebooks match {
      case Some(books) =>
        val shape = books.select(col("s"), size(col("csub")).as("len"))
          .distinct().collect() // codebooks are m x codes rows — tiny
        require(shape.map(_.getInt(0)).toSet == (0 until m).toSet &&
            shape.map(_.getInt(1)).toSet == Set(dim / m),
          s"codebooks cover subspaces ${shape.map(_.getInt(0)).sorted.toSeq} with " +
            s"entry lengths ${shape.map(_.getInt(1)).distinct.toSeq}; " +
            s"expected subspaces 0..${m - 1} of length ${dim / m}")
        books
      case None => Materialize(seedCodebooks(corpus, idCol, vecCol, dim, m, codes))
    }
    // encode: nearest codebook entry per (corpus row, subspace); ties to
    // the smallest code id. The expanded rows collapse map-side (min_by).
    val enc = subSlices(corpus, idCol, vecCol, dim, m, "vid", "sub")
      .join(broadcast(cb), Seq("s"))
      .groupBy(col("vid"), col("s"))
      .agg(min_by(col("ck"), struct(d2(col("sub"), col("csub")), col("ck")))
        .as("code"))
    // ADC tables: per query, distance to every codebook entry
    val qt = subSlices(queries, idCol, vecCol, dim, m, "query_id", "qsub")
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("ck").as("code"),
        d2(col("qsub"), col("csub")).as("qd2"))
    (enc, qt)
  }

  /** Sum the per-subspace lookups and rank ascending per query. The qd2
   * terms are 6-decimal values, so they sum EXACTLY as integer micros —
   * a floating sum's result depends on partial-aggregation order (it
   * flipped a 4-decimal rounding boundary when the partition count
   * changed). The final 4-decimal rounding ALSO stays in integer space
   * (floor((S+50)/100) half-up on the micro sum): micro sums land on
   * exact .5 boundaries systematically (S = 50 mod 100), where Spark's
   * BigDecimal round and another engine's std::round(x*1e4) disagree —
   * integer arithmetic is identical everywhere. */
  private def rankAdc(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("vid").asc)
    scored
      .groupBy(col("query_id"), col("vid"))
      .agg((floor((sum(round(col("qd2") * 1e6).cast("long")) + 50) / 100.0)
        / 10000.0).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vid").as("neighbor_id"),
        col("adist"))
  }

  /** (vid, s, sub): each row's m equal slices, one row per subspace.
   * private[graft] so specs measure the SAME decomposition they test. */
  private[graft] def subSlices(df: DataFrame, idCol: String, vecCol: String,
                               dim: Int, m: Int, vidName: String,
                               subName: String): DataFrame = {
    val subLen = dim / m
    df.select(col(idCol).cast("long").as(vidName),
        col(vecCol).cast("array<double>").as("v"))
      .select(col(vidName), posexplode(
        array((0 until m).map(s => slice(col("v"), s * subLen + 1, subLen)): _*)))
      .toDF(vidName, "s", subName)
  }

  /** Rounded squared-L2 from the codegen'd dot product. */
  private[graft] def d2(a: Column, b: Column): Column =
    round(dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b), 6)

  /** Deterministic PQ codebooks (s, ck, csub): entry ck of subspace s is
   * slice s of the ck-th corpus vector by id — SQL-replayable, and the
   * training seed for [[trainPqCodebooks]]. */
  def seedCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                    dim: Int, m: Int, codes: Int): DataFrame = {
    val cbw = Window.partitionBy(col("s")).orderBy(col("cvid").asc)
    subSlices(corpus.orderBy(col(idCol)).limit(codes), idCol, vecCol, dim, m,
        "cvid", "csub")
      .withColumn("ck", row_number().over(cbw) - 1)
      .select(col("s"), col("ck"), col("csub"))
  }

  /**
   * Per-subspace Lloyd's k-means for the PQ codebooks — all m subspaces
   * train JOINTLY in the same jobs (assignment keys on (s, ck), update
   * means on (s, ck, pos)), so training cost does not multiply by m.
   * Seeded from [[seedCodebooks]]; minimizes exactly the quantization
   * error ADC accumulates, so trained codebooks tighten `adist` toward
   * the true distances. Centroids round-trip through the driver between
   * iterations (m x codes x subLen doubles — tiny) keeping plans flat.
   */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int = 8, codes: Int = 16,
                       iters: Int = 5): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val spark = corpus.sparkSession
    def frame(cent: Map[(Int, Int), Seq[Double]]): DataFrame = {
      import spark.implicits._
      cent.toSeq.map { case ((s, ck), v) => (s, ck, v) }.toDF("s", "ck", "csub")
    }
    val subs = subSlices(corpus, idCol, vecCol, dim, m, "vid", "sub")
    var cent: Map[(Int, Int), Seq[Double]] =
      seedCodebooks(corpus, idCol, vecCol, dim, m, codes)
        .collect().map(r => (r.getInt(0), r.getInt(1)) ->
          r.getSeq[Double](2).toSeq).toMap
    for (_ <- 1 to iters) {
      val assigned = subs.join(broadcast(frame(cent)), Seq("s"))
        .groupBy(col("vid"), col("s"))
        .agg(min_by(col("ck"), struct(d2(col("sub"), col("csub")), col("ck")))
          .as("ck"), first(col("sub")).as("sub"))
        .select(col("s"), col("ck"), col("sub"))
      val means = assigned
        .select(col("s"), col("ck"), posexplode(col("sub")))
        .toDF("s", "ck", "pos", "x")
        .groupBy(col("s"), col("ck"), col("pos"))
        .agg(microMean.as("mx"))
        .groupBy(col("s"), col("ck"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          e => e.getField("mx")).as("mean"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) ->
          r.getSeq[Double](2).toSeq).toMap
      cent = cent.map { case (key, old) => key -> means.getOrElse(key, old) }
    }
    frame(cent)
  }

  /**
   * Embedding near-duplicate pairs (cosine >= threshold). Candidates from
   * shared LSH buckets when `planes > 0` (the scale path); `planes = 0`
   * falls back to the exact all-pairs join for small corpora / oracles.
   */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double, dim: Int, planes: Int = 0,
                  seed: Long = 42L): DataFrame = {
    val p = preparedSpread(df, idCol, vecCol)
    val withBucket =
      if (planes > 0) p.withColumn("bucket", lshBucket(col("vec"), dim, planes, seed))
      else p.withColumn("bucket", lit(0L))
    val a = withBucket.select(col("vid").as("id_a"), col("vec").as("vec_a"),
      col("nrm").as("nrm_a"), col("bucket"))
    val b = withBucket.select(col("vid").as("id_b"), col("vec").as("vec_b"),
      col("nrm").as("nrm_b"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /**
   * Near-duplicate pairs over sign-bit buckets with Hamming<=1 probing:
   * a pair is a candidate iff the two buckets differ in at most one bit.
   * One side explodes to planes+1 probe keys, the bucket join pairs only
   * same-or-adjacent buckets — work scales with bucket occupancy
   * (~n²/2^planes per bucket family), never all-pairs. The candidate
   * predicate is part of the operator contract (the oracle reproduces it
   * exactly), so results are deterministic, not best-effort.
   */
  def signCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, planes: Int): DataFrame = {
    val p = preparedSpread(df, idCol, vecCol)
      .withColumn("bucket", signBucket(col("vec"), planes))
    val probes = array((lit(0L) +: (0 until planes).map(i => lit(1L << i))): _*)
    val a = p.select(col("vid").as("id_a"), col("vec").as("vec_a"),
      col("nrm").as("nrm_a"),
      explode(transform(probes, m => col("bucket").bitwiseXOR(m))).as("probe"))
    val b = p.select(col("vid").as("id_b"), col("vec").as("vec_b"),
      col("nrm").as("nrm_b"), col("bucket").as("probe"))
    // a bucket pair within Hamming 1 meets on exactly one probe key,
    // so no post-join dedup is needed
    a.join(b, Seq("probe")).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
