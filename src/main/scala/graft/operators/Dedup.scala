package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, and n-gram Jaccard.
 *
 * Scale design: every pair-finding operator avoids the O(n²) cross join.
 * The corpus is first collapsed to DISTINCT n-gram sets (one content-hash
 * aggregate — boilerplate-heavy corpora shrink drastically); candidates are
 * then generated over distinct sets only, by an inverted index, a
 * deletion-neighborhood, LSH band buckets, or SimHash chunk buckets, so
 * every shuffle is keyed on content-derived buckets and parallelizes
 * across the cluster. Verified set-pairs are expanded back to document
 * pairs through the group membership join at the end — the only stage
 * whose size is the true output size.
 */
object Dedup {
  import TextAnalysis.{fingerprintMd5, normalizeText}

  /** Unit separator — cannot appear in whitespace-normalized tokens. */
  private val Sep = "\u001f"

  /** distinct, sorted token set of the normalized text. */
  def tokenSet(c: Column): Column =
    array_sort(array_distinct(split(normalizeText(c), " ")))

  /** distinct word n-grams (n=1 -> token set). A document with fewer than
   * n tokens has NO n-grams (empty array) — without the guard,
   * sequence(0, negative) would emit a bogus descending index range. */
  def ngramSet(c: Column, n: Int): Column =
    if (n <= 1) tokenSet(c)
    else {
      // the token array is BOUND once through a single-element-array
      // lambda: splicing `split(...)` into the per-gram slice would
      // re-tokenize the document for every gram (lambdas are
      // interpreted, no subexpression elimination) — O(len * grams)
      // instead of O(len)
      element_at(transform(array(split(normalizeText(c), " ")), toks =>
        when(size(toks) >= n,
          array_sort(array_distinct(
            transform(sequence(lit(0), size(toks) - n),
              i => concat_ws(" ", slice(toks, i + 1, lit(n)))))))
          .otherwise(array().cast("array<string>"))), 1)
    }

  /** Content hash of a sorted n-gram set: two sets are equal iff their
   * fingerprints are (md5 over the Sep-joined sorted grams). */
  def setFingerprint(ng: Column): Column = md5(concat_ws(Sep, ng).cast("binary"))

  /** (doc, ng, fp, sz) — the shared first stage of every pair operator.
   * Documents with an empty n-gram set (shorter than n tokens) are
   * excluded: Jaccard between empty sets is undefined, and pairing every
   * too-short doc as "identical" would be nonsense. */
  private def docSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // the n-gram set build is the heaviest per-row expression of the
    // family — a one-file corpus must not run it on one task (the
    // spread is a no-op at real scale: file partitions >> cores)
    TextAnalysis.spreadAcrossCores(df)
      .select(col(idCol).as("doc"), ngramSet(col(textCol), n).as("ng"))
      .withColumn("sz", size(col("ng")))
      .filter(col("sz") > 0)
      .withColumn("fp", setFingerprint(col("ng")))

  /** Identical-set doc pairs (jaccard exactly 1): one fingerprint
   * self-join over (doc, fp). */
  private def identicalSetPairs(docFp: DataFrame): DataFrame =
    docFp.as("a")
      .join(docFp.as("b"), col("a.fp") === col("b.fp") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        lit(1.0).as("jaccard"))

  // ------------------------------------------------------------- exact

  /**
   * Exact dedup by content fingerprint: one hash-aggregate over the corpus
   * (map-side partial combine, single shuffle). Returns one row per
   * distinct content with the canonical (min) id and duplicate count.
   */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprintMd5(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** The corpus with exact duplicates removed (keep the min-id doc). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(exact(df, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /**
   * Incremental exact dedup — the append-only corpus-growth path: a NEW
   * batch dedups against the fingerprint store accumulated over all
   * prior batches, so growing a 100 TB corpus never rescans it. `seen`
   * carries one `fingerprint` column ([[exact]]'s convention). Output is
   * the accepted (previously unseen) fingerprints with the in-batch
   * winner and multiplicity — [[exact]]'s shape restricted to new
   * content; the caller appends `accepted.select("fingerprint")` to the
   * store to close the loop.
   *
   * Scale shape: one batch-sized aggregate, then one anti-join against
   * the store keyed on the fingerprint. The batch side is
   * new-arrivals-sized; the store side is corpus-scale but touches only
   * its fingerprint column, and a store laid out with
   * [[graft.catalog.Bucketing]] on `fingerprint` joins without
   * re-shuffling — the steady-state cost is then the batch shuffle only.
   */
  def exactIncremental(batch: DataFrame, idCol: String, textCol: String,
                       seen: DataFrame): DataFrame = {
    require(seen.columns.contains("fingerprint"),
      "seen store must carry a fingerprint column")
    batch
      .select(col(idCol), fingerprintMd5(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .join(seen.select("fingerprint"), Seq("fingerprint"), "left_anti")
  }

  /**
   * Cross-corpus contamination detection — the decontamination primitive
   * of a training pipeline: for every corpus document, the PROBE documents
   * (benchmark/eval sets) it is near-duplicate of (n-gram Jaccard >=
   * threshold). Not a self-join: the corpus is the 100 TB side and the
   * probe set is benchmark-sized, so its distinct n-gram sets broadcast
   * and, in exact mode, the corpus is scanned ONCE — candidates are
   * corpus docs sharing at least one gram with a probe (inner gram join
   * against the broadcast probe vocabulary), and the shared-gram count of
   * that join IS the exact intersection. Probe grams above `maxDocFreq`
   * corpus document frequency can be dropped from CANDIDATE generation to
   * keep stopword-ish grams from pairing the whole corpus; as in
   * [[jaccardPairs]], that only reduces recall — surviving pairs'
   * jaccard values are re-verified against the FULL sets (this path
   * costs a second corpus pass for the document-frequency aggregate).
   *
   * Returns (doc, probe_id, jaccard); `doc == probe_id` rows are excluded
   * (a benchmark that is itself in the corpus is trivially contaminated).
   */
  def crossJaccardPairs(corpus: DataFrame, probes: DataFrame, idCol: String,
                        textCol: String, n: Int, threshold: Double,
                        maxDocFreq: Long = Long.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val exactMode = maxDocFreq == Long.MaxValue
    // spread the corpus side: tokenize + n-gram set + explode are the
    // heavy per-row work and a one-file corpus otherwise runs them on a
    // single task (profiled: d08 spent 1.4 s CPU in one scan task);
    // no-op at real scale, like every spread site
    val c = TextAnalysis.spreadAcrossCores(corpus)
      .select(col(idCol).as("doc"), ngramSet(col(textCol), n).as("ng"))
      .withColumn("csz", size(col("ng"))).filter(col("csz") > 0)
    // probe table is benchmark-sized: materialized once, it feeds the
    // candidate gram join and (in approximate mode) the re-verification
    val p = Materialize(
      probes.select(col(idCol).as("probe_id"), ngramSet(col(textCol), n).as("png"))
        .withColumn("psz", size(col("png"))).filter(col("psz") > 0))
    val pGrams = p.select(col("probe_id"), col("psz"), explode(col("png")).as("g"))
    val candGrams =
      if (exactMode) pGrams
      else pGrams.join(
        c.select(explode(col("ng")).as("g")).groupBy("g").count()
          .filter(col("count") <= maxDocFreq).select("g"),
        Seq("g"), "left_semi")
    val inter = c.select(col("doc"), col("csz"), explode(col("ng")).as("g"))
      .join(broadcast(candGrams), Seq("g"))
      .filter(col("doc") =!= col("probe_id"))
      .groupBy(col("doc"), col("probe_id"))
      .agg(first(col("csz")).as("csz"), first(col("psz")).as("psz"),
        count(lit(1)).as("inter"))
    val verified =
      if (exactMode) inter // the candidate-gram count is already exact
      else inter.select("doc", "probe_id")
        .join(c.select(col("doc"), col("ng"), col("csz")), Seq("doc"))
        .join(broadcast(p), Seq("probe_id"))
        .select(col("doc"), col("probe_id"), col("csz"), col("psz"),
          size(array_intersect(col("ng"), col("png"))).as("inter"))
    verified
      .withColumn("jaccard", round(col("inter") /
        (col("csz") + col("psz") - col("inter")), 4))
      .filter(col("inter") / (col("csz") + col("psz") - col("inter"))
        >= threshold)
      .select("doc", "probe_id", "jaccard")
  }

  // ----------------------------------------------------- n-gram Jaccard

  /**
   * Exact n-gram Jaccard pairs >= threshold, adaptive in the data:
   *
   *  1. Collapse docs to distinct n-gram sets (fingerprint aggregate).
   *     Identical-set pairs (Jaccard exactly 1) fall out of a fingerprint
   *     self-join — no set arithmetic at all.
   *  2. Cross-set candidates over the (much smaller) distinct-set table,
   *     by one of two exact strategies picked from one data statistic,
   *     smax = max set size (a driver scalar for branch selection only):
   *
   *     - Deletion-neighborhood (radius 1) when floor((1-t)/t * smax) <= 1:
   *       Jaccard >= t forces |AΔB| <= (1-t)/t * min(|A|,|B|), so when that
   *       bound is < 2, qualifying sets differ by at most one gram. Each
   *       distinct set emits its own fingerprint plus one fingerprint per
   *       single-gram deletion; a pair within distance one MUST collide on
   *       a key (delete the differing gram). sz+1 keys per set, bucket
   *       sizes bounded by true near-dup group sizes — the degenerate
   *       small-vocabulary regime (where every inverted-index bucket is
   *       the whole corpus) costs O(n·sz) instead of O(n²).
   *
   *     - Prefix filter otherwise (the natural large-vocabulary regime):
   *       order grams by global document frequency ascending; a pair with
   *       Jaccard >= t must share a gram within each side's first
   *       sz - ceil(t*sz) + 1 rarest grams (prefix-filter lemma, as in
   *       AllPairs/PPJoin). Buckets are keyed on RARE grams, so they stay
   *       small exactly when the vocabulary is large. A size-compat filter
   *       (t * max <= min) prunes before pairing.
   *
   *  3. Verify candidates with full array intersection (exact), then
   *     expand set-pairs to doc pairs via group membership.
   *
   * `maxDocFreq` optionally drops grams above a document-frequency cutoff
   * from PREFIX candidate generation (approximate mode for adversarial
   * skew; default off = exact).
   */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                   threshold: Double, maxDocFreq: Long = Long.MaxValue): DataFrame =
    jaccardPairsImpl(df, idCol, textCol, n, threshold, maxDocFreq,
      Materialize.apply)

  /** [[jaccardPairs]] with the INNER cut constructor injected: the
   * standalone operator's returned frame reads the doc-set cut directly,
   * so it must be a plain [[Materialize]] cut (callers may re-read the
   * result after deriving from it); [[dedupPipeline]] re-cuts the pair
   * list immediately, so IT passes [[Materialize.internal]] and the
   * doc-set/key cuts are freed automatically with the pair cut instead
   * of leaking until releaseAll. */
  private def jaccardPairsImpl(df: DataFrame, idCol: String, textCol: String,
                               n: Int, threshold: Double, maxDocFreq: Long,
                               cut: DataFrame => DataFrame): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    // materialize the per-doc set table once: it feeds the within-pair
    // self-join, the distinct-set table, verification, and expansion —
    // without this every consumer re-reads and re-tokenizes the corpus.
    // (doc, ng, fp, sz) is tiny next to the corpus; Materialize picks
    // local vs reliable checkpoint per session (graft.materialize.reliable).
    val ds = cut(docSets(df, idCol, textCol, n))
    val docFp = ds.select("doc", "fp")
    val within = identicalSetPairs(docFp)
    if (threshold >= 1.0) within
    else {
      val sets = ds.groupBy("fp")
        .agg(first(col("ng")).as("ng"), first(col("sz")).as("sz"))
      // one driver scalar (algorithm selection only — no data movement);
      // null max = empty corpus = no pairs of any kind
      val smaxRow = sets.agg(max("sz")).head()
      if (smaxRow.isNullAt(0)) return within
      val smax = smaxRow.getInt(0)
      val radius = math.floor((1 - threshold) / threshold * smax).toLong
      val candidates =
        if (radius < 1) null // cross-set pairs are impossible below distance 1
        else if (radius <= 1) deletionCandidates(sets, cut)
        else prefixCandidates(sets, threshold, maxDocFreq)
      if (candidates == null) within
      else {
        val verified = candidates
          .join(sets.select(col("fp").as("fp_a"), col("ng").as("ng_a"),
            col("sz").as("sz_a")), "fp_a")
          .join(sets.select(col("fp").as("fp_b"), col("ng").as("ng_b"),
            col("sz").as("sz_b")), "fp_b")
          .withColumn("inter", size(array_intersect(col("ng_a"), col("ng_b"))))
          .withColumn("jaccard", col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
          .filter(col("jaccard") >= threshold)
          .select("fp_a", "fp_b", "jaccard")
        val cross = verified
          .join(docFp.select(col("fp").as("fp_a"), col("doc").as("da")), "fp_a")
          .join(docFp.select(col("fp").as("fp_b"), col("doc").as("db")), "fp_b")
          .select(least(col("da"), col("db")).as("doc_a"),
            greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
        within.unionByName(cross)
      }
    }
  }

  /**
   * Radius-1 deletion-neighborhood candidate set-pairs via XOR set-hashes:
   * hset = XOR of xxhash64 over the set's grams (order-independent), and
   * the delete-one key for gram g is just `hset ^ h(g)` — O(1) per gram
   * instead of re-hashing the sz-1 remaining grams. Equal sets share hset;
   * sets at deletion distance one meet on a delete-one key; sets differing
   * by one gram on each side meet on the common-core key. XOR collisions
   * (64-bit, linear structure) can only ADD candidates, never lose one,
   * and every candidate is verified exactly afterwards.
   */
  private def deletionCandidates(sets: DataFrame,
                                 cut: DataFrame => DataFrame): DataFrame = {
    val hset = aggregate(transform(col("ng"), g => xxhash64(g)), lit(0L),
      (acc, h) => acc.bitwiseXOR(h))
    // keys are reused by both join sides — materialize once (tiny: sz+1
    // longs per distinct set); same injected constructor as the doc-set
    // cut (internal under dedupPipeline, plain standalone)
    val keys = cut(sets.select(col("fp"), col("ng"), hset.as("hs"))
      .select(col("fp"), explode(concat(array(col("hs")),
        transform(col("ng"), g => col("hs").bitwiseXOR(xxhash64(g))))).as("key")))
    keys.as("x")
      .join(keys.as("y"), col("x.key") === col("y.key") && col("x.fp") < col("y.fp"))
      .select(col("x.fp").as("fp_a"), col("y.fp").as("fp_b"))
      .distinct()
  }

  /** Prefix-filter candidate set-pairs: rarest-gram prefixes + size-compat
   * pruning (exact per the prefix-filter lemma). */
  private def prefixCandidates(sets: DataFrame, threshold: Double,
                               maxDocFreq: Long): DataFrame = {
    val tok = sets.select(col("fp"), col("sz"), explode(col("ng")).as("g"))
    var dfreq = tok.groupBy("g").agg(count(lit(1)).as("df"))
    if (maxDocFreq != Long.MaxValue)
      dfreq = dfreq.filter(col("df") <= maxDocFreq) // approximate stop-gram guard
    val w = Window.partitionBy("fp").orderBy(col("df").asc, col("g").asc)
    val prefix = tok.join(dfreq, "g")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select("fp", "sz", "g")
    prefix.as("x")
      .join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.fp") < col("y.fp") &&
          greatest(col("x.sz"), col("y.sz")) * threshold <=
            least(col("x.sz"), col("y.sz")))
      .select(col("x.fp").as("fp_a"), col("y.fp").as("fp_b"))
      .distinct()
  }

  // ------------------------------------------------------- MinHash LSH

  /** (doc, h0..h{numHashes-1}) via explode + one hash aggregate: numHashes
   * static min(xxhash64(g, i)) columns — whole-stage codegen, map-side
   * partial combine, one shuffle keyed by doc. */
  private def minHashAgg(ds: DataFrame, numHashes: Int): DataFrame = {
    val tok = ds.select(col("doc"), explode(col("ng")).as("g"))
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(col("g"), lit(i))).as(s"h$i"))
    tok.groupBy("doc").agg(mins.head, mins.tail: _*)
  }

  /** (id, band, band_key) — one row per band for bucket joining. Band key
   * = xxhash64 of the band's signature slice (+ band index as salt). */
  def lshBands(df: DataFrame, idCol: String, textCol: String,
               numHashes: Int, bands: Int, n: Int = 1): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val sig = minHashAgg(docSets(df, idCol, textCol, n), numHashes)
    val bandKeys = (0 until bands).map { j =>
      xxhash64(((j * r) until ((j + 1) * r)).map(i => col(s"h$i")) :+ lit(j): _*)
    }
    sig.select(col("doc"), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
  }

  /**
   * MinHash+LSH near-dup pairs: shingle -> minhash -> band -> bucket join
   * -> exact-Jaccard verification of candidates. Documents only meet if a
   * band collides, so candidate work is proportional to true near-dups,
   * not n². `maxBucket` skips degenerate buckets (recall tradeoff,
   * documented).
   *
   * threshold >= 1.0 specializes algebraically: Jaccard 1 is exactly
   * n-gram-set equality, so the optimal plan is one fingerprint
   * self-join — no sketch at all, no arrays shuffled, exact by
   * construction. The probabilistic LSH path serves thresholds < 1.
   */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numHashes: Int = 64, bands: Int = 8,
                      n: Int = 1, maxBucket: Long = 1000): DataFrame = {
    val ds = docSets(df, idCol, textCol, n)
    if (threshold >= 1.0) {
      identicalSetPairs(Materialize(ds.select("doc", "fp")))
    } else {
      val b = lshBands(df, idCol, textCol, numHashes, bands, n)
      val small = b.groupBy("band", "band_key").count()
        .filter(col("count") <= maxBucket).select("band", "band_key")
      val bb = b.join(small, Seq("band", "band_key"), "left_semi")
      val candidates = bb.as("x")
        .join(bb.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc") < col("y.doc"))
        .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
        .distinct()
      val grams = ds.select(col("doc"), col("ng"), col("sz"))
      candidates
        .join(grams.select(col("doc").as("doc_a"), col("ng").as("ng_a"),
          col("sz").as("sz_a")), "doc_a")
        .join(grams.select(col("doc").as("doc_b"), col("ng").as("ng_b"),
          col("sz").as("sz_b")), "doc_b")
        // size-compat prune before any array arithmetic
        .filter(greatest(col("sz_a"), col("sz_b")) * threshold <=
          least(col("sz_a"), col("sz_b")))
        .withColumn("inter", size(array_intersect(col("ng_a"), col("ng_b"))))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    }
  }

  // ----------------------------------------------------------- SimHash

  /**
   * 64-bit SimHash per document: explode tokens, xxhash64 each, sum ±1 per
   * bit position, sign -> bit. One shuffle keyed by doc id with map-side
   * partial aggregation; the 64 per-bit sums are static codegen'd columns.
   */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = TextAnalysis.spreadAcrossCores(df)
      .select(col(idCol).as("doc"), explode(tokenSet(col(textCol))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val agg = tok.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select(col("doc"), sh.as("simhash"))
  }

  /**
   * SimHash near-dup pairs with Hamming distance <= maxHamming, banding on
   * the four 16-bit chunks: by pigeonhole, any pair within Hamming 3 (< 4
   * chunks) shares at least one exact chunk, so candidates come from four
   * bucket joins instead of a cross join.
   */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "chunk banding guarantees recall only for hamming <= 3")
    val sh = simHash(df, idCol, textCol)
    val chunked = sh.select(col("doc"), col("simhash"), posexplode(
      array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFF)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    chunked.as("x")
      .join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------- SimHash (oracle-portable)

  /**
   * Oracle-portable SimHash: per-token bits come from the token's md5 hex
   * nibbles (any ANSI SQL engine reproduces them: nibble j of md5, bit
   * i = (nibble(i/4) >> (i mod 4)) & 1), and the 64-bit sketch is stored
   * as two non-negative 32-bit halves (h1 = bits 0..31, h2 = bits 32..63)
   * so XOR/bit_count arithmetic never touches the sign bit in any engine.
   * Same plan shape as [[simHash]]: one codegen'd hash aggregate.
   */
  def simHashPortable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = TextAnalysis.spreadAcrossCores(df)
      .select(col(idCol).as("doc"), explode(tokenSet(col(textCol))).as("t"))
    // dictionary pattern: hash each DISTINCT token once and join back —
    // corpora follow Zipf, so |vocab| << token occurrences and the md5 +
    // 16 nibble parses run per word type, not per word token (the join
    // broadcasts when the vocabulary is small). The distinct's output is
    // re-fanned to the corpus' spread width before the md5 projection:
    // AQE coalesces the few-hundred-KB vocabulary to ONE post-shuffle
    // partition (bytes-driven), which serializes the md5 + 16 nibble
    // parses on one task (profiled 0.46 s of d03); the extra exchange
    // moves only the distinct token strings
    val vocab0 = tok.select("t").distinct()
    val vocabW = TextAnalysis.spreadWidth(df)
    val vocab = (if (vocabW > 1) vocab0.repartition(vocabW, col("t"))
                 else vocab0)
      .withColumn("m", md5(col("t").cast("binary")))
      .select((col("t") +: (0 until 16).map(j =>
        conv(substring(col("m"), j + 1, 1), 16, 10).cast("int").as(s"n$j"))): _*)
    val withNib = tok.join(vocab, "t").drop("t")
    val bitSums = (0 until 64).map { i =>
      val bit = shiftright(col(s"n${i / 4}"), i % 4).bitwiseAND(1)
      sum(when(bit === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val agg = withNib.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
    def half(lo: Int): Column = (lo until lo + 32).map { i =>
      when(col(s"b$i") > 0, lit(1L << (i - lo))).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc"), half(0).as("h1"), half(32).as("h2"))
  }

  /** Near-dup pairs over the portable SimHash, chunk-banded exactly like
   * [[simHashPairs]]; hamming = bit_count(h1^h1') + bit_count(h2^h2'). */
  def simHashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "chunk banding guarantees recall only for hamming <= 3")
    // materialize the sketch once (24 bytes/doc): both sides of the chunk
    // self-join read it, and without this each side re-runs the 64-sum
    // aggregate over the whole corpus. Re-fanned: the cut's adaptive
    // plan coalesces the small sketch to one partition, serializing the
    // chunk explode + banded join probes downstream (no-op at scale)
    val sh = TextAnalysis.respread(
      Materialize(simHashPortable(df, idCol, textCol)), df, col("doc"))
    val chunked = sh.select(col("doc"), col("h1"), col("h2"), posexplode(array(
      col("h1").bitwiseAND(0xFFFF), shiftright(col("h1"), 16),
      col("h2").bitwiseAND(0xFFFF), shiftright(col("h2"), 16))))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    chunked.as("x")
      .join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        (bit_count(col("x.h1").bitwiseXOR(col("y.h1"))) +
          bit_count(col("x.h2").bitwiseXOR(col("y.h2")))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------- fused pipeline

  /** The three answers of an end-to-end dedup run, all derived from ONE
   * pair-graph computation: the verified near-dup `pairs` (the d04
   * answer), the connected-component `labels` over them (d06), and the
   * `keep` rows — the corpus minus non-canonical cluster members (d07). */
  final case class DedupResult(pairs: DataFrame, labels: DataFrame,
                               keep: DataFrame)

  /**
   * Fused pairs -> clusters -> keep-set pipeline. Run separately, the
   * three stages each recompute the pair graph — the expensive part:
   * tokenize the corpus, generate candidates, verify with exact set
   * intersection — so a pipeline that wants all three (every production
   * dedup run does: pairs for audit, labels for grouping, keep for the
   * output corpus) pays it three times. Here the pair graph is
   * [[Materialize]]d once; cluster propagation reads the cut, and the
   * keep set is one anti-join of the corpus against the (tiny)
   * non-canonical label set. Total corpus passes: one tokenize + one
   * keep-set scan, independent of how many of the three outputs are
   * consumed.
   *
   * Lifetime: `pairs` and `labels` are materialized cuts, and `keep`'s
   * plan CONTAINS the labels cut (its anti-join side derives from it) —
   * so releasing `keep` also drops `labels` (and vice versa), and a
   * sibling read after the other's release would fail irrecoverably
   * (localCheckpoint discards the lineage needed to recompute).
   * Release the three together, AFTER all terminal actions on all of
   * them — [[Materialize.scoped]] around the whole consumption is the
   * safe form.
   */
  def dedupPipeline(df: DataFrame, idCol: String, textCol: String, n: Int,
                    threshold: Double, maxIters: Int = 20): DedupResult = {
    // the pair list is re-cut immediately, so the doc-set/key cuts
    // INSIDE jaccardPairs are internal: owned by the pairs cut and freed
    // with it, instead of leaking until a releaseAll sweep
    val pairs = Materialize(jaccardPairsImpl(df, idCol, textCol, n, threshold,
      Long.MaxValue, Materialize.internal))
    val labels = clusters(pairs, "doc_a", "doc_b", maxIters)
    val drop = labels.filter(col("doc") =!= col("cluster")).select(col("doc"))
    val keep = df.join(drop, df(idCol) === drop("doc"), "left_anti")
    DedupResult(pairs, labels, keep)
  }

  // ---------------------------------------------------- span-level dedup

  /**
   * Exact substring-span dedup — the Lee et al. 2021 ("Deduplicating
   * Training Data Makes Language Models Better") modality: locate runs
   * of >= `minTokens` consecutive tokens that appear verbatim in MORE
   * THAN ONE document. Output is (doc_id, span_start, span_end) —
   * 1-based inclusive TOKEN indices into the whitespace-normalized
   * token sequence — with overlapping-or-adjacent duplicated regions
   * merged per document (removal semantics: the doc's duplicated region
   * set). Whole-document dedup (d01–d04) removes near-identical
   * documents; this finds the boilerplate paragraph pasted into ten
   * thousand otherwise-distinct pages, which document-level methods
   * structurally miss.
   *
   * The reference formulation builds a corpus-wide suffix array —
   * inherently sequential. The distributed shape instead indexes every
   * `minTokens`-token shingle BY POSITION and recovers maximal spans
   * from runs:
   *
   *  1. one tokenize pass → (doc, p, md5(shingle at p)): the hashes are
   *     computed by an in-row `transform`, then `posexplode`d, so the
   *     exploded rows carry a 32-char hash each, never the token array
   *     (same asymptotics as t05's winnowing index: ~one row per corpus
   *     token);
   *  2. shingles occurring at more than `maxOcc` positions corpus-wide
   *     are dropped — the hot-bucket guard of d02/d04/d08: a
   *     boilerplate shingle shared by a million documents would
   *     otherwise fan the pair join out quadratically. The guard bounds
   *     per-shingle join fan-out at maxOcc² and is part of the operator
   *     contract (ubiquitous spans stop being reported once they occur
   *     in more than ~maxOcc places — at that frequency they are a
   *     vocabulary fact, not a dedup finding);
   *  3. the position index self-joins on the shingle hash (doc_a <
   *     doc_b) — the only pair-generating stage, keyed by content,
   *     never all-pairs;
   *  4. a shared span of length L >= minTokens is exactly a run of
   *     L − minTokens + 1 consecutive matches at one position delta, so
   *     grouping by (doc_a, doc_b, pb − pa) and splitting on
   *     non-consecutive pa (run id = pa − row_number(), the classic
   *     gaps-and-islands key) yields each maximal shared span once;
   *  5. spans land on both documents of each pair and merge per doc
   *     with one running-max window keyed by doc.
   *
   * Every shuffle is keyed by shingle hash, (doc pair, delta), or doc.
   * The position index is [[Materialize]]d once and feeds both sides of
   * the pair join — callers release it via the returned frame after the
   * terminal action ([[Materialize.release]]/[[Materialize.scoped]]).
   */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                minTokens: Int, maxOcc: Int = 64): DataFrame =
    spansFromTokens(tokenTable(df, idCol, textCol), idCol, minTokens, maxOcc)

  /** (id, ts): the normalized token-array table every span operator
   * reads — the seam that lets [[spanDedupPipeline]] tokenize the
   * corpus exactly once for find AND remove. Small inputs are spread
   * across cores first (the per-position shingle hashing would
   * otherwise serialize on one task; no-op at real scale). */
  private def tokenTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.spreadAcrossCores(df)
      .select(col(idCol), split(normalizeText(col(textCol)), " ").as("ts"))

  /** Positional shingle index over a (doc, ts) token table: one row per
   * (doc, position) with the md5 of the minTokens-token shingle starting
   * there — the shared index of [[spanDedup]] and [[crossSpans]]. */
  private def posIndex(tokens: DataFrame, minTokens: Int): DataFrame =
    tokens
      .withColumn("n", size(col("ts")))
      .filter(col("n") >= minTokens)
      .select(col("doc"),
        posexplode(transform(sequence(lit(1), col("n") - minTokens + 1),
          p => md5(concat_ws(" ", slice(col("ts"), p, lit(minTokens))).cast("binary")))))
      .select(col("doc"), (col("pos") + 1).as("p"), col("col").as("g"))

  /** Merge overlapping-or-adjacent (doc_id, s, e) spans per doc
   * (gaps-and-islands over a running max): [1,10]+[5,12] -> [1,12],
   * [1,10]+[11,20] -> [1,20]. */
  private def mergeSpans(spans: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy(col("s"), col("e"))
    spans
      .withColumn("pmax",
        max(col("e")).over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax") + 1, 1).otherwise(0))
      .withColumn("grp",
        sum(col("brk")).over(wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min(col("s")).cast("long").as("span_start"),
        max(col("e")).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** Runs of consecutive `pa` at a fixed delta `d = pb - pa` per
   * (doc_a, doc_b) pair — maximal shared spans via gaps-and-islands over
   * row_number. Input: (doc_a, pa, doc_b, pb) shingle-match pairs;
   * output: (doc_a, doc_b, d, run, sa, ea) with
   * `ea = max(pa) + minTokens - 1`. (pa is unique within a
   * (doc_a, doc_b, d) group — the shingle at a position is one hash, so
   * a (pa, pb) match pair appears once.) Shared by [[spanDedup]] (both
   * sides emitted) and [[crossSpans]] (corpus side only). */
  private def spanRuns(matches: DataFrame, minTokens: Int): DataFrame = {
    val wRun = Window.partitionBy("doc_a", "doc_b", "d").orderBy("pa")
    matches
      .withColumn("d", col("pb") - col("pa"))
      .withColumn("run", col("pa") - row_number().over(wRun))
      .groupBy("doc_a", "doc_b", "d", "run")
      .agg(min(col("pa")).as("sa"), (max(col("pa")) + minTokens - 1).as("ea"))
  }

  /** The span-family hot-gram guard: drop every index row whose gram
   * occurs more than `maxOcc` times in the index. The count is a
   * map-side-combinable groupBy (NOT a per-key window — the hot key
   * would funnel its 10^7 occurrences into one partition), and the hot
   * TYPE list joins back anti, UNHINTED: AQE sees the aggregated side's
   * runtime size after its shuffle stage and converts to a broadcast
   * join exactly when the hot-type list fits the broadcast threshold —
   * the same decision the old eager `hot.count()` branch made, without
   * its extra driver action per call (crossSpans calls this twice, so
   * the fold removes whole jobs per query); past the threshold the
   * sort-merge path keeps AQE's skew split for any hot probe partition.
   * Callers pass a [[Materialize]]d index, so the count subtree and the
   * probe side re-read the cut, not the corpus. */
  private def dropHotGrams(idx: DataFrame, maxOcc: Long): DataFrame = {
    val hot = idx.groupBy("g").agg(count(lit(1)).as("occ_n"))
      .filter(col("occ_n") > maxOcc).select("g")
    idx.join(hot, Seq("g"), "left_anti")
  }

  private def spansFromTokens(tokens: DataFrame, idCol: String,
                              minTokens: Int, maxOcc: Int): DataFrame = {
    require(minTokens >= 2,
      "minTokens < 2 is a shared-vocabulary report, not a span finder")
    require(maxOcc >= 2, "maxOcc < 2 would drop every shared shingle")
    val occ = Materialize(
      posIndex(tokens.select(col(idCol).as("doc"), col("ts")), minTokens))
    // hot-shingle guard, skew-safe: the guard's own input is exactly the
    // pathological key (a boilerplate shingle occurring 10^7 times), so
    // counting via a per-key window would land all its occurrences in
    // ONE window partition — the guard becoming the skew victim.
    // [[dropHotGrams]] counts by groupBy instead (map-side partial
    // aggregation bounds any key's reducer input at one row per map
    // task) and anti-joins the hot gram TYPES back, broadcast when AQE
    // proves the aggregated list small at runtime. The index is cut
    // ONCE and feeds the hot-count subtree and both pair-join sides
    // (without the cut the corpus tokenizes twice).
    val kept = dropHotGrams(occ, maxOcc)
    val matches = kept.select(col("g"), col("doc").as("doc_a"), col("p").as("pa"))
      .join(kept.select(col("g"), col("doc").as("doc_b"), col("p").as("pb")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
    val runs = spanRuns(matches, minTokens)
    val spans = runs
      .select(col("doc_a").as("doc_id"), col("sa").as("s"), col("ea").as("e"))
      .unionByName(runs.select(col("doc_b").as("doc_id"),
        (col("sa") + col("d")).as("s"), (col("ea") + col("d")).as("e")))
      .distinct()
    mergeSpans(spans)
  }

  /** The (id, shingle) table the span machinery indexes — the md5 of
   * each `minTokens`-token window over the normalized token sequence,
   * one row per position. Public for the theta-triage composition
   * ([[graft.operators.Similarity.corpusOverlapSketch]] over THIS gram
   * space): a span needs at least one shared shingle, so "zero shingle
   * overlap" is proof of "zero [[crossSpans]] matches" — a triage gate
   * built on these grams cannot lose spans while the sketches are in
   * their exact regime. */
  def spanShingles(df: DataFrame, idCol: String, textCol: String,
                   minTokens: Int): DataFrame = {
    require(minTokens >= 2,
      "minTokens < 2 is a vocabulary, not a shingle space")
    posIndex(tokenTable(df, idCol, textCol)
        .select(col(idCol).as("doc"), col("ts")), minTokens)
      .select(col("doc").as(idCol), col("g"))
  }

  /**
   * Cross-corpus SPAN decontamination — the Lee et al. span finder
   * pointed at a probe/benchmark set: runs of >= `minTokens`
   * consecutive tokens in a CORPUS document that appear verbatim in any
   * PROBE document, emitted as merged (id, span_start, span_end) in the
   * corpus document's normalized token coordinates — exactly the spans
   * [[removeSpans]] consumes. Whole-document decontamination (d08/d16)
   * FLAGS documents; this localizes the leaked benchmark text inside
   * them, so curation can keep the document minus the contamination.
   *
   * Scale shape: the corpus indexes positionally once (the d12 shape),
   * then immediately semi-joins against the BROADCAST probe vocabulary
   * (benchmark-sized — the [[crossJaccardPairs]] discipline), so the
   * hot-shingle window guard and the match join both run on the
   * probe-restricted index, which is output-scale, not corpus-scale.
   * `maxOcc` bounds per-gram occurrences on BOTH sides — corpus-side
   * exactly as in [[spanDedup]], and probe-side so a degenerate probe
   * (one shingle repeated thousands of times) can't fan the match join
   * out past maxOcc² rows per gram (recall-only trade). A probe
   * document also present in the corpus matches other documents but
   * never itself.
   */
  def crossSpans(corpus: DataFrame, probes: DataFrame, idCol: String,
                 textCol: String, minTokens: Int, maxOcc: Int = 64): DataFrame = {
    require(minTokens >= 2,
      "minTokens < 2 is a shared-vocabulary report, not a span finder")
    require(maxOcc >= 2, "maxOcc < 2 would drop every shared shingle")
    val cOcc = posIndex(
      tokenTable(corpus, idCol, textCol).select(col(idCol).as("doc"), col("ts")),
      minTokens)
    // probe index is benchmark-sized: guard its hot shingles (in-probe
    // occurrence count, before any corpus contact) with the same
    // skew-safe [[dropHotGrams]] as [[spansFromTokens]] (a per-key
    // window would funnel a degenerate probe's repeated shingle into
    // one partition), cut once — it feeds the vocabulary semi-join AND
    // the match join. Dropping a gram from the vocabulary doesn't
    // change other grams' corpus-side counts, so the two guards commute
    // with the semi-join.
    val pAll = Materialize(posIndex(
      tokenTable(probes, idCol, textCol).select(col(idCol).as("doc"), col("ts")),
      minTokens))
    val pOcc = dropHotGrams(pAll, maxOcc)
    // the corpus-side candidate index is probe-restricted (output-scale,
    // not corpus-scale) — cut it so the corpus tokenizes once while it
    // feeds its own hot-count pass and the match join
    val cCand = Materialize(cOcc
      .join(broadcast(pOcc.select("g").distinct()), Seq("g"), "left_semi"))
    val cKept = dropHotGrams(cCand, maxOcc)
    // corpus is side a (the span coordinates we keep), probe is side b
    val matches = cKept.select(col("g"), col("doc").as("doc_a"), col("p").as("pa"))
      .join(pOcc.select(col("g"), col("doc").as("doc_b"), col("p").as("pb")), Seq("g"))
      .filter(col("doc_a") =!= col("doc_b"))
    val spans = spanRuns(matches, minTokens)
      .select(col("doc_a").as("doc_id"), col("sa").as("s"), col("ea").as("e"))
      .distinct()
    mergeSpans(spans)
  }

  /**
   * Apply span-dedup decisions — the REMOVE half of the Lee et al.
   * pipeline ([[spanDedup]] is the find half): drop every token that
   * falls inside one of `spans` (1-based inclusive positions in the
   * whitespace-NORMALIZED token sequence, i.e. exactly [[spanDedup]]'s
   * output coordinates) and reassemble the survivors in order. Output
   * is (id, text) with the normalized surviving tokens space-joined;
   * documents whose every token is covered drop out (consistent with
   * [[dropDuplicateParagraphs]]); documents with no span pass through
   * normalized.
   *
   * Scale shape: one tokenize/posexplode pass, one anti-join keyed by
   * the EQUI document id (the span-range predicate rides the hash join
   * as a residual condition — spans per doc are few, so no range-join
   * blowup), one per-doc reassembly aggregate. Nothing is all-pairs
   * and the span table is output-sized, not corpus-sized.
   */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
                  spans: DataFrame, spanIdCol: String = "doc_id",
                  startCol: String = "span_start",
                  endCol: String = "span_end"): DataFrame =
    removeFromTokens(tokenTable(df, idCol, textCol), idCol, textCol,
      spans, spanIdCol, startCol, endCol)

  private def removeFromTokens(tokens: DataFrame, idCol: String, textCol: String,
                               spans: DataFrame, spanIdCol: String,
                               startCol: String, endCol: String): DataFrame = {
    val toks = tokens.select(col(idCol),
        posexplode(col("ts")).as(Seq("pi0", "tok")))
      .withColumn("p", (col("pi0") + 1).cast("long")).drop("pi0")
    val sp = spans.select(col(spanIdCol).as("__sid"),
      col(startCol).as("__s"), col(endCol).as("__e"))
    toks.join(sp, toks(idCol) === col("__sid") &&
        col("p") >= col("__s") && col("p") <= col("__e"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("p"), col("tok")))),
        x => x.getField("tok"))).as(textCol))
  }

  /** The two answers of a fused find -> remove span-dedup run, both
   * derived from ONE corpus tokenize. Both frames' plans contain the
   * shared token-table cut — release them TOGETHER after all terminal
   * actions ([[Materialize.scoped]] around the consumption is the safe
   * form; see [[Materialize.release]] on the sibling hazard). */
  final case class SpanDedupResult(spans: DataFrame, cleaned: DataFrame)

  /**
   * Fused [[spanDedup]] + [[removeSpans]]: run separately each
   * tokenizes the corpus (the dominant cost at scale); here the
   * normalized token-array table is [[Materialize]]d once and feeds
   * both the positional shingle index and the removal anti-join — the
   * d09 fusion discipline applied to the span pipeline. Note the cut
   * holds the normalized token arrays (~corpus-sized in executor
   * storage); at cluster scale set `graft.materialize.reliable` like
   * any other large cut.
   */
  def spanDedupPipeline(df: DataFrame, idCol: String, textCol: String,
                        minTokens: Int, maxOcc: Int = 64): SpanDedupResult = {
    val toks = Materialize(tokenTable(df, idCol, textCol))
    val spans = spansFromTokens(toks, idCol, minTokens, maxOcc)
    SpanDedupResult(spans,
      removeFromTokens(toks, idCol, textCol, spans,
        "doc_id", "span_start", "span_end"))
  }

  // --------------------------------------------------- paragraph dedup

  /** Shared paragraph table of [[paragraphDedup]]/
   * [[dropDuplicateParagraphs]]: split on `sepPattern`, drop
   * whitespace-only paragraphs, fingerprint the NORMALIZED paragraph,
   * and mark each fingerprint's canonical (min id, then min position)
   * occurrence corpus-wide.
   *
   * The canonical pick is a map-side-combinable
   * `groupBy(fingerprint).agg(min(struct(id, para_idx)))` joined back —
   * NOT a `row_number` window keyed by the fingerprint. A window would
   * funnel EVERY occurrence of a hot fingerprint (a cookie banner in
   * 10^7 crawl pages) — text and all — into one window partition; the
   * aggregate ships fingerprint + two scalars on the shuffle, combines
   * map-side so the hot key arrives pre-collapsed, and the join-back is
   * an equi-join AQE can skew-split (and in practice broadcasts: the
   * canonical frame is one row per DISTINCT fingerprint, no text).
   * Same discipline as [[dropHotGrams]] / `fingerprintSetPairs`. */
  private def paraTable(df: DataFrame, idCol: String, textCol: String,
                        sepPattern: String,
                        keepText: Boolean = true): DataFrame = {
    // The paragraph table feeds BOTH the canonical-pick aggregate and
    // the join probe (no ReusedExchange across a self-join), so it is
    // cut ONCE — and EAGERLY: the two consumers launch as racing query
    // stages under AQE, and a lazy cut would be recomputed by each
    // racer before its blocks cache (measured on the d13 gate: the lazy
    // cut cost the same as no cut at all). The decision-table caller
    // (paragraphDedup) drops the paragraph TEXT before the cut — its
    // output is (id, idx, fingerprint, keep), so carrying text through
    // checkpoint + join would be dead weight; on a crawl corpus the
    // text IS most of the bytes.
    val full = df.select(col(idCol),
        posexplode(split(col(textCol), sepPattern)).as(Seq("pi0", "para")))
      .withColumn("para_idx", (col("pi0") + 1).cast("long")).drop("pi0")
      .filter(length(trim(col("para"))) > 0)
      .withColumn("fingerprint", fingerprintMd5(col("para")))
    val paras = Materialize.eager(if (keepText) full else full.drop("para"))
    // canonical pick as a map-side-combinable aggregate + join-back —
    // NOT a per-fingerprint window: a boilerplate paragraph occurring
    // 10^7 times would funnel every occurrence (with its text) into one
    // window partition. The aggregate additionally keeps ONLY the
    // DUPLICATED fingerprints (count > 1): a singleton paragraph keeps
    // by definition, so it needs no join partner at all — the canonical
    // frame shrinks from one row per DISTINCT paragraph (corpus-scale
    // on a mostly-unique corpus) to one row per paragraph that actually
    // repeats (dictionary-scale: boilerplate is repeated by
    // construction, the removeBoilerplateLines sizing argument). That
    // makes the join-back a guaranteed-broadcastable LEFT join with no
    // probe-side exchange — and AQE skew-splits the probe if a store
    // ever defeats the sizing.
    val canon = paras
      .groupBy("fingerprint")
      .agg(min(struct(col(idCol), col("para_idx"))).as("__canon"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .drop("__n")
    // NULL-SAFE canonical compare: with a NULL doc id in the corpus,
    // min(struct) can pick the NULL-id occurrence as canonical, and a
    // plain === would then evaluate keep to NULL for EVERY occurrence
    // — dropDuplicateParagraphs' filter would silently delete the
    // paragraph corpus-wide. (Like the rest of the dedup family, idCol
    // is assumed unique per document; duplicated (id, idx) pairs are
    // malformed input and both copies would keep.) A row with no join
    // partner is a singleton occurrence: keep unconditionally.
    paras.join(canon, Seq("fingerprint"), "left")
      .withColumn("keep", col("__canon").isNull ||
        (col("__canon")(idCol) <=> col(idCol) &&
          col("__canon")("para_idx") <=> col("para_idx")))
      .drop("__canon")
  }

  /**
   * Paragraph-level exact dedup — the RefinedWeb curation step: a
   * paragraph (blank-line-separated block by default) duplicated
   * anywhere in the corpus survives only at its FIRST occurrence
   * (min id, then min position — within-document repeats count too).
   * Returns (id, para_idx, fingerprint, keep): the per-paragraph
   * decision table, 1-based positions.
   *
   * Scale shape: one explode pass (paragraph rows, not token rows,
   * [[Materialize]]d once for both consumers), a map-side-combinable
   * canonical-pick aggregate, and one fingerprint-keyed join-back —
   * d01's exact-dedup discipline applied at paragraph grain, skew-safe
   * for the hot-key case (a cookie banner in 10^7 documents) where a
   * per-fingerprint window would funnel every occurrence into one task.
   * The boilerplate this catches (nav bars, cookie banners, license
   * footers) is exactly what document-level dedup (d01–d04) and span
   * dedup under its minimum length miss.
   */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sepPattern: String = "\\n{2,}"): DataFrame =
    paraTable(df, idCol, textCol, sepPattern, keepText = false)
      .select(col(idCol), col("para_idx"), col("fingerprint"), col("keep"))

  /** The corpus with non-canonical duplicate paragraphs removed and the
   * survivors re-joined with `sep` in original order; documents whose
   * every paragraph was a duplicate (or blank) drop out entirely. */
  def dropDuplicateParagraphs(df: DataFrame, idCol: String, textCol: String,
                              sep: String = "\n\n",
                              sepPattern: String = "\\n{2,}"): DataFrame =
    paraTable(df, idCol, textCol, sepPattern)
      .filter(col("keep"))
      .groupBy(col(idCol))
      .agg(concat_ws(sep, transform(
        array_sort(collect_list(struct(col("para_idx"), col("para")))),
        x => x.getField("para"))).as(textCol))

  // ------------------------------------------------- boilerplate lines

  /**
   * C4-style boilerplate line removal (Raffel et al. 2020's "discard
   * any line that occurred more than N times in the corpus", the
   * frequency twin of [[paragraphDedup]]'s first-occurrence rule): a
   * LINE whose normalized content appears in at least `minDocs`
   * DISTINCT documents is boilerplate (navigation bars, cookie
   * banners, share buttons, license footers) and is removed from EVERY
   * document — including its first occurrence, which is what separates
   * this from dedup: boilerplate is noise wherever it appears.
   * Surviving lines re-join with `sep` in original order; documents
   * left with no lines drop out.
   *
   * Scale shape: one explode pass to line rows, cut once because it
   * feeds BOTH the dictionary aggregate and the removal anti-join
   * (eager — the two consumers launch as racing query stages under
   * AQE). The boilerplate dictionary is the distinct (doc, fingerprint)
   * aggregate filtered to >= minDocs, so its size is bounded by
   * lines/minDocs and in practice is dictionary-sized (boilerplate is
   * repeated by construction); the anti-join carries no unconditional
   * broadcast hint — AQE broadcasts it when it measures small (the
   * [[TextAnalysis.trigramFamiliarity]] discipline). Reassembly is one
   * aggregate keyed by the doc id.
   */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             minDocs: Long, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2 — 1 would drop every line")
    removeBoilerplateSegments(
      // NOT spread (r22, measured): the line split is cheap per byte and
      // the exchange cost d15 ~0.2 s net; the sentence variant below IS
      // spread (regex sentence split + md5 are heavier per byte)
      df.select(col(idCol),
          posexplode(split(col(textCol), "\\n")).as(Seq("pi0", "seg")))
        .withColumn("seg_idx", (col("pi0") + 1).cast("long")).drop("pi0")
        .filter(length(trim(col("seg"))) > 0),
      idCol, minDocs, sep, textCol)
  }

  /** Sentence-grain boilerplate removal — the RefinedWeb variant of
   * [[removeBoilerplateLines]] for corpora whose boilerplate is not
   * line-delimited (crawl text flattened to one line carries its
   * "subscribe to our newsletter" sentences inline): segment with
   * [[TextAnalysis.sentences]], drop sentences appearing in >= `minDocs`
   * DISTINCT documents, stitch the survivors back in order. A document
   * whose EVERY sentence is boilerplate has no surviving segments and
   * emits NO row (same contract as the line form) — callers needing
   * row preservation left-join the result back by id and coalesce to
   * empty. Same scale shape as the line form — one segment explode, one
   * distinct-doc-count aggregate over fingerprints (map-side combined),
   * one anti-join, one per-doc regroup. */
  def removeBoilerplateSentences(df: DataFrame, idCol: String,
                                 textCol: String, minDocs: Long): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2 — 1 would drop every sentence")
    removeBoilerplateSegments(
      // spread before the segment explode: sentence split + per-segment
      // md5 are the heavy per-row work, serialized on the one-file
      // corpus' single task otherwise (no-op at real scale)
      TextAnalysis.spreadAcrossCores(df)
        .select(col(idCol),
          posexplode(TextAnalysis.sentences(col(textCol)))
            .as(Seq("pi0", "seg")))
        .withColumn("seg_idx", (col("pi0") + 1).cast("long")).drop("pi0"),
      idCol, minDocs, " ", textCol)
  }

  /** Shared boilerplate-removal core over pre-segmented text: fingerprint
   * each (id, seg_idx, seg) row, count DISTINCT docs per fingerprint,
   * anti-join the >= minDocs set, stitch survivors back with `joinSep`.
   * An all-boilerplate document emits no row (no segments survive the
   * anti-join). The segment table is cut once — it feeds the count pass
   * and the anti-join (without the cut the corpus would re-segment
   * twice). */
  private def removeBoilerplateSegments(segments: DataFrame, idCol: String,
      minDocs: Long, joinSep: String, outCol: String): DataFrame = {
    val segs = Materialize.eager(
      segments.withColumn("fp", fingerprintMd5(col("seg"))))
    val boiler = segs.select(col(idCol), col("fp")).distinct()
      .groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("fp")
    segs.join(boiler, Seq("fp"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(joinSep, transform(
        array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
        x => x.getField("seg"))).as(outCol))
  }

  // ------------------------------------------------- winnow near-dup

  /**
   * Winnowing-fingerprint near-dup pairs — the MOSS matching step at
   * corpus scale: documents collapse to their winnow fingerprint SETs
   * ([[TextAnalysis.winnowFingerprintsFast]] — ~2·len/(w+1) hashes per
   * doc, robust to reordering and local edits) and pairs with
   * fingerprint-set Jaccard >= `threshold` emerge from an
   * inverted-index join on the fingerprint VALUE. Catches rearranged /
   * partially-overlapping documents that token-set Jaccard (d04)
   * underweights and whole-document hashes (d01–d03) miss entirely;
   * localizing WHERE the overlap sits is [[spanDedup]]'s job.
   *
   * Fingerprints with corpus occurrence above `maxOcc` (boilerplate
   * k-grams — they would pair the whole corpus) are dropped from the
   * WHOLE comparison space, sizes included: the Jaccard is exact over
   * the filtered fingerprint space (sets, not bags — the shared-count
   * of the bucket join IS the intersection, no re-verification pass),
   * which both damps boilerplate like a df-weighting and keeps the
   * oracle replay exact. `maxOcc = Long.MaxValue` recovers the pure
   * winnow Jaccard.
   *
   * Scale shape: the fingerprint table is a fraction of corpus chars;
   * every join is keyed on fingerprint values or doc ids — no
   * all-pairs stage anywhere, the d04 discipline.
   */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double, k: Int = 8, w: Int = 4,
                  maxOcc: Long = 64L): DataFrame =
    fingerprintSetPairs(
      TextAnalysis.winnowFingerprintsFast(df, idCol, textCol, k, w),
      idCol, "fingerprint", threshold, maxOcc)

  /**
   * Near-dup pairs over ANY (id, fingerprint) SET table — the shared
   * engine behind [[winnowPairs]] (text winnow sets) and media chunk
   * near-dup ([[Multimodal.chunkFingerprints]] sets, m05): pairs with
   * fingerprint-set Jaccard >= `threshold` from an inverted-index join
   * on the fingerprint value, with the `maxOcc` hot-fingerprint guard
   * applied to the whole comparison space (sizes included) — exact
   * Jaccard over the filtered space, see [[winnowPairs]]. The input
   * must be a SET (one row per (id, fingerprint)); dedupe upstream.
   */
  def fingerprintSetPairs(fp0: DataFrame, idCol: String, fpCol: String,
                          threshold: Double, maxOcc: Long = 64L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val fp = Materialize(fp0.select(col(idCol), col(fpCol).as("fingerprint")))
    val kept = fp.join(
      fp.groupBy("fingerprint").agg(count(lit(1)).as("occ"))
        .filter(col("occ") <= maxOcc).select("fingerprint"),
      Seq("fingerprint"), "left_semi")
    val sz = kept.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    kept.as("a")
      .join(kept.as("b"), col("a.fingerprint") === col("b.fingerprint") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col(idCol).as("doc_a"), col("sz").as("sa")), Seq("doc_a"))
      .join(sz.select(col(idCol).as("doc_b"), col("sz").as("sb")), Seq("doc_b"))
      .filter(col("inter") / (col("sa") + col("sb") - col("inter")) >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("sa") + col("sb") - col("inter")), 4)
          .as("jaccard"))
  }

  // ------------------------------------------------ Bloom decontamination

  /**
   * Bloom-filter decontamination — [[crossJaccardPairs]]'s membership
   * twin for the regime where even the probe VOCABULARY is too large to
   * ship raw: every probe n-gram sets `k` md5-derived bit positions in
   * an `mBits`-bit Bloom filter; the packed filter (mBits/64 longs,
   * FIXED size no matter how many probe grams fed it) broadcasts; a
   * corpus document scores a hit for every distinct n-gram whose k
   * positions are all set. Returns (id, n_hits) for flagged documents
   * (n_hits >= 1) — the cheap first-pass sweep whose flagged survivors
   * feed the exact [[crossJaccardPairs]] verifier.
   *
   * False positives are the documented Bloom trade (rate ≈
   * (1-e^(-k·n/m))^k) and are DETERMINISTIC: positions come from the
   * first `posNibbles` hex nibbles (4·posNibbles bits) of
   * md5(gram + ":b" + j) reduced mod mBits (a power of two, so the
   * reduction is a mask), the same hash math in any engine — an
   * external oracle replays the flags exactly, false positives
   * included. The position hash caps mBits at 16^posNibbles: the
   * default 4 nibbles / 65536 bits is sized for a benchmark-scale probe
   * set (~10k grams at k=5 stays under ~10% fill); a bigger probe
   * corpus saturates the filter and flags everything — pass more
   * nibbles (5 → mBits up to 2²⁰ ≈ 1M bits / 128 KiB broadcast, 7 →
   * 2²⁸ / 32 MiB) and the matching mBits in both engines together. The
   * oracle-gated d16 entry stays on the default; widening is
   * spec-pinned (BloomWidthSpec shape in PipelineSpec).
   *
   * Scale shape: the probe side collapses to at most mBits distinct
   * positions (two aggregates); packing them is a driver fold over <=
   * mBits ints (config-scale, the centroid-round-trip pattern); the
   * corpus side is ONE narrow scan — explode to (doc, gram), test k
   * bits against the broadcast literal mask, one map-side-combined
   * count per doc. No join touches the 100 TB side.
   */
  def bloomDecontaminate(corpus: DataFrame, probes: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         mBits: Int = 65536, k: Int = 3,
                         posNibbles: Int = 4): DataFrame = {
    require(posNibbles >= 4 && posNibbles <= 7,
      "posNibbles must be in [4, 7] — 7 nibbles (2^28 bits, a 32 MiB " +
        "broadcast) is already past any sane broadcast filter size")
    val maxBits = 1 << (4 * posNibbles)
    require(mBits >= 64 && mBits <= maxBits && Integer.bitCount(mBits) == 1,
      s"mBits must be a power of two in [64, $maxBits] — positions are " +
        s"the first ${4 * posNibbles} md5 bits, so a larger or " +
        "non-power-of-two filter would bias the reduction")
    require(k >= 1 && k <= 8, "k must be in [1, 8]")
    // position of hash j for gram g: first posNibbles md5 hex nibbles as
    // an int, masked to mBits — identical arithmetic in any engine
    def posCol(g: Column, j: Int): Column =
      conv(substring(md5(concat(g, lit(s":b$j")).cast("binary")), 1, posNibbles), 16, 10)
        .cast("int") % mBits
    val setBits = probes
      .select(explode(ngramSet(col(textCol), n)).as("g")).distinct()
      .select(explode(array((1 to k).map(j => posCol(col("g"), j)): _*)).as("p"))
      .distinct()
      .collect().map(_.getInt(0)) // <= mBits rows: config-scale by construction
    val mask = new Array[Long](mBits / 64)
    setBits.foreach(p => mask(p >>> 6) |= (1L << (p & 63)))
    // all-k-bits-set, over named columns (codegen'd integer ops; the SQL
    // form because variable shift amounts have no Scala-DSL function)
    val hit = (1 to k)
      .map(j => s"(shiftright(element_at(__bloom, CAST(p$j div 64 AS INT) + 1), p$j % 64) & 1) = 1")
      .mkString(" AND ")
    // the k-md5s-per-gram membership test is heavy NARROW work that runs
    // BEFORE the count's exchange — on a one-file corpus it would
    // serialize on a single task (measured 3.5 s of a 4.5 s total at
    // sf0.1); spread first (no-op at real scale, where file partitions
    // >> cores)
    (1 to k).foldLeft(
        // workFactor = k: this operator does k md5s PER GRAM, so the
        // byte-sized fan under-estimates its per-task work k-fold
        // (profiled: 4 tasks holding 2.7 s of CPU at sf0.1)
        TextAnalysis.spreadAcrossCores(corpus.select(col(idCol), col(textCol)),
            workFactor = k)
          .select(col(idCol), explode(ngramSet(col(textCol), n)).as("g"))
          .withColumn("__bloom", typedLit(mask.toSeq))) {
        case (acc, j) => acc.withColumn(s"p$j", posCol(col("g"), j))
      }
      .filter(expr(hit))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  // ---------------------------------------------------- cluster resolution

  /**
   * Duplicate-cluster resolution: connected components over a near-dup
   * pair list, labeling every member with the minimum id reachable from
   * it. Near-dup relations are not transitive (A~B and B~C do not imply
   * A~C), so keep-one-per-pair policies tear chains apart; the component
   * label is the well-defined "this group is one document" answer, and
   * min-id makes the canonical representative deterministic.
   *
   * Hash-min label propagation with pointer jumping: labels start at
   * `min(self, neighbors)`; each round pushes the labels that CHANGED
   * last round over the edges (one equi-join + one map-side-combined min
   * aggregate) and then follows the new label's own label (path
   * halving). Delta pushing is exact for this monotone min: labels only
   * decrease, every node receives a neighbor's label the round after
   * that neighbor last moved (round 1 pushes everything), so a no-change
   * round is a fixed point of the full operator too. Reach roughly
   * doubles per round, so rounds = O(log diameter) — a million-node
   * chain needs ~20 rounds, not a million; `maxIters` bounds the loop.
   * All per-round frames are sized by the pair graph (nodes + edges),
   * never the corpus. Labels are [[Materialize]]d each round so the
   * loop's plans stay flat, and convergence is detected by one count per
   * round (loop control, no data to the driver).
   *
   * Only ids appearing in `pairs` are returned — singletons never enter
   * the pair list; callers wanting them union the corpus in with
   * `cluster = id`.
   *
   * `broadcastNodeLimit` is the row bound under which a frame is
   * broadcast instead of shuffled (parameterized so specs can straddle
   * it with small graphs; the default tracks a comfortable driver-side
   * map size).
   */
  def clusters(pairs: DataFrame, aCol: String, bCol: String,
               maxIters: Int = 20,
               broadcastNodeLimit: Long = 1000000L,
               unionFindEdgeLimit: Long = 500000L): DataFrame = {
    val edges = Materialize(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    // SMALL-GRAPH FAST PATH: a pair graph the loop below would
    // broadcast EVERY ROUND (the common near-dup case — components of
    // duplicates, never the corpus) fits on the driver outright, so
    // one collect + a path-compressed union-find replaces O(log
    // diameter) rounds of (join + aggregate + count) plans whose
    // DRIVER-side planning dominates wall time (profiled: d06 spent
    // 2.5 s of 5.5 s in between-job gaps). Same answer by
    // construction: both compute cluster = min node id per connected
    // component, exactly. The gate is edge count (collected payload is
    // 16 bytes/edge) + an integral id type; at data scale the loop
    // below runs unchanged, and `unionFindEdgeLimit = 0` forces it
    // (the specs pin the two paths bit-identical).
    val idType = edges.schema("src").dataType
    val integralIds = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    val small =
      if (integralIds && unionFindEdgeLimit > 0 &&
          edges.count() <= unionFindEdgeLimit)
        Some(edges.select(col("src").cast("long"), col("dst").cast("long"))
          .collect())
      else None
    // a null pair id cannot be unboxed into the union-find; the loop
    // below gives it its join/groupBy meaning (null joins nothing), so
    // such a graph takes the loop
    if (small.exists(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))) {
      val arr = small.get
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      arr.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        // min id stays the root, so the final root IS the component min
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val nodes = {
        val s = new java.util.TreeSet[java.lang.Long]()
        arr.foreach { r => s.add(r.getLong(0)); s.add(r.getLong(1)) }
        s
      }
      val back: Long => Any =
        if (idType == org.apache.spark.sql.types.IntegerType) v => v.toInt
        else v => v
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](nodes.size)
      nodes.forEach { n =>
        rows.add(org.apache.spark.sql.Row(back(n), back(find(n))))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc", idType),
        org.apache.spark.sql.types.StructField("cluster", idType)))
      Materialize.release(edges)
      // a LocalRelation: exact size stats, so downstream anti-joins of
      // the label set broadcast without a shuffle
      return pairs.sparkSession.createDataFrame(rows, schema)
    }
    var labels = Materialize(
      edges.groupBy(col("src").as("doc"))
        .agg(least(min(col("dst")), first(col("src"))).as("cluster")))
    // checkpointed frames carry no size stats, so without a hint every
    // round's joins degrade to shuffle SMJs even for a 2k-node graph.
    // The node count is one cheap action on the already-materialized
    // frame (driver scalar, same pattern as the jaccard radius); small
    // graphs — the common case: near-dup nodes, not the corpus — then
    // broadcast the label side and only the edge scan remains per round.
    val nodeCount = labels.count()
    val smallGraph = nodeCount <= broadcastNodeLimit
    def hinted(df: DataFrame): DataFrame = if (smallGraph) broadcast(df) else df
    // the delta frontier: labels that moved last round. Starts as ALL
    // nodes (round 1 must push every initial label); from round 2 on it
    // is re-derived from the materialized convergence filter, and its
    // size is the SAME scalar the convergence test already computed — so
    // on a big graph whose activity collapses (the typical long tail of
    // label propagation) the push join flips to a broadcast mid-run for
    // free, instead of paying a full shuffle SMJ every round because the
    // hint was frozen at round 0.
    var frontier = labels
    var frontierCount = nodeCount
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val prevLabels = labels
      val frontierSmall = smallGraph || frontierCount <= broadcastNodeLimit
      val fhinted = if (frontierSmall) broadcast(frontier) else frontier
      val prop = edges.join(fhinted, edges("dst") === frontier("doc"))
        .groupBy(edges("src").as("doc"))
        .agg(min(col("cluster")).as("nbr_min"))
      // big-graph path: both sides of the jump self-join read `stepped`,
      // so cut it once rather than recompute the labels-join per side;
      // small graphs skip the extra checkpoint (the broadcast build side
      // recomputes a tiny frame)
      val stepped0 = labels.join(hinted(prop), Seq("doc"), "left")
        .select(col("doc"), col("cluster").as("prev"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("cluster"))
      val stepped = if (smallGraph) stepped0 else Materialize(stepped0)
      // pointer jumping: a label is itself a node id, so follow it one
      // more hop — path halving gives the O(log diameter) round count.
      // `prev` rides along so convergence is a filter on the checkpointed
      // frame, not another join.
      val next = Materialize(
        stepped.as("l1")
          .join(hinted(stepped.as("l2")), col("l1.cluster") === col("l2.doc"), "left")
          .select(col("l1.doc").as("doc"), col("l1.prev").as("prev"),
            coalesce(col("l2.cluster"), col("l1.cluster")).as("cluster")))
      // one job per round: count (unlike isEmpty's take-1) computes EVERY
      // partition of `next`, so the lazy checkpoint's blocks fill in this
      // same action — no separate fill job — and the scalar doubles as
      // BOTH the convergence test and next round's frontier size (the
      // adaptive broadcast hint costs nothing extra)
      frontierCount = next.filter(col("cluster") < col("prev")).count()
      converged = frontierCount == 0L
      // `next` is fully materialized now, so round N−1's blocks (and the
      // big-graph stepped cut) are dead weight — on a long session they
      // would pin executor storage for every round of every query
      Materialize.release(prevLabels)
      if (!smallGraph) Materialize.release(stepped)
      labels = next.select("doc", "cluster")
      // cheap derivation over the materialized `next` — no recompute
      frontier = next.filter(col("cluster") < col("prev"))
        .select("doc", "cluster")
      it += 1
    }
    Materialize.release(edges) // the returned labels carry their own blocks
    // an exact operator must not silently return torn components: a
    // still-moving label at maxIters means some chain is longer than the
    // budget — the caller raises maxIters, never consumes a wrong answer
    if (!converged) {
      Materialize.release(labels)
      throw new IllegalStateException(
        s"clusters() did not converge in $maxIters iterations — a component's " +
          s"diameter exceeds the budget; raise maxIters")
    }
    labels
  }
}
