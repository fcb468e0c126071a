package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * language ID, quality scoring, token counting, fingerprinting.
 *
 * All pure column expressions (whole-stage codegen, no UDFs) — each is a
 * narrow map over the corpus, so a 100 TB `documents` table processes at
 * scan speed with zero shuffles; column pruning keeps the parquet scan to
 * the text column only.
 */
object TextAnalysis {

  /** lowercase, trim, collapse whitespace — the canonical text form. */
  def normalizeText(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  def tokens(c: Column): Column = split(normalizeText(c), " ")

  /** whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token count: word pieces + standalone punctuation. */
  def regexTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0)))

  private def countMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** Per-language stopword vocabularies for the n-gram/stopword heuristic.
   * Word-boundary patterns are RE2-and-Java-regex compatible so an external
   * SQL engine reproduces the exact counts. */
  val langStopwords: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of|and|to|in|is|that|it|for)\\b",
    "fr" -> "\\b(le|la|les|de|et|un|une|est|que|pour)\\b",
    "de" -> "\\b(der|die|das|und|ein|eine|ist|zu|mit|von)\\b",
    "es" -> "\\b(el|los|las|de|y|un|una|es|que|para)\\b")

  /**
   * Language ID by stopword-hit argmax (ties break by list order; no hits
   * -> "und"). A trigram-profile model is the heavier alternative; the
   * stopword heuristic is the standard cheap first pass at corpus scale.
   */
  def langId(c: Column): Column = {
    val norm = normalizeText(c)
    val scored = langStopwords.map { case (lang, pat) => lang -> countMatches(norm, pat) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und")) { case ((lang, score), acc) =>
      when(score === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Unicode script classes for [[dominantScript]] — explicit `\x{…}`
   * codepoint ranges (shared Java/RE2 syntax, so an external engine
   * replays the counts byte-exact). Ordered: ties break to the EARLIER
   * entry, the t01 langId discipline. */
  private val scriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\x{c0}-\\x{ff}\\x{100}-\\x{17f}]",
    "cyrillic" -> "[\\x{400}-\\x{4ff}]",
    "greek" -> "[\\x{370}-\\x{3ff}]",
    "arabic" -> "[\\x{600}-\\x{6ff}]",
    "devanagari" -> "[\\x{900}-\\x{97f}]",
    "cjk" -> "[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}]",
    "hangul" -> "[\\x{ac00}-\\x{d7af}]")

  /**
   * Dominant writing system of a document — the script-ID pass every
   * crawl pipeline runs BEFORE language ID (fastText-style langid models
   * are per-script; mixed-script spam is its own quality signal): count
   * characters per script class, argmax with first-listed tie-break,
   * `und` when no class matches (digits/punctuation only). One narrow
   * codegen'd regexp pass per class over the raw text — no tokenize, no
   * shuffle, scan speed at any corpus size.
   */
  def dominantScript(c: Column): Column = {
    val scored = scriptRanges.map { case (s, pat) => s -> countMatches(c, pat) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und")) { case ((s, score), acc) =>
      when(score === best && best > 0, lit(s)).otherwise(acc)
    }
  }

  def punctCount(c: Column): Column = countMatches(c, "[.,!?;:]")
  def digitCount(c: Column): Column = countMatches(c, "[0-9]")
  def stopwordCount(c: Column): Column =
    countMatches(normalizeText(c), langStopwords.head._2)

  /**
   * Composite quality score in basis points [0, 10000]: length band (35%),
   * mean word length (25%), stopword ratio (20%), punctuation density
   * (10%), digit density (10%). Pure integer arithmetic (positive operands,
   * truncating division) — no floating point anywhere, so any oracle engine
   * reproduces it exactly; callers wanting [0,1] divide by 1e4 themselves.
   */
  def qualityScore(c: Column): Column = {
    val norm = normalizeText(c)
    val wc = tokenCount(c).cast("long")
    val chars = length(regexp_replace(norm, " ", "")).cast("long")
    val stop = stopwordCount(c).cast("long")
    val punct = punctCount(c).cast("long")
    val dig = digitCount(c).cast("long")
    val len = greatest(length(c), lit(1)).cast("long")
    // weight_bp * min(ratio, 1), each as one integer floor-division
    // (operand magnitudes < 2^26, so the double division underneath floor
    // is exact at integer boundaries)
    def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val c1 = least(wc, lit(100L)) * 35                                   // wc/100 * 3500
    val c2 = least(idiv(chars * 3125, wc * 10), lit(2500L))              // awl/8 * 2500
    val c3 = least(idiv(stop * 6000, wc), lit(2000L))                    // 3*stop/wc * 2000
    val c4 = lit(1000L) - least(idiv(punct * 10000, len), lit(1000L))    // 1 - 10*punct/len
    val c5 = lit(1000L) - least(idiv(dig * 10000, len), lit(1000L))      // 1 - 10*dig/len
    (c1 + c2 + c3 + c4 + c5).as("quality_bp")
  }

  /** Content fingerprint of the normalized text. md5 is the
   * cross-engine-checkable form; xxhash64 the cheap 64-bit form for joins. */
  def fingerprintMd5(c: Column): Column = md5(normalizeText(c).cast("binary"))
  def fingerprint64(c: Column): Column = xxhash64(normalizeText(c))

  /**
   * Winnowing document fingerprints (the rolling-hash scheme of
   * MOSS/saILS): hash every k-char gram of the normalized text, then keep
   * the minimum hash of each w-long sliding window — a deterministic,
   * position-robust fingerprint set whose size is ~2·len/(w+1) instead of
   * len. Output is one row per distinct (id, fingerprint).
   *
   * Plan shape: explode positions (narrow), per-gram hash (md5-derived so
   * an external SQL engine reproduces it), one window shuffle keyed by
   * doc — no cross-doc traffic, so a 100 TB corpus fingerprints at
   * shuffle-of-itself cost. Matching docs then reduce to a join on the
   * fingerprint value (shared-fingerprint count ≈ overlap), same shape as
   * the n-gram inverted index.
   */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null-id docs are excluded (both forms; the typed fast form could
    // only misattribute them to id 0)
    val norm = df.filter(col(idCol).isNotNull)
      .select(col(idCol), normalizeText(col(textCol)).as("t"))
      .withColumn("nmax", length(col("t")) - k + 1)
      .filter(col("nmax") >= w) // too-short docs have no full window
    val grams = norm
      .select(col(idCol), col("t"), col("nmax"),
        explode(sequence(lit(1), col("nmax"))).as("i"))
      .withColumn("h",
        conv(substring(md5(col("t").substr(col("i"), lit(k)).cast("binary")), 1, 8),
          16, 10).cast("long"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("i"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("wmin", min(col("h")).over(win))
      .filter(col("i") <= col("nmax") - (w - 1)) // full windows only
      .select(col(idCol), col("wmin").as("fingerprint"))
      .distinct()
  }

  /**
   * [[winnowFingerprints]] as a partition-batched typed operator: the
   * per-document rolling hash + window minimum is genuinely sequential
   * imperative work (each gram overlaps the last), which is the one case
   * where `mapPartitions` beats expressions — the expression form pays a
   * row per gram through the window shuffle (~len rows/doc), this one
   * computes the whole doc in a tight loop and emits only the fingerprint
   * set (~2·len/(w+1) rows). Bit-identical output to the expression form
   * (first 4 md5 bytes as an unsigned 32-bit value), so the same external
   * oracle covers both; the spec asserts their equality.
   */
  def winnowFingerprintsFast(df: DataFrame, idCol: String, textCol: String,
                             k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types._
    // the primitive-long encoder would silently turn a non-numeric or null
    // id into 0 — reject anything but integral ids up front
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"winnowFingerprintsFast needs an integral id column, $idCol is $other")
    }
    // spread: the rolling hash is per-doc sequential by design, but a
    // one-file corpus must not ALSO serialize across docs on one task
    val in = spreadAcrossCores(df.filter(col(idCol).isNotNull))
      .select(col(idCol).cast("long"), normalizeText(col(textCol)))
      .as[(Long, String)](Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
    in.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, t) =>
        // operate on code points — Spark/DuckDB substring+length semantics
        // (Java String.length/substring count UTF-16 units and would split
        // surrogate pairs on non-BMP text)
        val cps = t.codePoints().toArray
        val n = cps.length - k + 1
        if (n < w) Iterator.empty
        else {
          val hs = new Array[Long](n)
          var i = 0
          while (i < n) {
            md.reset()
            val d = md.digest(new String(cps, i, k)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            hs(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
            i += 1
          }
          val set = scala.collection.mutable.LinkedHashSet.empty[Long]
          var j = 0
          while (j <= n - w) {
            var m = hs(j)
            var x = j + 1
            while (x < j + w) { if (hs(x) < m) m = hs(x); x += 1 }
            set += m
            j += 1
          }
          set.iterator.map(fp => (id, fp))
        }
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF(idCol, "fingerprint")
  }

  /**
   * TF-IDF with per-document top-k terms: tf = raw term count in the doc,
   * idf = ln((N + 1) / (df + 1)) (add-one smoothed so corpus-universal
   * terms score 0-ish instead of dividing by zero), score = tf * idf
   * rounded to 4 decimals — the rounding happens BEFORE ranking so an
   * external oracle's last-ulp ln() differences cannot flip the order.
   *
   * Shape at scale: ONE tokenize+explode pass feeds one hash-aggregate to
   * the (doc, term) counts, which are [[Materialize]]d — document
   * frequency then reduces the tf table itself (a row per (doc, term) IS
   * a document occurrence), so the corpus is never tokenized twice. The
   * df-by-term side joins back broadcast-sized, then one window per doc
   * takes the top-k. N is a driver scalar (one count — loop control,
   * same pattern as the jaccard radius scalar).
   */
  def tfIdfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int = 5): DataFrame = {
    val n = df.count() // driver scalar: corpus size for the idf
    val tok = df.select(col(idCol).as("doc"),
      explode(tokens(col(textCol))).as("term"))
    val tf = Materialize(tok.groupBy("doc", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .withColumn("score",
        round(col("tf") * log((lit(n) + 1.0) / (col("df") + 1.0)), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc"), col("rank"), col("term"), col("score"))
  }

  /**
   * BM25 lexical retrieval — Okapi BM25 (Robertson et al.), the ranking
   * function behind Lucene/Elasticsearch and the lexical channel of
   * every retrieval-augmented pipeline: score(q, d) = Σ_{t ∈ q} idf(t) ·
   * tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)) with the Lucene idf
   * ln(1 + (N − df + ½)/(df + ½)) (always positive). Queries are rows of
   * a (id, text) frame — their DISTINCT tokens are the query terms; a
   * corpus document never matches itself (shared-id convention of the
   * ANN operators). Output: (query_id, rank, doc_id, score_micro) top-k
   * per query.
   *
   * Float discipline: each term's contribution is computed once as a
   * double and immediately fixed to integer MICROS (floor(x·1e6 + 0.5));
   * the per-(query, doc) sum is then exact integer arithmetic — immune
   * to addition order, so any engine replays the ranking bit-for-bit
   * (the [[Similarity]] trainers' micro discipline applied to scoring).
   *
   * Scale shape: tf/df/|d| are map-side-combinable aggregates — the
   * one-time inverted-index build a production system would persist and
   * reuse. The query side is benchmark-sized, so the postings join
   * BROADCASTs the query-term table and only postings of query terms
   * flow onward. `maxDfFrac` drops query terms with df > maxDfFrac·N
   * (stopword postings are corpus-sized and contribute near-zero idf —
   * the static WAND/stopping trade, a recall-only cut like maxOcc).
   */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               textCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
               maxDfFrac: Double = 0.5): DataFrame = {
    requireBm25Args(k, k1, b, maxDfFrac) // BEFORE the eager corpus pass
    // eager: the stats consumer arrives through a broadcast exchange,
    // which AQE builds concurrently with the postings path — a lazy cut
    // would be recomputed once per racing consumer
    // re-fanned: AQE coalesces the (doc, term) aggregate to one
    // partition at small scale, serializing the dl/df aggregates and
    // the scoring joins that read the cut (profiled: t15 spent 1.0 s
    // CPU in one such task); no-op at scale (see respread)
    val tf = respread(Materialize.eager(
      spreadAcrossCores(corpus)
        .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("term"))
        .groupBy("doc", "term").agg(count(lit(1)).as("tf"))),
      corpus, col("doc"))
    val idx = indexFromPostings(tf)
    bm25TopKFromIndex(idx, queries, idCol, textCol, k, k1, b, maxDfFrac)
  }

  /**
   * The persistable BM25 inverted index: the three tables [[bm25TopK]]
   * derives per run — postings (term, doc, tf), doc lengths (doc, dl),
   * term document frequencies (term, df) — plus the 1-row corpus stats
   * frame (nd, avgdl). A production retrieval system builds this ONCE
   * per corpus refresh and serves every query batch from it; the
   * one-shot [[bm25TopK]] and the served [[bm25TopKFromIndex]] share
   * the scoring tail, so the two paths cannot drift.
   */
  final case class Bm25Index(postings: DataFrame, docLens: DataFrame,
                             docFreq: DataFrame, stats: DataFrame)

  /** Derive the index tables from a corpus — ONE tokenize pass cut via
   * [[Materialize]], because the four tables are typically written by
   * four separate actions ([[writeBm25Index]]) and an uncut postings
   * frame would re-tokenize the corpus per table; the cut follows the
   * session's release discipline (harnesses release per query). */
  def buildBm25Index(corpus: DataFrame, idCol: String,
                     textCol: String): Bm25Index =
    // NOT re-fanned (r22, measured): unlike bm25TopK — whose scoring
    // joins read the cut directly and won 2x from the re-fan — this
    // cut's consumers are the four STORE WRITES, which repartition to
    // the bucket layout anyway; the extra exchange per write cost t28
    // ~0.5 s net
    indexFromPostings(Materialize.eager(
      spreadAcrossCores(corpus)
        .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("term"))
        .groupBy("doc", "term").agg(count(lit(1)).as("tf"))))

  private def indexFromPostings(tf: DataFrame): Bm25Index = {
    val dl = tf.groupBy("doc").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("nd"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    Bm25Index(tf, dl, dfreq, stats)
  }

  /**
   * Persist the index into the table store under `<prefix>_postings` /
   * `_doclens` / `_docfreq` / `_stats` at `baseLocation`. The postings
   * table registers with `term` as its (non-unique) bucket key, so the
   * store's PK-hash layout CO-LOCATES each term's postings — a query
   * batch then reads only its terms' buckets
   * ([[graft.catalog.MergeSnapshotStore.pointLookup]] pruning), never
   * the corpus-sized postings table. Doc lengths bucket by doc for the
   * same reason on the join side.
   */
  def writeBm25Index(store: graft.catalog.MergeSnapshotStore, db: String,
                     prefix: String, baseLocation: String,
                     idx: Bm25Index): Unit = {
    registerBm25Tables(store, db, prefix, baseLocation)
    store.overwrite(db, s"${prefix}_postings", idx.postings)
    store.overwrite(db, s"${prefix}_doclens", idx.docLens)
    store.overwrite(db, s"${prefix}_docfreq", idx.docFreq)
    store.overwrite(db, s"${prefix}_stats", idx.stats)
  }

  /** Catalog entries for the four index tables — shared by the one-shot
   * persist ([[writeBm25Index]]) and the maintained path
   * ([[bm25IndexSpecs]]), so the layout (postings/docfreq bucketed by
   * term, doclens by doc) cannot drift between them. */
  def registerBm25Tables(store: graft.catalog.MergeSnapshotStore, db: String,
                         prefix: String, baseLocation: String): Unit = {
    import graft.catalog.TableMeta
    // the index tables' reads are term/doc point lookups and full scans
    // — never numeric range predicates — so per-commit file-stats
    // measurement is pure overhead: opt out (the merge store's
    // documented graft.stats switch)
    val noStats = Map(graft.catalog.MergeSnapshotStore.StatsProp -> "false")
    store.catalog.register(TableMeta(db, s"${prefix}_postings",
      s"$baseLocation/${prefix}_postings", primaryKey = Seq("term"),
      properties = noStats))
    store.catalog.register(TableMeta(db, s"${prefix}_doclens",
      s"$baseLocation/${prefix}_doclens", primaryKey = Seq("doc"),
      properties = noStats))
    store.catalog.register(TableMeta(db, s"${prefix}_docfreq",
      s"$baseLocation/${prefix}_docfreq", primaryKey = Seq("term"),
      properties = noStats))
    store.catalog.register(TableMeta(db, s"${prefix}_stats",
      s"$baseLocation/${prefix}_stats", properties = noStats))
  }

  /**
   * INCREMENTAL maintenance of the persisted BM25 index: the four index
   * tables as [[graft.operators.Ivm.MaintainedAgg]] specs over a corpus
   * base table keyed by `idCol`, so ONE [[graft.operators.Ivm
   * .MaintainedAggregates]] changelog commit moves corpus + index
   * together (with the registry's replay guard). Per commit, ONLY the
   * changed documents are tokenized — a handful of delta-sized passes —
   * and each table folds by its exact delta rule:
   *
   *  - postings: changed docs' rows out, new tokenizations in —
   *    committed PARTITION-SCOPED to the changed docs' TERM buckets
   *    (old terms ∪ new terms), so the corpus-sized postings table
   *    rewrites only the buckets the batch touches;
   *  - doclens: same shape, scoped to the changed DOC buckets;
   *  - docfreq: per-term ±1 document-count deltas (distinct terms of
   *    removed/added docs), merged group-wise, terms reaching df=0
   *    drop; scoped to the same changed-term buckets;
   *  - stats: exact integer (nd, sumdl) deltas on the 1-row table, with
   *    avgdl re-derived by the same long-to-double division the builder
   *    uses — bit-identical to a rebuild. The maintained stats table
   *    carries `sumdl` (the builder's 2-column stats cannot delta a
   *    mean); the served scorer ignores the extra column.
   *
   * The served results from the maintained index are EQUAL to
   * [[bm25TopKFromStore]] over a from-scratch rebuild of the new
   * corpus — the s15 incremental-index contract, proven by the t30
   * oracle. Tokenization ([[tokens]]) is deterministic, which is what
   * makes "delete by re-deriving the old rows" exact.
   */
  def bm25IndexSpecs(prefix: String, idCol: String,
                     textCol: String): Seq[graft.operators.Ivm.MaintainedAgg] = {
    import graft.operators.Ivm.MaintainedAgg
    def tf0(docs: DataFrame): DataFrame =
      spreadAcrossCores(docs)
        .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("term"))
        .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    def dlOf(t: DataFrame): DataFrame = t.groupBy("doc").agg(sum("tf").as("dl"))
    // ALL changelog keys' old rows (not just U/D): mirrors the base
    // fold's remove-then-reinsert discipline, so a misdeclared I for an
    // existing doc still replaces its rows instead of doubling them
    def oldChanged(oldSnap: DataFrame, chg: DataFrame): DataFrame =
      oldSnap.join(chg.select(col(idCol)), Seq(idCol), "left_semi")
    def newDocs(chg: DataFrame): DataFrame =
      chg.filter(col("change").isin("I", "U")).select(col(idCol), col(textCol))
    // The four seeds all receive the registry's ONE base frame, and the
    // eight fold/scope closures of a commit all receive its ONE cut
    // changelog frame — memoizing the tokenize cut on that frame's
    // identity makes the corpus tokenize ONCE per seed and the changed
    // docs tokenize ONCE per commit, instead of once per closure. The
    // registry wraps seed/commit in Materialize.scoped, so the cuts
    // release when the call's actions finish; the keys are frames the
    // registry creates per call, so a dead entry can never be re-read
    // (WeakHashMap lets it collect — the [[weightCache]] discipline).
    val seedTf = new java.util.WeakHashMap[DataFrame, DataFrame]()
    def tfSeed(base: DataFrame): DataFrame = seedTf.synchronized {
      var v = seedTf.get(base)
      if (v == null) { v = Materialize.eager(tf0(base)); seedTf.put(base, v) }
      v
    }
    val chgTf = new java.util.WeakHashMap[DataFrame, (DataFrame, DataFrame)]()
    def tfChanged(old: DataFrame, chg: DataFrame): (DataFrame, DataFrame) =
      chgTf.synchronized {
        var v = chgTf.get(chg)
        if (v == null) {
          v = (Materialize.eager(tf0(oldChanged(old, chg))),
            Materialize.eager(tf0(newDocs(chg))))
          chgTf.put(chg, v)
        }
        v
      }
    // the scope of a term-bucketed table: every term whose postings the
    // batch can add OR remove — delta-sized (terms of changed docs)
    def changedTerms(old: DataFrame, chg: DataFrame): DataFrame = {
      val (oldT, newT) = tfChanged(old, chg)
      oldT.select("term").unionByName(newT.select("term")).distinct()
    }
    val postings = MaintainedAgg(s"${prefix}_postings",
      seed = base => tfSeed(base),
      fold = (rows, old, _, chg, _) =>
        rows.join(chg.select(col(idCol).as("doc")), Seq("doc"), "left_anti")
          .unionByName(tfChanged(old, chg)._2),
      scope = Some((old, _, chg, _) => changedTerms(old, chg)))
    val doclens = MaintainedAgg(s"${prefix}_doclens",
      seed = base => dlOf(tfSeed(base)),
      fold = (rows, old, _, chg, _) =>
        rows.join(chg.select(col(idCol).as("doc")), Seq("doc"), "left_anti")
          .unionByName(dlOf(tfChanged(old, chg)._2)),
      scope = Some((_, _, chg, _) => chg.select(col(idCol).as("doc"))))
    val docfreq = MaintainedAgg(s"${prefix}_docfreq",
      seed = base => tfSeed(base).groupBy("term").agg(count(lit(1)).as("df")),
      fold = (rows, old, _, chg, _) => {
        val (oldT, newT) = tfChanged(old, chg)
        val delta = oldT.select(col("term"), lit(-1L).as("__d"))
          .unionByName(newT.select(col("term"), lit(1L).as("__d")))
          .groupBy("term").agg(sum("__d").as("__d"))
        rows.join(delta, Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("df"), lit(0L)) + coalesce(col("__d"), lit(0L))).as("df"))
          .filter(col("df") > 0)
      },
      scope = Some((old, _, chg, _) => changedTerms(old, chg)))
    val stats = MaintainedAgg(s"${prefix}_stats",
      // 3-column stats: the exact integer sumdl makes the mean
      // delta-able; avgdl is re-derived by the builder's own division
      seed = base => dlOf(tfSeed(base)).agg(count(lit(1)).as("nd"),
        coalesce(sum("dl"), lit(0L)).as("sumdl"),
        (sum("dl").cast("double") / count(lit(1))).as("avgdl")),
      fold = (agg, old, _, chg, _) => {
        val (oldT, newT) = tfChanged(old, chg)
        val delta = dlOf(oldT)
          .select(lit(-1L).as("__dn"), (-col("dl")).as("__ds"))
          .unionByName(dlOf(newT)
            .select(lit(1L).as("__dn"), col("dl").as("__ds")))
          .agg(coalesce(sum("__dn"), lit(0L)).as("__dn"),
            coalesce(sum("__ds"), lit(0L)).as("__ds"))
        val nd2 = col("nd") + col("__dn")
        val sumdl2 = col("sumdl") + col("__ds")
        agg.crossJoin(delta).select(nd2.as("nd"), sumdl2.as("sumdl"),
          when(nd2 === 0, lit(null).cast("double"))
            .otherwise(sumdl2.cast("double") / nd2).as("avgdl"))
      })
    Seq(postings, doclens, docfreq, stats)
  }

  /** The index read back from the store (latest committed version of
   * each table). */
  def readBm25Index(store: graft.catalog.MergeSnapshotStore, db: String,
                    prefix: String): Bm25Index =
    Bm25Index(store.read(db, s"${prefix}_postings"),
      store.read(db, s"${prefix}_doclens"),
      store.read(db, s"${prefix}_docfreq"),
      store.read(db, s"${prefix}_stats"))

  /**
   * Serve a query batch from a persisted index WITHOUT touching the
   * corpus: the terms' postings load through the store's bucket-pruned
   * point lookup (only the query terms' hash buckets are planned, with
   * the term predicate pushed into the scan), then the shared scoring
   * tail ranks them. This is the production retrieval path — per-batch
   * cost is postings-of-query-terms, not corpus or index scale.
   */
  def bm25TopKFromStore(store: graft.catalog.MergeSnapshotStore, db: String,
                        prefix: String, queries: DataFrame, idCol: String,
                        textCol: String, k: Int, k1: Double = 1.2,
                        b: Double = 0.75, maxDfFrac: Double = 0.5): DataFrame =
    bm25Served(store, db, prefix, queries, idCol, textCol, k, k1, b,
      maxDfFrac, _ => None)

  /**
   * [[bm25TopKFromStore]] pinned to one consistent index snapshot — the
   * serving form under CONCURRENT maintenance: `pin` maps each of the
   * four index tables to the manifest version to serve from (take it
   * from [[Ivm.MaintainedAggregates.pinVersions]], which brackets the
   * sweep with the commit marker so the four versions always belong to
   * one fully-committed batch). A reader holding a pin keeps answering
   * from that snapshot while registry commits land and vacuum runs —
   * the store's retention horizon is the serving lease; a pin past it
   * fails loudly in the store rather than scanning reclaimed files.
   */
  def bm25TopKFromStore(store: graft.catalog.MergeSnapshotStore, db: String,
                        prefix: String, queries: DataFrame, idCol: String,
                        textCol: String, k: Int, k1: Double,
                        b: Double, maxDfFrac: Double,
                        pin: Map[String, Int]): DataFrame =
    bm25Served(store, db, prefix, queries, idCol, textCol, k, k1, b,
      maxDfFrac,
      t => Some(pin.getOrElse(t, throw new IllegalArgumentException(
        s"pin lacks a version for $t — pass " +
          "Ivm.MaintainedAggregates.pinVersions()"))))

  /** The ONE served-retrieval body behind both overloads — `verOf` is
   * the only difference between latest-snapshot and pinned serving, so
   * the scoring/index-assembly logic can never drift between them. */
  private def bm25Served(store: graft.catalog.MergeSnapshotStore, db: String,
                         prefix: String, queries: DataFrame, idCol: String,
                         textCol: String, k: Int, k1: Double, b: Double,
                         maxDfFrac: Double,
                         verOf: String => Option[Int]): DataFrame = {
    requireBm25Args(k, k1, b, maxDfFrac)
    // pinned reads validate committed-AND-retained (read resolves a
    // pin through resolveVersion), so an expired pin fails with the loud
    // retention-window error here exactly as the postings pointLookup
    // below does — never a raw FileNotFoundException mid-scan
    def at(t: String): DataFrame = store.read(db, t, verOf(t))
    // cut: the query tokenization feeds BOTH the point lookup's key
    // collect and the scoring broadcast — one tiny cut, one pass
    val qt = Materialize(queries.select(col(idCol).as("query_id"),
      explode(tokens(col(textCol))).as("term")).distinct())
    val postings = store.pointLookup(db, s"${prefix}_postings",
      qt.select("term"), version = verOf(s"${prefix}_postings"))
    // docfreq is term-keyed like postings: the same query-term point
    // lookup prunes its scan to the terms' buckets (scoring joins it on
    // term, so rows outside the query vocabulary never contribute)
    val docFreq = store.pointLookup(db, s"${prefix}_docfreq",
      qt.select("term"), version = verOf(s"${prefix}_docfreq"))
    val idx = Bm25Index(postings,
      at(s"${prefix}_doclens"),
      docFreq,
      at(s"${prefix}_stats"))
    scoreBm25(idx, qt, k, k1, b, maxDfFrac)
  }

  /** Rank `queries` against an in-memory or read-back index — the
   * one-shot path's tail, shared verbatim with the served paths. */
  def bm25TopKFromIndex(idx: Bm25Index, queries: DataFrame, idCol: String,
                        textCol: String, k: Int, k1: Double = 1.2,
                        b: Double = 0.75, maxDfFrac: Double = 0.5): DataFrame =
    scoreBm25(idx,
      queries.select(col(idCol).as("query_id"),
        explode(tokens(col(textCol))).as("term")).distinct(),
      k, k1, b, maxDfFrac)

  private def requireBm25Args(k: Int, k1: Double, b: Double,
                              maxDfFrac: Double): Unit = {
    require(k >= 1, "k must be >= 1")
    require(k1 > 0 && b >= 0 && b <= 1, "k1 > 0 and 0 <= b <= 1 required")
    require(maxDfFrac > 0, "maxDfFrac <= 0 would drop every query term")
  }

  private def scoreBm25(idx: Bm25Index, qt: DataFrame, k: Int, k1: Double,
                        b: Double, maxDfFrac: Double): DataFrame = {
    requireBm25Args(k, k1, b, maxDfFrac)
    // a term's (doc, mic) contribution is QUERY-INDEPENDENT, so compute
    // it once per surviving posting row — postings first prune to the
    // batch's distinct terms (broadcast semi-shape: postings-of-query-
    // terms, the served path's pointLookup is already this set), then
    // the df/dl/stats joins and the one double per (doc, term) run at
    // postings size. Only AFTER the micro fix does the row meet the
    // query ids — the old shape joined queries FIRST, so every posting
    // duplicated per query sharing the term and the float math plus
    // both scoring joins ran per COPY (a 50-query batch paid 50x).
    // Values are bit-identical: mic is fixed per (doc, term) before the
    // order-immune integer sum either way.
    val qterms = qt.select("term").distinct()
    val contrib = idx.postings.join(broadcast(qterms), Seq("term"))
      .join(idx.docFreq, Seq("term"))
      .join(idx.docLens, Seq("doc"))
      .crossJoin(broadcast(idx.stats))
      .filter(col("df") <= col("nd") * lit(maxDfFrac))
    // one double per (doc, term), fixed to micros before the sum;
    // expression structure mirrors the SQL oracle text exactly
    val idf = log(lit(1.0) + (col("nd") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)))
    val tfPart = (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc").asc)
    contrib.select(col("term"), col("doc"),
        floor(idf * tfPart * lit(1000000.0) + lit(0.5)).cast("long").as("mic"))
      .join(broadcast(qt), Seq("term"))
      .filter(col("doc") =!= col("query_id"))
      .groupBy("query_id", "doc").agg(sum("mic").as("score_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
        col("score_micro"))
  }

  /**
   * Trigram-familiarity quality score — a perplexity-style corpus filter
   * with no trained model and no floating-point hazard: score(doc) =
   * mean corpus DOCUMENT FREQUENCY of the doc's distinct char trigrams.
   * Docs built from trigrams the corpus has rarely seen (mojibake,
   * ciphertext, boilerplate soup in a foreign charset) score low; docs
   * whose character statistics match the corpus score high — the same
   * role CCNet's LM-perplexity filter plays, computed from the corpus
   * itself. All counting is integer; the single division happens once
   * per doc and is rounded, so any engine replays it bit-for-bit.
   *
   * Shape at scale: one tokenize pass to the distinct (doc, trigram)
   * table, [[Materialize]]d because it feeds BOTH the document-frequency
   * aggregate and the score join. The df side is dictionary-sized for
   * natural text (tens of thousands of trigram types, Zipf everywhere) —
   * but an ADVERSARIAL corpus (ciphertext, random bytes: exactly what
   * this operator exists to score) has trigram types proportional to
   * corpus size, so the join carries no unconditional broadcast hint:
   * AQE broadcasts when the built side measures small at runtime and
   * falls back to a shuffle join when it does not, instead of blowing
   * the driver. Docs shorter than one trigram are excluded (no trigrams
   * to score).
   */
  def trigramFamiliarity(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    // the cut is EAGER: its two consumers (df aggregate, score join)
    // launch as racing broadcast/shuffle builds, and a lazy cut would
    // be computed once per racer
    val tri = Materialize.eager(
      spreadAcrossCores(df)
        .select(col(idCol).as("doc_id"), normalizeText(col(textCol)).as("t"))
        .filter(length(col("t")) >= 3)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), length(col("t")) - 2),
            i => col("t").substr(i, lit(3))))).as("g")))
    // one row per (doc, distinct trigram) IS a document occurrence, so
    // document frequency reduces the tri table itself — same pattern as
    // [[tfIdfTopK]]'s df
    val dfreq = tri.groupBy("g").agg(count(lit(1)).as("df"))
    // no broadcast hint (see scaladoc): AQE decides from the measured
    // size, so a trigram dictionary that grew with an adversarial corpus
    // degrades to a shuffle join instead of a driver OOM
    tri.join(dfreq, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum(col("df")).cast("double") / count(lit(1)), 4)
          .as("familiarity"))
  }

  /** Bytes of planned input one spread task should own. 64 KB of
   * compressed parquet is a few hundred KB of text — enough heavy
   * per-row work (tokenize, n-gram sets, md5 nibbles) to amortize a
   * task launch; below that the scheduler costs more than it buys
   * (the r21 driver's 8-vs-32-core scaling block measured the
   * unconditional core-count fan ~2x SLOWER at 32 cores on the small
   * spread-bearing corpora). Env-overridable for A/B runs. */
  private[graft] val SpreadTaskBytes: Long =
    sys.env.get("SPARK_GRAFT_SPREAD_TASK_BYTES").map(_.toLong)
      .getOrElse(64L * 1024)

  /** A corpus arriving in fewer partitions than cores (one small file)
   * serializes every lambda-bearing per-doc expression on one task —
   * spread the doc side (small rows) across the cluster first. The fan
   * is SIZE-ADAPTIVE: one task per [[SpreadTaskBytes]] of the plan's
   * estimated input, capped at the core count — a corpus too small to
   * feed every core fans only as wide as the data (and a frame already
   * at least that wide is untouched), so the spread converges to the
   * input, not the box. At real scale the guard never fires: file
   * partitions >> cores. Applied ONLY to shuffle-free frames: reading
   * `.rdd` to learn the partition count finalizes the adaptive plan,
   * which EXECUTES any upstream exchanges just to answer the question
   * (and a shuffle-bearing frame is already redistributed by that
   * exchange anyway). */
  private[graft] def spreadAcrossCores(df: DataFrame,
                                       workFactor: Int = 1): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val hasShuffle = df.queryExecution.logical.collectFirst {
      case _: Join => (); case _: Aggregate => (); case _: Window => ()
      case _: Distinct => (); case _: RepartitionOperation => ()
      case _: Sort => ()
    }.isDefined
    if (hasShuffle) df
    else if (df.rdd.getNumPartitions < spreadWidth(df, workFactor))
      df.repartition(spreadWidth(df, workFactor))
    else df
  }

  /** The fan width [[spreadAcrossCores]] derives for `df`: one task per
   * [[SpreadTaskBytes]] of the plan's estimated input, capped at the
   * core count. Logical-stats read — no execution; for the file scans
   * the spread guards it is the (filter-scaled) file size. Shared by
   * [[respread]] so post-shuffle re-fans size themselves to the same
   * corpus the spread did.
   *
   * `workFactor` scales the per-byte work estimate for operators that
   * are provably denser than the tokenize-grade default — e.g. a
   * k-hash Bloom membership test does k md5s per gram, so it passes k
   * and fans k× wider for the same bytes (still capped at cores, still
   * 1 for empty input). */
  private[graft] def spreadWidth(df: DataFrame, workFactor: Int = 1): Int = {
    require(workFactor >= 1, "workFactor must be >= 1")
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes = (bytes * workFactor + SpreadTaskBytes - 1) / SpreadTaskBytes
    byBytes.min(BigInt(cores)).max(BigInt(1)).toInt
  }

  /** Re-fan a MATERIALIZED cut whose adaptive plan coalesced its last
   * stage below the width the per-row work downstream wants: AQE's
   * post-shuffle coalescing is bytes-driven (1 MB floor), so a small
   * sketch/dictionary table lands on ONE partition and every
   * expression-heavy consumer stage (banded self-join probes, per-type
   * md5 dictionaries) serializes on one task. The width derives from
   * `widthOf` — the CORPUS the operator scanned — through the same
   * [[spreadWidth]] rule as the input spread, so at real scale (cut
   * partitions >= cores already) this is a no-op; `.rdd` on a
   * materialized cut is free (its plan is already finalized). */
  private[graft] def respread(cut: DataFrame, widthOf: DataFrame,
                              keys: Column*): DataFrame = {
    val p = spreadWidth(widthOf)
    if (cut.rdd.getNumPartitions >= p) cut
    else if (keys.isEmpty) cut.repartition(p)
    else cut.repartition(p, keys: _*)
  }

  /**
   * The single-n repetition ratio as a bare column: the fraction of
   * word n-gram occurrences that repeat an earlier one,
   * `1 - distinct/total` (null when the doc is too short for an
   * n-gram). Building block of [[repetitionRatios]] and
   * [[qualityGate]].
   */
  def repetitionRatio(c: Column, n: Int): Column =
    // token array bound once (single-element-array lambda): splicing the
    // split into the per-gram slice would re-tokenize per gram —
    // O(len * grams) on every doc of a corpus-wide quality pass
    element_at(transform(array(split(normalizeText(c), " ")), toks => {
      val nt = size(toks)
      val grams = transform(sequence(lit(0), nt - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))
      when(nt >= n,
        round(lit(1.0) - size(array_distinct(grams)).cast("double") / (nt - n + 1), 4))
    }), 1)

  /** Intra-document repetition ratios — the Gopher/MassiveText
   * repetition filters at word n-gram sizes 2 and 3: looping/generated
   * text (keyword stuffing, decoding loops) scores high and is filtered
   * before training. Pure narrow per-row expressions — no shuffle, no
   * join, survives predicate pushdown; a doc too short for an n-gram
   * gets null for that ratio. The single division per (doc, n) is
   * rounded, so any engine replays it exactly. */
  def repetitionRatios(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      repetitionRatio(col(textCol), 2).as("rep2"),
      repetitionRatio(col(textCol), 3).as("rep3"))

  /**
   * PII patterns — the standard curation/redaction stage of a
   * training-data pipeline. RE2-and-Java-regex compatible (no
   * lookaround, no backreferences — the [[langStopwords]] discipline)
   * so an external SQL engine reproduces counts AND redactions exactly.
   * The simplifications are documented contract, not accident:
   *
   *  - email: practical RFC subset (local@domain.tld);
   *  - phone: the '+'-led international form (8–15 digits with single
   *    optional space/dash separators), a separator-GROUPED national
   *    form (a 1–6 digit group, one space/dash, then more digits with
   *    optional separators — ≥8 digits TOTAL, which a single {m,n}
   *    cannot couple across the separator, hence the three-way
   *    alternation by group length), or a BOUNDED bare run of 10–15
   *    digits between word boundaries (common unseparated formats:
   *    0612345678, 5551234567). The bare floor sits at 10 so 8–9-digit
   *    doc ids / serial numbers do not count as phones and drift
   *    n_phone semantics with corpus size; runs past 15 digits fail
   *    the trailing boundary and stay unmatched (E.164 caps at 15).
   *    Leftmost-first alternation — Java and RE2 agree (RE2's \b is
   *    ASCII-only, but so are the digits it guards);
   *  - ipv4: four dotted 1–3 digit groups (no 0–255 range check —
   *    that needs alternation whose leftmost-match order differs
   *    between engines);
   *  - ipv6: the full 8-group form only (compressed `::` forms need
   *    zero-width alternatives that diverge between engines).
   *
   * Order matters for [[redactPii]] and is part of the contract:
   * email first (its local part may contain digits), then ipv6/ipv4
   * (digit groups a later phone pass could chew into), phone last.
   */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv6", "(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}", "<IP6>"),
    ("ipv4", "(?:[0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP4>"),
    ("phone",
      "\\+[0-9](?:[- ]?[0-9]){7,14}" +
        "|[0-9]{1,6}[- ][0-9](?:[- ]?[0-9]){6,13}" + // tail >= 7 digits
        "|[0-9]{2,6}[- ][0-9](?:[- ]?[0-9]){5}" +    // tail 6, group >= 2
        "|[0-9]{3,6}[- ][0-9](?:[- ]?[0-9]){4}" +    // tail 5, group >= 3
        "|\\b[0-9]{10,15}\\b",
      "<PHONE>"))

  /** The frame with a `n_<kind>` PII hit-count column appended per
   * [[piiPatterns]] entry — one narrow codegen'd pass, keeps the input
   * columns so a pipeline can filter/redact on the same scan. */
  def withPiiCounts(df: DataFrame, textCol: String): DataFrame =
    piiPatterns.foldLeft(df) { case (acc, (kind, pat, _)) =>
      require(!df.columns.contains(s"n_$kind"),
        s"output column n_$kind already exists on the input")
      acc.withColumn(s"n_$kind", countMatches(col(textCol), pat).cast("long"))
    }

  /** The text with every PII match replaced by its placeholder, applied
   * in [[piiPatterns]] order. Pure narrow expression chain. */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (_, pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Candidate pattern for [[luhnCardCount]]: 13–19 digits with single
   * space/dash separators (the printed card-number forms). */
  val cardCandidatePattern = "[0-9](?:[- ]?[0-9]){12,18}"

  /**
   * Count of Luhn-VALID card numbers — the PII class a regexp alone
   * cannot detect: candidates are digit runs of card shape
   * ([[cardCandidatePattern]]), validated by the Luhn mod-10 checksum
   * computed entirely in higher-order column expressions (filter /
   * aggregate over the digit positions — integer arithmetic only, so an
   * external SQL engine's lambda forms replay it bit-for-bit; no UDF,
   * stays inside codegen). A random 13–19 digit run passes Luhn with
   * probability 1/10, which is exactly why counting raw candidates
   * (the t09 phone heuristic) is the wrong tool for this class.
   */
  def luhnCardCount(c: Column): Column = {
    val valid = filter(
      regexp_extract_all(c, lit(cardCandidatePattern), lit(0)),
      cand => {
        val d = regexp_replace(cand, "[- ]", "")
        val len = length(d)
        val s = aggregate(sequence(lit(1), len), lit(0),
          (acc, i) => {
            val dig = d.substr(i, lit(1)).cast("int")
            // double every second digit counted from the RIGHT
            val dbl = when((len - i) % 2 === 1, dig * 2).otherwise(dig)
            acc + when(dbl > 9, dbl - 9).otherwise(dbl)
          })
        s % 10 === 0
      })
    size(valid).cast("long")
  }

  /**
   * Gopher/CCNet-style quality gate — the single call a curation
   * pipeline runs after dedup: keep a document only if it clears EVERY
   * bar — composite quality score ([[qualityScore]]), word 2-/3-gram
   * repetition ratios ([[repetitionRatio]]), and corpus trigram
   * familiarity ([[trigramFamiliarity]]). Returns the kept docs with
   * all four feature columns for audit.
   *
   * Shape at scale: quality and repetition are narrow expressions on
   * the doc scan; familiarity contributes the corpus-level signal and
   * its one id-keyed equi-join — so the whole gate costs the t07
   * pipeline plus one join, regardless of how many narrow bars are
   * added. A doc too short to score familiarity (under one trigram) has
   * no feature row and is dropped — a gate cannot pass what it cannot
   * score. A null repetition ratio (doc shorter than the n-gram) passes
   * that bar: length is quality's job, not repetition's.
   *
   * The narrow features pass through a doc-keyed AGGREGATE before the
   * threshold filter — deliberately, for two plan reasons: (a) an
   * Aggregate is a predicate-pushdown barrier, so Catalyst cannot
   * inline the aliased feature expressions into the filter (the
   * lambda-bearing repetition expressions would otherwise re-evaluate
   * per predicate reference — measured 4× the gate's whole cost at
   * sf0.1); (b) a hash-aggregate consumer keeps the feature projection
   * on the whole-stage-codegen path. The exchange it adds is 4 numbers
   * per doc keyed by doc id — the same key the familiarity join needs.
   * Document ids are assumed unique (they are ids).
   */
  def qualityGate(df: DataFrame, idCol: String, textCol: String,
                  minQualityBp: Long, maxRep2: Double, maxRep3: Double,
                  minFamiliarity: Double): DataFrame = {
    // spread once; the familiarity branch then sees partitions == cores
    // and does not re-spread
    val sp = spreadAcrossCores(df)
    val fam = trigramFamiliarity(sp, idCol, textCol)
      .select(col("doc_id"), col("familiarity"))
    sp.select(col(idCol).as("doc_id"),
        qualityScore(col(textCol)).as("q0"),
        repetitionRatio(col(textCol), 2).as("r2"),
        repetitionRatio(col(textCol), 3).as("r3"))
      .groupBy("doc_id")
      .agg(first("q0").as("quality_bp"),
        first("r2").as("rep2"), first("r3").as("rep3"))
      .filter(col("quality_bp") >= minQualityBp &&
        (col("rep2").isNull || col("rep2") <= maxRep2) &&
        (col("rep3").isNull || col("rep3") <= maxRep3))
      .join(fam, Seq("doc_id"))
      .filter(col("familiarity") >= minFamiliarity)
  }

  /**
   * Sliding-window token chunking — the step that turns curated
   * documents into fixed-size training windows (the BERT/GPT sharding
   * shape): each document's normalized token stream is cut into windows
   * of `chunkSize` tokens starting every `stride` tokens. `stride <
   * chunkSize` gives overlapping context windows; windows near the end
   * of a document are shorter (every token is covered, nothing is
   * padded). Output is one row per window: (id, chunk_id, n_tokens,
   * chunk) with chunk ids dense from 0 in stream order.
   *
   * Shape at scale: one stepped-sequence explode and one array slice
   * per window — pure narrow per-doc expressions, no shuffle, no join;
   * a 100 TB corpus chunks at scan speed. Window starts, lengths, and
   * ids are pure integer arithmetic, so any engine replays the output
   * exactly. Compose with [[graft.operators.PrefixScan.packShards]] to
   * bin the emitted windows into token-budget shards.
   */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, "chunkSize must be >= 1")
    require(stride >= 1 && stride <= chunkSize,
      "stride must be in [1, chunkSize] — a stride past the window skips tokens")
    val winLen = least(lit(chunkSize), col("nt") - col("s") + 1)
    spreadAcrossCores(df).select(col(idCol), tokens(col(textCol)).as("ts"))
      .withColumn("nt", size(col("ts")))
      .filter(col("nt") >= 1)
      .select(col(idCol), col("ts"), col("nt"),
        explode(sequence(lit(1), col("nt"), lit(stride))).as("s"))
      .select(col(idCol),
        floor((col("s") - 1) / stride).cast("long").as("chunk_id"),
        winLen.cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("ts"), col("s"), winLen)).as("chunk"))
  }

  /**
   * Corpus vocabulary top-k — the frequency pass of tokenizer/vocab
   * building: global token counts (one tokenize explode into one
   * map-side-combined aggregate, the d01 shuffle shape at token grain)
   * with the top `k` taken by count descending, token ascending (the
   * deterministic tie-break). The top-k itself is a TakeOrdered over
   * the already-aggregated vocab-sized table — no global sort of the
   * corpus.
   */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)
  }

  /**
   * Tokenizer vocabulary coverage / OOV rate — the curation signal a
   * tokenizer-aware pipeline computes before training: the fraction of
   * a document's token OCCURRENCES outside the trained vocabulary (high
   * OOV = mojibake, the wrong language for the tokenizer, or junk the
   * byte-fallback would shred into char-level pieces). `vocab` is any
   * one-column token frame — the [[vocabTopK]] output, a trained BPE
   * vocabulary, a loaded tokenizer table. Counts are exact integers and
   * the rate is fixed to basis points half-up, so an external engine
   * replays it bit-for-bit.
   *
   * Scale shape: one tokenize pass; membership rides a broadcast left
   * join (vocabularies are config-scale — 32-256k rows); one map-side
   * combinable per-doc aggregate. Zero-token documents drop (no
   * occurrences to rate), matching the grouped-aggregate semantics.
   */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocab: DataFrame, vocabCol: String): DataFrame = {
    val v = vocab.select(col(vocabCol).as("token")).distinct()
      .withColumn("__in", lit(1))
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .join(broadcast(v), Seq("token"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_bp",
        floor(col("n_oov") * 10000.0 / col("n_tokens") + 0.5).cast("long"))
  }

  /**
   * HTML/markup → text extraction — the step every crawl pipeline runs
   * before any text operator (C4/RefinedWeb start from WET/WARC HTML;
   * this engine's text operators all assume extracted text). A chain of
   * narrow regexp passes, deliberately in this order:
   *
   *  1. `<script>`/`<style>` ELEMENTS go wholesale (their character
   *     data is code, not prose — and may contain `<`/`>` that a plain
   *     tag-strip would mis-parse), non-greedy to the matching close
   *     tag, case-insensitive;
   *  2. comments (`<!-- … -->`) go wholesale, non-greedy;
   *  3. remaining TAGS become a single space (a space, not empty:
   *     `…text</p><p>more…` must not fuse words);
   *  4. character entities decode — the named/numeric handful that
   *     dominates real markup (`&lt; &gt; &quot; &#39; &apos; &nbsp;`),
   *     with `&amp;` LAST, per the spec's double-escaping rule:
   *     `&amp;lt;` means the literal text "&lt;", and decoding amp
   *     first would corrupt it into `<`. Decoding entities AFTER the
   *     tag strip also means escaped markup (`&lt;b&gt;`) correctly
   *     survives as visible text, never as a tag;
   *  5. whitespace collapses to single spaces, trimmed. The class is
   *     spelled `[ \t\n\r\f]` rather than `\s` — Java's `\s` includes
   *     `\x0B` where RE2's does not, and this operator's contract is
   *     that an external engine replays it byte-for-byte.
   *
   * All patterns are shared-subset regex (no lookaround/backrefs; `\b`
   * and inline `(?is)` — both Java and RE2). Pure column expressions:
   * one narrow scan, whole-stage codegen, zero shuffles at any scale.
   */
  def extractHtmlText(c: Column): Column = {
    // the close-tag whitespace is the explicit class too — \s would
    // break the byte-for-byte replay contract of step 5 (Java's \s
    // matches \x0B where RE2's does not)
    val noBlocks = regexp_replace(
      regexp_replace(c, "(?is)<script\\b[^>]*>.*?</script[ \\t\\n\\r\\f]*>", " "),
      "(?is)<style\\b[^>]*>.*?</style[ \\t\\n\\r\\f]*>", " ")
    val noMarkup = regexp_replace(
      regexp_replace(noBlocks, "(?s)<!--.*?-->", " "),
      "(?s)<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'",
      "&amp;" -> "&" // last — the double-escaping rule
    ).foldLeft(noMarkup) { case (acc, (ent, ch)) =>
      call_function("replace", acc, lit(ent), lit(ch))
    }
    trim(regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " "))
  }

  /**
   * Deterministic hashed-bag-of-words LINEAR classifier score — the
   * fastText-shaped model-based quality filter (Joulin et al. 2016;
   * the CCNet/RedPajama "model quality score" stage) with the one
   * substitution the sandbox forces: real trained weights are a model
   * artifact this environment cannot ship, so the weight table is a
   * HASH-DERIVED stand-in — w(token) = (first 16 md5 bits of the token)
   * mod 2001 − 1000, i.e. a fixed pseudo-random weight in [−1000, 1000]
   * milli-units. Every piece of production plumbing is real: tokens
   * hash into a fixed weight space (no vocabulary file to distribute —
   * the hashing trick), weights sum with multiplicity (bag of words),
   * and the score is an integer micro-sum any external engine replays
   * exactly. Swapping in trained weights = replacing the md5 arithmetic
   * with a broadcast lookup, nothing else moves.
   *
   * Zero shuffle: the token array never explodes — `aggregate` folds
   * the weights inside the row, so a 100 TB corpus scores at scan
   * speed in the same pass as every other per-doc feature.
   */
  def hashedLinearScoreMilli(c: Column): Column =
    aggregate(tokens(c), lit(0L), (acc, tk) =>
      acc + (conv(substring(md5(tk.cast("binary")), 1, 4), 16, 10)
        .cast("long") % 2001 - 1000))

  /**
   * Sentence segmentation — the grain between [[chunkTokens]] windows
   * and d13's paragraphs: a sentence ends at `.`/`!`/`?` followed by
   * whitespace. Lookbehind is not RE2-portable, so the boundary is
   * marked by INSERTING a U+001F separator after the terminator and
   * splitting on it; pieces are trimmed and empties dropped (positions
   * are post-filter, dense). The punctuation+space rule is the honest
   * classical heuristic — it splits after abbreviations ("Mr. Smith");
   * a model-based segmenter would slot in at this seam exactly like the
   * classifier/embedding stand-ins. Pure narrow column expression.
   */
  def sentences(c: Column): Column =
    filter(
      transform(split(regexp_replace(c, "([.!?])[ \\t\\n\\r\\f]+", "$1\u001f"), "\u001f"),
        s => trim(s)),
      s => length(s) > 0)

  /**
   * Deterministic hashed text embedding in integer milli-units — the
   * embedding-GENERATION stage of a training/retrieval pipeline (doc →
   * dense vector), built on the feature-hashing trick (Weinberger et
   * al. 2009): dimension j of a document is the bag-of-words sum of
   * per-(token, j) weights, here the same first-16-md5-bit stand-in
   * [[hashedLinearScoreMilli]] uses (a REAL model's projection would
   * replace the md5 arithmetic with learned weights via a broadcast
   * table or a batched inference UDF — nothing else in the plumbing
   * moves). Integer milli-units end to end, so an external engine
   * replays every coordinate exactly.
   *
   * Zero shuffle: `transform` over the dimension range folds each
   * coordinate inside the row — a 100 TB corpus embeds at scan speed,
   * and the output array feeds [[graft.operators.Similarity]]'s ANN
   * operators directly (L2-normalize via [[hashedEmbeddingUnit]]).
   */
  def hashedEmbeddingMilli(c: Column, d: Int): Column =
    // one md5 per TOKEN, not per (token, dim): the 128-bit digest is cut
    // into eight disjoint 16-bit slices, one per dimension. Dimension 0
    // reads the same leading 16 bits as [[hashedLinearScoreMilli]]: the
    // classifier score IS coordinate 0 of the embedding. The fold runs
    // as a NATIVE codegen'd expression (one compiled loop per row, one
    // digest instance per task) — the interpreted HOF form below is the
    // reference implementation it is spec-asserted equal to.
    graft.functions.HashedEmbedding.hashedBowMilli(tokens(c), d)

  /**
   * [[hashedEmbeddingMilli]] with LEARNED weights — the seam the hashed
   * stand-in documents, made loadable: `weights` is a trained
   * term-weight table (read from parquet like any model artifact) with
   * a string term column and either an `array<long>` weight-vector
   * column of length `d` or a plain integral column (then `d` must
   * be 1). It is collected (config-scale — a tokenizer-vocab-sized
   * frame, the centroid-collect pattern) and broadcast once per
   * executor; terms the table carries use their learned milli-weights,
   * terms it does not fall back to the md5-slice arithmetic — so an
   * empty table IS the hashed twin, bit for bit, and a trained table
   * overrides it exactly where training spoke. Still one native
   * codegen'd in-row fold, zero shuffle.
   */
  def hashedEmbeddingMilli(c: Column, d: Int, weights: DataFrame,
                           termCol: String = "term",
                           weightCol: String = "w_milli"): Column =
    graft.functions.HashedEmbedding.weightedBowMilli(tokens(c), d,
      broadcastWeights(weights, d, termCol, weightCol))

  /** [[hashedLinearScoreMilli]] with learned weights: the weighted
   * classifier score is coordinate 0 of the weighted embedding, exactly
   * as the stand-in score is coordinate 0 of the hashed embedding. */
  def hashedLinearScoreMilli(c: Column, weights: DataFrame,
                             termCol: String = "term",
                             weightCol: String = "w_milli"): Column =
    element_at(hashedEmbeddingMilli(c, 1, weights, termCol, weightCol), 1)

  /**
   * Model-based MULTI-CLASS classification over a loadable per-term
   * weight table — the fastText-architecture language-ID / domain /
   * quality classifier (Joulin et al. 2016; the model CCNet and
   * RedPajama run per document), with the weights read from parquet
   * like any model artifact. `weights` carries one row per term with an
   * `array<long>` of per-class milli-weights (index = position in
   * `classes`); a document's class scores are the bag-of-words sums of
   * its tokens' vectors, the prediction is the argmax (ties to the
   * EARLIEST class in `classes` — deterministic), and a document whose
   * every score is <= 0 predicts `unknown` (nothing the model
   * recognizes is evidence of nothing). Terms the table does not carry
   * contribute zero — classifier semantics, unlike the embedding seam's
   * md5 fallback ([[hashedEmbeddingMilli]]), because an UNTRAINED term
   * must not vote. Integer milli-units end to end: an external engine
   * replays every score and the argmax exactly.
   *
   * Scale shape: one tokenize pass; the weight table rides a broadcast
   * left join (vocab-scale by the model contract); per-class sums are
   * ONE map-side-combinable aggregate (C sum columns, not C passes).
   * Documents with no tokens after normalization drop (no evidence
   * rows), matching the grouped-aggregate semantics.
   */
  def classifyByWeights(df: DataFrame, idCol: String, textCol: String,
                        weights: DataFrame, classes: Seq[String],
                        termCol: String = "term",
                        weightCol: String = "w_milli",
                        outCol: String = "pred",
                        unknown: String = "und"): DataFrame = {
    require(classes.nonEmpty && classes.distinct.size == classes.size,
      "classes must be non-empty and distinct")
    require(!classes.contains(unknown),
      s"the unknown label '$unknown' must not also be a class")
    val w = weights.select(col(termCol).as("token"), col(weightCol).as("__w"))
    val sums = classes.indices.map(j =>
      sum(coalesce(element_at(col("__w"), j + 1), lit(0L))).as(s"__s$j"))
    val arr = array(classes.indices.map(j => col(s"__s$j")): _*)
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .join(broadcast(w), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        when(array_max(arr) <= 0, lit(unknown))
          .otherwise(element_at(
            array(classes.map(lit): _*),
            array_position(arr, array_max(arr)).cast("int")))
          .as(outCol),
        arr.as("scores_milli"))
  }

  /**
   * T5/UL2-style SPAN-CORRUPTION mask generation — the denoising-
   * objective step between curation and training-example assembly
   * (Raffel et al. 2020 §3.1.4 corrupt ~15% of tokens in mean-length-3
   * spans; UL2 mixes several (density, length) configurations of
   * exactly this shape). Returns one row per masked span: (id,
   * span_idx, span_start, span_end), 1-based inclusive token
   * positions. DETERMINISTIC (training data must replay bit-for-bit
   * across retries and engines): the doc partitions into k equal
   * buckets — k = clamp(n·density / (100·meanLen), 1, n) — and each
   * bucket holds ONE span whose length (1..2·meanLen−1, mean meanLen)
   * and in-bucket offset derive from 16-bit md5 slices of (id,
   * span_idx), so spans are non-overlapping BY CONSTRUCTION, spread
   * across the document, and reproducible from the row alone. The
   * trailing n mod k tokens are never masked (the bucket remainder) —
   * the classic grid trade for overlap-freedom without a sort.
   *
   * Compose with [[graft.operators.Dedup.removeSpans]] (or the
   * token-table form) to materialize the corrupted INPUT text, and
   * slice the same spans for the sentinel TARGETS. Pure narrow
   * expressions + one per-row explode: a 100 TB corpus masks at scan
   * speed, zero shuffles, and any SQL engine replays every span.
   */
  def corruptionSpans(df: DataFrame, idCol: String, textCol: String,
                      densityPct: Int = 15, meanSpanLen: Int = 3): DataFrame = {
    require(densityPct >= 1 && densityPct <= 100,
      "densityPct is the masked-token percentage")
    require(meanSpanLen >= 1, "meanSpanLen must be >= 1")
    def h16(salt: String): Column =
      conv(substring(md5(concat_ws(":", col(idCol).cast("string"),
        col("span_idx").cast("string"), lit(salt)).cast("binary")), 1, 4),
        16, 10).cast("long")
    // NULL text yields no spans (the classifier/explode discipline) —
    // unguarded, tokenCount(null) is -1/null by conf and a negative __k
    // would make sequence() emit a DESCENDING range of garbage span ids
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), tokenCount(col(textCol)).cast("long").as("__n"))
      .withColumn("__k", least(greatest(lit(1L),
        expr(s"__n * $densityPct DIV ${100L * meanSpanLen}")), col("__n")))
      .withColumn("span_idx", explode(sequence(lit(0L), col("__k") - 1)))
      .withColumn("__w", expr("__n DIV __k"))
      .withColumn("__len",
        least(lit(1L) + h16("len") % lit(2L * meanSpanLen - 1), col("__w")))
      .withColumn("span_start", col("span_idx") * col("__w") +
        h16("off") % (col("__w") - col("__len") + 1) + 1)
      .select(col(idCol), col("span_idx"), col("span_start"),
        (col("span_start") + col("__len") - 1).as("span_end"))
  }

  /** Per-session cache of collected weight broadcasts, keyed by the
   * weight FRAME's identity plus the read shape: the natural pairing —
   * one loaded table feeding both the score and the embedding column,
   * or scoring many batches in a session — would otherwise re-collect
   * and re-broadcast the up-to-2^21-entry map per call and leak
   * undestroyed broadcasts for the session's lifetime. Weak keys let a
   * dropped weight frame release its entry; a RELOADED table (new
   * DataFrame identity) naturally gets a fresh broadcast. */
  private val weightCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame,
      scala.collection.mutable.Map[(Int, String, String),
        org.apache.spark.broadcast.Broadcast[
          java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]]]]())

  /** Weight table → broadcast UTF8String-keyed map: the parquet →
   * driver → broadcast leg of the learned-model seam. */
  private def broadcastWeights(weights: DataFrame, d: Int,
      termCol: String, weightCol: String)
      : org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]] = {
    val perFrame = weightCache.computeIfAbsent(weights,
      _ => scala.collection.mutable.Map.empty)
    perFrame.synchronized {
      return perFrame.getOrElseUpdate((d, termCol, weightCol),
        collectWeights(weights, d, termCol, weightCol))
    }
  }

  private def collectWeights(weights: DataFrame, d: Int,
      termCol: String, weightCol: String)
      : org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val wExpr = weights.schema(weightCol).dataType match {
      case ArrayType(LongType, _) => col(weightCol)
      case ByteType | ShortType | IntegerType | LongType =>
        array(col(weightCol).cast("long"))
      case other => throw new IllegalArgumentException(
        s"$weightCol must be array<long> or integral, got $other")
    }
    // config-scale collect: a trained vocab is 10^4–10^6 terms; the cap
    // keeps an accidentally-data-scale frame from flattening the driver
    val rows = weights.select(col(termCol).cast("string"), wExpr).collect()
    require(rows.length <= (1 << 21),
      s"weight table has ${rows.length} terms — beyond vocab scale; " +
        "a larger model belongs in a join, not a broadcast map")
    val m = new java.util.HashMap[UTF8String, Array[Long]](rows.length * 2)
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "weight table must have no null terms or weights")
      val w = r.getSeq[Any](1)
      require(w.length == d && w.forall(_ != null),
        s"each weight vector must be $d non-null longs")
      val prev = m.put(UTF8String.fromString(r.getString(0)),
        w.map(_.asInstanceOf[Long]).toArray)
      require(prev == null,
        s"duplicate term in weight table: ${r.getString(0)}")
    }
    weights.sparkSession.sparkContext.broadcast(m)
  }

  /** The higher-order-function form of [[hashedEmbeddingMilli]], kept as
   * the reference implementation the native expression is tested
   * against (the [[graft.operators.Similarity.dotHof]] discipline). */
  private[graft] def hashedEmbeddingMilliHof(c: Column, d: Int): Column = {
    require(d >= 1 && d <= 8, "one 128-bit digest carries 8 16-bit slices")
    val digests = transform(tokens(c), tk => md5(tk.cast("binary")))
    val zeros = array_repeat(lit(0L), d)
    aggregate(digests, zeros, (acc, dg) =>
      zip_with(acc, sequence(lit(0), lit(d - 1)), (a, j) =>
        a + (conv(dg.substr(j * 4 + 1, lit(4)), 16, 10)
          .cast("long") % 2001 - 1000)))
  }

  /** [[hashedEmbeddingMilli]] L2-normalized to unit floats — the form
   * cosine ANN consumes. Zero vectors (only possible if every
   * coordinate hash-cancels) pass through unscaled rather than
   * dividing by zero.
   *
   * The milli expression and its norm are each evaluated ONCE per row:
   * splicing `m` into both the norm and the per-element division would
   * re-run every per-token digest twice (lambdas are interpreted — no
   * codegen subexpression elimination), so both are bound through
   * single-element-array `transform` lambdas, the column-land
   * equivalent of a `let`. */
  def hashedEmbeddingUnit(c: Column, d: Int): Column =
    element_at(transform(array(hashedEmbeddingMilli(c, d)), m =>
      element_at(transform(
          array(sqrt(aggregate(m, lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double")))),
          norm => transform(m, x =>
            when(norm > 0, x.cast("double") / norm)
              .otherwise(x.cast("double")).cast("float"))),
        1)),
      1)

  /**
   * Control/invisible-character cleanup — the normalization pass that
   * runs before ANY text operator on crawl-derived corpora (C4 and
   * RefinedWeb both strip non-printing characters first; mojibake and
   * zero-width codepoints otherwise split tokens invisibly and defeat
   * exact dedup). In order: C0/C1 control characters except
   * tab/newline/CR are DROPPED (they carry no text), zero-width
   * characters (ZWSP/ZWNJ/ZWJ/BOM) and the Unicode replacement
   * character are dropped, NBSP becomes a plain space (it IS
   * whitespace), then all whitespace collapses to single spaces,
   * trimmed. Each class is spelled with explicit `\x{…}` codepoint
   * escapes — shared Java/RE2 syntax, so an external engine replays the
   * cleaned text byte-for-byte. Pure narrow column expression: scan
   * speed, zero shuffles.
   */
  def cleanText(c: Column): Column = {
    val noCtl = regexp_replace(c,
      "[\\x{00}-\\x{08}\\x{0b}\\x{0c}\\x{0e}-\\x{1f}\\x{7f}-\\x{9f}]", "")
    val noZw = regexp_replace(noCtl,
      "[\\x{200b}-\\x{200d}\\x{feff}\\x{fffd}]", "")
    val spaced = regexp_replace(noZw, "\\x{a0}", " ")
    trim(regexp_replace(spaced, "[ \\t\\n\\r\\f]+", " "))
  }

  /**
   * BPE tokenizer training — the merge loop that [[vocabTopK]]'s
   * frequency pass feeds (Sennrich et al. 2016): start from each word
   * split into characters, count adjacent symbol pairs weighted by word
   * frequency, fuse the most frequent pair into one symbol, repeat. The
   * returned frame is the merge TABLE — `nMerges` rows of
   * (merge_round, lhs, rhs, merged, pair_n) in training order — which
   * IS the tokenizer: applying the merges in order to a new word
   * reproduces its BPE segmentation.
   *
   * Determinism contract (what lets an external SQL engine replay the
   * whole loop): the argmax tie-break is total (pair count descending,
   * then lhs, then rhs ascending — byte order on the fixture's ASCII
   * tokens), counts are exact integers, and merge APPLICATION is plain
   * (non-regex) string replacement over a spaced-symbol encoding.
   * A word is encoded with every symbol wrapped in single spaces
   * (`"ab"` → `" a  b "`), so the adjacent pair (x, y) occurs exactly
   * as the substring `" x  y "` and fusing it is
   * `replace(s, " x  y ", " xy ")`. Left-to-right non-overlapping
   * replacement — the semantics of `replace` in the JVM and every SQL
   * engine — is exactly BPE's greedy leftmost pairing (`"aaaa"` with
   * merge (a,a) → `"aa aa"`, and `"aaa"` → `"aa a"`).
   *
   * Scale shape: ONE corpus-sized pass (the tokenize-explode into a
   * map-side-combined word-frequency aggregate); every round after
   * operates on the VOCABULARY table — a pair-count aggregate (map-side
   * combinable), a small top-pair collect (config-scale, the
   * [[graft.operators.Similarity.trainIvfCentroids]] round-trip
   * pattern), and a narrow replace chain. Each round's vocabulary is an
   * eager [[Materialize]] cut (consumed by the next round's aggregate
   * AND replace) released as soon as its successor exists, so lineage
   * and storage stay O(1) in the round count.
   *
   * == Batched rounds ==
   *
   * One driver round per merge means a production 32k-merge vocabulary
   * is 32k Spark jobs. Each round therefore applies up to `roundBatch`
   * merges, chosen so the emitted sequence is PROVABLY IDENTICAL to the
   * one-merge-per-round trainer's (the t16 oracle replays the
   * sequential loop, so equality is oracle-checked): take the maximal
   * prefix of the (count desc, lhs, rhs) pair ranking whose pairs are
   * pairwise symbol-disjoint, stopping at the first pair sharing a
   * symbol with an earlier taken pair, then TRIM to pairs whose count
   * strictly exceeds the stop pair's. Why that is sequence-exact:
   * merging a pair (a,b) cannot change the count of any symbol-disjoint
   * pair, so the untrimmed prefix pairs keep their counts and relative
   * order; every pair it CAN change — old pairs sharing a or b, and new
   * pairs involving ab, whose counts are bounded by the old sharing
   * pairs' ((x,ab) occurrences were (x,a) occurrences) — is
   * non-batched, hence ranked at or below the stop pair, and the strict
   * trim keeps every batched count above that ceiling, so no changed or
   * created pair can outrank the rest of the batch mid-sequence. A tie
   * with the stop count trims to the bare argmax, which is the
   * sequential step itself. Disjoint replaces cannot overlap in the
   * spaced-symbol encoding, so the chained application equals the
   * sequential one.
   */
  def bpeMerges(df: DataFrame, textCol: String, nMerges: Int,
                roundBatch: Int = 16): DataFrame =
    bpeMergesCounted(df, textCol, nMerges, roundBatch)._1

  /** [[bpeMerges]] plus the number of driver rounds it ran — the
   * batching spec's observable (~nMerges/roundBatch on natural text). */
  private[graft] def bpeMergesCounted(df: DataFrame, textCol: String,
                                      nMerges: Int,
                                      roundBatch: Int): (DataFrame, Int) = {
    require(nMerges >= 1 && nMerges <= 256, "nMerges must be in [1, 256]")
    require(roundBatch >= 1, "roundBatch must be >= 1")
    val spark = df.sparkSession
    // corpus pass: word frequencies, then the spaced-symbol encoding.
    // regexp_replace wraps EACH character in single spaces; adjacent
    // wrappings concatenate to the " a  b " double-space separator
    var vocab = Materialize.eager(
      df.select(explode(tokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .select(regexp_replace(col("w"), "(.)", " $1 ").as("s"), col("n")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    var rounds = 0
    while (merges.size < nMerges && !exhausted) {
      rounds += 1
      val want = math.min(roundBatch, nMerges - merges.size)
      val syms = vocab.select(split(trim(col("s")), "  ").as("sy"), col("n"))
        .filter(size(col("sy")) >= 2)
      val top = syms
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> struct(sy[i-1] AS lhs, sy[i] AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("n")).as("pn"))
        .orderBy(col("pn").desc, col("lhs").asc, col("rhs").asc)
        .limit(want + 1).collect() // config-scale: the top pairs + stop probe
      if (top.isEmpty) exhausted = true // every word is one symbol
      else {
        val rows = top.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val used = scala.collection.mutable.Set.empty[String]
        val taken = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var stopCount: Option[Long] = None
        for ((l, r, pn) <- rows if stopCount.isEmpty) {
          if (taken.size >= want || used.contains(l) || used.contains(r))
            stopCount = Some(pn)
          else { taken += ((l, r, pn)); used += l; used += r }
        }
        // strict trim keeps a PREFIX (counts are non-increasing); an
        // empty trim means the argmax itself ties the ceiling — one
        // sequential merge is then the only safe step
        val batch = stopCount match {
          case Some(q) =>
            val t = taken.filter(_._3 > q)
            if (t.isEmpty) taken.take(1) else t
          case None => taken
        }
        batch.foreach { case (l, r, pn) =>
          merges += ((merges.size + 1, l, r, l + r, pn))
        }
        val newS = batch.foldLeft(col("s")) { case (c, (l, r, _)) =>
          call_function("replace", c,
            lit(" " + l + "  " + r + " "), lit(" " + l + r + " "))
        }
        val next = Materialize.eager(vocab.select(newS.as("s"), col("n")))
        Materialize.release(vocab)
        vocab = next
      }
    }
    Materialize.release(vocab)
    import spark.implicits._
    (merges.toSeq.toDF("merge_round", "lhs", "rhs", "merged", "pair_n"), rounds)
  }

  /**
   * BPE segmentation — applying a [[bpeMerges]]-trained merge table to
   * the corpus, the other half of the tokenizer: each document's text
   * is encoded into the same spaced-symbol form (every CHARACTER
   * wrapped in single spaces — including the inter-word space itself,
   * whose wrapping widens word boundaries to runs of ≥3 spaces that no
   * " x  y " pair pattern can ever match, so merges cannot cross
   * words), the merges replay in training order as the same plain
   * left-to-right replaces, and the surviving symbols — word pieces —
   * are emitted single-space-joined with their count. A document's
   * segmentation is therefore exactly the greedy merge-order BPE of
   * each of its words.
   *
   * Scale shape: the merge table is CONFIG (driver-side Seq, typically
   * 10²–10⁴ entries trained once); application is one narrow
   * regexp pass plus |merges| literal replaces — whole-stage codegen,
   * zero shuffles, a 100 TB corpus segments at scan speed. Replayable
   * by any engine: literal replacement only, no regex in the loop.
   */
  def bpeSegment(df: DataFrame, idCol: String, textCol: String,
                 merges: Seq[(String, String)]): DataFrame = {
    require(merges.forall { case (l, r) => l.nonEmpty && r.nonEmpty &&
      !l.contains(' ') && !r.contains(' ') },
      "merge symbols must be non-empty and space-free — a space-bearing " +
        "symbol would breach the word-boundary encoding")
    val enc = regexp_replace(normalizeText(col(textCol)), "(.)", " $1 ")
    val seg = merges.foldLeft(enc) { case (acc, (l, r)) =>
      call_function("replace", acc, lit(s" $l  $r "), lit(s" $l$r "))
    }
    val bpe = regexp_replace(trim(seg), " +", " ")
    df.select(col(idCol), bpe.as("bpe"), size(split(bpe, " ")).as("n_bpe"))
  }

  /**
   * [[bpeSegment]] at production merge-table scale: the same trained
   * merge table applied by a broadcast merge-RANK map and one
   * `mapPartitions` greedy encoder (the [[winnowFingerprintsFast]]
   * discipline) instead of a `|merges|`-deep replace-expression chain.
   * The chain form is the oracle-replayable twin but its depth IS its
   * ceiling — a ~32k-merge production tokenizer table will not codegen
   * as 32k nested `replace`s — where this form's per-row cost is the
   * classic BPE encode loop and the table rides along once per executor
   * as a broadcast map. No cap on `merges.size`.
   *
   * Bit-identical to [[bpeSegment]] for TRAINING-CONSISTENT tables
   * (every merge's lhs/rhs constructible from strictly earlier merges —
   * what [[bpeMerges]] emits, and any prefix of it): for such tables,
   * replaying merges in training order equals repeatedly fusing the
   * lowest-rank pair present (Sennrich et al. 2016's two equivalent
   * encode algorithms), and each fuse pass here is leftmost
   * non-overlapping exactly like the JVM `replace`. Word boundaries
   * need no special casing — the spaced encoding's ≥3-space runs that
   * stop cross-word merges in the chain form correspond to encoding
   * each whitespace-delimited word independently here. The three
   * line-terminator code points that survive [[normalizeText]]
   * (U+0085/U+2028/U+2029) are unmatched by the chain form's `(.)`
   * wrapper and so can never merge; they stand as barrier symbols.
   *
   * Scale shape: one narrow pass, zero shuffles; the only driver-side
   * payload is the merge table itself (config-scale — ~32k rows).
   *
   * Row contract divergences from the chain twin (the
   * [[winnowFingerprintsFast]] discipline, carved out here so the
   * "bit-identical" claim is read correctly): NULL-id rows are DROPPED
   * (the typed encoder has no null id) where the chain form passes them
   * through, and the id column comes back as `long` regardless of its
   * input width — feed non-null ids and compare on values, as the
   * equivalence spec does.
   */
  def bpeSegmentGreedy(df: DataFrame, idCol: String, textCol: String,
                       merges: Seq[(String, String)]): DataFrame = {
    require(merges.forall { case (l, r) => l.nonEmpty && r.nonEmpty &&
      !l.contains(' ') && !r.contains(' ') },
      "merge symbols must be non-empty and space-free — a space-bearing " +
        "symbol would breach the word-boundary encoding")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"bpeSegmentGreedy needs an integral id column, $idCol is $other")
    }
    val spark = df.sparkSession
    val bcMerges = spark.sparkContext.broadcast(merges.toArray)
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("bpe", StringType, nullable = true),
      StructField("n_bpe", IntegerType, nullable = true)))
    val in = spreadAcrossCores(df.filter(col(idCol).isNotNull))
      .select(col(idCol).cast("long"), normalizeText(col(textCol)))
      .as[(Long, String)](Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
    in.mapPartitions { it =>
      val table = bcMerges.value
      // duplicate pairs keep their FIRST (lowest) rank, matching the
      // chain form where a later duplicate replays over already-fused
      // text and finds nothing
      val rank = new scala.collection.mutable.AnyRefMap[(String, String), Int]
      var t = table.length - 1
      while (t >= 0) { rank(table(t)) = t; t -= 1 }
      def isBarrier(cp: Int) = // line terminators `(.)` never wraps
        cp == 0x85 || cp == 0x2028 || cp == 0x2029
      def encodeWord(word: String, out: StringBuilder): Int = {
        var syms = new scala.collection.mutable.ArrayBuffer[String](word.length)
        word.codePoints().forEach { cp =>
          syms += new String(Character.toChars(cp)); () }
        var done = false
        while (!done) {
          // lowest-rank pair present, barriers excluded by construction
          // (a barrier code point never appears in a trained lhs/rhs)
          var best = Int.MaxValue
          var i = 0
          while (i < syms.length - 1) {
            val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
            if (r < best) best = r
            i += 1
          }
          if (best == Int.MaxValue) done = true
          else {
            val (l, r) = table(best)
            val m = l + r
            // fuse every occurrence, leftmost non-overlapping — the JVM
            // replace pass over the spaced encoding, symbol-wise
            val next = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
                next += m; j += 2
              } else { next += syms(j); j += 1 }
            }
            syms = next
          }
        }
        var k = 0
        while (k < syms.length) {
          if (out.nonEmpty) out.append(' ')
          out.append(syms(k))
          k += 1
        }
        syms.length
      }
      it.map { case (id, text) =>
        if (text == null) Row(id, null, null)
        else {
          val out = new StringBuilder
          var n = 0
          // normalized text is single-space separated, no edge spaces;
          // barrier code points split a word into independently encoded
          // runs with the barrier standing as its own piece
          text.split(" ", -1).foreach { w =>
            if (w.nonEmpty) {
              var start = 0
              var p = 0
              while (p < w.length) {
                val cp = w.codePointAt(p)
                if (isBarrier(cp)) {
                  if (p > start) n += encodeWord(w.substring(start, p), out)
                  // a maximal RUN of unwrapped barrier code points has no
                  // spaces between its members, so the chain form emits
                  // the whole run as one piece
                  var q = p + Character.charCount(cp)
                  while (q < w.length && isBarrier(w.codePointAt(q)))
                    q += Character.charCount(w.codePointAt(q))
                  if (out.nonEmpty) out.append(' ')
                  out.append(w.substring(p, q))
                  n += 1
                  start = q
                  p = q
                } else p += Character.charCount(cp)
              }
              if (w.length > start) n += encodeWord(w.substring(start), out)
            }
          }
          // an all-blank document mirrors size(split('', ' ')) = 1
          Row(id, out.toString, if (n == 0) 1 else n)
        }
      }
    }(Encoders.row(outSchema))
  }

  /**
   * Corpus bigram language-model score — the CCNet/KenLM-style quality
   * signal with no trained artifact: each document scored by the
   * add-one-smoothed conditional log-likelihood of its own token
   * bigrams under the corpus's bigram counts,
   * `Σ n_occ · ln((c(w1,w2) + 1) / (c(w1·) + V))`, where `c(w1·)` is
   * the count of bigrams with that prefix and `V` the corpus
   * vocabulary. Fluent in-domain text scores high (per pair, near the
   * corpus distribution); mojibake, shuffled-word, and
   * out-of-distribution docs score low — the filter CCNet runs with a
   * trained LM, replayable because the "model" IS the corpus aggregate.
   *
   * Determinism contract: each distinct bigram's log term is fixed to
   * integer MICROS (floor(ln·10⁶ + 0.5), the t15 recipe) before being
   * weighted by its integer occurrence count and summed — long sums
   * commute, so partitioning cannot drift the result, and division is
   * left to the caller (a micro-sum and a pair count are returned, not
   * a ratio: truncating vs flooring integer division differs between
   * engines on negative sums).
   *
   * Scale shape: one tokenize-explode into a per-(doc, bigram)
   * map-side-combined aggregate (the [[bm25TopK]] tf shape at bigram
   * grain, [[Materialize]]d eagerly — it feeds the corpus counts AND
   * the scoring join in one plan); corpus bigram/prefix tables are
   * aggregates of it (vocab²-bounded, Zipf-small in practice); the
   * scoring join is bigram-keyed with AQE free to broadcast. No
   * all-pairs anything; docs shorter than one bigram drop out.
   */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = spreadAcrossCores(df)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ts"))
    val bd = Materialize.eager(
      toks.filter(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ts) - 1), " +
            "i -> struct(ts[i-1] AS w1, ts[i] AS w2))")).as("p"))
        .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("n_bd")))
    val cb = bd.groupBy("w1", "w2").agg(sum("n_bd").as("c12"))
    val cu = cb.groupBy("w1").agg(sum("c12").as("c1"))
    val v = cb.select(col("w1").as("w")).union(cb.select(col("w2").as("w")))
      .agg(countDistinct(col("w")).as("vs"))
    // expression text mirrored by the SQL oracle: (c12 + 1.0) / (c1 + vs)
    val mic = floor(log((col("c12") + lit(1.0)) / (col("c1") + col("vs"))) *
      lit(1000000.0) + lit(0.5)).cast("long")
    bd.join(cb, Seq("w1", "w2"))
      .join(cu, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(sum(col("n_bd") * mic).as("logp_micro_sum"),
        sum(col("n_bd")).as("n_pairs"))
      .select(col("doc_id"), col("n_pairs"), col("logp_micro_sum"))
  }

  /**
   * Trigram language-model scoring with STUPID BACKOFF (Brants et al.
   * 2007, "Large Language Models in Machine Translation") — the
   * higher-order extension of [[bigramLogProb]] and the shape CCNet's
   * 5-gram filtering actually uses: each document in `df` is scored
   * under counts trained on `model` (a held-out or reference corpus —
   * scoring a corpus under ITSELF never backs off, every observed
   * n-gram has count ≥ 1), per-trigram score
   *
   *   S(w3|w1,w2) = c(w1w2w3)/c(w1w2)            if the trigram was seen
   *               = 0.4 · c(w2w3)/c(w2)          else if the bigram was
   *               = 0.4 · 0.4 · (c(w3)+1)/(N+V)  else (add-one unigram,
   *                                               so OOV words stay finite)
   *
   * summed as ln S over the document's trigram occurrences. Brants's
   * score is deliberately not a normalized probability — backoff is a
   * fixed 0.4 penalty, no discounting — which is what makes it
   * count-replayable by an external engine.
   *
   * Determinism contract: each distinct scored trigram's ln S is fixed
   * to integer MICROS (floor(ln·10⁶ + 0.5), the [[bigramLogProb]]
   * recipe) before being weighted by its integer occurrence count;
   * the ratio inside ln is spelled in one canonical double evaluation
   * order (`c3/c2`, `0.4·c23/cu2`, `0.4·0.4·(cu3+1)/(N+V)`) mirrored
   * literally by the SQL oracle so both engines round the same IEEE
   * doubles. Returns (doc_id, n_tris, logp_micro_sum); docs shorter
   * than one trigram drop out.
   *
   * Scale shape: model tokens are cut ONCE and feed the unigram,
   * bigram, and trigram count aggregates (all map-side combinable,
   * vocab-bounded — vocab³ worst case, Zipf-small in practice); the
   * scoring side is a per-(doc, trigram) aggregate joined to the count
   * tables on n-gram keys (AQE broadcasts the Zipf-small count tables),
   * and the two corpus-wide scalars ride one broadcast stat frame. No
   * all-pairs anything, nothing collects to the driver.
   */
  def trigramBackoffLogProb(df: DataFrame, model: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val mts = Materialize.eager(
      spreadAcrossCores(model).select(tokens(col(textCol)).as("ts")))
    val uni = Materialize.eager(
      mts.select(explode(col("ts")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cu")))
    val stats = uni.agg(sum("cu").as("nn"), count(lit(1)).as("vs"))
    val big = mts.filter(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), " +
          "i -> struct(ts[i-1] AS w1, ts[i] AS w2))")).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cb"))
    val bigM = Materialize.eager(big) // feeds the prefix AND backoff joins
    val triExpr = "transform(sequence(1, size(ts) - 2), " +
      "i -> struct(ts[i-1] AS w1, ts[i] AS w2, ts[i+1] AS w3))"
    val tri = mts.filter(size(col("ts")) >= 3)
      .select(explode(expr(triExpr)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.w3").as("w3"))
      .agg(count(lit(1)).as("c3"))
    val td = spreadAcrossCores(df)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr(triExpr)).as("p"))
      .groupBy(col("doc_id"),
        col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.w3").as("w3"))
      .agg(count(lit(1)).as("n_td"))
    val joined = td
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bigM.withColumnRenamed("cb", "c2b"), Seq("w1", "w2"), "left")
      .join(bigM.select(col("w1").as("w2"), col("w2").as("w3"),
        col("cb").as("c23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("cu").as("cu3")), Seq("w3"), "left")
      .crossJoin(broadcast(stats))
    // expression text mirrored by the SQL oracle, level by level; a seen
    // trigram implies a seen prefix bigram, a seen backoff bigram implies
    // a seen middle unigram — the denominators can never be null-divides
    val ratio = when(col("c3").isNotNull, col("c3") / col("c2b"))
      .when(col("c23").isNotNull, lit(0.4) * col("c23") / col("cu2"))
      .otherwise(lit(0.4) * lit(0.4) *
        (coalesce(col("cu3"), lit(0L)).cast("double") + lit(1.0)) /
        (col("nn") + col("vs")))
    val mic = floor(log(ratio) * lit(1000000.0) + lit(0.5)).cast("long")
    joined.groupBy("doc_id")
      .agg(sum(col("n_td") * mic).as("logp_micro_sum"),
        sum(col("n_td")).as("n_tris"))
      .select(col("doc_id"), col("n_tris"), col("logp_micro_sum"))
  }

  // ------------------------------------------------- DSIR data selection

  /**
   * DSIR importance weights (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling", arXiv:2302.03169): each
   * `raw` document scored by how much more likely its HASHED-BIGRAM
   * feature counts are under the `target` corpus's bucket distribution
   * than under the raw corpus's own — `Σ_b n_db · ln(p_t(b) / p_r(b))`
   * with add-one smoothing over the `buckets`-sized hashed feature
   * space. This is the paper's exact recipe for "select web text that
   * looks like the target domain" at corpus scale: hashing collapses
   * the unbounded n-gram vocabulary to a fixed feature space, so the
   * two language models are `buckets`-row tables however large the
   * corpora. Returns (id, weight_micro, n_feats); documents too short
   * for one bigram carry zero evidence (weight 0), deliberately kept so
   * selection quotas see the whole corpus.
   *
   * Determinism contract: each bucket's log-ratio fixes to integer
   * MICROS (floor(ln·10⁶ + 0.5), the t15/t26 recipe) before being
   * weighted by the exact integer feature count and summed — long sums
   * commute, so partitioning cannot drift a weight, and the bucket hash
   * is the 16-bit md5 slice every sampler in this engine replays.
   *
   * Scale shape: each corpus makes ONE tokenize-explode pass into a
   * (doc, bucket) map-side-combined aggregate (the raw side's is an
   * eager [[Materialize]] cut — it feeds the model AND the scoring
   * join); the model tables are `buckets`-bounded aggregates of those;
   * the per-bucket log-ratio table BROADCASTS into the doc-score join.
   * Beyond the doc-keyed feature aggregate nothing shuffles at corpus
   * scale, and selection ([[importanceResample]]) is a global top-k
   * (TakeOrdered, no full sort).
   */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, buckets: Int = 256): DataFrame = {
    require(buckets >= 2 && buckets <= 65536,
      "buckets must be in [2, 65536] — the 16-bit hash space")
    def feats(df: DataFrame): DataFrame =
      spreadAcrossCores(df)
        .select(col(idCol).as("__id"), tokens(col(textCol)).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("__id"), explode(expr(
          "transform(sequence(1, size(ts) - 1), " +
            "i -> concat(ts[i-1], ':', ts[i]))")).as("g"))
        .select(col("__id"),
          (conv(substring(md5(col("g").cast("binary")), 1, 4), 16, 10)
            .cast("long") % buckets).as("b"))
        .groupBy("__id", "b").agg(count(lit(1)).as("n_db"))
    val rawF = Materialize.eager(feats(raw))
    val tgtC = feats(target).groupBy("b").agg(sum("n_db").as("ct"))
    val rawC = rawF.groupBy("b").agg(sum("n_db").as("cr"))
    val tTot = tgtC.agg(coalesce(sum("ct"), lit(0L)).as("tt"))
    val rTot = rawC.agg(coalesce(sum("cr"), lit(0L)).as("tr"))
    // every bucket id appears, so a bucket unseen on either side still
    // carries its smoothing prior (an out-of-target feature must PULL
    // WEIGHT DOWN, not vanish). Expression text mirrored by the oracle.
    val ids = raw.sparkSession.range(buckets).select(col("id").as("b"))
    val ll = ids.join(tgtC, Seq("b"), "left").join(rawC, Seq("b"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("b"), floor(log(
          ((coalesce(col("ct"), lit(0L)) + lit(1.0)) * (col("tr") + lit(buckets))) /
            ((coalesce(col("cr"), lit(0L)) + lit(1.0)) * (col("tt") + lit(buckets))))
        * lit(1000000.0) + lit(0.5)).cast("long").as("dll"))
    val scored = rawF.join(broadcast(ll), Seq("b"))
      .groupBy("__id")
      .agg(sum(col("n_db") * col("dll")).as("weight_micro"),
        sum("n_db").as("n_feats"))
    raw.select(col(idCol)).join(scored, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("weight_micro"), lit(0L)).as("weight_micro"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"))
  }

  /**
   * DSIR selection over [[importanceWeights]]: the top `k` raw documents
   * by importance, ties broken by id. With `gumbelSeed` set this is the
   * paper's GUMBEL-TOP-K resampling (sampling without replacement with
   * probability ∝ the importance ratio): each doc's key is its weight
   * plus a deterministic md5-derived Gumbel draw — `-ln(-ln(u))` in the
   * same integer micros, `u` from the 16-bit digest of (id, seed) — so
   * the "random" selection is bit-reproducible by any engine. Without a
   * seed the selection is the pure argmax form (the paper's top-k
   * ablation), whose key equals the weight exactly.
   */
  def importanceResample(raw: DataFrame, target: DataFrame, idCol: String,
                         textCol: String, k: Int, buckets: Int = 256,
                         gumbelSeed: Option[Long] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = importanceWeights(raw, target, idCol, textCol, buckets)
    val key = gumbelSeed match {
      case None => col("weight_micro")
      case Some(s) =>
        val u = (conv(substring(md5(concat(col(idCol).cast("string"),
            lit(s":$s:gumbel")).cast("binary")), 1, 4), 16, 10).cast("double")
          + lit(0.5)) / lit(65536.0)
        col("weight_micro") +
          floor(-log(-log(u)) * lit(1000000.0) + lit(0.5)).cast("long")
    }
    w.withColumn("key_micro", key)
      .orderBy(col("key_micro").desc, col(idCol).asc)
      .limit(k)
  }

  // ------------------------------------------- unigram (SentencePiece) family

  /**
   * Unigram-style subword vocabulary training — the OTHER major tokenizer
   * family next to [[bpeMerges]]'s bottom-up merging: SentencePiece's
   * unigram LM trainer (Kudo 2018, arXiv:1804.10959) works TOP-DOWN —
   * seed a large candidate vocabulary from corpus substrings, then
   * alternate (E) re-segment the corpus under the current vocabulary and
   * collect each piece's expectation count with (M/prune) dropping the
   * lowest-value pieces, until the target size.
   *
   * This trainer keeps that exact structure with one determinism-driven
   * substitution, stated plainly: the E-step's segmentation is the
   * DETERMINISTIC greedy longest-match (hard-EM assignment; ties
   * impossible — match lengths are distinct) instead of float
   * log-likelihood Viterbi. Probability-weighted Viterbi needs
   * `ln(count/total)` per piece, and no floor/round of a float log is
   * bit-reproducible across engines — the same reason [[bpeMerges]]
   * counts integer pairs and [[pageRankMicro]]'s damping is integer
   * percent arithmetic. Expectation counts here are therefore EXACT
   * Longs (`Σ word_freq × uses-in-segmentation`), the prune rule is the
   * total order (count desc, piece asc), and every round is replayable
   * bit for bit by any SQL engine — the t33 oracle does. Single-character
   * pieces are never pruned (the coverage guarantee SentencePiece gets
   * from required characters), so segmentation is total.
   *
   * Scale shape: ONE corpus pass builds the word-frequency table
   * (tokenize-explode into a map-side-combined aggregate); everything
   * after runs on words, not documents. Per round: the substring
   * candidate table (|word| × maxPieceLen rows per DISTINCT word) meets
   * the config-scale vocabulary as a BROADCAST join, folds to per-position
   * match lengths and then per-word greedy segmentations with two
   * word-keyed aggregates (map-side combinable), and the prune is a
   * global top-k (TakeOrdered — no full sort). `rounds` is config-scale
   * driver rounds, the Lloyd's-iteration pattern; each round's
   * vocabulary is an eager [[Materialize]] cut released when its
   * successor exists. The greedy fold itself is a codegen'd `aggregate`
   * HOF over the position array — no UDF, no mapPartitions. Per-word
   * cost grows with |word|·maxPieceLen (candidates) and |word| (the
   * fold array), so pathological mega-tokens — megabyte unbroken
   * "words" in raw crawl text — should be dropped by the standard
   * length/quality gates upstream (t07–t11), exactly as production
   * tokenizer-training pipelines do before SentencePiece.
   *
   * Returns the final vocabulary as (piece, cnt, rank): `cnt` the last
   * round's expectation count, `rank` dense 1..n by (cnt desc, piece asc).
   */
  def unigramTrain(df: DataFrame, textCol: String, vocabSize: Int,
                   maxPieceLen: Int = 4, rounds: Int = 2,
                   seedSize: Int = 512): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      "maxPieceLen must be in [1, 16]")
    require(rounds >= 1 && rounds <= 20,
      "rounds must be in [1, 20] — config-scale driver rounds")
    require(seedSize >= 1, "seedSize must be >= 1")
    val words = Materialize.eager(
      df.select(explode(tokens(col(textCol))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("n")))
    val wordList = words.select("w")
    // substring candidates of the distinct-word table (NOT the corpus):
    // (w, p, l, piece) for every start p and length l <= maxPieceLen
    val seedCnt = candidatePieces(wordList, maxPieceLen)
      .join(words, "w")
      .groupBy("piece").agg(sum("n").as("cnt"))
    // single characters are the mandatory coverage floor; config-scale
    // (an alphabet), so counting them on the driver is loop control
    val singles = Materialize.eager(
      seedCnt.filter(length(col("piece")) === 1))
    val nSingles = singles.count()
    require(vocabSize > nSingles,
      s"vocabSize $vocabSize must exceed the $nSingles single-character " +
        "pieces the corpus needs for coverage")
    val multiBudget = (vocabSize - nSingles).toInt
    var vocabCnt = Materialize.eager(
      singles.unionByName(
        seedCnt.filter(length(col("piece")) > 1)
          .orderBy(col("cnt").desc, col("piece").asc).limit(seedSize)))
    for (_ <- 1 to rounds) {
      // E: expectation counts under the current vocabulary's greedy
      // segmentation, exact Longs
      val cnts = greedyPieces(wordList, vocabCnt.select("piece"), maxPieceLen)
        .join(words, "w")
        .select(col("n"), explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(sum("n").as("cnt"))
      // M/prune: singles always survive (count 0 if unused this round);
      // multi-char pieces keep the top of the (cnt desc, piece asc)
      // total order within the budget
      val next = Materialize.eager(
        singles.select("piece").join(cnts, Seq("piece"), "left")
          .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
          .unionByName(cnts.filter(length(col("piece")) > 1)
            .orderBy(col("cnt").desc, col("piece").asc).limit(multiBudget)))
      Materialize.release(vocabCnt)
      vocabCnt = next
    }
    Materialize.release(words)
    Materialize.release(singles)
    // rank over the config-scale vocabulary (at most vocabSize rows —
    // never data-scale: the result IS the trained artifact). Ranked by
    // a global sort + coalesce(1) + per-partition row index: identical
    // to row_number() over (cnt desc, piece asc) — `piece` is unique so
    // the order is strict, coalesce(1) concatenates the range-sorted
    // partitions in order, and monotonically_increasing_id on ONE
    // partition is exactly the 0-based row index (its nondeterministic
    // flag also bars the optimizer from reordering it past the sort).
    // Same single-partition cost the deliberate global window had, but
    // it plans NO WindowExec — which would warn "No Partition Defined"
    // on every run of the board (and a constant partition key is folded
    // away by EliminateWindowPartitions).
    vocabCnt.orderBy(col("cnt").desc, col("piece").asc)
      .coalesce(1)
      .withColumn("rank",
        (monotonically_increasing_id() + 1L).cast("int"))
  }

  /** Substring candidates of a distinct-word frame: one row per
   * (word, start position p, length l in [1, maxLen]) with the piece
   * text — the shared explode [[unigramTrain]] and [[greedyPieces]]
   * both segment over. */
  private def candidatePieces(wordList: DataFrame, maxLen: Int): DataFrame =
    wordList.select(col("w"),
        explode(sequence(lit(0), length(col("w")) - 1)).as("p"))
      .select(col("w"), col("p"),
        explode(sequence(lit(1),
          least(lit(maxLen), length(col("w")) - col("p")))).as("l"))
      .withColumn("piece", expr("substring(w, p + 1, l)"))

  /** Greedy longest-match segmentation of each distinct word under a
   * piece vocabulary: returns (w, pieces array). A position no vocab
   * piece matches falls back to its single character (the apply-time
   * unknown-character rule; during training single chars are always in
   * vocabulary, so the fallback is inert). The walk is one codegen'd
   * fold over the per-position match lengths. */
  private[graft] def greedyPieces(wordList: DataFrame, vocab: DataFrame,
                                  maxLen: Int): DataFrame = {
    val ml = candidatePieces(wordList, maxLen)
      .join(broadcast(vocab.select(col("piece")).withColumn("__hit", lit(1))),
        Seq("piece"), "left")
      .groupBy("w", "p")
      .agg(greatest(max(when(col("__hit") === 1, col("l"))), lit(1)).as("ml"))
    ml.groupBy("w")
      .agg(array_sort(collect_list(struct(col("p"), col("ml")))).as("pl"))
      .select(col("w"), expr(
        """aggregate(sequence(0, size(pl) - 1),
             named_struct('nxt', 0, 'ps', CAST(array() AS array<string>)),
             (acc, j) -> IF(j = acc.nxt,
               named_struct(
                 'nxt', j + element_at(pl, j + 1).ml,
                 'ps', array_append(acc.ps,
                         substring(w, j + 1, element_at(pl, j + 1).ml))),
               acc),
             acc -> acc.ps)""").as("pieces"))
  }

  /**
   * [[unigramTrain]]'s apply twin (the [[bpeSegment]] shape for the
   * unigram family): each document's words segment under the trained
   * piece set by the same greedy longest-match, unknown characters
   * falling back to themselves, and the word pieces come back
   * single-space-joined in document order with their count.
   *
   * Scale shape: the corpus explodes to (doc, word-index, word) ONCE;
   * segmentation runs over the DISTINCT word table (each word segments
   * once no matter how often it occurs — the Zipf win) and joins back
   * word-keyed; document reassembly is one doc-keyed aggregate sorting
   * by word index. The piece table is config-scale and broadcasts
   * inside [[greedyPieces]].
   */
  def unigramSegment(df: DataFrame, idCol: String, textCol: String,
                     pieces: Seq[String], maxPieceLen: Int = 4): DataFrame = {
    require(pieces.nonEmpty, "piece vocabulary must be non-empty")
    require(pieces.forall(p => p.nonEmpty && !p.contains(' ')),
      "pieces must be non-empty and space-free")
    require(pieces.forall(_.length <= maxPieceLen),
      s"pieces longer than maxPieceLen=$maxPieceLen could never match — " +
        "raise maxPieceLen to cover the longest piece")
    val spark = df.sparkSession
    import spark.implicits._
    val vocab = pieces.toDF("piece")
    val docWords = df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("wi", "w")))
      .filter(length(col("w")) > 0)
    val segmented = greedyPieces(docWords.select("w").distinct(), vocab,
      maxPieceLen)
    docWords.join(segmented, "w")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("wi"), col("pieces"))))
        .as("wp"))
      .select(col(idCol),
        concat_ws(" ", flatten(expr("transform(wp, x -> x.pieces)")))
          .as("pieces"),
        size(flatten(expr("transform(wp, x -> x.pieces)"))).as("n_pieces"))
  }

  /**
   * WordPiece merge training (Schuster & Nakajima 2012; the
   * likelihood-scored third of the BPE/Unigram/WordPiece tokenizer
   * triad, the BERT family's tokenizer): words encode as a first
   * bare symbol plus `##`-prefixed continuations, and each round merges
   * the adjacent pair maximizing `count(pair) / (count(lhs) *
   * count(rhs))` — the pair whose fusion most raises corpus likelihood
   * under a unigram-of-symbols model — instead of BPE's raw count.
   * Merging `a` + `##b` yields `ab`; `##b` + `##c` yields `##bc`, so a
   * piece's `##` marks word-internal position forever.
   *
   * [[bpeMerges]]' raw-count batching is UNSOUND here as-is — every
   * merge changes its symbols' occurrence counts, which sit in the
   * DENOMINATOR of every pair they touch, so ranks can reorder
   * mid-batch — but a GUARDED batch provably replays the sequential
   * order. Per round, take the maximal PREFIX of the (score desc, lhs,
   * rhs)-sorted pair list that is pairwise symbol-disjoint and
   * self-pair-free, then keep the longest sub-prefix whose EVERY score
   * strictly exceeds
   *
   *   G = max( max over batch members of 1/pair_n ,
   *            max over non-batch pairs touching a batch symbol of
   *              pair_n / ((lhs_n − consumed(lhs)) · (rhs_n − consumed(rhs))) )
   *
   * Why that replays sequentially, merge by merge: (1) a batch member's
   * own score never moves — its symbols are untouched by the other
   * members (disjointness), and a merge elsewhere neither creates nor
   * destroys an adjacency of two unconsumed symbols; (2) every pair a
   * merge CREATES involves its new symbol m with count(m) = pair_n (an
   * l≠r pattern cannot self-overlap, so replace() fires exactly pair_n
   * times — the reason self-pairs ride alone), and any pair's score is
   * ≤ 1/min-side-count ≤ 1/count(m) = 1/pair_n; (3) an EXISTING
   * non-batch pair's score can only rise by its denominators falling,
   * each by at most the consuming member's pair_n — the inflation
   * bound above, computed from this round's own aggregate (a
   * non-positive denominator reads as +∞ and blocks the batch); (4)
   * every other pair ranked below the prefix and touches no batch
   * symbol, so its score is unchanged and still below. Hence at each
   * intermediate step the true argmax is exactly the next batch member,
   * and the emitted sequence — exact longs included — is the
   * sequential one. The guard is evaluated with the FULL tentative
   * batch's consumption, which only over-states G for any kept prefix
   * (conservative). The sequential t38 oracle stays the equality gate.
   *
   * Cost: a batch round adds one driver top-K collect (vs top-1) and
   * one inflation aggregate; how much batching helps is corpus-shaped
   * (natural text shares 'e'/'##s' across top pairs, so batches run
   * short early and lengthen as symbols specialize). The cap is 1024
   * merges; each round remains two bounded aggregates over the
   * DISTINCT-WORD table (Zipf: corpus-size independent past the word
   * table).
   *
   * Scores compare as exact-long ratios via IEEE doubles (both factors
   * < 2^53 — identical in any engine; the oracle replays them), ties
   * broken (lhs, rhs) ascending. Returns one row per merge:
   * (merge_round, lhs, rhs, merged, pair_n, lhs_n, rhs_n) — the exact
   * longs, so the gate hashes no floats.
   */
  def wordPieceMerges(df: DataFrame, textCol: String, nMerges: Int,
                      maxBatch: Int = 0): DataFrame = {
    require(nMerges >= 1 && nMerges <= 1024,
      "nMerges must be in [1, 1024] — one driver round per merge BATCH")
    require(maxBatch >= 0 && maxBatch <= 64,
      "maxBatch must be in [0, 64] (1 forces the plain sequential loop; " +
        "0 picks it from nMerges)")
    // the guard costs one extra aggregate + a top-K collect per round;
    // it amortizes only across MANY rounds, so short trainings default
    // to the plain sequential loop and long ones to wide batches
    // (nMerges/8, capped at 16: a 96-merge run batches up to 12, the
    // 1024-merge cap up to 16, a 6-merge gate query pays nothing)
    val batchCap =
      if (maxBatch > 0) maxBatch
      else math.max(1, math.min(16, nMerges / 8))
    val spark = df.sparkSession
    // corpus pass: word frequencies, then the spaced-symbol encoding
    // with ## continuations ("abc" -> " a  ##b  ##c ")
    var vocab = Materialize.eager(
      df.select(explode(tokens(col(textCol))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("n"))
        .select(regexp_replace(
          regexp_replace(col("w"), "(.)", " ##$1 "), "^ ##", " ").as("s"),
          col("n")))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long, Long, Long)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val syms = vocab.select(split(trim(col("s")), "  ").as("sy"), col("n"))
      // per-round symbol occurrence counts — the score's denominator
      val symCnt = syms.select(explode(col("sy")).as("sym"), col("n"))
        .groupBy("sym").agg(sum(col("n")).as("sn"))
      val pairs = syms.filter(size(col("sy")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> struct(sy[i-1] AS lhs, sy[i] AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("n")).as("pn"))
        .join(symCnt.select(col("sym").as("lhs"), col("sn").as("ln")), "lhs")
        .join(symCnt.select(col("sym").as("rhs"), col("sn").as("rn")), "rhs")
        .withColumn("score",
          col("pn").cast("double") /
            (col("ln").cast("double") * col("rn").cast("double")))
      val top = pairs
        .orderBy(col("score").desc, col("lhs").asc, col("rhs").asc)
        .limit(batchCap + 1).select("lhs", "rhs", "pn", "ln", "rn").collect()
      if (top.isEmpty) exhausted = true // every word is one symbol
      else {
        // tentative batch: the maximal sorted prefix that is pairwise
        // symbol-disjoint and self-pair-free (a self-pair can
        // self-overlap, breaking the replacements == pair_n identity
        // the creatable-pair bound rests on — it rides alone)
        val want = math.min(batchCap, nMerges - merges.size)
        val cand = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.Row]
        val used = scala.collection.mutable.Set.empty[String]
        var stop = false
        for (r <- top if !stop && cand.size < want) {
          val (l, rh) = (r.getString(0), r.getString(1))
          if (l == rh) { if (cand.isEmpty) cand += r; stop = true }
          else if (used(l) || used(rh)) stop = true
          else { cand += r; used += l; used += rh }
        }
        val batch: Seq[org.apache.spark.sql.Row] =
          if (cand.size <= 1) cand.toSeq
          else {
            // the guard: keep the longest prefix whose every score
            // strictly exceeds G (creatable-pair bound + inflated
            // non-batch scores, both under the FULL tentative batch's
            // consumption — an over-statement for any shorter prefix,
            // so trimming once is sound)
            val creatable = cand.map(r => 1.0 / r.getLong(2).toDouble).max
            val consumed: Seq[(String, Long)] = cand.toSeq.flatMap(r => Seq(
              r.getString(0) -> r.getLong(2), r.getString(1) -> r.getLong(2)))
            val session = vocab.sparkSession
            import session.implicits._
            val consumedDf = consumed.toDF("sym", "c")
            // symbols are whitespace-free (tokens() splits on it), so a
            // single space separates (lhs, rhs) unambiguously
            val candKeys: Seq[String] = cand.toSeq.map(r =>
              r.getString(0) + " " + r.getString(1))
            val inflated = pairs
              .join(consumedDf.select(col("sym").as("lhs"), col("c").as("cl")),
                Seq("lhs"), "left")
              .join(consumedDf.select(col("sym").as("rhs"), col("c").as("cr")),
                Seq("rhs"), "left")
              .filter(col("cl").isNotNull || col("cr").isNotNull)
              .filter(!concat_ws(" ", col("lhs"), col("rhs"))
                .isin(candKeys: _*))
              .select(when(
                  (col("ln") - coalesce(col("cl"), lit(0L))) <= 0 ||
                    (col("rn") - coalesce(col("cr"), lit(0L))) <= 0,
                  lit(Double.PositiveInfinity))
                .otherwise(col("pn").cast("double") /
                  ((col("ln") - coalesce(col("cl"), lit(0L))).cast("double") *
                    (col("rn") - coalesce(col("cr"), lit(0L))).cast("double")))
                .as("g"))
              .agg(max(col("g"))).head()
            val g = math.max(creatable,
              if (inflated.isNullAt(0)) Double.NegativeInfinity
              else inflated.getDouble(0))
            def scoreOf(r: org.apache.spark.sql.Row): Double =
              r.getLong(2).toDouble / (r.getLong(3).toDouble * r.getLong(4).toDouble)
            cand.takeWhile(r => scoreOf(r) > g) match {
              case kept if kept.nonEmpty => kept.toSeq
              case _ => cand.take(1).toSeq // argmax needs no guard
            }
          }
        var next = vocab
        batch.foreach { r =>
          val (l, rh) = (r.getString(0), r.getString(1))
          val merged = l + rh.stripPrefix("##")
          merges += ((merges.size + 1, l, rh, merged,
            r.getLong(2), r.getLong(3), r.getLong(4)))
          next = next.select(
            call_function("replace", col("s"),
              lit(" " + l + "  " + rh + " "), lit(" " + merged + " ")).as("s"),
            col("n"))
        }
        val cut = Materialize.eager(next)
        Materialize.release(vocab)
        vocab = cut
      }
    }
    Materialize.release(vocab)
    import spark.implicits._
    merges.toSeq
      .toDF("merge_round", "lhs", "rhs", "merged", "pair_n", "lhs_n", "rhs_n")
  }

  /**
   * WordPiece segmentation — greedy LONGEST-MATCH-FIRST (MaxMatch, the
   * BERT tokenizer's apply rule) under an explicit piece vocabulary:
   * at each position the longest vocabulary piece wins (bare form at
   * word start, `##`-prefixed inside), and a word with ANY unmatchable
   * position emits the single `unk` token — WordPiece's whole-word-UNK
   * contract, unlike the unigram family's per-character fallback.
   *
   * Scale shape is [[unigramSegment]]'s: the corpus explodes to (doc,
   * word-index, word) once, the DISTINCT word table segments (each word
   * once, the Zipf win) against the broadcast vocabulary, the walk is
   * one codegen'd fold over per-position match lengths, and reassembly
   * is one doc-keyed aggregate.
   */
  def wordPieceSegment(df: DataFrame, idCol: String, textCol: String,
                       vocab: Seq[String], unk: String = "[UNK]",
                       maxPieceLen: Int = 8): DataFrame = {
    require(vocab.nonEmpty, "piece vocabulary must be non-empty")
    require(vocab.forall(p => p.nonEmpty && !p.contains(' ') && p != "##"),
      "pieces must be non-empty, space-free and carry text past any ##")
    require(vocab.forall(p => (p.stripPrefix("##").length +
        (if (p.startsWith("##")) 2 else 0)) <= maxPieceLen + 2 &&
        p.stripPrefix("##").length <= maxPieceLen),
      s"pieces longer than maxPieceLen=$maxPieceLen could never match — " +
        "raise maxPieceLen to cover the longest piece")
    require(unk.nonEmpty && !unk.contains(' ') && !unk.contains('\''),
      "unk must be non-empty, space-free and quote-free")
    val spark = df.sparkSession
    import spark.implicits._
    val vocabDf = vocab.toDF("piece")
    val docWords = df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("wi", "w")))
      .filter(length(col("w")) > 0)
    val wordList = docWords.select("w").distinct()
    // per (word, position): the longest matching piece length, NULL
    // when nothing matches (there is no fallback — that's the UNK path)
    val ml = wordList.select(col("w"),
        explode(sequence(lit(0), length(col("w")) - 1)).as("p"))
      .select(col("w"), col("p"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("p")))).as("l"))
      .withColumn("key",
        when(col("p") === 0, expr("substring(w, 1, l)"))
          .otherwise(concat(lit("##"), expr("substring(w, p + 1, l)"))))
      .join(broadcast(vocabDf.withColumn("__hit", lit(1))),
        col("key") === col("piece"), "left")
      .groupBy("w", "p")
      .agg(max(when(col("__hit") === 1, col("l"))).as("ml"))
    val segmented = ml
      .groupBy("w")
      .agg(array_sort(collect_list(struct(col("p"), col("ml")))).as("pl"))
      .select(col("w"), expr(
        s"""aggregate(sequence(0, size(pl) - 1),
             named_struct('nxt', 0, 'ps', CAST(array() AS array<string>),
                          'bad', false),
             (acc, j) -> IF(acc.bad OR j != acc.nxt, acc,
               IF(element_at(pl, j + 1).ml IS NULL,
                 named_struct('nxt', acc.nxt, 'ps', acc.ps, 'bad', true),
                 named_struct(
                   'nxt', j + element_at(pl, j + 1).ml,
                   'ps', array_append(acc.ps,
                     IF(j = 0,
                        substring(w, 1, element_at(pl, j + 1).ml),
                        '##' || substring(w, j + 1, element_at(pl, j + 1).ml))),
                   'bad', false))),
             acc -> IF(acc.bad, array('$unk'), acc.ps))""").as("pieces"))
    docWords.join(segmented, "w")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("wi"), col("pieces"))))
        .as("wp"))
      .select(col(idCol),
        concat_ws(" ", flatten(expr("transform(wp, x -> x.pieces)")))
          .as("pieces"),
        size(flatten(expr("transform(wp, x -> x.pieces)"))).as("n_pieces"))
  }

  /** All features in one pass over the corpus. */
  def withTextFeatures(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    df.withColumn("lang_pred", langId(c))
      .withColumn("n_tokens", tokenCount(c))
      .withColumn("n_tokens_bpe", regexTokenCount(c))
      .withColumn("quality", qualityScore(c))
      .withColumn("fingerprint", fingerprintMd5(c))
      .withColumn("fingerprint64", fingerprint64(c))
  }
}
