package graft.catalog

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multi-dimensional data layout: Z-order (Morton) clustering.
 *
 * A table range-partitioned on one column prunes scans that filter on
 * that column and nothing else; a 100 TB fact table queried by boxes
 * over two or more columns (time x entity, lat x lon) needs file and
 * row-group statistics that are tight on ALL of them. Interleaving the
 * bits of the dimensions' bucket ranks gives one sort key whose locality
 * is shared across dimensions — rows close in z-value are close in every
 * dimension, so parquet min/max stats per file/row-group stay narrow and
 * a 2-D box skips most of the data (the Delta/Iceberg OPTIMIZE ZORDER
 * pattern, built here from plain expressions).
 *
 * Dimensions are first clipped to an [lo, hi] range (caller supplies it,
 * e.g. from approx quantiles, so outliers cannot flatten the buckets)
 * and bucketized with `width_bucket` — one codegen'd expression per
 * dimension, no shuffle. The interleave is a fixed chain of shift/or
 * expressions. The only shuffle in [[cluster]] is ONE equal-width
 * partition of the z domain (no sampling pass, deterministic layout)
 * that gives one tight file per output partition.
 */
object Layout {

  /** 2^bits-bucket rank of `c` clipped to [lo, hi] — 0..2^bits-1. */
  def bucketRank(c: Column, lo: Double, hi: Double, bits: Int): Column = {
    require(bits >= 1 && bits <= 16, "bits must be in [1, 16]")
    require(hi > lo, s"need hi > lo, got [$lo, $hi]")
    val n = 1 << bits
    // width_bucket maps v == hi to bucket n+1; the least() caps the top
    // edge back into the last rank so every output fits in `bits` bits
    least(width_bucket(least(greatest(c.cast("double"), lit(lo)), lit(hi)),
      lit(lo), lit(hi), lit(n)) - 1, lit(n - 1)).cast("long")
  }

  /**
   * Morton interleave of D bucket ranks: bit i of dimension j lands at
   * position `i*D + (D-1-j)`, so within each bit group the dimensions
   * keep their declared order of significance (dimension 0 highest —
   * for D = 2 that is exactly "a gets the odd bits"). One fixed chain
   * of shift/or expressions, fully codegen'd, no shuffle. The key is a
   * single long, so D*bits must stay below 64 — at the common 3-D
   * (time x entity x quality) layout that still leaves 21 bits (2 M
   * buckets) per dimension, far past where file/row-group stats matter.
   */
  def interleave(ranks: Seq[Column], bits: Int): Column = {
    require(ranks.nonEmpty, "need at least one dimension")
    val d = ranks.size
    require(d * bits <= 63, s"z-value would need $d*$bits bits; must be <= 63")
    val parts = for {
      (r, j) <- ranks.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(r, i).bitwiseAND(1), i * d + (d - 1 - j))
    parts.reduce[Column](_.bitwiseOR(_))
  }

  /** Morton interleave of two bucket ranks (a gets the odd bits). */
  def interleave2(a: Column, b: Column, bits: Int): Column =
    interleave(Seq(a, b), bits)

  /** The z-value column for N dimensions with clip ranges. */
  def zValue(dims: Seq[(Column, (Double, Double))], bits: Int): Column =
    interleave(dims.map { case (c, (lo, hi)) => bucketRank(c, lo, hi, bits) },
      bits)

  /** The z-value column for two dimensions with clip ranges. */
  def zValue(a: Column, aRange: (Double, Double),
             b: Column, bRange: (Double, Double), bits: Int = 8): Column =
    zValue(Seq((a, aRange), (b, bRange)), bits)

  /**
   * Cluster `df` into `files` range partitions by z-value of the given
   * dimensions, each sorted within — written as parquet, every file and
   * row group carries tight min/max on EVERY dimension. A dimension's
   * clip range defaults to its actual min/max; all missing ranges are
   * inferred by ONE combined aggregate scan (pass explicit ranges to
   * skip the scan or clip outliers).
   */
  def cluster(df: DataFrame, dims: Seq[(String, Option[(Double, Double)])],
              files: Int, bits: Int = 8): DataFrame = {
    val resolved = resolveRanges(df, dims)
    val z = zValue(resolved.map { case (c, r) => (col(c), r) }, bits)
    clusterByZ(df, z, dims.size, files, bits)
  }

  /** Every dimension's clip range, explicit or inferred by ONE combined
   * aggregate scan — factored so [[cluster]] and the store's
   * cluster-on-compact resolve ranges identically (heavy-tail auto-clip
   * to the 1%-99% quantiles, point-mass refusal). */
  private[graft] def resolveRanges(df: DataFrame,
      dims: Seq[(String, Option[(Double, Double)])]): Seq[(String, (Double, Double))] = {
    require(dims.nonEmpty, "need at least one dimension")
    val missing = dims.collect { case (c, None) => c }
    val inferred: Map[String, (Double, Double)] =
      if (missing.isEmpty) Map.empty
      else {
        val aggs = missing.flatMap(c =>
          Seq(min(col(c).cast("double")), max(col(c).cast("double")),
            percentile_approx(col(c).cast("double"),
              array(lit(0.01), lit(0.99)), lit(10000))))
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        require(!r.anyNull,
          s"cannot infer clip ranges for (${missing.mkString(", ")}): input " +
            "is empty or a column is all-null — pass ranges explicitly")
        missing.zipWithIndex.map { case (c, i) =>
          val (lo, hi) = (r.getDouble(3 * i), r.getDouble(3 * i + 1))
          val ps = r.getSeq[Double](3 * i + 2)
          val (qlo, qhi) = (ps(0), ps(1))
          // equal-width bucketing of a heavy-tailed dimension collapses:
          // nearly every row ranks into the lowest buckets and one file
          // swallows the table. The inference pass already sees the
          // shape, so AUTO-CLIP to the 1%-99% quantile range — outliers
          // then saturate the edge ranks, which is exactly what
          // bucketRank's clip exists for. Not a hard failure: the
          // detection uses percentile_approx, so a borderline
          // distribution could flip between passing and failing across
          // runs — clipping is correct in either case (the written
          // predicate-visible values are untouched; only the layout's
          // bucket edges move).
          val heavyTailed = hi - lo > 0d && qhi - qlo > 0d &&
            hi - lo > 20.0 * (qhi - qlo)
          // a POINT-MASS bulk (zero-width quantile range) with outliers
          // cannot be auto-clipped — a degenerate [q, q] range has no
          // bucket widths — and silently falling through to the full
          // range would write the exact one-file-swallows-the-table
          // layout the clip exists to prevent; this is the one shape
          // that still needs the caller's judgment
          require(!(hi - lo > 0d && qhi - qlo <= 0d),
            s"dimension $c is a point mass (1%-99% range is zero-width) " +
              s"with outliers spanning ${hi - lo}: no clip range can be " +
              "inferred — pass an explicit range")
          // a CONSTANT dimension (zero width, no outliers) cannot shape
          // the layout — every row shares its rank; widen to a harmless
          // non-degenerate range instead of failing bucketRank's
          // hi > lo contract (a scoped maintenance rewrite legitimately
          // sees constant slices of a non-constant table column)
          c -> (if (heavyTailed) (qlo, qhi)
                else if (hi - lo > 0d) (lo, hi)
                else (lo, lo + 1d))
        }.toMap
      }
    dims.map { case (c, ro) => c -> ro.getOrElse(inferred(c)) }
  }

  /** The equal-width slice id of a z-value — the ONE home of the
   * domain/width math [[clusterByZ]] and the store's cluster-on-compact
   * both route files through, so the two layouts can never
   * desynchronize. `zCol` must NAME a column: integer `DIV` needs the
   * SQL form (`/` is double division and loses exactness past 2^53,
   * which d·bits <= 63 permits). */
  private[graft] def sliceOf(zCol: String, d: Int, bits: Int,
                             files: Int): Column = {
    val domain = BigInt(1) << (d * bits)
    val width = ((domain + files - 1) / files).toLong
    expr(s"$zCol DIV ${width}L").cast("int")
  }

  /** [[cluster]]'s partition-and-sort tail given the z column — shared
   * with the store's cluster-on-compact, which composes the same
   * [[sliceOf]] rule with its PK buckets. */
  private[graft] def clusterByZ(df: DataFrame, z: Column, d: Int,
                                files: Int, bits: Int): DataFrame = {
    // Partition by EQUAL-WIDTH z ranges, not repartitionByRange: range
    // partitioning estimates bounds by SAMPLING the input — an extra
    // full scan of a 100 TB table before the shuffle, and the sampler's
    // seed derives from the RDD id, so two runs of the same job lay the
    // same data out differently (file boundaries, and with them pruning
    // effectiveness, become session-history-dependent). The z domain is
    // known exactly (D*bits bits), so the file of a row is a pure
    // expression of its z-value: zero extra passes, bit-deterministic
    // layout. Bucket ranks are uniform when callers clip to quantile
    // ranges, so equal z-width is also near-equal data volume.
    if (files <= 1)
      df.withColumn("__z", z).repartition(1).sortWithinPartitions(col("__z"))
        .drop("__z")
    else {
      // __p (the target file id) must land in ITS OWN shuffle partition.
      // Hash partitioning would collide distinct ids into one task (a
      // file then spans two disjoint z ranges — twice-wide stats), so
      // each id routes through a probed token whose Murmur3 hash maps
      // BIJECTIVELY onto the partition space: `repartition(n, col)` and
      // `functions.hash` share Murmur3(seed 42), making the routing
      // exact, still one shuffle, no sampling.
      val tokens = array(bijectiveTokens(files).map(lit): _*)
      df.withColumn("__z", z)
        .withColumn("__t",
          element_at(tokens, sliceOf("__z", d, bits, files) + 1))
        .repartition(files, col("__t"))
        .sortWithinPartitions(col("__z"))
        .drop("__z", "__t")
    }
  }

  /** File-stats manifest name — one TSV line per (file, dimension) with
   * the measured min/max, the zone-map a pruned read consults. */
  private[graft] val StatsFile = "_graft_stats.tsv"

  /** The DISTRIBUTED form of the same manifest: a parquet sidecar dir
   * (`_`-prefixed, so data scans skip it) with rows (f, dim, mn, mx).
   * [[writeClustered]] switches to it above [[StatsInlineRows]] stats
   * rows — at a 100 TB layout (10^5–10^6 files × dims) the TSV form
   * means a multi-hundred-MB driver string on every write AND every
   * pruned read; the parquet form is written by executors with no
   * driver collect and pruned by a Spark filter, with only the
   * SURVIVING file names ever landing on the driver. */
  private[graft] val StatsPqDir = "_graft_stats.pq"

  /** Stats-row bound up to which the TSV sidecar (human-readable,
   * one driver string) is used; above it the parquet sidecar. */
  private[graft] val StatsInlineRows = 4096

  /** Commit a small sidecar file next to a table (tmp-write + rename —
   * readers see the old or the new manifest, never a torn one). ONE
   * home for the discipline: the zone-map stats and the shard manifest
   * both ride it, so the commit protocol cannot drift between them.
   * Rename is tried FIRST: POSIX-style filesystems rename over the
   * destination atomically, so a concurrent reader never observes a
   * missing manifest; only on stores whose rename refuses an existing
   * destination (HDFS semantics) does the delete+retry fallback open
   * its brief no-manifest window — the filesystem's limit, not the
   * protocol's. */
  private[graft] def writeSidecar(spark: SparkSession, dir: String,
                                  name: String, content: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(root, s".tmp-$name")
    val fin = new org.apache.hadoop.fs.Path(root, name)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, fin)) {
      fs.delete(fin, false)
      if (!fs.rename(tmp, fin))
        throw new IllegalStateException(s"sidecar commit failed: $tmp -> $fin")
    }
  }

  /** The sidecar's non-empty lines (requires it to exist — the caller
   * names the writer in its own error message). */
  private[graft] def readSidecarLines(spark: SparkSession, dir: String,
                                      name: String, writtenBy: String): Vector[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no $name at $dir — written by $writtenBy?")
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    lines.filter(_.nonEmpty)
  }

  /**
   * Write `df` z-clustered at `path` AND record a zone-map: per output
   * file, the measured min/max of every clustered dimension
   * (`_graft_stats.tsv` beside the data — the `_`-prefix keeps parquet
   * readers from treating it as data). This is the file-skipping half
   * of the lakehouse stats story (Delta/Iceberg per-file column stats):
   * parquet row-group stats prune WITHIN a file only after the planner
   * has listed and opened it; the manifest lets [[readPruned]] drop
   * whole files before any footer is touched — at 100 TB the
   * difference between planning thousands of files and planning the
   * handful a box query overlaps. Stats are measured from the WRITTEN
   * table (a column-pruned scan of just the dimension columns), so
   * stats and data cannot disagree; a dimension with no non-null
   * values in a file gets no stats line and the file is conservatively
   * kept by pruned reads.
   *
   * Stats (and [[readPruned]]'s range compare) live in DOUBLE space —
   * exact for every dimension within ±2^53, which covers clustered
   * layouts' real dimensions (timestamps, bucketized scores, sizes).
   * Integral dimensions with magnitudes beyond 2^53 (snowflake-style
   * ids) round in the stats AND in the promoted predicate the same way,
   * so pruning stays self-consistent, but an integer-exact boundary
   * query should re-filter in the column's own type after the read.
   */
  def writeClustered(df: DataFrame, path: String,
                     dims: Seq[(String, Option[(Double, Double)])],
                     files: Int, bits: Int = 8,
                     statsInlineBound: Int = StatsInlineRows): Unit = {
    val spark = df.sparkSession
    cluster(df, dims, files, bits).write.mode("overwrite").parquet(path)
    val cols = dims.map(_._1)
    // NaN excluded from measurement: max() returns NaN when any value is
    // NaN, and a NaN bound defeats the overlap compare on both sidecar
    // forms DIFFERENTLY (driver-side `mx >= lo` is false, Spark-side is
    // true under NaN-largest ordering) — nulling NaN keeps finite bounds
    // and the two pruning paths identical; NaN rows can never satisfy a
    // finite range predicate anyway
    val written = spark.read.parquet(path)
      .select(cols.map { c =>
        val d = col(c).cast("double")
        when(!isnan(d), d).as(c)
      } :+ input_file_name().as("__f"): _*)
    val aggs = cols.flatMap(c => Seq(min(col(c)).as(s"mn_$c"),
      max(col(c)).as(s"mx_$c")))
    val agg = written.groupBy("__f").agg(aggs.head, aggs.tail: _*)
    val root = new org.apache.hadoop.fs.Path(path)
    val fsys = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (files.toLong * cols.size <= statsInlineBound) {
      val rows = agg.collect() // manifest-sized: one row per output file
      val sb = new StringBuilder
      rows.foreach { r =>
        val f = new org.apache.hadoop.fs.Path(r.getString(0)).getName
        cols.zipWithIndex.foreach { case (c, i) =>
          if (!r.isNullAt(1 + 2 * i) && !r.isNullAt(2 + 2 * i))
            sb.append(s"$f\t$c\t${r.getDouble(1 + 2 * i)}\t${r.getDouble(2 + 2 * i)}\n")
        }
      }
      // delete the stale opposite-form sidecar BEFORE committing the
      // fresh one: pruneSet prefers the parquet dir, so a crash after a
      // fresh-TSV write but before the pq delete would silently resolve
      // the PREVIOUS layout's stats (naming files the data overwrite
      // already deleted). With delete-first the crash window instead
      // leaves NO sidecar, which readSidecarLines fails loudly on.
      fsys.delete(new org.apache.hadoop.fs.Path(root, StatsPqDir), true)
      writeSidecar(spark, path, StatsFile, sb.toString)
    } else {
      // DISTRIBUTED manifest: long-format rows written by executors,
      // never collected (the TSV form would be a 10^5..10^6-line driver
      // string at real layouts). ONE aggregation pass reshaped by a
      // narrow per-dimension explode — a per-dimension union would
      // re-run the corpus-scale aggregate once per dimension
      val longDf = agg
        .select(expr("element_at(split(__f, '/'), -1)").as("f"),
          explode(array(cols.map(c => struct(lit(c).as("dim"),
            col(s"mn_$c").as("mn"), col(s"mx_$c").as("mx"))): _*)).as("s"))
        .select(col("f"), col("s.dim").as("dim"),
          col("s.mn").as("mn"), col("s.mx").as("mx"))
        .filter(col("mn").isNotNull && col("mx").isNotNull)
      // same delete-first discipline, mirrored: drop the stale TSV
      // before the pq dir lands. The crash windows then read as either
      // "no sidecar" (loud require) or "pq dir exists" — pruneSet
      // prefers pq, so once the overwrite completes the fresh stats
      // win; a stale TSV can never shadow them, and a stale pq dir
      // cannot survive past the delete on the other branch.
      fsys.delete(new org.apache.hadoop.fs.Path(root, StatsFile), false)
      longDf.write.mode("overwrite").parquet(s"$path/$StatsPqDir")
    }
  }

  /**
   * Box-query read over a [[writeClustered]] table: plans ONLY the
   * files whose zone-map overlaps every requested `[lo, hi]` range
   * (inclusive), then applies the exact predicate — so the result
   * equals a full-scan filter while the scan itself is file-pruned
   * before any parquet footer is read. A file without stats for a
   * requested dimension is kept (conservative); requesting a dimension
   * the layout never clustered prunes nothing but still filters
   * exactly.
   */
  def readPruned(spark: SparkSession, path: String,
                 ranges: Map[String, (Double, Double)]): DataFrame = {
    require(ranges.nonEmpty, "readPruned needs at least one range")
    val keep = pruneSet(spark, path, ranges)
    val pred = ranges.map { case (c, (lo, hi)) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    if (keep.isEmpty)
      spark.read.parquet(path).filter(lit(false)) // schema-true empty
    else spark.read.parquet(keep.map(f => s"$path/$f"): _*).filter(pred)
  }

  /** The surviving file names of a box query — the ONE pruning rule,
   * evaluated against whichever sidecar form the layout carries: the
   * parquet sidecar via a Spark filter (only survivors reach the
   * driver), the TSV via the driver parse. A file whose stats lack a
   * requested dimension is kept (conservative); the two forms MUST
   * agree — LayoutSpec proves set-identity on a synthetic 10^5-entry
   * manifest. */
  private[graft] def pruneSet(spark: SparkSession, path: String,
                              ranges: Map[String, (Double, Double)]): Seq[String] = {
    val pq = new org.apache.hadoop.fs.Path(path, StatsPqDir)
    val fsys = pq.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsys.exists(pq)) {
      // keep = files with NO violating stats row; dims without a row
      // pass vacuously — identical semantics to the TSV fold below
      val bad = ranges.foldLeft(lit(false)) { case (acc, (c, (lo, hi))) =>
        acc || (col("dim") === lit(c) &&
          !(col("mx") >= lit(lo) && col("mn") <= lit(hi)))
      }
      spark.read.parquet(pq.toString)
        .groupBy("f").agg(max(bad.cast("int")).as("__bad"))
        .filter(col("__bad") === 0)
        .select("f").collect().map(_.getString(0)).toSeq.sorted
    } else {
      val lines = readSidecarLines(spark, path, StatsFile, "writeClustered")
      val stats = lines.map { l =>
        val Array(f, c, mn, mx) = l.split('\t')
        (f, c, mn.toDouble, mx.toDouble)
      }.groupBy(_._1)
      stats.collect {
        case (f, ss) if ranges.forall { case (c, (lo, hi)) =>
          ss.find(_._2 == c).forall(s => s._4 >= lo && s._3 <= hi)
        } => f
      }.toSeq.sorted
    }
  }

  /** tokenCache(parts)(p) = a long whose Murmur3(seed 42) hash pmods to
   * partition `p` of `parts` — the hash `repartition(parts, col)` routes
   * a long column by. Probed once per distinct `parts` on the driver
   * with the same Murmur3 routine Spark's `hash` evaluates for a long
   * (no Spark job), and cached for the JVM's lifetime (the map is keyed
   * by the pure integer `parts`, so it is session-safe). */
  private val tokenCache = new ConcurrentHashMap[Int, Array[Long]]()

  private[graft] def bijectiveTokens(parts: Int): Array[Long] =
    tokenCache.computeIfAbsent(parts, { _ =>
      val found = Array.fill[Long](parts)(-1L)
      var remaining = parts
      var id = 0L
      while (remaining > 0) {
        val p = java.lang.Math.floorMod(
          org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42), parts)
        if (found(p) < 0) { found(p) = id; remaining -= 1 }
        id += 1
      }
      found
    })

  /** Two-dimension convenience overload of [[cluster]] (defaults live on
   * the N-dim core — Scala allows default arguments on only one
   * overloaded alternative). */
  def cluster(df: DataFrame, aCol: String, bCol: String, files: Int,
              aRange: Option[(Double, Double)],
              bRange: Option[(Double, Double)],
              bits: Int): DataFrame =
    cluster(df, Seq(aCol -> aRange, bCol -> bRange), files, bits)
}
