package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Scalable exact prefix aggregation (running totals) over a total order.
 *
 * Spark plans `Window.orderBy(...)` with no partitionBy as a SINGLE
 * partition: on a 100 TB input the whole table funnels through one task
 * — the classic global-window bottleneck. The distributed-scan answer:
 *
 *  1. range-partition by the order key and sort within partitions — the
 *     ONLY full shuffle (a window partitioned by a bucket id would add
 *     a second full hash exchange here, because range partitioning does
 *     not satisfy the window's clustering requirement);
 *  2. per-partition totals via a codegen'd partial aggregate keyed by
 *     `spark_partition_id()` (`buckets` rows to the driver —
 *     loop-control scale), whose exclusive prefix sums become the
 *     per-partition offsets;
 *  3. one narrow mapPartitions pass folds each sorted partition
 *     sequentially from its offset — genuinely sequential per-row work,
 *     the legitimate mapPartitions case (same category as the winnowing
 *     rolling hash).
 *
 * For integral values the result is bit-identical to the
 * single-partition window (long addition is associative — spec-proven).
 * Null values are rejected with a clear error (a silent skip would
 * diverge from window-sum semantics without telling anyone).
 *
 * The primary consumer is token-budget shard packing ([[packShards]]):
 * assigning documents to contiguous fixed-token training shards needs
 * exactly a global running token count.
 */
object PrefixScan {

  /**
   * `df` plus `outCol` = inclusive running sum of `valueCol` in
   * `orderCol` order. The order key must be unique — with duplicate
   * keys the intra-tie order (and so the running value) is undefined,
   * in the single-partition window plan too.
   *
   * `buckets` defaults to the session's shuffle parallelism. The
   * range-partitioned sorted frame is [[Materialize]]d: range
   * partitioning SAMPLES its input to pick boundaries, so without the
   * cut the totals pass and the fold pass could see DIFFERENT
   * partition assignments and silently mis-offset. The cut is internal
   * but reachable from the result through RDD lineage —
   * [[Materialize.release]] on the returned frame (or a scoped/
   * releaseAll sweep) drops its blocks after the terminal action.
   */
  def runningTotal(df: DataFrame, orderCol: String, valueCol: String,
                   outCol: String = "running_total",
                   buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType => LT, ShortType}
    require(Set[DataType](ByteType, ShortType, IntegerType, LT)
        .contains(df.schema(valueCol).dataType),
      s"$valueCol must be integral — a floating sum is not associative, so " +
        "bucketed offsets would not reproduce the sequential total")
    require(!df.columns.contains(outCol),
      s"output column $outCol already exists on the input")
    val n =
      if (buckets > 0) buckets
      else {
        // non-numeric on some deployments (AQE modes set it to "auto") —
        // fall back to the cluster's default parallelism rather than
        // throwing NumberFormatException at the caller
        val conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        scala.util.Try(conf.trim.toInt).toOption.filter(_ > 0)
          .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
      }
    val ranged = Materialize(
      df.repartitionByRange(n, col(orderCol)).sortWithinPartitions(col(orderCol)))
    val valueIdx = ranged.schema.fieldIndex(valueCol)
    def valueOf(row: Row): Long = {
      val v = row.get(valueIdx)
      require(v != null,
        s"null in $valueCol — prefix sums over nullable values are undefined")
      v.asInstanceOf[Number].longValue()
    }
    // per-partition totals: a codegen'd partial aggregate that touches
    // ONLY the value column (the fold pass below legitimately needs full
    // rows; this pass does not — a Row-reflection sum here would reflect
    // every column of every row just to add one). Partition ids are
    // stable on the materialized cut, map-side combine reduces each
    // partition to one row before the exchange, and the collect is
    // `numParts` rows — loop-control scale. Empty range partitions emit
    // no group row, so totals fill a dense zero-initialized array. Nulls
    // are counted in the same aggregate and rejected BEFORE any offset is
    // computed (sum() would silently skip them and mis-offset).
    val numParts = ranged.rdd.getNumPartitions
    val totalRows = ranged
      .groupBy(spark_partition_id().as("pid"))
      .agg(sum(col(valueCol).cast(LongType)).as("s"),
        count(when(col(valueCol).isNull, 1)).as("nulls"))
      .collect()
    require(totalRows.forall(_.getLong(2) == 0L),
      s"null in $valueCol — prefix sums over nullable values are undefined")
    val totals = new Array[Long](numParts)
    totalRows.foreach(r => totals(r.getInt(0)) = r.getLong(1))
    val offsets = totals.scanLeft(0L)(_ + _).init // exclusive prefix
    val offsetsB = df.sparkSession.sparkContext.broadcast(offsets)
    // sequential fold per sorted partition, starting at its offset — a
    // second narrow pass over the SAME cut partitions, no exchange
    val outSchema = ranged.schema.add(outCol, LongType, nullable = false)
    val folded = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = offsetsB.value(pid)
      it.map { row =>
        acc += valueOf(row)
        Row.fromSeq(row.toSeq :+ acc)
      }
    }
    df.sparkSession.createDataFrame(folded, outSchema)
  }

  /**
   * Token-budget shard packing: assign each document (in `orderCol`
   * order) to the contiguous training shard its running token count
   * falls in — `shard = (running - own) div budget` in exact integer
   * arithmetic (a double division would drift once the running total
   * passes 2^53), i.e. a shard closes once it has accumulated `budget`
   * tokens and the next doc starts the next one. The running count
   * comes from [[runningTotal]], so the whole operator is one range
   * shuffle + narrow passes — no single-task window at any input size.
   */
  def packShards(df: DataFrame, orderCol: String, tokenCol: String,
                 budget: Long, buckets: Int = 0): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(!df.columns.contains("shard"),
      "output column shard already exists on the input")
    // `div` (exact 64-bit integer division) exists only as SQL, so the
    // column name is spliced — backticks doubled per Spark quoting so an
    // exotic name cannot break out of the identifier
    val tok = tokenCol.replace("`", "``")
    runningTotal(df, orderCol, tokenCol, "cum_tokens", buckets)
      .withColumn("shard",
        expr(s"(cum_tokens - cast(`$tok` as bigint)) div ${budget}L"))
  }

  /**
   * Materialize a [[packShards]] assignment as TRAINING SHARD FILES:
   * `shard=N` directories with exactly ONE parquet file each (a shard
   * is a data loader's unit of sequential read and of epoch-start
   * shuffling — many small files per shard defeats both), plus a
   * `_shards.tsv` manifest (shard → docs, token sum) a loader reads
   * without listing data files. One-file-per-shard holds because each
   * shard routes to its OWN write task via the bijective-token
   * discipline ([[graft.catalog.Layout]]'s routing: `repartition` and
   * `functions.hash` share Murmur3 seed 42) — a plain
   * `repartition(col("shard"))` would hash-collide shards into shared
   * tasks nondeterministically. One shuffle total; the manifest
   * aggregate is shard-cardinality.
   */
  def writeShards(packed: DataFrame, shardCol: String, orderCol: String,
                  tokenCol: String, path: String): Unit = {
    val spark = packed.sparkSession
    // cut: the packed plan (a corpus-wide running-total pass) feeds the
    // shard-id collect AND the data write — uncut it would execute twice
    val cut = Materialize(packed)
    val shards = cut.select(col(shardCol).cast("long")).distinct()
      .limit(4097)
      .collect().map(_.getLong(0)).sorted // manifest-scale loop control
    require(shards.nonEmpty, "no shards to write")
    // shards are FILES: the routing-map literal, the token probe, the
    // manifest, and the write tasks all scale with their count, and a
    // flat directory of thousands of files is itself a listing hazard —
    // fail fast at a bound the machinery comfortably survives (a 4096-
    // entry map literal and a ~256k-row probe) instead of degrading into
    // minutes of analysis on a plan-sized map; bigger exports should
    // batch by directory ranges
    require(shards.length <= 4096,
      s"${shards.length} shards — raise the budget or export in directory-range batches")
    val n = shards.length
    val toks = graft.catalog.Layout.bijectiveTokens(n)
    val route = map_from_arrays(
      array(shards.map(lit(_)): _*),
      array(shards.indices.map(i => lit(toks(i))): _*))
    cut
      .withColumn("__t", element_at(route, col(shardCol).cast("long")))
      .repartition(n, col("__t"))
      // sort by (shard, order): partitionBy requires child ordering on
      // the partition column — with orderCol alone the writer inserts
      // its OWN sort by shard on top, and a spilling re-sort breaks
      // orderCol ties arbitrarily, silently scrambling in-file doc order
      .sortWithinPartitions(col(shardCol), col(orderCol))
      .drop("__t")
      .write.mode("overwrite").partitionBy(shardCol).parquet(path)
    // manifest measured from the WRITTEN files, so it cannot disagree
    val m = spark.read.parquet(path)
      .groupBy(col(shardCol).cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(tokenCol).as("tok_sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val content = m.map { case (s, d, t) => s"$s\t$d\t$t" }.mkString("\n")
    graft.catalog.Layout.writeSidecar(spark, path, "_shards.tsv", content)
  }

  /** The shard manifest read back as (shard, n_docs, tok_sum). The
   * driver-side TSV parse is BOUNDED by [[writeShards]]' 4096-shard
   * fail-fast (a ~4k-line string), unlike the zone-map stats whose
   * file count is unbounded — which is why the zone maps carry a
   * distributed parquet sidecar form ([[graft.catalog.Layout
   * .StatsPqDir]]) and this manifest does not; if the shard guard is
   * ever raised past manifest scale, adopt that discipline here. */
  def readShardManifest(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame = {
    import spark.implicits._
    graft.catalog.Layout.readSidecarLines(spark, path, "_shards.tsv",
        "writeShards")
      .map { l =>
        val Array(s, d, t) = l.split('\t')
        (s.toLong, d.toLong, t.toLong)
      }.toDF("shard", "n_docs", "tok_sum")
  }

  /**
   * Contiguous training-context packing (the GPT-style pretraining
   * layout): documents concatenate back-to-back in `orderCol` order into
   * one token stream that is sliced into fixed `contextLen` windows —
   * documents CROSS context boundaries (the standard concat-then-slice
   * packing; next-fit whole-doc placement is [[packShards]]'s shape).
   * Emits where each document lands in that virtual stream:
   * `context_id`/`offset` (the context and in-context position of the
   * doc's first token) and `end_context_id` (the context holding its
   * last token — `> context_id` when the doc straddles), all in exact
   * integer arithmetic over ONE [[runningTotal]] pass: the stream
   * position of a doc's first token is just (running − own), so packing
   * adds zero shuffles on top of the range exchange.
   *
   * A data-parallel writer then materializes context k from exactly the
   * docs with `context_id <= k <= end_context_id` — range-partitioned by
   * context id, no doc is read twice except boundary straddlers.
   */
  def packContexts(df: DataFrame, orderCol: String, tokenCol: String,
                   contextLen: Long, buckets: Int = 0): DataFrame = {
    require(contextLen > 0, "contextLen must be positive")
    val clash = Seq("context_id", "offset", "end_context_id")
      .filter(df.columns.contains)
    require(clash.isEmpty, s"output column(s) ${clash.mkString(", ")} " +
      "already exist on the input")
    val tok = tokenCol.replace("`", "``")
    runningTotal(df, orderCol, tokenCol, "cum_tokens", buckets)
      .withColumn("__start", expr(s"cum_tokens - cast(`$tok` as bigint)"))
      .withColumn("context_id", expr(s"__start div ${contextLen}L"))
      .withColumn("offset", expr(s"__start % ${contextLen}L"))
      // empty docs occupy no token: their end context is their start
      .withColumn("end_context_id",
        expr(s"greatest(cum_tokens - 1, __start) div ${contextLen}L"))
      .drop("__start")
  }
}
