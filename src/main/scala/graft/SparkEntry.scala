package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graphs, Ivm, Joins, Multimodal, PrefixScan, QueryRunner, Sampling, Scd, Similarity, TextAnalysis, UrlFilter}

/**
 * Driver contract — one `queries` entry per operator from SURVEY.md §2
 * (plus the training-data-pipeline extensions), each with a DuckDB oracle
 * over the same parquet tables. Column names are aliased identically on
 * both sides; every query carries a total ORDER BY for deterministic
 * hashing. Float aggregates are rounded on both sides so double summation
 * order cannot flip the hash.
 */
object SparkEntry {

  /** Input-table schemas, memoized: re-reading footers to re-infer the
   * same schema on every query build (3 bench passes x 184 queries x
   * 1-4 tables) is pure planning overhead. METADATA only — rows always
   * come from the parquet scan; this is the same caching a catalog
   * table gets for free. The key is everything the inferred schema
   * depends on: the path, its modification time (a file rewritten in
   * place infers afresh) and the session's
   * `spark.sql.legacy.parquet.nanosAsLong` (TIMESTAMP(NANOS) columns
   * infer as long only under it), so sessions with different settings
   * in one JVM never share an entry. */
  private val tableSchemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String), org.apache.spark.sql.types.StructType]()

  /** Drop every memoized schema. */
  private[graft] def clearTableSchemas(): Unit = tableSchemas.clear()

  /** The schema of the parquet input at `path`, memoized. */
  private[graft] def tableSchema(s: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    val nanos = s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    tableSchemas.computeIfAbsent((path, mtime, nanos),
      _ => s.read.parquet(path).schema)
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    s.read.schema(tableSchema(s, path)).parquet(path)
  }

  /** `events.ts` has shipped as BOTH parquet TIMESTAMP(NANOS) (early
   * testdata drops — Spark's vectorized reader rejects it, so with
   * `spark.sql.legacy.parquet.nanosAsLong` it arrives as long nanos and
   * is rebuilt to a micro timestamp) and TIMESTAMP(MICROS) (current
   * drops — arrives as a timestamp directly, cast unifies NTZ/LTZ under
   * the UTC session). Dispatch on the ARRIVED type so either encoding
   * yields the same TimestampType column. Oracles CAST(ts AS TIMESTAMP)
   * to match. NOTE the nanos conf is session-global (it must be in
   * effect at scan time, which is lazy, so it cannot be
   * scoped-and-restored here) — the driver-contract mains also declare
   * it at session build so the dependency is visible, not a hidden side
   * effect. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q19_tpch_q5ish")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- core

  /** SURVEY §2.1/2.3/2.4 scans, projection, filters. */
  private val core: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_project" -> ((s, d) =>
      t(s, d, "region").select("r_regionkey", "r_name").orderBy("r_regionkey")),

    // §2.4 equality + isin + AND/OR predicate composition
    "q02_filter_isin" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_returnflag") === "A" &&
          col("l_linestatus").isin("F", "O") && col("l_quantity") > 25)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    // §2.4 string predicate through Catalyst expr() — the glue_query CLI path
    "q03_filter_expr" -> ((s, d) =>
      QueryRunner.select(t(s, d, "orders"),
          Seq("o_orderkey", "o_totalprice", "o_orderstatus"),
          "o_totalprice > 200000 AND o_orderstatus = 'O'")
        .orderBy("o_orderkey")),

    // §2.5 inner equi-join (dim side broadcast)
    "q04_join_inner" -> ((s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === "BUILDING")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")),

    // §2.5 semi-join ("to consider" pattern)
    "q05_join_semi" -> ((s, d) => {
      val big = t(s, d, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey"))
      t(s, d, "customer").join(big, Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // §2.5 anti-join ("to remain" / new-keys pattern)
    "q06_join_anti" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // §2.8 unionByName with ragged schemas (allowMissingColumns)
    "q07_union_by_name" -> ((s, d) => {
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"))
      val b = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_orderpriority"))
      a.unionByName(b, allowMissingColumns = true).orderBy("o_orderkey")
    }),

    // §2.6 distinct
    "q08_distinct" -> ((s, d) =>
      t(s, d, "customer").select("c_nationkey", "c_mktsegment").distinct()
        .orderBy("c_nationkey", "c_mktsegment")),

    // §2.7 window argmin — first event per key (the new-record seed pattern)
    "q09_window_argmin" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type", "ts")
        .orderBy("user_id")
    }),

    // §2.8 sort + limit (top-k)
    "q11_sort_limit" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .limit(10)),

    // §2.8 row sampling — content-keyed deterministic Bernoulli (the
    // portable form of df.sample; native df.sample is covered in
    // SamplingSpec since its RNG is engine-private)
    "q12_sample" -> ((s, d) =>
      Sampling.hashSample(t(s, d, "lineitem"), "l_orderkey",
          fraction = 0.1, seed = 42L)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    // stratified content-keyed sampling: per-stratum md5 thresholds in one
    // narrow scan (portable twin of df.stat.sampleBy)
    "q35_stratified_sample" -> ((s, d) =>
      Sampling.hashSampleBy(t(s, d, "lineitem"), "l_returnflag", "l_orderkey",
          Map("A" -> 0.05, "N" -> 0.2, "R" -> 1.0))
        .select("l_orderkey", "l_linenumber", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")),

    // TPC-H Q14 shape: promo revenue share for one ship month — date
    // filter pushed to the fact scan, part dim broadcast, one scalar
    "q36_tpch_q14ish" -> ((s, d) => {
      val l = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= "1995-09-01" && col("l_shipdate") < "1995-10-01")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0.0))) /
          sum(rev), 4).as("promo_share"))
    }),

    // decontamination: corpus docs near-duplicate of a (small) probe set
    // — the benchmark-contamination check; the probe vocabulary broadcasts
    // and the corpus is scanned once
    "d08_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.crossJaccardPairs(docs,
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 1, threshold = 0.5)
        .orderBy("doc", "probe_id")
    }),

    // end-to-end dedup: the KEEP SET — every doc minus non-canonical
    // near-dup cluster members (d06's components; canonical = min id).
    // One anti-join against the (tiny) non-canonical label set
    "d07_dedup_keep" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val labels = Dedup.clusters(
        Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.95),
        "doc_a", "doc_b")
      val drop = labels.filter(col("doc") =!= col("cluster")).select(col("doc"))
      docs.join(drop, docs("doc_id") === drop("doc"), "left_anti")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // the fused pairs -> clusters -> keep pipeline: same keep set as d07
    // but ALL THREE dedup stages share one pair-graph computation
    // (dedupPipeline cuts the verified pairs once) — oracle-gates the
    // fusion end-to-end against the same recursive-CTE cluster walk
    "d09_dedup_pipeline" -> ((s, d) =>
      Dedup.dedupPipeline(t(s, d, "documents"), "doc_id", "text",
          n = 1, threshold = 0.95)
        .keep.select(col("doc_id")).orderBy("doc_id")),

    // §2.9 mapper as pure expressions: image pick, casts, json field, split
    "q13_cdc_mapper" -> ((s, d) =>
      events(s, d).select(
          col("event_id"),
          col("user_id"),
          col("ts").cast("date").as("event_date"),
          upper(col("event_type")).as("op"),
          get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
          round(col("value"), 2).as("val"))
        .orderBy("event_id")),

    // §2.9 CDC apply, last-event-wins: latest event per key decides the row
    "q14_cdc_apply_last" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"))
        .orderBy("user_id")
    }),

    // §3.2 domain-definition SQL shape: multi-join + string concat label
    "q15_domain_sql" -> ((s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"),
          concat(col("c_name"), lit(" ["), col("n_name"), lit("]"))
            .as("customer_label"),
          col("r_name").as("region"))
        .orderBy("c_custkey")),

    // §2.7 window frame: running revenue per customer
    "q16_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .withColumn("running_spend", round(sum(col("o_totalprice")).over(w), 2))
        .select("o_custkey", "o_orderkey", "o_orderdate", "running_spend")
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    // skew-salted equi-join: result is exactly the plain join (the salt
    // only spreads hot keys across reducers), so the oracle is the
    // unsalted SQL join
    "q21_salted_join" -> ((s, d) => {
      val joined = Joins.saltedEquiJoin(
        t(s, d, "lineitem"),
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        "l_orderkey", "o_orderkey", salt = 4)
      joined.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // §2.6 grouped agg + having (exact-dedup shape)
    "q20_groupby_having" -> ((s, d) =>
      t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("spend"))
        .filter(col("n_orders") >= 12)
        .orderBy("o_custkey")),

    // TPC-H Q13 shape: left join + two-level aggregation (distribution)
    "q22_cust_order_dist" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
      t(s, d, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q2 shape: per-group argmin with deterministic tie-break
    "q23_part_min_supp" -> ((s, d) => {
      val p = t(s, d, "part").filter(col("p_size") < 10)
      val w = Window.partitionBy(col("p_partkey"))
        .orderBy(col("l_extendedprice").asc, col("l_suppkey").asc)
      t(s, d, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("p_partkey"), col("l_suppkey").as("best_suppkey"),
          round(col("l_extendedprice"), 2).as("min_price"))
        .orderBy("p_partkey")
    }),

    // ntile ranking partitioned by nation (keyed windows, no global
    // single-partition sort — the shape that survives 100 TB)
    "q24_acctbal_quartiles" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, d, "customer")
        .withColumn("quartile", ntile(4).over(w))
        .groupBy(col("c_nationkey"), col("quartile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("c_acctbal")), 2).as("lo"),
          round(max(col("c_acctbal")), 2).as("hi"))
        .orderBy("c_nationkey", "quartile")
    }),

    // ROLLUP grouping sets (subtotal rows carry NULL group keys)
    "q25_rollup" -> ((s, d) =>
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // distinct + conditional aggregates in one pass
    "q26_distinct_agg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          round(sum(when(col("l_discount") > 0.05, col("l_extendedprice"))
            .otherwise(lit(0.0))), 2).as("disc_rev"))
        .orderBy("l_returnflag")),

    // pivot: priorities to columns (oracle reproduces via CASE aggregates)
    "q27_pivot" -> ((s, d) =>
      t(s, d, "orders").groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))
        .agg(round(sum(col("o_totalprice")), 2))
        .orderBy("o_orderstatus")),

    // GROUPING SETS with grouping_id disambiguation — the generalized
    // rollup/cube surface (q25 covers plain ROLLUP)
    "q37_grouping_sets" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
                      CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
                      round(sum(o_totalprice), 2) AS total
               FROM orders_gs
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
               ORDER BY gid, o_orderstatus, o_orderpriority""")
    }),

    // RANGE window frame over event time: per-user moving event count in
    // the trailing 30 minutes — a range-mode frame (physical window frame
    // by VALUE distance, not row count)
    "q38_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"))
        .rangeBetween(-1800L, Window.currentRow)
      events(s, d)
        .withColumn("ts_sec", col("ts").cast("long"))
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          count(lit(1)).over(w).as("n_trailing"))
        .orderBy("event_id")
    }),

    // set operators INTERSECT/EXCEPT (distinct semantics on both engines):
    // customers with an urgent order who also ordered high-priority, minus
    // big spenders — three shuffles on the same key, AQE coalesces
    "q33_intersect_except" -> ((s, d) => {
      val o = t(s, d, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val high = o.filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_custkey"))
      val big = o.filter(col("o_totalprice") > 400000).select(col("o_custkey"))
      urgent.intersect(high).except(big).orderBy("o_custkey")
    }),

    // lead/lag analytics over each customer's order history: previous
    // order's price and days until the next order — one window shuffle
    "q34_lead_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
          datediff(lead(col("o_orderdate"), 1).over(w), col("o_orderdate"))
            .as("days_to_next"))
        .orderBy("o_orderkey")
    }),

    // batch sessionization: lag-gap detection + cumulative session ids
    // (the batch twin of the streaming flatMapGroupsWithState sessionizer)
    "q32_sessionize_batch" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        // whole-second epoch difference on BOTH sides (the oracle floors
        // epoch() the same way; DuckDB's epoch is fractional, Spark's
        // cast-to-long truncates — mixing them flips gaps near 1800s)
        .withColumn("gap",
          when(col("ts").cast("long") -
            lag(col("ts"), 1).over(byUser).cast("long") > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("gap")).over(cum))
        .groupBy(col("user_id"))
        .agg((max(col("session_id")) + 1).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // band (range) join: error-click pairs of the same user within 5
    // minutes, via tolerance-wide time buckets (equi-join, no nested loop)
    "q31_band_join" -> ((s, d) => {
      val ev = events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"), col("ts").as("err_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      Joins.bandJoin(errors, clicks, "user_id", "err_ts", "click_ts",
          toleranceSec = 1800)
        .select("user_id", "err_id", "click_id")
        .orderBy("err_id", "click_id")
    }),

    // as-of join: for each error event, the latest click of the same user
    // at or before it (union + forward-fill window — no range join)
    "q30_asof_join" -> ((s, d) => {
      val ev = events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id")) // unique (key, time)
      Joins.asOfJoin(errors, clicks, "user_id", "ts", "ts",
          rightCols = Seq("click_id"), matchedTimeCol = "click_ts")
        .select("user_id", "err_id", "click_id", "click_ts")
        .orderBy("err_id")
    }),

    // exact interpolated percentiles per group (full-sort-per-group exact
    // form; the approximate sketch form lives in Sketches + its spec)
    "q29_percentile" -> ((s, d) =>
      t(s, d, "orders").groupBy(col("o_orderstatus"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 2).as("med"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"))
        .orderBy("o_orderstatus")),

    // correlated scalar subquery through the Catalyst SQL frontend (the
    // engine's SQL surface is spark.sql over registered views, exactly
    // how domain Resolution SQL runs)
    "q28_sql_correlated" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""SELECT c_custkey, round(spend, 2) AS spend FROM (
                 SELECT c_custkey,
                        (SELECT sum(o_totalprice) FROM orders_v o
                         WHERE o.o_custkey = c.c_custkey) AS spend
                 FROM customer_v c) t
               WHERE spend > 400000 ORDER BY c_custkey""")
    }))

  private val coreSql: Map[String, String] = Map(
    "q01_scan_project" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q37_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                     AS INTEGER) AS gid,
                round(sum(o_totalprice), 2) AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY gid, o_orderstatus, o_orderpriority""",
    "q38_range_frame" ->
      """WITH ev AS (SELECT user_id, event_id,
                            CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_sec
                     FROM events)
         SELECT user_id, event_id, ts_sec,
                count(*) OVER (PARTITION BY user_id ORDER BY ts_sec
                  RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW) AS n_trailing
         FROM ev ORDER BY event_id""",
    "q33_intersect_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_totalprice > 400000
         ORDER BY o_custkey""",
    "q34_lead_lag" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
                round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
                CAST(date_diff('day', o_orderdate,
                     lead(o_orderdate, 1) OVER w) AS INTEGER) AS days_to_next
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC)
         ORDER BY o_orderkey""",
    "q02_filter_isin" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
         WHERE l_returnflag = 'A' AND l_linestatus IN ('F','O') AND l_quantity > 25
         ORDER BY l_orderkey, l_linenumber""",
    "q03_filter_expr" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
         WHERE o_totalprice > 200000 AND o_orderstatus = 'O' ORDER BY o_orderkey""",
    "q04_join_inner" ->
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' ORDER BY o_orderkey""",
    "q05_join_semi" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 300000)
         ORDER BY c_custkey""",
    "q06_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q07_union_by_name" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
         FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority
         FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_orderkey""",
    "q08_distinct" ->
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
         ORDER BY c_nationkey, c_mktsegment""",
    "q09_window_argmin" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
         SELECT user_id, event_id, event_type, ts FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                     ORDER BY ts ASC, event_id ASC) AS rn FROM ev) x
         WHERE rn = 1 ORDER BY user_id""",
    "q11_sort_limit" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q12_sample" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE substring(md5(l_orderkey::VARCHAR || ':42'), 1, 4) < '1999'
         ORDER BY l_orderkey, l_linenumber""",
    "q35_stratified_sample" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
         WHERE substring(md5(l_orderkey::VARCHAR || ':42'), 1, 4) <
               CASE l_returnflag WHEN 'A' THEN '0ccc' WHEN 'N' THEN '3333'
                                 WHEN 'R' THEN 'zzzz' ELSE '0000' END
         ORDER BY l_orderkey, l_linenumber""",
    "q36_tpch_q14ish" ->
      """SELECT round(100.0 *
                sum(CASE WHEN p_type LIKE 'PROMO%'
                         THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
                sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= '1995-09-01' AND l_shipdate < '1995-10-01'""",
    "q13_cdc_mapper" ->
      """SELECT event_id, user_id, CAST(ts AS DATE) AS event_date,
                upper(event_type) AS op,
                CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
                round(value, 2) AS val
         FROM events ORDER BY event_id""",
    "q14_cdc_apply_last" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY ts DESC, event_id DESC) AS rn FROM events) x
         WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""",
    "q15_domain_sql" ->
      """SELECT c_custkey, c_name || ' [' || n_name || ']' AS customer_label,
                r_name AS region
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         ORDER BY c_custkey""",
    "q16_window_running" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
                round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running_spend
         FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""",
    "q20_groupby_having" ->
      """SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
         FROM orders GROUP BY o_custkey HAVING count(*) >= 12 ORDER BY o_custkey""",
    "q21_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
                round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q22_cust_order_dist" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey) t
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q23_part_min_supp" ->
      """SELECT p_partkey, l_suppkey AS best_suppkey,
                round(l_extendedprice, 2) AS min_price
         FROM (SELECT p_partkey, l_suppkey, l_extendedprice,
                      ROW_NUMBER() OVER (PARTITION BY p_partkey
                        ORDER BY l_extendedprice ASC, l_suppkey ASC) AS rn
               FROM lineitem JOIN part ON l_partkey = p_partkey
               WHERE p_size < 10) t
         WHERE rn = 1 ORDER BY p_partkey""",
    "q24_acctbal_quartiles" ->
      """SELECT c_nationkey, quartile, count(*) AS n,
                round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
         FROM (SELECT c_nationkey, c_acctbal,
                      NTILE(4) OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
               FROM customer) t
         GROUP BY c_nationkey, quartile ORDER BY c_nationkey, quartile""",
    "q25_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q26_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
                round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice
                               ELSE 0 END), 2) AS disc_rev
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q27_pivot" ->
      """SELECT o_orderstatus,
                round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                               THEN o_totalprice END), 2) AS "1-URGENT",
                round(sum(CASE WHEN o_orderpriority = '2-HIGH'
                               THEN o_totalprice END), 2) AS "2-HIGH",
                round(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
                               THEN o_totalprice END), 2) AS "3-MEDIUM"
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q30_asof_join" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
         e AS (SELECT user_id, event_id AS err_id, ts FROM ev
               WHERE event_type = 'error'),
         c AS (SELECT user_id, ts, max(event_id) AS click_id FROM ev
               WHERE event_type = 'click' GROUP BY user_id, ts)
         SELECT e.user_id, e.err_id, c.click_id, c.ts AS click_ts
         FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts
         ORDER BY err_id""",
    "q32_sessionize_batch" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
         g AS (SELECT user_id, event_id, ts,
                      CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts, 1) OVER
                        (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))) AS BIGINT) > 1800
                      THEN 1 ELSE 0 END AS gap FROM ev),
         s AS (SELECT user_id,
                      sum(gap) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
               FROM g)
         SELECT user_id, CAST(max(session_id) + 1 AS BIGINT) AS n_sessions,
                count(*) AS n_events
         FROM s GROUP BY user_id ORDER BY user_id""",
    "q31_band_join" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
         e AS (SELECT user_id, event_id AS err_id, ts AS err_ts FROM ev
               WHERE event_type = 'error'),
         c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM ev
               WHERE event_type = 'click')
         SELECT e.user_id, e.err_id, c.click_id
         FROM e JOIN c ON e.user_id = c.user_id
           AND abs(epoch(e.err_ts) - epoch(c.click_ts)) <= 1800
         ORDER BY err_id, click_id""",
    "q29_percentile" ->
      """SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 2) AS med,
                round(quantile_cont(o_totalprice, 0.9), 2) AS p90
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q28_sql_correlated" ->
      """SELECT c_custkey, round(spend, 2) AS spend FROM (
           SELECT c_custkey,
                  (SELECT sum(o_totalprice) FROM orders o
                   WHERE o.o_custkey = c.c_custkey) AS spend
           FROM customer c) t
         WHERE spend > 400000 ORDER BY c_custkey""")

  // ------------------------------------------------------------- headline

  private def revenue: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))

  private val headline: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape — the canonical wide aggregation
    "q10_tpch_q1" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(revenue), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 2).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // TPC-H Q6 shape — pure pushdown filter + scalar aggregate
    "q17_tpch_q6" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"))),

    // TPC-H Q3 shape — segment top-k unshipped revenue
    "q18_tpch_q3ish" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01 00:00:00")))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(revenue), 2).as("rev"))
        .orderBy(col("rev").desc, col("o_orderkey").asc)
        .limit(10)),

    // TPC-H Q5 shape — 6-table star join, revenue per nation
    "q19_tpch_q5ish" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name").isin("ASIA", "EUROPE"))
        .groupBy(col("n_name"))
        .agg(round(sum(revenue), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)))

  private val headlineSql: Map[String, String] = Map(
    "q10_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                round(avg(l_quantity), 2) AS avg_qty,
                round(avg(l_discount), 4) AS avg_disc,
                count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q17_tpch_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q18_tpch_q3ish" ->
      """SELECT o_orderkey, o_orderdate,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY rev DESC, o_orderkey ASC LIMIT 10""",
    "q19_tpch_q5ish" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                       JOIN customer ON o_custkey = c_custkey
                       JOIN supplier ON l_suppkey = s_suppkey
                                    AND c_nationkey = s_nationkey
                       JOIN nation ON s_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         WHERE r_name IN ('ASIA', 'EUROPE')
         GROUP BY n_name ORDER BY revenue DESC, n_name ASC""")

  // --------------------------------------------- training-data pipeline

  private val pipeline: Map[String, (SparkSession, String) => DataFrame] = Map(
    // text features (language ID, quality, tokens, fingerprint)
    "t01_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    "t02_quality_score" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality_bp"))
        .orderBy("doc_id")),

    "t03_token_count" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.regexTokenCount(col("text")).as("n_tokens_bpe"))
        .orderBy("doc_id")),

    "t04_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // TF-IDF top-5 terms per doc: explode + two hash-aggregates + one
    // window; score rounded BEFORE ranking so oracle ln() ulps can't
    // flip the order
    "t06_tfidf" -> ((s, d) =>
      TextAnalysis.tfIdfTopK(t(s, d, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc", "rank")),

    // perplexity-style corpus quality filter with only integer counting:
    // mean corpus document frequency of each doc's distinct char
    // trigrams (one rounded division per doc — oracle replays exactly)
    "t07_trigram_familiarity" -> ((s, d) =>
      TextAnalysis.trigramFamiliarity(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Gopher-style repetition filters: per-doc word 2-/3-gram repeat
    // fractions as pure narrow expressions (no shuffle, no join)
    "t08_repetition" -> ((s, d) =>
      TextAnalysis.repetitionRatios(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // PII detect + redact over documents deterministically enriched with
    // synthetic PII (the corpus text itself is clean word soup): emails,
    // phones, IPv4/IPv6 planted by doc_id arithmetic so the oracle
    // builds the identical input, then counts + redaction verify the
    // patterns end-to-end
    "t09_pii" -> ((s, d) => {
      val enriched = t(s, d, "documents").select(col("doc_id"), concat(
          col("text"),
          when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, concat(lit(" call +44 20 "),
            format_string("%04d", col("doc_id") % 10000), lit(" 0141"))).otherwise(lit("")),
          when(col("doc_id") % 13 === 0, concat(lit(" from 10.0."),
            (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 7) % 256).cast("string"))).otherwise(lit("")),
          when(col("doc_id") % 17 === 0, concat(lit(" via 2001:db8:0:0:0:0:0:"),
            (col("doc_id") % 9999).cast("string"))).otherwise(lit("")),
          // separator-grouped national form — exercises the phone
          // pattern's second alternation branch (no leading '+')
          when(col("doc_id") % 19 === 0,
            lit(" dial 0207-946-0958 soon")).otherwise(lit(""))
        ).as("text"))
      TextAnalysis.withPiiCounts(enriched, "text")
        .withColumn("redacted", TextAnalysis.redactPii(col("text")))
        .select(col("doc_id"), col("n_email"), col("n_ipv6"), col("n_ipv4"),
          col("n_phone"), col("redacted"))
        .orderBy("doc_id")
    }),

    // the Gopher-style quality gate: one conjunctive keep decision over
    // quality score, repetition ratios, and corpus trigram familiarity
    "t11_quality_gate" -> ((s, d) =>
      TextAnalysis.qualityGate(t(s, d, "documents"), "doc_id", "text",
          minQualityBp = 5500, maxRep2 = 0.05, maxRep3 = 0.05,
          minFamiliarity = 300.0)
        .orderBy("doc_id")),

    // Luhn-validated card detection: candidates planted by doc_id
    // arithmetic (two valid, two checksum-invalid forms) — the count is
    // of candidates PASSING the mod-10 checksum, computed in pure
    // higher-order integer expressions both engines replay exactly
    "t10_pii_cards" -> ((s, d) => {
      val enriched = t(s, d, "documents").select(col("doc_id"), concat(
          col("text"),
          when(col("doc_id") % 9 === 0,
            lit(" pay 4111 1111 1111 1111 now")).otherwise(lit("")),
          when(col("doc_id") % 10 === 3,
            lit(" ref 1234 5678 9012 3456 x")).otherwise(lit("")),
          when(col("doc_id") % 11 === 5,
            lit(" amex 378282246310005 ok")).otherwise(lit("")),
          when(col("doc_id") % 13 === 7,
            lit(" card 4111-1111-1111-1112 bad")).otherwise(lit(""))
        ).as("text"))
      enriched.select(col("doc_id"),
          TextAnalysis.luhnCardCount(col("text")).as("n_card"))
        .orderBy("doc_id")
    }),

    // URL/domain filter: hosts synthesized from doc_id, blocklist
    // dropped via broadcast anti-join, greylist host downsampled with
    // the content-keyed hashSampleBy filter
    "q40_url_filter" -> ((s, d) => {
      val urls = t(s, d, "documents").select(col("doc_id"), concat(lit("https://"),
          element_at(array(lit("spam.tracker.example"), lit("ads.adnetwork.example"),
            lit("en.wikipedia.org"), lit("github.com"), lit("docs.python.org")),
            (col("doc_id") % 5 + 1).cast("int")),
          lit("/page/"), col("doc_id").cast("string")).as("url"))
      UrlFilter.filterByDomain(urls, "url",
          blocklist = Seq("spam.tracker.example", "ads.adnetwork.example"),
          greylist = Map("en.wikipedia.org" -> 0.5))
        .select(col("doc_id"), col("host"))
        .orderBy("doc_id")
    }),

    // token-budget shard packing over a SCALABLE prefix scan (sorted
    // range buckets folded sequentially per partition from broadcast
    // offsets — one shuffle, no single-task global window at any input
    // size); the oracle's plain windowed cumsum checks bit-exactness
    "q39_shard_pack" -> ((s, d) =>
      PrefixScan.packShards(
          t(s, d, "documents").select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", budget = 1000)
        .orderBy("doc_id")),

    // shard EXPORT: the q39 packing materialized as shard=N dirs (one
    // file each, bijective-token routing) plus a _shards.tsv manifest
    // measured from the written files — the output is the manifest read
    // back, so the oracle (the packing grouped by shard) checks the
    // whole write-then-read round trip
    "q54_shard_export" -> ((s, d) => {
      val packed = PrefixScan.packShards(
        t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 20000)
      val work = java.nio.file.Files.createTempDirectory("graft-q54").toString
      PrefixScan.writeShards(packed, "shard", "doc_id", "n_tokens",
        s"$work/shards")
      PrefixScan.readShardManifest(s, s"$work/shards").orderBy("shard")
    }),

    // rolling-hash winnowing fingerprints (MOSS): k-gram hashes, window
    // minima, distinct per doc (typed fast form; expression form proven
    // equal in PipelineSpec)
    "t05_winnow" -> ((s, d) =>
      TextAnalysis.winnowFingerprintsFast(t(s, d, "documents"), "doc_id", "text",
          k = 8, w = 4)
        .orderBy("doc_id", "fingerprint")),

    // dedup family
    "d01_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")
        .orderBy("fingerprint")),

    "d02_dedup_minhash" -> ((s, d) =>
      Dedup.minHashLshPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 1.0)
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")),

    // oracle-portable simhash (md5-nibble bits, chunk-banded candidates)
    "d03_dedup_simhash" -> ((s, d) =>
      Dedup.simHashPairsPortable(t(s, d, "documents"), "doc_id", "text", maxHamming = 3)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")),

    "d04_ngram_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text",
          n = 1, threshold = 0.95)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("doc_a", "doc_b")),

    // duplicate-cluster resolution: connected components over the jaccard
    // near-dup graph (hash-min label propagation; oracle walks the same
    // edges with a recursive CTE) — the keep-one-per-CLUSTER answer that
    // pairwise keep-min policies get wrong on non-transitive chains.
    // Same 0.95 graph as d04: cluster cost is then proportional to the
    // true near-dup set, and lowering the threshold only densifies the
    // pair stage, not the propagation.
    "d06_dedup_clusters" -> ((s, d) =>
      Dedup.clusters(
          Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text",
            n = 1, threshold = 0.95),
          "doc_a", "doc_b")
        .orderBy("doc")),

    // sign-bit LSH buckets + Hamming<=1 probing — the 100TB-shaped plan;
    // the bucket predicate is part of the contract and the oracle
    // reproduces it exactly
    "d05_embedding_neardup" -> ((s, d) =>
      Similarity.signCosinePairs(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.45, planes = 6)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy("id_a", "id_b")),

    // deterministic contrastive negative sampling: each anchor draws k
    // pseudo-random corpus keys via a dense shuffle-order index and a
    // 60-bit md5 pick, self-collisions dropped from a buffered draw —
    // the oracle replays the index, both hashes, and the keep rule
    "q58_negative_samples" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Sampling.negativeSamples(emb, emb.filter(col("vec_id") < 50),
          "vec_id", k = 5)
        .orderBy("anchor_id", "neg_rank")
    }),

    // cross-corpus SEMANTIC decontamination: corpus rows within cosine
    // 0.95 of ANY benchmark vector drop — the benchmark holds exact
    // copies (% 41) and SCALED copies (% 43, x1.1 in double space;
    // cosine ~1 but byte- and n-gram-distinct, exactly what the exact/
    // bloom checks d08/d16 miss); one broadcast anti-join, corpus
    // scanned once
    "d22_semantic_decontaminate" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val bench = emb.filter(col("vec_id") % 41 === 0)
        .select(col("embedding").cast("array<double>").as("embedding"))
        .unionByName(emb.filter(col("vec_id") % 43 === 0)
          .select(transform(col("embedding").cast("array<double>"),
            x => x * lit(1.1)).as("embedding")))
      Similarity.semanticDecontaminate(
          emb.select("vec_id", "label", "embedding"), bench,
          "embedding", threshold = 0.95)
        .select("vec_id", "label")
        .orderBy("vec_id")
    }),

    // benchmark-SCALE decontamination: same contamination sweep, but the
    // bench never broadcasts — both sides sketch to 8 sign bits, the
    // corpus pre-filters map-side against the tiny probe-bucket set, and
    // only colliding candidates (bucket Hamming <= 1) pay the exact
    // cosine; the candidate predicate is part of the contract and the
    // oracle replays it bit for bit
    "d23_decontaminate_scaled" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val bench = emb.filter(col("vec_id") % 41 === 0)
        .select(col("embedding").cast("array<double>").as("embedding"))
        .unionByName(emb.filter(col("vec_id") % 43 === 0)
          .select(transform(col("embedding").cast("array<double>"),
            x => x * lit(1.1)).as("embedding")))
      Similarity.semanticDecontaminateScaled(
          emb.select("vec_id", "label", "embedding"), bench,
          "vec_id", "embedding", threshold = 0.95, planes = 8)
        .select("vec_id", "label")
        .orderBy("vec_id")
    }),

    // corpus-overlap audit by theta-sketch set algebra: per group the
    // two corpus slices fold to one sketch each and |A|/|B|/|A∩B|/
    // |A\B|/|B\A| read off the pair without a join; group sizes stay
    // under 2^lgK, so the estimates are EXACT and the oracle is the
    // plain exact set arithmetic
    "d24_corpus_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.filter(col("doc_id") % 3 =!= 0)
        .select((col("doc_id") % 5).as("g"), col("doc_id").as("v"))
      val b = docs.filter(col("doc_id") % 2 =!= 0)
        .select((col("doc_id") % 5).as("g"), col("doc_id").as("v"))
      Similarity.corpusOverlapSketch(a, b, col("g"), col("v"))
        .select(col("grp"),
          round(col("est_a")).cast("long").as("n_a"),
          round(col("est_b")).cast("long").as("n_b"),
          round(col("est_overlap")).cast("long").as("n_overlap"),
          round(col("est_a_only")).cast("long").as("n_a_only"),
          round(col("est_b_only")).cast("long").as("n_b_only"))
        .orderBy("grp")
    }),

    // similarity search
    "s01_ann_brute_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy("query_id", "rank")
    }),

    // incremental IVF index maintenance: the index built on the OLD
    // corpus folds an I/U/D vector changelog (deletes, re-embedded
    // updates, inserts) against PINNED centroids; searching the
    // maintained index must equal the s03-style search over an index
    // rebuilt from scratch on the NEW corpus — which is exactly what
    // the oracle computes
    "s15_ann_incremental" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val oldC = emb.filter(col("vec_id") % 17 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val newC = emb.filter(col("vec_id") % 13 =!= 0)
        .select(col("vec_id"),
          when(col("vec_id") % 7 === 0, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))
      val cents = Similarity.defaultCentroids(oldC, "vec_id", "embedding", 16)
      val base = Similarity.assignCellsFor(oldC, "vec_id", "embedding", cents)
      val changes = Scd.snapshotDiff(oldC, newC, Seq("vec_id"))
      val idx = Similarity.applyIndexDelta(base, changes, "vec_id",
        "embedding", cents)
      Similarity.ivfTopKFromIndex(idx, newC.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, probes = 4, cents)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")
    }),

    // the ANN index PERSISTED and SERVED from the store: vectors + the
    // cell-bucketed index move through one registry commit (the index
    // commit scoped to the touched cells' buckets), then the query
    // batch point-looks-up ONLY its probed cells' buckets — the t28
    // served-retrieval discipline for vectors. Same rebuild oracle as
    // s15: the served answer must not drift from the in-memory one.
    "s16_ann_served" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val emb = t(s, d, "embeddings")
      val oldC = emb.filter(col("vec_id") % 17 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val newC = emb.filter(col("vec_id") % 13 =!= 0)
        .select(col("vec_id"),
          when(col("vec_id") % 7 === 0, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))
      val cents = Similarity.defaultCentroids(oldC, "vec_id", "embedding", 16)
      val cat = new InMemoryCatalog
      val store = new MergeSnapshotStore(s, cat, nBuckets = 16)
      val work = java.nio.file.Files.createTempDirectory("graft-s16").toString
      cat.register(TableMeta("s16", "vecs", s"$work/vecs",
        primaryKey = Seq("vec_id")))
      cat.register(Similarity.ivfIndexMeta("s16", "vecs_cells",
        s"$work/vecs_cells"))
      val m = new Ivm.MaintainedAggregates(store, "s16", "vecs",
        Seq(Similarity.ivfIndexSpec("vecs_cells", "vec_id", "embedding",
          cents)))
      m.seed(oldC)
      m.commit(Scd.snapshotDiff(store.read("s16", "vecs"), newC,
        Seq("vec_id")))
      Similarity.ivfTopKFromStore(store, "s16", "vecs_cells",
          newC.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, probes = 4, cents)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")
    }),

    // s16's ATTRIBUTION control: the IDENTICAL fixture build (seed +
    // maintained-index changelog commit into the store) with a cheap
    // aggregate read of the committed cell state instead of the serve
    // batch — so each bench round's serve cost is attributable as
    // s16 − s17 (the build wall-time cancels), and a bounce in s16
    // splits into "fixture build moved" vs "serving moved" by data.
    // The oracle rebuilds the same post-changelog cell assignment
    "s17_ann_index_build" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val emb = t(s, d, "embeddings")
      val oldC = emb.filter(col("vec_id") % 17 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val newC = emb.filter(col("vec_id") % 13 =!= 0)
        .select(col("vec_id"),
          when(col("vec_id") % 7 === 0, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))
      val cents = Similarity.defaultCentroids(oldC, "vec_id", "embedding", 16)
      val cat = new InMemoryCatalog
      val store = new MergeSnapshotStore(s, cat, nBuckets = 16)
      val work = java.nio.file.Files.createTempDirectory("graft-s17").toString
      cat.register(TableMeta("s17", "vecs", s"$work/vecs",
        primaryKey = Seq("vec_id")))
      cat.register(Similarity.ivfIndexMeta("s17", "vecs_cells",
        s"$work/vecs_cells"))
      val m = new Ivm.MaintainedAggregates(store, "s17", "vecs",
        Seq(Similarity.ivfIndexSpec("vecs_cells", "vec_id", "embedding",
          cents)))
      m.seed(oldC)
      m.commit(Scd.snapshotDiff(store.read("s17", "vecs"), newC,
        Seq("vec_id")))
      store.read("s17", "vecs_cells")
        .groupBy("cell").agg(count(lit(1)).as("n_members"),
          min("vec_id").as("lo"), max("vec_id").as("hi"))
        .orderBy("cell")
    }),

    // filtered (key-partitioned) ANN: each query's top-k restricted to
    // corpus vectors sharing its label — candidate-space filtering, not
    // top-k post-filtering, so the k-of-eligible contract holds even
    // when a query's global neighbors all carry other labels
    "s14_ann_filtered_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.keyedTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", "label", k = 10)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ: probe the query's 4 nearest cells, ADC-score only their
    // members from the m-byte codes — the production ANN composition,
    // with both quantizers on their deterministic oracle-replayable seams
    "s07_ann_ivfpq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, dim = 64, nCells = 16, probes = 4,
          m = 8, codes = 16)
        .orderBy("query_id", "rank")
    }),

    // the TRAINED composition: one bit-deterministic Lloyd's round for
    // BOTH quantizers (rounded assignment scores, integer-micro means —
    // long sums commute, so partitioning cannot move a centroid), then
    // the identical IVF-PQ pipeline. The oracle replays the training
    // round itself, not just the search — the end-to-end gate on the
    // trained path
    "s08_ann_trained_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cent = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        nCells = 16, iters = 1)
      val books = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, codes = 16, iters = 1)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, dim = 64, nCells = 16, probes = 4,
          m = 8, codes = 16, centroids = Some(cent), codebooks = Some(books))
        .orderBy("query_id", "rank")
    }),

    // product-quantization ADC: corpus as m=8 one-byte codes per vector,
    // queries rank candidates by summed codebook-table lookups without
    // decompressing anything — the deterministic-codebook form, replayed
    // exactly by the oracle
    "s06_ann_pq_adc_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqAdcTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, dim = 64, m = 8, codes = 16)
        .orderBy("query_id", "rank")
    }),

    // search over the COMPRESSED corpus: int8-quantize, reconstruct, then
    // exact top-k on the reconstructed vectors — the end-to-end check
    // that the 4x-smaller representation still ranks neighbors usefully.
    // Quantized values make cosine near-ties denser, so the rank runs on
    // the ROUNDED cosine (both sides) — a last-ulp engine difference
    // cannot flip the rank-10 boundary
    "s05_ann_quantized_topk" -> ((s, d) => {
      val deq = Similarity.quantize(t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          Similarity.dequantize(col("codes"), col("scale")).as("embedding"))
      val all = Similarity.bruteForceTopK(deq, deq.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = Int.MaxValue)
        .withColumn("cos", round(col("cos"), 4))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      all.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("query_id", "rank", "neighbor_id", "cos")
        .orderBy("query_id", "rank")
    }),

    // multimodal: opaque binary payloads with typed metadata. The corpus
    // has no real blobs, so payloads are synthesized (magic + text bytes)
    // and every operator below runs on true BinaryType columns.
    "m01_media_meta" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          Multimodal.syntheticPayload(col("doc_id"), col("text")).as("bin"))
        .select(col("doc_id"),
          Multimodal.sniffFormat(col("bin")).as("format"),
          Multimodal.byteLength(col("bin")).as("n_bytes"),
          Multimodal.fingerprint(col("bin")).as("fingerprint"))
        .orderBy("doc_id")),

    "m02_media_dedup" -> ((s, d) =>
      Multimodal.binaryDedup(
          t(s, d, "documents").select(col("doc_id"),
            Multimodal.syntheticPayload(col("doc_id"), col("text")).as("bin")),
          "doc_id", "bin")
        .orderBy("fingerprint")),

    "m03_media_chunks" -> ((s, d) =>
      Multimodal.chunkFingerprints(t(s, d, "documents"), "doc_id",
          Multimodal.syntheticPayload(col("doc_id"), col("text")), chunkSize = 64)
        .orderBy("doc_id", "chunk_idx")),

    "m04_frame_sample" -> ((s, d) =>
      Multimodal.sampleChunks(
          Multimodal.chunkFingerprints(t(s, d, "documents"), "doc_id",
            Multimodal.syntheticPayload(col("doc_id"), col("text")), chunkSize = 64),
          every = 4)
        .orderBy("doc_id", "chunk_idx")),

    // approximate top-k over portable sign-bit buckets: the bucket +
    // Hamming<=1 probe set is deterministic, so the oracle replays the
    // identical candidate generation and ranking
    "s02_ann_lsh_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.signTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, planes = 4)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")
    }),

    // int8 scalar quantization of the embedding store (exploded per dim
    // so the oracle checks every code value)
    "s04_quantize" -> ((s, d) =>
      Similarity.quantize(t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 8).as("scale"),
          posexplode(col("codes")))
        .withColumnRenamed("pos", "dim_idx").withColumnRenamed("col", "code")
        .select("vec_id", "dim_idx", "scale", "code")
        .orderBy("vec_id", "dim_idx")),

    // IVF-flat ANN: deterministic coarse quantizer (first-nCells
    // centroids), corpus assigned to 1 cell, queries probe their 4
    // nearest cells — the oracle replays assignment, probing, and ranking
    "s03_ann_ivf_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, nCells = 16, probes = 4)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")
    }),

    // IVF-probed RANGE search: every corpus vector above a similarity
    // bar within the query's probed cells — no k cap, no rank shuffle;
    // the oracle replays assignment, probing, and the threshold
    "s09_ann_range_search" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfRangeSearch(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", threshold = 0.3, nCells = 16, probes = 4)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy("query_id", "neighbor_id")
    }),

    // SemDeDup: coarse-cell the embedding space, drop in-cell semantic
    // near-dups (keep-smallest-id) — cells bound the quadratic pair
    // cost; the oracle replays assignment, in-cell pairing, and the
    // rounded-cosine bar exactly
    "d11_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.25, nCells = 16)
        .orderBy("vec_id")),

    // exact substring-span dedup (Lee et al. 2021): maximal >=8-token
    // runs shared verbatim across documents, located by token position,
    // overlapping-or-adjacent regions merged per doc
    "d12_span_dedup" -> ((s, d) =>
      Dedup.spanDedup(t(s, d, "documents"), "doc_id", "text",
          minTokens = 8, maxOcc = 64)
        .orderBy("doc_id", "span_start")),

    // d12's spans applied back to the corpus: the find->remove loop of
    // Lee et al. span dedup producing the cleaned (normalized) text —
    // fused, so the corpus tokenizes ONCE for both halves
    "d14_span_removal" -> ((s, d) =>
      Dedup.spanDedupPipeline(t(s, d, "documents"), "doc_id", "text",
          minTokens = 8, maxOcc = 64)
        .cleaned
        .orderBy("doc_id")),

    // paragraph-level exact dedup (RefinedWeb) over synthetic multi-
    // paragraph pages: docs are stitched into pages of 5 joined by blank
    // lines, with every 5th doc shared by two consecutive pages so real
    // cross-page duplicate paragraphs exist; first occurrence keeps
    "d13_paragraph_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val member = docs.select(col("doc_id"), col("text"),
        explode(when(col("doc_id") % 5 === 0 && col("doc_id") > 0,
            array(expr("doc_id div 5") - 1, expr("doc_id div 5")))
          .otherwise(array(expr("doc_id div 5")))).as("page_id"))
      val pages = member.groupBy("page_id").agg(
        concat_ws("\n\n", transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text"))).as("text"))
      Dedup.paragraphDedup(pages, "page_id", "text")
        .withColumn("keep_flag", col("keep").cast("long")).drop("keep")
        .orderBy("page_id", "para_idx")
    }),

    // data mixing: downsample classes to a target mixture (the largest
    // achievable output with no upsampling). The per-class rates are
    // DATA-DEPENDENT — the oracle recomputes them with the identical
    // left-to-right arithmetic before replaying the md5 keep filter
    "d10_mixture_sample" -> ((s, d) =>
      Sampling.mixtureSample(t(s, d, "embeddings").select("vec_id", "label"),
          "label", "vec_id",
          Map("0" -> 4.0, "1" -> 3.0, "2" -> 2.0, "3" -> 2.0, "4" -> 1.0))
        .select("vec_id", "label")
        .orderBy("vec_id")),

    // link-graph centrality (the CommonCrawl domain-ranking curation
    // signal): deterministic integer-micro PageRank over a synthetic
    // 97-domain link graph (two hash-derived edges per doc), 5 damped
    // power iterations — integer division and long sums make every
    // rank order-independent and exactly oracle-replayable
    "q57_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.select((col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + 7) % 97).as("dst"))
        .unionByName(docs.select((col("doc_id") % 97).as("src"),
          ((col("doc_id") * 17 + 3) % 97).as("dst")))
      // the BUCKETED form: edges+degrees persist once keyed by src, so
      // all 5 rounds join the corpus-scale edge side exchange-free —
      // ranks bit-equal to the plain loop (integer micro-units), which
      // is exactly what the unrolled oracle computes. 8 buckets: the
      // fixture graph has 97 nodes, so more would just multiply tiny
      // files (bucket count scales with the EDGE table, not a constant).
      // Bench note: vs the r13 plain form this carries ~1s of FIXED cost
      // (the bucketed-table write + per-round table resolution) that the
      // 97-node fixture cannot amortize — the deliberate trade for the
      // persisted, never-reshuffled edge index the 100 TB form needs
      Graphs.pageRankMicroBucketed(s, edges, "src", "dst", iterations = 5,
          buckets = 8, table = "graft_q57_edges")
        .orderBy("node")
    }),

    // PageRank with DANGLING-MASS redistribution (the complete damped
    // update real host ranking uses): the q57 circulation graph plus a
    // second hash edge into 13 SINK nodes (97..109 — never sources), so
    // every round a real dangling mass D arises and each node receives
    // D DIV N extra inbound before damping — still exact integer, so
    // the unrolled oracle replays every rank bit-for-bit
    "q62_pagerank_dangling" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.select((col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + 7) % 97).as("dst"))
        .unionByName(docs.select((col("doc_id") % 97).as("src"),
          ((col("doc_id") % 13) + 97).as("dst")))
      Graphs.pageRankMicro(edges, "src", "dst", iterations = 5,
          redistributeDangling = true)
        .orderBy("node")
    }),

    // TOKEN-budget source mixing with epoch repeats (the Pile/LLaMA
    // mixing table): sources weighted by token share, small classes
    // repeat as distinct epochs up to their cap, the binding class
    // realizes its cap exactly, fractional epochs keep the md5-subset
    // at the fractional rate — the oracle replays token sums, the
    // budget arithmetic, the epoch expansion, and the salted digest
    "q56_token_mixture" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        (col("doc_id") % 4).cast("string").as("cls"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      Sampling.tokenMixtureSample(docs, "cls", "doc_id", "n_tok",
          Map("0" -> 5.0, "1" -> 3.0, "2" -> 1.0),
          Map("0" -> 3.0, "1" -> 1.5))
        .select(col("doc_id"), col("cls"), col("epoch"))
        .orderBy("doc_id", "epoch")
    }),

    // sliding-window token chunking: fixed-size overlapping training
    // windows from each doc's token stream — one stepped-sequence
    // explode + one slice per window, no shuffle; starts, lengths, and
    // ids are pure integer arithmetic the oracle replays exactly
    "t12_chunk_tokens" -> ((s, d) =>
      TextAnalysis.chunkTokens(t(s, d, "documents"), "doc_id", "text",
          chunkSize = 32, stride = 8)
        .orderBy("doc_id", "chunk_id")),

    // C4-style boilerplate line removal over docs enriched with shared
    // footer lines (planted by doc_id arithmetic so the oracle builds
    // the identical input): a line appearing in >= 3 distinct docs is
    // removed EVERYWHERE; each doc keeps its unique body and ref lines
    "d15_boilerplate_lines" -> ((s, d) => {
      val enriched = t(s, d, "documents").select(col("doc_id"), concat(
          col("text"), lit("\n"),
          element_at(array(lit("subscribe to our newsletter today"),
            lit("all rights reserved example corp"),
            lit("cookie policy accept to continue")),
            (col("doc_id") % 3 + 1).cast("int")),
          lit("\nref doc "), col("doc_id").cast("string")).as("text"))
      Dedup.removeBoilerplateLines(enriched, "doc_id", "text", minDocs = 3)
        .orderBy("doc_id")
    }),

    // Bloom-filter decontamination sweep: the probe docs' word-trigram
    // set packed into a 65536-bit filter (broadcast literal), corpus
    // flagged per all-k-bits gram hit in ONE narrow scan — the oracle
    // replays the exact md5 bit math, false positives included
    "d16_bloom_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.bloomDecontaminate(docs, docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 3, k = 5)
        .orderBy("doc_id")
    }),

    // k-means clustering labels: one bit-deterministic Lloyd's round
    // (the s08 trainer), every vector labeled with cluster + size —
    // the oracle replays the training round and the assignment
    "s10_kmeans_clusters" -> ((s, d) =>
      Similarity.kmeansClusters(t(s, d, "embeddings"), "vec_id", "embedding",
          nCells = 16, iters = 1)
        .orderBy("vec_id")),

    // cross-corpus span decontamination: >=8-token runs a corpus doc
    // shares verbatim with any probe doc, merged per corpus doc — the
    // localized form of d08/d16's document flags
    "d18_cross_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.crossSpans(docs, docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", minTokens = 8, maxOcc = 64)
        .orderBy("doc_id", "span_start")
    }),

    // media near-dup by chunk-fingerprint set overlap: payloads built so
    // each group of 5 docs shares an anchor body with a per-doc tail —
    // shared 64-byte chunks pair them even though no two blobs are
    // byte-identical (the sub-file dedup m02's whole-blob hash misses)
    "m05_media_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // spread BOTH join inputs: the broadcast join preserves the
      // STREAMED side's partitioning, and AQE broadcasts whichever side
      // is smaller (r22 profiled it picking the narrow probe, leaving
      // the heavy payload construction on the text scan's single task)
      // — with both sides fanned the downstream chunk md5 parallelizes
      // whichever way the planner goes (no-op at real scale)
      val withAnchor = TextAnalysis.spreadAcrossCores(docs)
        .select(col("doc_id"),
          (col("doc_id") - col("doc_id") % 5).as("anchor_id"))
        .join(TextAnalysis.spreadAcrossCores(docs)
          .select(col("doc_id").as("anchor_id"), col("text").as("atext")),
          Seq("anchor_id"))
      val pay = Multimodal.syntheticPayload(col("anchor_id"),
        concat(col("atext"), lit(" tail "), col("doc_id").cast("string")))
      val chunks = Multimodal.chunkFingerprints(withAnchor, "doc_id", pay,
          chunkSize = 64)
        .select(col("doc_id"), col("chunk_fp")).distinct()
      Dedup.fingerprintSetPairs(chunks, "doc_id", "chunk_fp", threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // tokenizer-vocabulary coverage: OOV occurrence rate per doc vs the
    // t14-style top-200 trained vocabulary, integer counts + basis
    // points — the pre-training signal that catches wrong-language and
    // mojibake text the tokenizer would shred
    "t29_oov_rate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.oovRate(docs, "doc_id", "text",
          TextAnalysis.vocabTopK(docs, "text", k = 200), "token")
        .orderBy("doc_id")
    }),

    // perceptual-hash (aHash) near-dup over the m05 payload fixture:
    // groups share an anchor body with per-doc tails, so same-group
    // payloads land within Hamming 3 of each other's 64-bit downsample
    // hash while cross-group pairs don't; banding recall is exact at
    // this bound (pigeonhole), so the oracle is ALL pairs <= 3
    // VAD-shaped energy segmentation: sample streams with two planted
    // 64-sample silence gaps frame at 16 samples; voiced runs (|b-32|
    // energy >= 400) merge gaps-and-islands into segments — exact
    // integers, the oracle replays frames, energies, and the merge
    "m08_energy_segments" -> ((s, d) => {
      val silence = lit(" " * 64)
      val pay = concat(substring(col("text"), 1, 100), silence,
        substring(col("text"), 101, 100), silence,
        substring(col("text"), 201, 100))
      Multimodal.energySegments(
          t(s, d, "documents").select(col("doc_id"), pay.as("samples")),
          "doc_id", col("samples"), frameLen = 16, minEnergy = 400L)
        .orderBy("doc_id", "seg_start")
    }),

    "m07_perceptual_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // spread BOTH join inputs before the anchor join (see m05: the
      // streamed side carries the heavy hash work, and the planner may
      // stream either)
      val withAnchor = TextAnalysis.spreadAcrossCores(docs)
        .select(col("doc_id"),
          (col("doc_id") - col("doc_id") % 5).as("anchor_id"))
        .join(TextAnalysis.spreadAcrossCores(docs)
          .select(col("doc_id").as("anchor_id"), col("text").as("atext")),
          Seq("anchor_id"))
      val pay = Multimodal.syntheticPayload(col("anchor_id"),
        concat(col("atext"), lit(" tail "), col("doc_id").cast("string")))
      Multimodal.perceptualPairs(withAnchor, "doc_id", pay, maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    }),

    // winnow-fingerprint near-dup pairs: MOSS matching at corpus scale —
    // position-robust fingerprint sets, hot-fingerprint guard, exact
    // Jaccard over the filtered fingerprint space
    "d17_winnow_pairs" -> ((s, d) =>
      Dedup.winnowPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.5)
        .orderBy("doc_a", "doc_b")),

    // corpus vocabulary top-k: the tokenizer-training frequency pass —
    // one tokenize explode + one aggregate + TakeOrdered
    "t14_vocab_topk" -> ((s, d) =>
      TextAnalysis.vocabTopK(t(s, d, "documents"), "text", k = 100)),

    // Matryoshka-style truncated-dim funnel: rank everything on the
    // first 16 dims (cheap), re-rank the top-50 survivors on all 64 —
    // the oracle replays both rounded-rank stages exactly
    "s12_ann_truncated_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.truncatedRerankTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, dPrime = 16, mCand = 50)
        .orderBy("query_id", "rank")
    }),

    // recall@10 of the sign-LSH channel against brute-force ground
    // truth — the ANN evaluation harness; both channels are
    // deterministic, so the oracle replays candidate generation,
    // ranking, and the hit count end-to-end
    "s13_ann_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      Similarity.recallAtK(
          Similarity.signTopK(emb, q, "vec_id", "embedding", k = 10, planes = 4),
          Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 10),
          k = 10)
        .orderBy("query_id")
    }),

    // per-domain document cap (C4-style): hosts synthesized from doc_id
    // as in q40, at most 30 docs per host kept by token count (doc_id
    // tie-break) — the two-phase top-N result equals the oracle's plain
    // per-host window
    "q41_domain_cap" -> ((s, d) => {
      val withHost = t(s, d, "documents").select(col("doc_id"),
        element_at(array(lit("spam.tracker.example"), lit("ads.adnetwork.example"),
          lit("en.wikipedia.org"), lit("github.com"), lit("docs.python.org")),
          (col("doc_id") % 5 + 1).cast("int")).as("host"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      UrlFilter.capPerDomain(withHost, "host", "n_tokens", "doc_id",
          maxPerHost = 30)
        .orderBy("doc_id")
    }),

    // BM25 lexical retrieval: probe docs as queries over the corpus
    // inverted index; per-term contributions fixed to integer micros
    // before the per-doc sum, so the oracle replays scores exactly.
    // maxDfFrac=1.0: the fixture vocabulary is ~31 words with df ~80%,
    // so the default stopword cut would empty most queries. The query
    // batch is PINNED to a fixed id range (doc_id < 50) rather than a
    // corpus-proportional sample, so the bench reads ENGINE scaling —
    // a batch that grows with the corpus squares the work product and
    // measures fixture shape, not the index (the r16 sf1 control).
    "t15_bm25_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.bm25TopK(docs, docs.filter(col("doc_id") < 50),
          "doc_id", "text", k = 10, maxDfFrac = 1.0)
        .orderBy("query_id", "rank")
    }),

    // the PERSISTED-index BM25 path: the index lands in the MERGE store
    // (postings bucketed by term), then the query batch is served
    // entirely from the store — the terms' postings load through the
    // bucket-pruned point lookup, the corpus is never re-tokenized.
    // Same scoring tail as t15, so the same oracle ranks it.
    "t28_bm25_from_index" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore}
      val docs = t(s, d, "documents")
      val cat = new InMemoryCatalog
      val store = new MergeSnapshotStore(s, cat, nBuckets = 32)
      val work = java.nio.file.Files.createTempDirectory("graft-t28").toString
      TextAnalysis.writeBm25Index(store, "t28", "bm", work,
        TextAnalysis.buildBm25Index(docs, "doc_id", "text"))
      TextAnalysis.bm25TopKFromStore(store, "t28", "bm",
          docs.filter(col("doc_id") < 50), "doc_id", "text",
          k = 10, maxDfFrac = 1.0)
        .orderBy("query_id", "rank")
    }),

    // INCREMENTALLY MAINTAINED BM25 index: the corpus base table and
    // the four index tables move together through ONE registry commit —
    // only the changed docs (deletes % 13, text updates % 7, inserts
    // % 101) are tokenized, postings/docfreq commit scoped to the
    // changed TERM buckets and doclens to the changed DOC buckets —
    // then the query batch is served from the maintained index. The
    // oracle ranks against a from-scratch rebuild of the new corpus
    // (the s15 incremental-index contract).
    "t30_bm25_maintained" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val newC = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" updated payload")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 101 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(lit("fresh doc "), col("text")).as("text")))
      val cat = new InMemoryCatalog
      val store = new MergeSnapshotStore(s, cat, nBuckets = 32)
      val work = java.nio.file.Files.createTempDirectory("graft-t30").toString
      cat.register(TableMeta("t30", "docs", s"$work/docs",
        primaryKey = Seq("doc_id")))
      TextAnalysis.registerBm25Tables(store, "t30", "bm", work)
      val m = new Ivm.MaintainedAggregates(store, "t30", "docs",
        TextAnalysis.bm25IndexSpecs("bm", "doc_id", "text"))
      m.seed(docs)
      m.commit(Scd.snapshotDiff(store.read("t30", "docs"), newC, Seq("doc_id")))
      TextAnalysis.bm25TopKFromStore(store, "t30", "bm",
          newC.filter(col("doc_id") < 50), "doc_id", "text",
          k = 10, maxDfFrac = 1.0)
        .orderBy("query_id", "rank")
    }),

    // T5-style span-corruption masks: 15% density, mean span 3, one
    // span per equal-width bucket — lengths and offsets from 16-bit
    // md5 slices of (doc, span), so every span is non-overlapping by
    // construction and the oracle replays the grid and both hashes
    "t32_corruption_spans" -> ((s, d) =>
      TextAnalysis.corruptionSpans(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id", "span_idx")),

    // unigram (SentencePiece-family) tokenizer training: substring seed,
    // two hard-EM rounds of greedy-longest-match expectation counts with
    // the (cnt desc, piece asc) prune — the oracle unrolls both rounds,
    // the greedy walk a recursive CTE over per-position match lengths
    "t33_unigram_train" -> ((s, d) =>
      TextAnalysis.unigramTrain(t(s, d, "documents"), "text",
          vocabSize = 40, maxPieceLen = 4, rounds = 2, seedSize = 64)
        .orderBy("rank")),

    // the apply twin: documents segmented under a fixed piece table by
    // the same greedy longest-match, unknown characters standing as
    // themselves; the oracle replays the walk and reassembles in
    // (word index, position) order
    "t34_unigram_segment" -> ((s, d) =>
      TextAnalysis.unigramSegment(t(s, d, "documents"), "doc_id", "text",
          pieces = Seq("th", "he", "in", "er", "an", "re", "ing", "ent"),
          maxPieceLen = 4)
        .orderBy("doc_id")),

    // WordPiece merge training (the likelihood-scored third of the
    // tokenizer triad): each round fuses the pair maximizing
    // pair_n / (lhs_n * rhs_n) — the oracle unrolls the rounds with
    // per-round symbol counts and the same IEEE score ranking
    "t38_wordpiece_train" -> ((s, d) =>
      TextAnalysis.wordPieceMerges(t(s, d, "documents"), "text", nMerges = 6)
        .orderBy("merge_round")),

    // WordPiece greedy longest-match segmentation with whole-word UNK:
    // alphabetic words always segment under the letter-complete fixed
    // vocabulary, anything carrying a digit or punctuation char becomes
    // [UNK]; the oracle replays the MaxMatch walk
    "t39_wordpiece_segment" -> ((s, d) =>
      TextAnalysis.wordPieceSegment(t(s, d, "documents"), "doc_id", "text",
          WordPieceVocab, maxPieceLen = 5)
        .withColumn("n_pieces", col("n_pieces").cast("long"))
        .orderBy("doc_id")),

    // HLL-sketch maintained distinct counts (the cardinality dashboard
    // whose state never grows with value cardinality): seed on most
    // docs, fold the rest in as an insert-only changelog — union is
    // per-register max, so maintained == rebuild; per-group
    // cardinality stays in the sketch's coupon-exact regime, so the
    // estimates ARE the exact distinct counts the oracle computes
    "t36_hll_distinct" -> ((s, d) => {
      import graft.operators.{Ivm, Scd}
      val all = t(s, d, "documents")
        .select(col("doc_id"), (col("doc_id") % 997).as("v"))
      val s0 = all.filter(col("doc_id") % 17 =!= 0)
      val spec = Ivm.hllDistinctSpec("t36", col("doc_id") % 50, col("v"))
      val folded = spec.fold(spec.seed(s0), s0, all,
        Scd.snapshotDiff(s0, all, Seq("doc_id")), Seq("doc_id"))
      Ivm.hllDistinctCount(folded).orderBy("grp")
    }),

    // KLL-sketch maintained quantiles (the percentile dashboard whose
    // state never re-sorts the fact table): per group the first 101
    // orders by key — odd count, inside the sketch's exact regime — so
    // the maintained INCLUSIVE median after a seed + insert-only fold
    // IS the exact middle element the oracle's median computes
    "t37_kll_quantile" -> ((s, d) => {
      import graft.operators.{Ivm, Scd}
      import org.apache.spark.sql.expressions.Window
      val byG = Window.partitionBy(col("grp_in"))
      val cohort = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("grp_in"),
          col("o_totalprice").as("v"))
        .withColumn("rn", row_number().over(byG.orderBy(col("o_orderkey"))))
        .withColumn("gcnt", count(lit(1)).over(byG))
        .filter(col("gcnt") >= 101 && col("rn") <= 101)
      val s0 = cohort.filter(col("rn") <= 51).drop("rn", "gcnt")
      val all = cohort.drop("rn", "gcnt")
      val spec = Ivm.kllQuantileSpec("t37", col("grp_in"), col("v"))
      val folded = spec.fold(spec.seed(s0), s0, all,
        Scd.snapshotDiff(s0, all, Seq("o_orderkey")), Seq("o_orderkey"))
      Ivm.kllQuantiles(folded, Seq(0.5)).orderBy("grp")
    }),

    // frequent-items (heavy-hitters) sketch maintenance: seed on most
    // docs, fold the rest as an insert-only changelog; distinct items
    // per group stay far under the purge point, so the maintained
    // estimates ARE the exact per-group item counts the oracle computes
    "t40_freq_items" -> ((s, d) => {
      import graft.operators.{Ivm, Scd}
      val all = t(s, d, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 7).cast("string").as("grp_in"),
          concat(lit("w"), ((col("doc_id") * col("doc_id")) % 13)
            .cast("string")).as("item"))
      val s0 = all.filter(col("doc_id") % 11 =!= 0)
      val spec = Ivm.freqItemsSpec("t40", col("grp_in"), col("item"),
        maxMapSize = 64)
      val folded = spec.fold(spec.seed(s0), s0, all,
        Scd.snapshotDiff(s0, all, Seq("doc_id")), Seq("doc_id"))
      Ivm.freqTopItems(folded)
        .select(col("grp"), col("item"), col("est"))
        .orderBy("grp", "item")
    }),

    // DSIR data selection: raw docs (doc_id % 7 != 0) scored by the
    // hashed-bigram importance ratio against the % 7 == 0 "target
    // domain" sample, top-200 kept — the oracle replays the 16-bit
    // md5 bucket hash, both smoothed bucket models, and the micro-fixed
    // log ratio; the pure top-k form, so key_micro == weight_micro
    "t35_dsir_select" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.importanceResample(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", k = 200)
    }),

    // quality-weighted (importance) sampling: each doc's keep
    // probability is its own quality score — the per-row md5 threshold
    // generalizes the stratified sampler; the oracle recomputes the
    // integer quality score and replays the digest compare
    "t13_weighted_sample" -> ((s, d) => {
      // NOT spread (r22, measured): weightedSample is a FILTER on the
      // scored frame, and the optimizer pushes the deterministic
      // predicate below any repartition — the heavy qualityScore eval
      // stays in the scan stage either way (parallel at real scale;
      // single-file only locally)
      val scored = t(s, d, "documents").select(col("doc_id"),
        (TextAnalysis.qualityScore(col("text")).cast("double") / 10000).as("w"))
      Sampling.weightedSample(scored, "doc_id", "w")
        .select(col("doc_id"), round(col("w"), 4).as("w"))
        .orderBy("doc_id")
    }),

    // reciprocal-rank fusion of the LSH and IVF candidate lists — the
    // retrieval-ensemble step; both input rankings are deterministic
    // and the fused score is rounded before re-ranking, so the oracle
    // replays the ensemble end-to-end
    "s11_ann_rrf_fusion" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      Similarity.rrfFuse(
          Similarity.signTopK(emb, q, "vec_id", "embedding", k = 10,
            planes = 4),
          Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 10,
            nCells = 16, probes = 4),
          k = 10)
        .orderBy("query_id", "rank")
    }),

    // BPE tokenizer training: 8 pair-merge rounds over the corpus
    // word-frequency table — integer pair counts with a total tie-break
    // and plain-string merge application, so the oracle replays the
    // whole loop round by round
    "t16_bpe_merges" -> ((s, d) =>
      TextAnalysis.bpeMerges(t(s, d, "documents"), "text", nMerges = 8)
        .orderBy("merge_round")),

    // HTML -> text extraction: the corpus wrapped in deterministic
    // doc_id-derived markup (script/style blocks with embedded < >,
    // comments, double-escaped entities), then extracted — the oracle
    // builds the identical HTML and replays the identical regex chain
    "t17_html_extract" -> ((s, d) => {
      val id = col("doc_id")
      val html = concat(
        lit("<!DOCTYPE html><html><head><title>d"), id, lit("</title>"),
        when(id % 2 === 0,
          concat(lit("<script type=\"text/javascript\">var x = "), id,
            lit(" < 4 && 1 > 0;</script>")))
          .otherwise(lit("<style>p { color: #fff }</style>")),
        lit("</head><body><h1>Doc "), id,
        lit("</h1><!-- id "), id, lit(" --><p>"),
        TextAnalysis.normalizeText(col("text")), lit("</p>"),
        when(id % 3 === 0,
          lit("<div class=\"f\">Tom &amp; Jerry &lt;3 &quot;quoted&quot; " +
            "&#39;q&#39;&nbsp;end &amp;lt;b&gt;</div>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      t(s, d, "documents")
        .select(id, TextAnalysis.extractHtmlText(html).as("txt"))
        .orderBy("doc_id")
    }),

    // deterministic corpus shuffle + shard order: q39's budget packing
    // over the content-keyed shuffle order instead of ingest order —
    // shards are token-budgeted AND order-randomized, retry-stable
    "q42_shuffle_shards" -> ((s, d) =>
      PrefixScan.packShards(
          Sampling.withShuffleOrder(
            t(s, d, "documents").select(col("doc_id"),
              TextAnalysis.tokenCount(col("text")).as("n_tokens")),
            "doc_id"),
          "shuffle_key", "n_tokens", budget = 1000)
        .orderBy("doc_id")),

    // the tokenizer end-to-end: t16's 8 trained merges applied back to
    // the corpus — word-piece segmentation per document; the oracle
    // replays training AND application
    "t18_bpe_segment" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.bpeMerges(docs, "text", nMerges = 8)
        .orderBy("merge_round")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeSegment(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // deterministic 80/10/10 train/val/test assignment by content
    // digest — the oracle replays the cumulative-cut CASE exactly
    "q43_train_split" -> ((s, d) =>
      Sampling.splitByHash(
          t(s, d, "documents").select(col("doc_id")),
          "doc_id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .orderBy("doc_id")),

    // trigram stupid-backoff LM: odd docs scored under a model trained
    // on even docs, so unseen trigrams/bigrams genuinely back off (a
    // corpus scored under itself never would); integer-micro fixed per
    // distinct trigram, exact SQL replay of all three levels
    "t26_trigram_backoff_lm" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.trigramBackoffLogProb(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity-bucketed mixture (Wenzek et al. 2020 §4.3:
    // LM-score the corpus, cut head/middle/tail, keep each at its own
    // rate): the t26 trigram score bucketed at FIXED integer-micro bars
    // (a pure per-row function — no corpus-relative quantile pass to
    // shuffle or drift), then the d10/t13 content-keyed digest keeps
    // head fully, middle at 0.5, tail at 0.1. Composition is two narrow
    // passes over the scored frame — the score chain dominates.
    "t27_perplexity_mixture" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = TextAnalysis.trigramBackoffLogProb(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val bucketed = scored.withColumn("bucket",
        when(col("logp_micro_sum") >= lit(-3600000L) * col("n_tris"), "head")
          .when(col("logp_micro_sum") >= lit(-3800000L) * col("n_tris"), "middle")
          .otherwise("tail"))
      Sampling.hashSampleBy(bucketed, "bucket", "doc_id",
          Map("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.1))
        .orderBy("doc_id")
    }),

    // corpus bigram LM log-likelihood per doc (CCNet-style quality
    // signal, integer-micro fixed per distinct bigram term)
    "t19_bigram_lm" -> ((s, d) =>
      TextAnalysis.bigramLogProb(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // SCD type-2 validity intervals from the event stream: per-user
    // event_type runs null-safely collapsed, half-open
    // valid_from/valid_to; the collapse lag and the validity lead share
    // ONE window exchange+sort (plan-pinned in the spec). (user_id, ts)
    // is unique in the corpus, so the output order is total.
    "q44_scd2" -> ((s, d) =>
      Scd.scd2(
          events(s, d).select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
          key = "user_id", orderCols = Seq("ts", "event_id"),
          attrs = Seq("event_type"))
        // int flag: no oracle-side boolean representation to negotiate
        .withColumn("is_current", col("is_current").cast("int"))
        .orderBy("user_id", "valid_from")),

    // snapshot reconciliation: two versions of `orders` (old drops
    // key%17 rows; new drops key%13 and bumps key%7 totalprice) diffed
    // into an applyable I/U/D changelog — the INVERSE of the CDC apply
    // fold, one full-outer sort-merge join on the key
    "q45_snapshot_diff" -> ((s, d) => {
      val base = t(s, d, "orders")
      val oldSnap = base.filter(col("o_orderkey") % 17 =!= 0)
      val newSnap = base.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      Scd.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // zone-map (file-stats) pruned box query: the table writes
    // z-clustered with a per-file min/max manifest; the read plans only
    // the files whose stats overlap the box and must still equal the
    // full-scan filter the oracle runs
    "q53_zonemap_scan" -> ((s, d) => {
      import graft.catalog.Layout
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val work = java.nio.file.Files.createTempDirectory("graft-q53").toString
      Layout.writeClustered(orders, s"$work/orders_z",
        Seq("o_custkey" -> None, "price_c" -> None), files = 32)
      Layout.readPruned(s, s"$work/orders_z",
          Map("o_custkey" -> ((100.0, 500.0)),
            "price_c" -> ((5000000.0, 15000000.0))))
        .orderBy("o_orderkey")
    }),

    // data skipping INSIDE the table store (q53's zone-map discipline
    // moved into the commit path): every commit records per-file
    // numeric min/max stats in the MergeSnapshotStore manifest, and a
    // range read plans only the files whose stats overlap — here a
    // price-range-partitioned commit answers a price-band scan from a
    // handful of files; the oracle is the plain full-scan filter.
    // (note: there is no q50 — the id is reserved/skipped, not lost)
    "q55_store_range_scan" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_c"))
        .repartitionByRange(16, col("price_c"))
      val work = java.nio.file.Files.createTempDirectory("graft-q55").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q55", "orders", s"$work/orders"))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 32)
      store.overwrite("q55", "orders", orders)
      store.readRange("q55", "orders",
          Map("price_c" -> ((5000000.0, 15000000.0))))
        .orderBy("o_orderkey")
    }),

    // date-range data skipping (the CDC workload's natural predicate):
    // DATE columns carry footer min/max as int32 days since epoch, the
    // manifest lifts them into the same double space, and a time-window
    // read plans only the overlapping files — the exact predicate
    // re-types the bounds into DATE literals so it stays pushed into
    // the scan; oracle = the plain full-scan date filter
    "q59_store_date_scan" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_date"),
          col("o_orderpriority"))
        .repartitionByRange(16, col("o_date"))
      val work = java.nio.file.Files.createTempDirectory("graft-q59").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q59", "orders", s"$work/orders"))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 32)
      store.overwrite("q59", "orders", orders)
      val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay.toDouble
      val hi = java.time.LocalDate.of(1996, 12, 31).toEpochDay.toDouble
      store.readRange("q59", "orders", Map("o_date" -> ((lo, hi))))
        .orderBy("o_orderkey")
    }),

    // cluster-on-compact end to end: the table commits with values
    // SCATTERED across its PK buckets (stats prune nothing), then the
    // clustered maintenance rewrite lays each bucket out in disjoint
    // price slices — the subsequent stats-pruned band read must equal
    // the plain full-scan filter, which is exactly what the oracle runs
    "q60_compact_clustered_scan" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val work = java.nio.file.Files.createTempDirectory("graft-q60").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q60", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q60", "orders", orders)
      store.compactClustered("q60", "orders", Seq("price_c" -> None),
        filesPerBucket = 4)
      store.readRange("q60", "orders",
          Map("price_c" -> ((5000000.0, 15000000.0))))
        .orderBy("o_orderkey")
    }),

    // PARTIAL clustered maintenance (q60's layout restored bucket-by-
    // bucket): scoped merges age SOME buckets back to full-span files,
    // the per-bucket advisor names exactly those, and the rewrite
    // commits ONLY them — untouched buckets carry by reference — before
    // the same stats-pruned band read; the oracle is q60's full-scan
    // band, because layout maintenance never moves the answer
    "q74_store_partial_compact" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val work = java.nio.file.Files.createTempDirectory("graft-q74").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q74", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q74", "orders", orders)
      store.compactClustered("q74", "orders", Seq("price_c" -> None),
        filesPerBucket = 4)
      store.mergeScoped("q74", "orders",
        orders.filter(col("o_orderkey") % 7 === 0)
          .select("o_orderkey"))(old => old)
      val advised = store.bucketHealth("q74", "orders", "price_c")
        .filter(_.compactAdvised).map(_.bucket)
      if (advised.nonEmpty)
        store.compactBucketsClustered("q74", "orders",
          Seq("price_c" -> None), filesPerBucket = 4, buckets = advised)
      store.readRange("q74", "orders",
          Map("price_c" -> ((5000000.0, 15000000.0))))
        .orderBy("o_orderkey")
    }),

    // STRING data skipping in the table store (q55's discipline for
    // string keys): every commit records per-file TRUNCATED
    // lexicographic bounds (the Iceberg truncate(16) pattern — c_name's
    // 18 chars genuinely truncate) and a name-range read plans only the
    // overlapping files; the oracle is the plain full-scan filter
    "q61_store_string_scan" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .repartitionByRange(16, col("c_name"))
      val work = java.nio.file.Files.createTempDirectory("graft-q61").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q61", "customer", s"$work/customer"))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 32)
      store.overwrite("q61", "customer", cust)
      store.readStringRange("q61", "customer",
          Map("c_name" -> (("Customer#000000100", "Customer#000000299"))))
        .orderBy("c_custkey")
    }),

    // EQUALITY data skipping via per-file VALUE-SET stats (the
    // enum-dimension story min/max bounds cannot tell: interleaved
    // class VALUES share one range): customer commits split by market
    // segment with c_mktsegment opted into graft.setstats, and an IN
    // probe plans only the files whose recorded set intersects it; the
    // oracle is the plain full-scan IN filter
    "q63_store_setstats_scan" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .repartitionByRange(4, col("c_mktsegment"))
      val work = java.nio.file.Files.createTempDirectory("graft-q63").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q63", "customer", s"$work/customer",
        properties = Map(MergeSnapshotStore.SetStatsProp -> "c_mktsegment")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 32)
      store.overwrite("q63", "customer", cust)
      store.readEquals("q63", "customer",
          Map("c_mktsegment" -> Seq("BUILDING", "MACHINERY")))
        .orderBy("c_custkey")
    }),

    // EXPRESSION-derived data skipping (readWhere): an arbitrary Column
    // predicate — AND/OR mixing a numeric band, a value-set equality
    // and a string prefix — walks the manifest stats and plans only the
    // files that may hold a TRUE row; the oracle is the identical
    // full-scan WHERE clause
    "q64_store_predicate_scan" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
        .repartitionByRange(8, col("c_acctbal"))
      val work = java.nio.file.Files.createTempDirectory("graft-q64").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q64", "customer", s"$work/customer",
        properties = Map(MergeSnapshotStore.SetStatsProp -> "c_mktsegment")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 32)
      store.overwrite("q64", "customer", cust)
      store.readWhere("q64", "customer",
          (col("c_acctbal") >= 1000.0 && col("c_acctbal") <= 3000.0 &&
            col("c_mktsegment") === "BUILDING") ||
            col("c_name").startsWith("Customer#00000001"))
        .orderBy("c_custkey")
    }),

    // Predicate-scoped row-level DELETE (copy-on-write, Delta
    // DeleteCommand shape): the store finds matches through stats-pruned
    // candidate files, rewrites only the buckets owning one, carries the
    // rest by reference, and the surviving snapshot must equal the
    // oracle's NOT-filtered full scan
    "q65_store_delete_where" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q65").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q65", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q65", "orders", orders)
      store.deleteWhere("q65", "orders",
        col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0)
      store.read("q65", "orders").orderBy("o_orderkey")
    }),

    // Predicate-scoped row-level UPDATE (deleteWhere's copy-on-write
    // twin): matched rows take the assignment expressions — evaluated
    // against the PRE-update row — everything else passes through
    // byte-identical; the oracle is the CASE-WHEN full scan
    "q66_store_update_where" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q66").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q66", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q66", "orders", orders)
      store.updateWhere("q66", "orders",
        col("o_orderstatus") === "P",
        Map("o_totalprice" -> (col("o_totalprice") * 2.0),
          "o_custkey" -> lit(0L)))
      store.read("q66", "orders").orderBy("o_orderkey")
    }),

    // DECIMAL footer stats: a money-typed band predicate (the classic
    // finance shape) walks decimal bounds carried through the
    // manifest's monotone double space and prunes files on a
    // range-clustered decimal column; the oracle is the identical
    // full-scan band in decimal literal space — non-strict pruning ties
    // keep files, the exact predicate re-filters, so the answer never
    // moves. The table, the stats, and the predicate stay decimal(12,2)
    // (that is what DecimalStatsSpec and the pruning exercise pin); the
    // ORACLE-FACING projection emits the money column as exact integer
    // cents so the driver's cross-engine hash compares int64, not two
    // engines' decimal128 canonicalizations (scale-2 decimal × 100 is
    // exact by construction — no rounding enters).
    "q69_store_decimal_scan" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(12,2)").as("o_price"))
        .repartitionByRange(8, col("o_price"))
      val work = java.nio.file.Files.createTempDirectory("graft-q69").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q69", "orders", s"$work/orders"))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q69", "orders", orders)
      store.readWhere("q69", "orders",
          col("o_price") >= lit("50000.00").cast("decimal(12,2)") &&
            col("o_price") <= lit("75000.00").cast("decimal(12,2)"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_price") * 100).cast("long").as("o_price_cents"))
        .orderBy("o_orderkey")
    }),

    // Merge-on-read DELETE (Iceberg v2 equality-delete shape): the same
    // predicate as q65 removed via a SIDECAR — no data file rewritten,
    // the deleted keys' PK tuples land as one delete file and every
    // read funnel anti-joins it (sequence-ruled, so later re-inserts
    // survive); the surviving logical snapshot must equal q65's oracle
    // exactly — mode changes the physics, never the answer
    "q68_store_delete_mor" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q68").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q68", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q68", "orders", orders)
      store.deleteWhere("q68", "orders",
        col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0,
        MergeSnapshotStore.MergeOnRead)
      store.read("q68", "orders").orderBy("o_orderkey")
    }),

    // Merge-on-read POSITION delete (Iceberg v2's other delete-file
    // kind): the same takedown as q68 on a PK-LESS table — no row
    // identity to list, so the sidecar records each matched row's
    // physical (file, row-ordinal) address from the parquet scan's
    // metadata columns; re-inserts are exempt by construction (new
    // files are new paths) and the logical snapshot must equal the
    // same NOT-filtered oracle — the sidecar KIND changes the physics,
    // never the answer
    "q70_store_pos_delete" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q70").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q70", "orders", s"$work/orders")) // NO PK
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q70", "orders", orders.repartition(8))
      store.deleteWhere("q70", "orders",
        col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0,
        MergeSnapshotStore.MergeOnRead)
      store.read("q70", "orders").orderBy("o_orderkey")
    }),

    // AS-OF SQL through the skipping scan: HEAD moves on (only open
    // orders survive the second overwrite), then the ad-hoc query
    // surface asks the PINNED version a band question — the predicate
    // prunes files through v0's own manifest stats exactly as HEAD SQL
    // would, and the answer is v0's full band (time travel changes
    // WHICH manifest answers, never the answer's truth)
    "q71_store_asof_scan" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q71").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q71", "orders", s"$work/orders"))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 3)
      store.overwrite("q71", "orders",
        orders.repartitionByRange(8, col("o_totalprice")))
      val v0 = store.latestVersion("q71", "orders")
      store.overwrite("q71", "orders",
        orders.filter(col("o_orderstatus") === "O"))
      new QueryRunner(store)
        .run("q71", "orders", Seq("o_orderkey", "o_totalprice"),
          "o_totalprice >= 50000.0 AND o_totalprice <= 75000.0",
          asOfVersion = Some(v0))
        .orderBy("o_orderkey")
    }),

    // The delete-debt advisor as an oracle-gated fact: two MoR
    // takedowns with disjoint predicates land two sidecars whose
    // recorded key mass the manifest carries exactly — the advisor's
    // counts must equal the oracle's own count of the matched rows,
    // and the count threshold fires at 2
    "q72_store_delete_debt" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q72").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q72", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q72", "orders", orders)
      store.deleteWhere("q72", "orders",
        col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0,
        MergeSnapshotStore.MergeOnRead)
      store.deleteWhere("q72", "orders", col("o_orderstatus") === "P",
        MergeSnapshotStore.MergeOnRead)
      val debt = store.deleteDebt("q72", "orders", adviseAtSidecars = 2)
      import s.implicits._
      Seq((debt.sidecars, debt.liveSidecars, debt.deletedRows,
        debt.rowsKnown, debt.compactAdvised))
        .toDF("sidecars", "live_sidecars", "deleted_rows",
          "rows_known", "advised")
    }),

    // Online bucket-count evolution: the table commits under 8 PK-hash
    // buckets, data growth invalidates the modulus, and ONE rebucket
    // rewrite re-hashes it to 32 — the logical snapshot must equal the
    // plain full scan (a layout choice must never move the answer),
    // while point lookups and scoped merges follow the new modulus
    // (MergeStoreSpec pins those)
    "q73_store_rebucket" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q73").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q73", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q73", "orders", orders)
      store.rebucket("q73", "orders", 32)
      store.read("q73", "orders").orderBy("o_orderkey")
    }),

    // PARTIAL merge-on-read debt fold (the Iceberg
    // rewrite_position_deletes story at file granularity): a PK-less
    // takedown lands a position sidecar; compactDebt rewrites ONLY the
    // addressed files (the table commits range-laid files, so the
    // narrow band names a strict subset) and carries every unaddressed
    // file VERBATIM as per-file manifest lines — O(deleted region)
    // maintenance instead of a whole-table rewrite. The folded
    // snapshot, read through the mixed dir+carry layout, must equal
    // the same NOT-filtered scan
    "q75_store_debt_fold" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q75").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q75", "orders", s"$work/orders")) // NO PK
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q75", "orders",
        orders.repartitionByRange(8, col("o_totalprice")))
      store.deleteWhere("q75", "orders",
        col("o_totalprice") < 25000.0, MergeSnapshotStore.MergeOnRead)
      val rep = store.compactDebt("q75", "orders")
      require(rep.clearedSidecars == 1,
        "the fold must retire the position sidecar")
      require(store.manifestCarries("q75", "orders", rep.version)
        .getOrElse(0, Nil).nonEmpty,
        "a partial fold must carry the unaddressed files as manifest lines")
      store.read("q75", "orders").orderBy("o_orderkey")
    }),

    // Scoped-merge SCHEMA EVOLUTION: an evolving CDC feed adds a
    // nullable column through a partition-scoped merge — the widened
    // schema lands in the manifest, the touched buckets rewrite with
    // values, and every row carried from a pre-evolution file reads as
    // NULL under the new schema. The assignment rule is key-based, so
    // the final table is bucket-independent and the oracle expresses
    // it as one CASE
    "q76_store_schema_evolution" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q76").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q76", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q76", "orders", orders)
      store.mergeScoped("q76", "orders",
        orders.filter(col("o_orderkey") < 1000).select("o_orderkey")) { old =>
        old.withColumn("o_tier",
          when(col("o_orderkey") < 1000, lit("hot"))
            .otherwise(lit(null).cast("string")))
      }
      store.read("q76", "orders").orderBy("o_orderkey")
    }),

    // SQL DML on the store: the q65 takedown and a q66-shaped
    // correction expressed as STATEMENTS (the reference's users live
    // in SQL — src/apply_to_domains.py:54-68), parsed by Spark's own
    // grammar and routed to deleteWhere/updateWhere; the final
    // snapshot must equal the oracle's NOT-filter + CASE projection
    "q77_store_sql_dml" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q77").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q77", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q77", "orders", orders)
      val runner = new QueryRunner(store)
      runner.dml("q77",
        "DELETE FROM orders WHERE o_orderstatus = 'F' AND o_totalprice < 100000.0")
      runner.dml("q77",
        "UPDATE orders SET o_orderstatus = 'X' WHERE o_orderstatus = 'P'")
      store.read("q77", "orders").orderBy("o_orderkey")
    }),

    // MERGE INTO — the CDC apply surface as ONE statement (the
    // reference's apply_events fold is exactly this shape): a
    // conditional DELETE arm, an UPDATE arm, and an INSERT arm apply
    // first-match-wins through the partition-scoped merge commit (only
    // the source keys' buckets rewrite); the source derives from
    // orders itself so the oracle expresses the final state as a
    // CASE + NOT-filter + UNION ALL
    "q78_store_merge_into" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q78").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q78", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q78", "orders", orders)
      // insert keys offset FAR past any real key space (incl. derived
      // scale factors, whose per-copy key stride is 1e8 x factor<=100)
      orders.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        .unionByName(orders.filter(col("o_orderkey") % 1000 === 0)
          .select((col("o_orderkey") + 100000000000L).as("k"),
            col("o_totalprice").as("p")))
        .createOrReplaceTempView("q78_chg")
      new QueryRunner(store).dml("q78",
        """MERGE INTO orders t USING q78_chg s ON t.o_orderkey = s.k
           WHEN MATCHED AND s.p > 150000.0 THEN DELETE
           WHEN MATCHED THEN UPDATE SET o_orderstatus = 'M'
           WHEN NOT MATCHED THEN INSERT
             (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
             VALUES (s.k, 0, 'I', s.p)""")
      store.read("q78", "orders").orderBy("o_orderkey")
    }),

    // PK-LESS partial maintenance (fileHealth + file-scoped clustered
    // rewrite): an unsorted PK-less arrival smears every file; a
    // position takedown adds sidecar debt; ONE maintainIfAdvised call
    // folds both at FILE granularity (carried files ride as manifest
    // lines) — and the maintained snapshot must equal the same
    // NOT-filtered scan: layout + debt maintenance never move the
    // answer
    "q79_store_pkless_maintain" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q79").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q79", "orders", s"$work/orders")) // NO PK
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q79", "orders", orders.repartition(8)) // unsorted
      store.deleteWhere("q79", "orders",
        col("o_totalprice") < 10000.0, MergeSnapshotStore.MergeOnRead)
      val rep = store.maintainIfAdvised("q79", "orders",
        layout = Seq("o_totalprice"), filesPerBucket = 8,
        adviseAtSidecars = 1)
      require(rep.exists(_.clearedSidecars == 1),
        "the pass must fold the position sidecar")
      require(store.fileHealth("q79", "orders", "o_totalprice")
        .forall(!_.compactAdvised),
        "the pass must quiet every file")
      store.read("q79", "orders").orderBy("o_orderkey")
    }),

    // The PK-LESS change feed (multiset delta): a coarse projection of
    // orders holds many duplicate row images (no row identity — the
    // raw-shard shape); a takedown commit's feed must report, per
    // distinct image, exactly how many physical copies left — the
    // audit a keyed CDF cannot give a PK-less table
    "q80_store_multiset_feed" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val rows = t(s, d, "orders").select(col("o_orderstatus"),
        floor(col("o_totalprice") / 10000).cast("int").as("band"))
      val work = java.nio.file.Files.createTempDirectory("graft-q80").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q80", "orders", s"$work/orders")) // NO PK
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q80", "orders", rows)
      val v0 = store.latestVersion("q80", "orders")
      store.deleteWhere("q80", "orders", col("band") < 5)
      val v1 = store.latestVersion("q80", "orders")
      store.multisetChangesBetween("q80", "orders", v0, v1)
        .orderBy("o_orderstatus", "band")
    }),

    // RESTORE (Delta RESTORE TABLE / Iceberg rollback): a takedown
    // lands at v1 and a bad correction at v2; the statement-dialect
    // rewind to v1 republishes that manifest verbatim at head+1 —
    // metadata-only, no data job — so the final read equals the
    // post-takedown, pre-correction snapshot. The fixture pins the
    // no-rewrite property (restored manifest entries == v1's) before
    // returning the scan
    "q81_store_restore" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q81").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q81", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 8)
      store.overwrite("q81", "orders", orders)
      store.deleteWhere("q81", "orders", col("o_totalprice") < 50000.0)
      val v1 = store.latestVersion("q81", "orders")
      store.updateWhere("q81", "orders", expr("o_orderstatus = 'O'"),
        Map("o_orderstatus" -> lit("BAD")))
      val runner = new QueryRunner(store)
      val restored = runner.dml("q81",
        s"RESTORE TABLE orders TO VERSION AS OF $v1").toInt
      require(store.manifestEntries("q81", "orders", restored) ==
        store.manifestEntries("q81", "orders", v1),
        "restore must republish the target's file references verbatim")
      store.read("q81", "orders").orderBy("o_orderkey")
    }),

    // SHALLOW CLONE (Delta CREATE TABLE … SHALLOW CLONE): a zero-copy
    // clone borrows the source's files by absolute manifest reference —
    // no data job — then diverges with its own takedown; the source
    // must stay byte-identical and the clone's scoped delete rewrites
    // only the touched buckets locally while still borrowing the rest.
    // The fixture pins all three properties (no copied bytes at clone
    // time, absolute borrowed refs, untouched source) before returning
    // the diverged clone's scan
    "q82_store_shallow_clone" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q82").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q82", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q82", "orders", orders)
      val srcCount = store.read("q82", "orders").count()
      val v0 = store.cloneTable("q82", "orders", "q82", "orders_clone",
        s"$work/orders_clone")
      require(!new java.io.File(s"$work/orders_clone/data").exists(),
        "a shallow clone must not copy a byte")
      require(store.manifestEntries("q82", "orders_clone", v0)
        .values.forall(_.startsWith(s"$work/orders")),
        "borrowed refs must be absolute into the source")
      store.deleteWhere("q82", "orders_clone",
        col("o_orderstatus") === "F" && col("o_totalprice") < 150000.0)
      require(store.read("q82", "orders").count() == srcCount,
        "the clone's takedown must not touch the source")
      store.read("q82", "orders_clone").orderBy("o_orderkey")
    }),

    // DESCRIBE HISTORY (Delta parity): every commit path stamps its
    // manifest with the operation that published it; the history read
    // is driver-side manifest parsing only. A scripted DML lifecycle
    // must read back as exactly its own operation log — the oracle is
    // the script itself (a VALUES table), which also pins version
    // arithmetic (one version per commit, restore names its target)
    "q83_store_history" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q83").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q83", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 16)
      store.overwrite("q83", "orders", orders)                      // v0
      store.deleteWhere("q83", "orders", col("o_totalprice") < 10000.0) // v1
      store.updateWhere("q83", "orders", expr("o_orderstatus = 'P'"),
        Map("o_orderstatus" -> lit("X")))                           // v2
      store.deleteWhere("q83", "orders", col("o_totalprice") > 150000.0,
        MergeSnapshotStore.MergeOnRead)                             // v3
      store.compactDebt("q83", "orders")                            // v4
      store.restore("q83", "orders", 2)                             // v5
      store.history("q83", "orders")
        .select(col("version"), col("operation")).orderBy("version")
    }),

    // CHECK constraints (Delta invariants): writes enforce in-flight —
    // the guard rides the write job (Or short-circuits, to_json only on
    // violation), so a violating UPDATE fails inside its own job,
    // names the row, and consumes no version. The fixture pins the
    // refusal mid-script (statement-added constraint, violating
    // correction refused, conforming one lands) and the oracle is the
    // conforming end state
    "q84_store_check_constraint" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q84").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q84", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      val runner = new QueryRunner(store)
      store.overwrite("q84", "orders", orders)
      runner.dml("q84",
        "ALTER TABLE orders ADD CONSTRAINT price_pos CHECK (o_totalprice > 0)")
      val v = store.latestVersion("q84", "orders")
      val refused =
        try { runner.dml("q84",
          "UPDATE orders SET o_totalprice = -1.0 WHERE o_orderstatus = 'F'")
          false }
        catch { case _: Throwable => true }
      require(refused && store.latestVersion("q84", "orders") == v,
        "the violating correction must refuse without consuming a version")
      runner.dml("q84",
        "UPDATE orders SET o_totalprice = 1.0 WHERE o_orderstatus = 'F'")
      store.read("q84", "orders").orderBy("o_orderkey")
    }),

    // Manifest row counts: count(*) answered from per-file counts the
    // stats lift recorded — a driver-side sum, ZERO Spark jobs (the
    // fixture pins the fast path via manifestRowCount before returning)
    // — across an overwrite and a CoW takedown. At 100 TB this is a
    // metadata lookup where a count job would scan the table
    "q85_store_manifest_count" -> ((s, d) => {
      import s.implicits._
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
      val work = java.nio.file.Files.createTempDirectory("graft-q85").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q85", "lineitem", s"$work/lineitem",
        primaryKey = Seq("l_orderkey", "l_linenumber")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q85", "lineitem", li)
      store.deleteWhere("q85", "lineitem", col("l_returnflag") === "R")
      require(store.manifestRowCount("q85", "lineitem").isDefined,
        "the CoW snapshot must answer count(*) from the manifest alone")
      Seq(store.countRows("q85", "lineitem")).toDF("cnt")
    }),

    // Change-feed EXPORT (the Delta CDF readStream story): a takedown
    // and a correction land as commits; advance() exports the combined
    // keyed I/U/D delta as one immutable directory. The exported rows
    // ARE the oracle-expressible diff: one D per deleted key (new-side
    // columns null), one U per surviving corrected key carrying the
    // new values
    "q86_store_change_feed" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.streaming.ChangeFeed
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q86").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q86", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      // keepVersions must cover the exporter's lag: the diff pins the
      // baseline version, so it has to outlive the two commits
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 8)
      store.overwrite("q86", "orders", orders)
      val feed = s"$work/feed"
      require(ChangeFeed.advance(store, "q86", "orders", feed).isEmpty,
        "the baseline advance exports nothing")
      store.deleteWhere("q86", "orders", col("o_totalprice") < 30000.0)
      store.updateWhere("q86", "orders", expr("o_orderstatus = 'P'"),
        Map("o_orderstatus" -> lit("X")))
      val Some((from, to)) = ChangeFeed.advance(store, "q86", "orders", feed)
      s.read.parquet(s"$feed/delta_v${from}_v$to")
        .select(col("o_orderkey"), col("change"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // Callable VACUUM + time-based retention (Delta VACUUM parity):
    // a merge-on-read takedown then a debt fold leave the masked bytes
    // in tombstoned directories the table's retention horizon (per-
    // table property, 1 hour here) protects through every commit-path
    // pass; on the now COMMIT-QUIET table an explicit vacuum inside
    // the window reclaims nothing, and the RETAIN-overridden pass (the
    // operator's assertion that the window has served its purpose)
    // physically reclaims them. The fixture pins the physics (files
    // actually left the disk, nothing inside the window, no version
    // consumed) and the oracle pins ANSWER INVARIANCE: a vacuum may
    // delete bytes, never rows
    "q87_store_vacuum" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q87").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q87", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey"),
        properties = Map(MergeSnapshotStore.RetentionProp ->
          (3600L * 1000L).toString)))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 1)
      store.overwrite("q87", "orders", orders)
      store.deleteWhere("q87", "orders", col("o_totalprice") < 30000.0,
        MergeSnapshotStore.MergeOnRead)
      store.compactDebt("q87", "orders")
      val head = store.latestVersion("q87", "orders")
      def diskFiles(): Long = {
        val root = new java.io.File(s"$work/orders/data")
        if (!root.exists()) 0L
        else java.nio.file.Files.walk(root.toPath)
          .filter(p => p.toString.endsWith(".parquet")).count()
      }
      val filesBefore = diskFiles()
      require(store.vacuum("q87", "orders").dirsReclaimed == 0 &&
        diskFiles() == filesBefore,
        "inside the window a vacuum must reclaim nothing")
      val report = store.vacuum("q87", "orders", retainMs = Some(0L))
      require(report.dirsReclaimed > 0 && diskFiles() < filesBefore,
        s"the horizon-cleared vacuum must physically reclaim: $report")
      require(store.latestVersion("q87", "orders") == head,
        "vacuum is lifecycle, not a commit — no version consumed")
      store.read("q87", "orders").orderBy("o_orderkey")
    }),

    // Column-mapping RENAME (Delta columnMapping / Iceberg field ids):
    // files and stats always spell columns PHYSICALLY, so the rename
    // is one manifest write — carried files keep reading correct
    // values under the new name (never silent NULLs), post-rename DML
    // binds the new name over pre-rename files, and the change feed
    // treats the renamed column as the SAME column. The fixture pins
    // metadata-only (file set unchanged across the rename) and the
    // feed alignment; the oracle projects the post-rename schema
    "q88_store_rename_column" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q88").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q88", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 8)
      val runner = new QueryRunner(store)
      store.overwrite("q88", "orders", orders)
      // a scoped takedown first, so the table holds carried files
      store.deleteWhere("q88", "orders", col("o_totalprice") < 20000.0)
      val v1 = store.latestVersion("q88", "orders")
      val filesBefore = store.filesOf("q88", "orders").count()
      runner.dml("q88",
        "ALTER TABLE orders RENAME COLUMN o_totalprice TO total_price")
      require(store.filesOf("q88", "orders").count() == filesBefore,
        "a rename is metadata-only: the same files serve the new schema")
      // post-rename DML binds the NEW name over pre-rename files
      runner.dml("q88", "DELETE FROM orders WHERE total_price > 180000.0")
      // the feed across the rename compares by physical identity: the
      // D rows spell the NEW name
      val feed = store.changesBetween("q88", "orders", v1,
        store.latestVersion("q88", "orders"))
      require(feed.columns.contains("total_price") &&
        !feed.columns.contains("o_totalprice"),
        s"feed must spell the newer version's names: ${feed.columns.toSeq}")
      store.read("q88", "orders").orderBy("o_orderkey")
    }),

    // Metadata-only ADD COLUMN (Delta ALTER TABLE ADD COLUMNS): the
    // widened schema reads NULL from every existing file — no data
    // job — and the first write that provides values (an UPDATE
    // backfill here) lands them normally. The fixture pins
    // metadata-only (file set unchanged across the DDL); the oracle
    // computes the backfill as a projection
    "q91_store_add_column" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q91").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q91", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 8)
      val runner = new QueryRunner(store)
      store.overwrite("q91", "orders", orders)
      // a scoped takedown first, so carried pre-DDL files exist
      store.deleteWhere("q91", "orders", col("o_totalprice") < 20000.0)
      val filesBefore = store.filesOf("q91", "orders").count()
      runner.dml("q91", "ALTER TABLE orders ADD COLUMN note string")
      require(store.filesOf("q91", "orders").count() == filesBefore,
        "an add is metadata-only: the same files serve the widened schema")
      runner.dml("q91",
        "UPDATE orders SET note = 'flagged' WHERE o_orderstatus = 'F'")
      store.read("q91", "orders").orderBy("o_orderkey")
    }),

    // Metadata-only type WIDENING (Delta type widening / Iceberg
    // safe-cast evolution — the reference's GoldenGate NUMBER
    // precision ladder arriving downstream): the manifest's schema
    // carries the wider type, carried narrow files PROMOTE at scan
    // (int32 pages surface as bigint, decimal re-scales), and
    // post-widen DML lands values only the wide type can hold. The
    // fixture pins metadata-only (file set unchanged across BOTH
    // widens), the promotion correctness over carried files, and the
    // feed's up-cast alignment; the oracle computes the same ledger
    // in DuckDB under explicit casts
    "q92_store_widen_column" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey").cast("int").as("cust"), col("o_orderstatus"),
        (col("o_orderkey") % 90000).cast("decimal(7,2)").as("amt"))
      val work = java.nio.file.Files.createTempDirectory("graft-q92").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q92", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 8)
      val runner = new QueryRunner(store)
      store.overwrite("q92", "orders", orders)
      // a scoped takedown first, so carried narrow files exist
      store.deleteWhere("q92", "orders", col("amt") < 1000)
      val v1 = store.latestVersion("q92", "orders")
      val filesBefore = store.filesOf("q92", "orders").count()
      runner.dml("q92", "ALTER TABLE orders ALTER COLUMN cust TYPE bigint")
      runner.dml("q92",
        "ALTER TABLE orders ALTER COLUMN amt TYPE decimal(12, 4)")
      require(store.filesOf("q92", "orders").count() == filesBefore,
        "a widen is metadata-only: the same files serve the wider schema")
      // a value past Int.MaxValue, written THROUGH the widened schema
      // over buckets whose untouched siblings carry int32 files
      runner.dml("q92",
        "UPDATE orders SET cust = cust + 3000000000 " +
          "WHERE o_orderstatus = 'F'")
      // the feed across the widen up-casts the narrow side: one column,
      // wider clothes — never a drop+add
      val feed = store.changesBetween("q92", "orders", v1,
        store.latestVersion("q92", "orders"))
      require(feed.schema("cust").dataType ==
        org.apache.spark.sql.types.LongType,
        s"feed must spell the widened type: ${feed.schema("cust").dataType}")
      // the widened decimal must READ wide off carried narrow files —
      // pinned here, inside the fixture, where the decimal lives
      val widened = store.read("q92", "orders")
      require(widened.schema("amt").dataType ==
        org.apache.spark.sql.types.DecimalType(12, 4),
        s"read must spell the widened decimal: ${widened.schema("amt").dataType}")
      // board output in the integer-units discipline (like q69's
      // o_price_cents): amt surfaces as bigint deci-milli-units — the
      // driver's hash canonicalization distinguishes Spark's INT64-backed
      // parquet decimal from DuckDB's computed decimal128 even when every
      // value agrees, so a raw decimal output column can never hash-match
      val out = widened.withColumn("amt_tenk",
        (col("amt") * 10000).cast("long")).drop("amt")
      out.orderBy("o_orderkey")
    }),

    // Per-table-reference SQL time travel (Delta's reader syntax,
    // parsed by Spark's own grammar): one statement joins the HEAD
    // fact against a VERSION AS OF-pinned dimension, each reference
    // resolving through its own pinned skipping scan. The fixture
    // REDACTS names at the dim's head so the pin provably does the
    // work (an unpinned join would surface the redactions); the oracle
    // computes the same join with the pristine dimension
    "q93_sql_time_travel_join" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val work = java.nio.file.Files.createTempDirectory("graft-q93").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q93", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      cat.register(TableMeta("q93", "cust", s"$work/cust",
        primaryKey = Seq("c_custkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 8)
      val runner = new QueryRunner(store)
      store.overwrite("q93", "cust", t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")))
      val dv0 = store.latestVersion("q93", "cust")
      runner.dml("q93",
        "UPDATE cust SET c_name = 'REDACTED' WHERE c_acctbal < 0.0")
      require(store.read("q93", "cust")
          .filter(col("c_name") === "REDACTED").count() > 0,
        "the head must differ from the pin, or the pin proves nothing")
      store.overwrite("q93", "orders", t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
      store.deleteWhere("q93", "orders", col("o_totalprice") < 50000.0)
      runner.sql("q93",
        s"""SELECT o.o_orderkey, c.c_name AS name_asof, o.o_totalprice
            FROM orders o JOIN cust VERSION AS OF $dv0 c
            ON o.o_custkey = c.c_custkey
            WHERE o.o_totalprice > 150000.0
            ORDER BY o.o_orderkey""")
    }),

    // PRIMARY KEY rename — the guided path: one statement moves the
    // manifest schema (column mapping), the catalog registration and
    // the sidecar-binding record together, and a merge-on-read
    // takedown written BEFORE the rename keeps masking after it
    // (sidecars spell the key's PHYSICAL name, which never changes).
    // The fixture pins metadata-only, the moved registration, and
    // post-rename DML binding the new key name; the oracle projects
    // the renamed schema over the same survivor set
    "q94_store_pk_rename" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q94").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q94", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 8)
      val runner = new QueryRunner(store)
      store.overwrite("q94", "orders", orders)
      // a MoR takedown FIRST: its equality sidecar spells the key's
      // physical name and must keep masking across the rename
      store.deleteWhere("q94", "orders", col("o_totalprice") < 20000.0,
        MergeSnapshotStore.MergeOnRead)
      val filesBefore = store.filesOf("q94", "orders").count()
      // the plain RENAME COLUMN statement auto-routes the PK column
      runner.dml("q94",
        "ALTER TABLE orders RENAME COLUMN o_orderkey TO order_id")
      require(store.catalog("q94", "orders").primaryKey == Seq("order_id"),
        "the catalog registration must move with the schema")
      require(store.filesOf("q94", "orders").count() == filesBefore,
        "a PK rename is metadata-only: the same files serve the new key")
      // post-rename DML binds the new spelling over pre-rename files,
      // THROUGH the pre-rename sidecar's masking
      runner.dml("q94", "DELETE FROM orders WHERE o_totalprice > 180000.0")
      store.read("q94", "orders").orderBy("order_id")
    }),

    // The registration lifecycle DRIVEN BY STATEMENTS end to end:
    // CREATE TABLE registers (external semantics), the first write
    // bootstraps the manifest log, statement DML and policy land,
    // SHOW TABLES lists it, DROP TABLE detaches metadata-only, and
    // re-CREATE over the surviving location RE-ATTACHES the committed
    // history — post-re-attach DML proves the history is all there.
    // The oracle computes the same two-statement survivor/update set
    "q95_statement_lifecycle" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore}
      import graft.operators.QueryRunner
      val work = java.nio.file.Files.createTempDirectory("graft-q95").toString
      val store = new MergeSnapshotStore(s, new InMemoryCatalog,
        nBuckets = 8, keepVersions = 8)
      val runner = new QueryRunner(store)
      val ddl = "CREATE TABLE orders (o_orderkey BIGINT, o_custkey " +
        "BIGINT, o_orderstatus STRING, o_totalprice DOUBLE) USING " +
        s"parquet LOCATION '$work/orders' TBLPROPERTIES ('graft.pk'=" +
        "'o_orderkey')"
      runner.dml("q95", ddl)
      store.overwrite("q95", "orders", t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice")))
      runner.dml("q95", "DELETE FROM orders WHERE o_totalprice < 20000.0")
      runner.dml("q95", "ALTER TABLE orders SET TBLPROPERTIES " +
        s"('${MergeSnapshotStore.RetentionProp}'='60000')")
      require(runner.sql("q95", "SHOW TABLES").collect()
          .map(_.getString(0)).contains("orders"),
        "SHOW TABLES must list the registration")
      runner.dml("q95", "DROP TABLE orders") // detach, bytes survive
      runner.dml("q95", ddl)                 // re-attach the history
      runner.dml("q95",
        "UPDATE orders SET o_orderstatus = 'X' WHERE o_totalprice > 180000.0")
      store.read("q95", "orders").orderBy("o_orderkey")
    }),

    // Statement INSERT: `INSERT INTO … SELECT` resolves its source
    // through the store-plan splice (manifest-pruned scan), new keys
    // land through the scoped-commit funnel (N-row insert prices by N,
    // never by the table), duplicate keys refuse toward MERGE INTO
    // (pinned in-fixture), and the re-assembled table answers exactly
    // the full corpus under the follow-up takedown
    "q96_statement_insert" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q96").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q96", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      cat.register(TableMeta("q96", "staged", s"$work/staged",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 8)
      val runner = new QueryRunner(store)
      store.overwrite("q96", "orders",
        orders.filter(col("o_orderkey") % 3 =!= 0))
      store.overwrite("q96", "staged",
        orders.filter(col("o_orderkey") % 3 === 0))
      val staged = store.countRows("q96", "staged")
      val n = runner.dml("q96", "INSERT INTO orders SELECT * FROM staged")
      require(n == staged, s"INSERT must land every staged row: $n/$staged")
      // a re-insert of the same keys refuses toward the upsert surface
      val dup = try {
        runner.dml("q96",
          "INSERT INTO orders SELECT * FROM staged LIMIT 1"); None
      } catch { case e: IllegalArgumentException => Some(e) }
      require(dup.exists(_.getMessage.contains("MERGE INTO")),
        s"duplicate keys must refuse toward MERGE INTO: $dup")
      runner.dml("q96", "DELETE FROM orders WHERE o_totalprice < 20000.0")
      store.read("q96", "orders").orderBy("o_orderkey")
    }),

    // Guaranteed time travel (graft.manifest.keep.ms — Delta's
    // logRetentionDuration per table): manifests younger than the
    // window survive vacuum expiry beyond the keepVersions COUNT
    // floor, so an AS-OF read the count alone would have expired keeps
    // answering. keepVersions=1 + two commits + an eager explicit
    // vacuum: without the property v0 is gone; with it, the pinned
    // read of v0 IS the oracle (the pre-delete snapshot)
    "q90_store_time_travel" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q90").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q90", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey"),
        properties = Map(MergeSnapshotStore.ManifestKeepProp ->
          (3600L * 1000L).toString)))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 1)
      store.overwrite("q90", "orders", orders)              // v0
      store.deleteWhere("q90", "orders",
        col("o_totalprice") < 50000.0)                      // v1
      store.vacuum("q90", "orders", retainMs = Some(0L))
      require(store.history("q90", "orders").count() == 2,
        "the keep window must hold BOTH manifests past the count floor")
      store.read("q90", "orders", Some(0)).orderBy("o_orderkey")
    }),

    // Column-mapping DROP (the second half of schema evolution): the
    // manifest's schema simply loses the field — no data job, carried
    // files keep serving the remaining columns, and the dropped
    // column's on-disk name joins the RETIRED list so a later ADD
    // cannot resurrect carried data. The fixture pins metadata-only
    // (file set unchanged), the resurrection refusal, and post-drop
    // DML over carried files; the oracle projects the narrowed schema
    "q89_store_drop_column" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      import graft.operators.QueryRunner
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val work = java.nio.file.Files.createTempDirectory("graft-q89").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q89", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8,
        keepVersions = 8)
      val runner = new QueryRunner(store)
      store.overwrite("q89", "orders", orders)
      // a scoped takedown first, so carried files hold the full schema
      store.deleteWhere("q89", "orders", col("o_totalprice") < 20000.0)
      val filesBefore = store.filesOf("q89", "orders").count()
      runner.dml("q89", "ALTER TABLE orders DROP COLUMN o_orderstatus")
      require(store.filesOf("q89", "orders").count() == filesBefore,
        "a drop is metadata-only: the same files serve the new schema")
      // re-adding the dropped name must refuse — the carried files
      // still hold it and the add would resurrect takedown-era data
      val refused =
        try { store.mergeScoped("q89", "orders",
            store.read("q89", "orders").limit(1).select("o_orderkey")) {
            old => old.withColumn("o_orderstatus",
              when(col("o_orderkey") >= 0L, lit("X")))
          }; false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("resurrect") }
      require(refused, "the resurrection add must refuse by name")
      // post-drop DML over the carried files
      runner.dml("q89", "DELETE FROM orders WHERE o_totalprice > 180000.0")
      store.read("q89", "orders").orderBy("o_orderkey")
    }),

    // The SQL surface THROUGH the storage engine (read /
    // StoreFileIndex): the reference's primary query shape — domain SQL
    // over temp views (reference src/apply_to_domains.py:54-68) — runs
    // over store-backed views whose scans prune files via the manifest
    // stats walk before any parquet footer opens; the date predicate
    // reaches the range-laid-out orders scan THROUGH the join. The
    // oracle is the identical SQL over the raw tables — skipping is a
    // sound superset, so only the plan changes, never the answer
    // (SqlSkippingSpec pins the file-list equality with readWhere)
    "q67_store_sql_join" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"))
        .repartitionByRange(8, col("o_orderdate"))
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val work = java.nio.file.Files.createTempDirectory("graft-q67").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q67", "orders", s"$work/orders"))
      cat.register(TableMeta("q67", "customer", s"$work/customer"))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 8)
      store.overwrite("q67", "orders", orders)
      store.overwrite("q67", "customer", cust)
      store.read("q67", "orders")
        .createOrReplaceTempView("q67_orders")
      store.read("q67", "customer")
        .createOrReplaceTempView("q67_customer")
      s.sql(
        """SELECT c.c_mktsegment,
                  count(*) AS n,
                  sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                    AS total_cents
           FROM q67_orders o JOIN q67_customer c
             ON o.o_custkey = c.c_custkey
           WHERE o.o_orderdate >= DATE '1997-01-01'
           GROUP BY c.c_mktsegment
           ORDER BY c.c_mktsegment""")
    }),

    // distinct-count IVM through the multiplicity auxiliary view:
    // COUNT(DISTINCT v) is not self-maintainable (deleting a value
    // can't tell last-copy-gone from duplicates-remain), but the
    // (group, value, mult) view folds deltas exactly and the distinct
    // count reads off it — oracle recomputes count(DISTINCT) from
    // scratch over the new snapshot
    "q52_ivm_distinct" -> ((s, d) => {
      val base = t(s, d, "orders")
      val oldSnap = base.filter(col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("o_custkey") % 199).as("cust_bucket"))
      val newSnap = base.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          when(col("o_orderkey") % 7 === 0, (col("o_custkey") + 1) % 199)
            .otherwise(col("o_custkey") % 199).as("cust_bucket"))
      val aux = Ivm.distinctAux(oldSnap, col("o_orderpriority"),
        col("cust_bucket"))
      val changes = Scd.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
      val newAux = Ivm.applyDistinctAuxDelta(aux, oldSnap, changes,
        Seq("o_orderkey"), col("o_orderpriority"), col("cust_bucket"))
      Ivm.distinctCount(newAux).orderBy("grp")
    }),

    // change data feed from committed store versions: two snapshots
    // commit (v0, v1) and the store derives the I/U/D changelog between
    // them after the fact — no changelog recorded at write time; the
    // oracle recomputes the same diff from the raw snapshots
    "q51_version_diff" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      def cents(c: Column) = round(c * 100).cast("long")
      val base = t(s, d, "orders")
      val v0 = base.filter(col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("price_c"))
      val v1 = base.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents(when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice"))).as("price_c"))
      val work = java.nio.file.Files.createTempDirectory("graft-q51").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q51", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 32)
      store.overwrite("q51", "orders", v0)
      store.overwrite("q51", "orders", v1)
      store.changesBetween("q51", "orders", 0, 1).orderBy("o_orderkey")
    }),

    // incremental view maintenance: the q45 changelog folded into a
    // grouped count/sum aggregate — the oracle recomputes the aggregate
    // FROM SCRATCH over the new snapshot, so equality proves the delta
    // propagation is exact (integer cents keep the sum order-free)
    "q46_ivm" -> ((s, d) => {
      val base = t(s, d, "orders")
      def cents(c: Column) = round(c * 100).cast("long")
      val oldSnap = base.filter(col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("price_c"))
      val newSnap = base.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents(when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice"))).as("price_c"))
      val baseAgg = Ivm.countSumAgg(oldSnap, col("o_orderpriority"), col("price_c"))
      val changes = Scd.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
      Ivm.applyCountSumDelta(baseAgg, oldSnap, changes, Seq("o_orderkey"),
          col("o_orderpriority"), col("price_c"))
        .orderBy("grp")
    }),

    // URL-level dedup: four crawl variants of the same page (tracking
    // params, fragment, default port, www, case, trailing slash)
    // collapse to one canonical form; best row per canonical URL kept
    // by token count (doc_id tie-break)
    "d19_url_dedup" -> ((s, d) => {
      val p = (col("doc_id") % 97).cast("string")
      val urls = t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        element_at(array(
          concat(lit("https://www.example.com:443/a/"), p,
            lit("?utm_source=x&utm_medium=y#frag")),
          concat(lit("HTTPS://EXAMPLE.COM/a/"), p, lit("/")),
          concat(lit("https://example.com/a/"), p, lit("?ref=tw")),
          concat(lit("https://example.com:80/a/"), p, lit("#nav"))),
          (col("doc_id") % 4 + 1).cast("int")).as("url"))
      UrlFilter.dedupByCanonicalUrl(urls, "url", "n_tokens", "doc_id")
        .select("doc_id", "canon_url", "n_tokens")
        .orderBy("doc_id")
    }),

    // hashed-bag-of-words linear classifier score (fastText-shaped
    // model quality filter; weights are the documented hash-derived
    // stand-in) — integer milli-units, zero-shuffle in-row fold
    "t20_hashed_score" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.hashedLinearScoreMilli(col("text")).as("score_milli"))
        .orderBy("doc_id")),

    // MODEL-BASED multi-class language ID through the loadable-weights
    // seam (fastText architecture): a per-term weight table — here an
    // interpretable stopword model, four 1000-milli indicator
    // coordinates with shared terms (de/un/que) voting for BOTH their
    // languages — broadcast-joined to the token stream, per-class sums
    // in one aggregate, argmax with first-class tie-break, 'und' when
    // nothing the model knows appears; the oracle replays the table,
    // the sums, and the argmax exactly
    "t31_weighted_lang_id" -> ((s, d) => {
      import s.implicits._
      val lists = Seq(
        "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that",
          "it", "for"),
        "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est",
          "que", "pour"),
        "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist",
          "zu", "mit", "von"),
        "es" -> Seq("el", "los", "las", "de", "y", "un", "una", "es",
          "que", "para"))
      val classes = lists.map(_._1)
      val weights = lists.zipWithIndex
        .flatMap { case ((_, ts), j) => ts.map(_ -> j) }
        .groupBy(_._1).toSeq
        .map { case (term, js) =>
          (term, classes.indices.map(j =>
            if (js.exists(_._2 == j)) 1000L else 0L).toSeq)
        }
        .toDF("term", "w_milli")
      TextAnalysis.classifyByWeights(t(s, d, "documents"), "doc_id",
          "text", weights, classes)
        .select(col("doc_id"), col("pred"),
          element_at(col("scores_milli"), 1).as("s_en"),
          element_at(col("scores_milli"), 2).as("s_fr"),
          element_at(col("scores_milli"), 3).as("s_de"),
          element_at(col("scores_milli"), 4).as("s_es"))
        .orderBy("doc_id")
    }),

    // control/zero-width/NBSP cleanup: junk is injected by doc_id class
    // so the operator provably strips each character family
    "t21_clean_text" -> ((s, d) => {
      val junk = t(s, d, "documents").select(col("doc_id"), concat(
          when(col("doc_id") % 3 === 0, lit("\u0007bell\u001fctl "))
            .otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 3 === 1,
            lit(" zero\u200bwidth\u200c\ufeffend")).otherwise(lit("")),
          when(col("doc_id") % 3 === 2, lit(" nb\u00a0sp\u009fctl"))
            .otherwise(lit(""))).as("text"))
      junk.select(col("doc_id"),
          TextAnalysis.cleanText(col("text")).as("clean"))
        .orderBy("doc_id")
    }),

    // contiguous training-context packing: concat-then-slice positions
    // (context id, in-context offset, straddle end) from ONE running
    // total — the oracle replays the windowed cumsum arithmetic
    "t22_pack_contexts" -> ((s, d) =>
      PrefixScan.packContexts(
          t(s, d, "documents").select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", contextLen = 512)
        .orderBy("doc_id")),

    // sentence segmentation: terminator+whitespace boundaries via an
    // inserted separator (no lookbehind — RE2-portable), trimmed,
    // empties dropped, dense post-filter positions. The synthetic corpus
    // carries no sentence punctuation, so a period is planted after
    // every third word first — otherwise the oracle would compare
    // one-sentence rows and verify nothing
    "t25_sentences" -> ((s, d) => {
      val punct = t(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"),
          "([a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ", "$1. ").as("text"))
      punct
        .select(col("doc_id"), posexplode(TextAnalysis.sentences(col("text"))))
        .withColumnRenamed("pos", "sent_idx")
        .withColumnRenamed("col", "sentence")
        .orderBy("doc_id", "sent_idx")
    }),

    // sentence-grain boilerplate removal: periods planted (the t25
    // synthesis), one of three shared boilerplate sentences appended per
    // doc class plus a unique ref sentence — the shared ones vanish, the
    // unique ones and the body survive in order
    "d21_boilerplate_sentences" -> ((s, d) => {
      val e = t(s, d, "documents").select(col("doc_id"), concat(
          regexp_replace(col("text"),
            "([a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ", "$1. "),
          lit(". "),
          element_at(array(lit("Subscribe to our newsletter today."),
            lit("All rights reserved example corp."),
            lit("Cookie policy accept to continue.")),
            (col("doc_id") % 3 + 1).cast("int")),
          lit(" Ref doc "), col("doc_id").cast("string"), lit("."))
        .as("text"))
      Dedup.removeBoilerplateSentences(e, "doc_id", "text", minDocs = 3)
        .orderBy("doc_id")
    }),

    // content-defined chunking: local-hash cut rule over the m01
    // payloads — boundaries depend on content, not position, so they
    // survive insertions that shift every fixed-grid chunk. Runs the
    // STREAMED form (one pass per blob, row-at-a-time memory — the
    // at-scale path); the expression form is its spec-pinned,
    // oracle-replayable twin
    "d20_cdc_chunks" -> ((s, d) =>
      Multimodal.cdcChunksStreamed(t(s, d, "documents"), "doc_id",
          Multimodal.syntheticPayload(col("doc_id"), col("text")),
          w = 8, divisor = 16)
        .orderBy("doc_id", "chunk_idx")),

    // embedding generation (feature-hashing twin): 8 integer-milli
    // coordinates per doc, exploded to (doc, dim, value) rows so the
    // oracle replays every coordinate
    "t24_hashed_embedding" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.hashedEmbeddingMilli(col("text"), 8)))
        .withColumnRenamed("pos", "dim").withColumnRenamed("col", "val_milli")
        .orderBy("doc_id", "dim")),

    // incremental exact dedup: the 3/4 "existing corpus" seeds the
    // fingerprint store; the 1/4 "new batch" dedups against it without
    // a corpus rescan — only genuinely new fingerprints survive
    "q47_incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val seen = Dedup.exact(docs.filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text").select("fingerprint")
      Dedup.exactIncremental(docs.filter(col("doc_id") % 4 === 0),
          "doc_id", "text", seen)
        .orderBy("fingerprint")
    }),

    // PK point lookup over the MERGE store: the table commits into
    // PK-hash buckets; the lookup resolves its keys' buckets from the
    // manifest and scans ONLY those directories (at 100 TB / 4096
    // buckets a point read plans 1/4096th of the table's files, the
    // pushed PK predicate row-group-pruning the rest) — proven equal to
    // a full-scan filter by the oracle
    "q48_point_lookup" -> ((s, d) => {
      import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
      val orders = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val work = java.nio.file.Files.createTempDirectory("graft-q48").toString
      val cat = new InMemoryCatalog
      cat.register(TableMeta("q48", "orders", s"$work/orders",
        primaryKey = Seq("o_orderkey")))
      val store = new MergeSnapshotStore(s, cat, nBuckets = 32)
      store.overwrite("q48", "orders", orders)
      val keys = orders.filter(col("o_orderkey") % 9973 === 7).select("o_orderkey")
      store.pointLookup("q48", "orders", keys).orderBy("o_orderkey")
    }),

    // min/max IVM: inserts fold monotonically into the aggregate;
    // deletes/updates that hit a group's stored extremum trigger a
    // rescan of ONLY the affected groups (delta-sized list, semi-join
    // restricted) — maintained output bit-equal to the from-scratch
    // recompute the oracle runs
    "q49_ivm_minmax" -> ((s, d) => {
      val base = t(s, d, "orders")
      def cents(c: Column) = round(c * 100).cast("long")
      val oldSnap = base.filter(col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("price_c"))
      val newSnap = base.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents(when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice"))).as("price_c"))
      val baseAgg = Ivm.minMaxAgg(oldSnap, col("o_orderpriority"), col("price_c"))
      val changes = Scd.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
      Ivm.applyMinMaxDelta(baseAgg, oldSnap, newSnap, changes,
          Seq("o_orderkey"), col("o_orderpriority"), col("price_c"))
        .orderBy("grp")
    }),

    // script identification: doc_id classes swap in Cyrillic/CJK/Arabic
    // bodies (and one mixed Greek+Latin case) so every class and the
    // argmax tie-break are exercised
    "t23_script_id" -> ((s, d) => {
      val swapped = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 1, lit("Привет мир это проверка"))
          .when(col("doc_id") % 5 === 2, lit("你好世界 これはテスト"))
          .when(col("doc_id") % 5 === 3, lit("مرحبا بالعالم هذا اختبار"))
          .when(col("doc_id") % 5 === 4,
            concat(lit("mixed Γειά σου "), substring(col("text"), 1, 20)))
          .otherwise(col("text")).as("text"))
      swapped.select(col("doc_id"),
          TextAnalysis.dominantScript(col("text")).as("script"))
        .orderBy("doc_id")
    }),

    // keyframe extraction / temporal chunk dedup: payloads built as
    // runs of a 64-byte period so consecutive chunks repeat; only
    // scene-change chunks (run starts) survive
    "m06_keyframes" -> ((s, d) => {
      val seg1 = rpad(substring(col("text"), 1, 60), 64, "x")
      val seg2 = rpad(substring(col("text"), 61, 60), 64, "y")
      val pay = Multimodal.syntheticPayload(col("doc_id"),
        concat(repeat(seg1, 3), repeat(seg2, 2)))
      Multimodal.keyframes(
          Multimodal.chunkFingerprints(t(s, d, "documents"), "doc_id", pay,
            chunkSize = 64),
          "doc_id")
        .orderBy("doc_id", "chunk_idx")
    }))

  /** Shared oracle snippet for d06/d07: the 0.95-jaccard near-dup graph
   * (same tokenization/threshold as d04) plus the recursive reachability
   * walk — the single source of truth so the two cluster oracles cannot
   * drift apart. Ends with the `walk(doc, lab)` CTE ready to aggregate. */
  private val ClusterWalkCte =
    """WITH RECURSIVE
       n AS (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
             FROM documents),
       tok AS (SELECT doc_id, unnest(list_distinct(string_split(t, ' '))) AS g FROM n),
       sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
       agr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
               FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
       pairs AS (SELECT doc_a, doc_b
                 FROM agr JOIN sz sa ON sa.doc_id = doc_a
                          JOIN sz sb ON sb.doc_id = doc_b
                 WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.95),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       walk AS (SELECT src AS doc, src AS lab FROM edges
                UNION
                SELECT e.src, w.lab FROM edges e JOIN walk w ON w.doc = e.dst)
       """

  /** shared oracle snippet: normalized text per doc. */
  private val NormCte =
    """WITH n AS (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
                  FROM documents)"""

  /** t16 oracle: the BPE merge loop UNROLLED to `nMerges` rounds of
   * DuckDB CTEs — each round r reads the previous round's spaced-symbol
   * vocabulary s{r-1}, aggregates weighted adjacent-pair counts, takes
   * the 1-row argmax m{r} (count desc, lhs asc, rhs asc — the operator's
   * total tie-break), and applies the merge with the same plain
   * left-to-right `replace` over the " x  y " encoding. Generated by a
   * loop so the SQL cannot drift from the round count. */
  private def bpeCtes(nMerges: Int): String = {
    // every per-round CTE is MATERIALIZED: the default inlining would
    // substitute s{r-1} (and m{r} three times) into every reference,
    // expanding the plan ~4^nMerges-fold — past the fd limit by round 8
    val rounds = (1 to nMerges).map { r =>
      s"""
       y$r AS (SELECT string_split(trim(s), '  ') AS sy, n FROM s${r - 1}),
       e$r AS (SELECT sy, n, unnest(generate_series(1, len(sy) - 1)) AS i
               FROM y$r WHERE len(sy) >= 2),
       p$r AS (SELECT sy[i] AS lhs, sy[i + 1] AS rhs,
                      CAST(sum(n) AS BIGINT) AS pair_n
               FROM e$r GROUP BY 1, 2),
       m$r AS MATERIALIZED (
               SELECT $r AS merge_round, lhs, rhs, lhs || rhs AS merged, pair_n
               FROM p$r ORDER BY pair_n DESC, lhs ASC, rhs ASC LIMIT 1),
       s$r AS MATERIALIZED (
               SELECT replace(s, ' ' || (SELECT lhs FROM m$r) || '  ' ||
                                 (SELECT rhs FROM m$r) || ' ',
                              ' ' || (SELECT merged FROM m$r) || ' ') AS s, n
               FROM s${r - 1})"""
    }.mkString(",")
    NormCte +
      """, w0 AS (SELECT w, count(*) AS n
                  FROM (SELECT unnest(string_split(t, ' ')) AS w FROM n) u
                  GROUP BY w),
       s0 AS MATERIALIZED (
               SELECT regexp_replace(w, '(.)', ' \1 ', 'g') AS s, n FROM w0)""" +
      "," + rounds
  }

  private def bpeMergesOracle(nMerges: Int): String =
    bpeCtes(nMerges) + "\n" +
      s"""SELECT merge_round, lhs, rhs, merged, pair_n
          FROM (${(1 to nMerges).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")}) m
          ORDER BY merge_round"""

  /** t38 oracle: the WordPiece merge loop replayed round by round —
   * the bpeCtes skeleton with the `##` continuation encoding, per-round
   * SYMBOL counts, and the likelihood score `pair_n / (lhs_n * rhs_n)`
   * (exact longs through IEEE doubles, identical in both engines)
   * ranking each round's merge instead of the raw count. */
  private def wordPieceMergesOracle(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { r =>
      s"""
       y$r AS (SELECT string_split(trim(s), '  ') AS sy, n FROM s${r - 1}),
       c$r AS (SELECT sym, CAST(sum(n) AS BIGINT) AS sn
               FROM (SELECT unnest(sy) AS sym, n FROM y$r) u GROUP BY sym),
       e$r AS (SELECT sy, n, unnest(generate_series(1, len(sy) - 1)) AS i
               FROM y$r WHERE len(sy) >= 2),
       p$r AS (SELECT sy[i] AS lhs, sy[i + 1] AS rhs,
                      CAST(sum(n) AS BIGINT) AS pair_n
               FROM e$r GROUP BY 1, 2),
       m$r AS MATERIALIZED (
               SELECT $r AS merge_round, p.lhs, p.rhs,
                      p.lhs || regexp_replace(p.rhs, '^##', '') AS merged,
                      p.pair_n, cl.sn AS lhs_n, cr.sn AS rhs_n
               FROM p$r p
               JOIN c$r cl ON cl.sym = p.lhs
               JOIN c$r cr ON cr.sym = p.rhs
               ORDER BY CAST(p.pair_n AS DOUBLE) /
                          (CAST(cl.sn AS DOUBLE) * CAST(cr.sn AS DOUBLE)) DESC,
                        p.lhs ASC, p.rhs ASC
               LIMIT 1),
       s$r AS MATERIALIZED (
               SELECT replace(s, ' ' || (SELECT lhs FROM m$r) || '  ' ||
                                 (SELECT rhs FROM m$r) || ' ',
                              ' ' || (SELECT merged FROM m$r) || ' ') AS s, n
               FROM s${r - 1})"""
    }.mkString(",")
    NormCte +
      """, w0 AS (SELECT w, count(*) AS n
                  FROM (SELECT unnest(string_split(t, ' ')) AS w FROM n) u
                  WHERE len(w) > 0
                  GROUP BY w),
       s0 AS MATERIALIZED (
               SELECT regexp_replace(regexp_replace(w, '(.)', ' ##\1 ', 'g'),
                                     '^ ##', ' ') AS s, n FROM w0)""" +
      "," + rounds + "\n" +
      s"""SELECT merge_round, lhs, rhs, merged, pair_n, lhs_n, rhs_n
          FROM (${(1 to nMerges).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")}) m
          ORDER BY merge_round"""
  }

  /** The fixed piece vocabulary t39 segments under, shared verbatim by
   * the Spark query and the DuckDB oracle: every ASCII letter in both
   * positions (so alphabetic words always segment) plus a handful of
   * common multi-char pieces; anything with a digit or punctuation
   * character hits the whole-word-UNK path. */
  private val WordPieceVocab: Seq[String] =
    ('a' to 'z').map(_.toString) ++ ('a' to 'z').map(c => s"##$c") ++
      Seq("th", "wh", "an", "re", "##he", "##the", "##an", "##in",
        "##ing", "##er", "##ed", "##es", "##on", "##nd", "##ch")

  /** t18 oracle: the t16 merge CTEs replayed over each DOCUMENT's
   * spaced-character encoding (word boundaries widen to >= 3 spaces, so
   * no pair pattern crosses them). A round whose m{r} is empty (loop
   * exhausted) coalesces its pattern to chr(1) — absent from the corpus,
   * so the round is a no-op, matching the operator's early stop. */
  private def bpeSegmentOracle(nMerges: Int): String = {
    val docChain = (1 to nMerges).map { r =>
      s"""
       g$r AS MATERIALIZED (
               SELECT doc_id,
                      replace(s, coalesce(' ' || (SELECT lhs FROM m$r) || '  ' ||
                                          (SELECT rhs FROM m$r) || ' ', chr(1)),
                              coalesce(' ' || (SELECT merged FROM m$r) || ' ', chr(1))) AS s
               FROM g${r - 1})"""
    }.mkString(",")
    bpeCtes(nMerges) +
      """, g0 AS (SELECT doc_id, regexp_replace(t, '(.)', ' \1 ', 'g') AS s FROM n)""" +
      "," + docChain + "\n" +
      s"""SELECT doc_id,
                 regexp_replace(trim(s), ' +', ' ', 'g') AS bpe,
                 CAST(len(string_split_regex(trim(s), ' +')) AS BIGINT) AS n_bpe
          FROM g$nMerges ORDER BY doc_id"""
  }

  /** Shared d12/d14 span pipeline: positional 8-token shingle index,
   * hot-shingle guard (occ <= 64), fixed-delta consecutive runs, and the
   * per-doc overlap merge — ending at `grp` (one row per surviving span
   * occurrence, keyed (doc_id, grp) for the min/max span bounds). */
  private val SpanCte = NormCte +
    """, tk AS (SELECT doc_id, string_split(t, ' ') AS ts FROM n),
       base AS (SELECT doc_id, ts, len(ts) AS nt FROM tk WHERE len(ts) >= 8),
       pos AS (SELECT doc_id, unnest(generate_series(1, nt - 7)) AS p, ts
               FROM base),
       idx AS (SELECT doc_id, p, md5(array_to_string(ts[p:p+7], ' ')) AS g
               FROM pos),
       freq AS (SELECT g FROM idx GROUP BY g HAVING count(*) <= 64),
       kept AS (SELECT idx.* FROM idx JOIN freq USING (g)),
       m AS (SELECT a.doc_id AS doc_a, a.p AS pa, b.doc_id AS doc_b, b.p AS pb
             FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id),
       r AS (SELECT doc_a, doc_b, pb - pa AS d, pa,
                    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pb - pa
                                            ORDER BY pa) AS run
             FROM m),
       sp0 AS (SELECT doc_a, doc_b, d, run, min(pa) AS sa, max(pa) + 7 AS ea
               FROM r GROUP BY 1, 2, 3, 4),
       spans AS (SELECT DISTINCT doc_id, s, e FROM (
                   SELECT doc_a AS doc_id, sa AS s, ea AS e FROM sp0
                   UNION ALL
                   SELECT doc_b, sa + d, ea + d FROM sp0)),
       mk AS (SELECT doc_id, s, e,
                     max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
              FROM spans),
       br AS (SELECT doc_id, s, e,
                     CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END AS brk
              FROM mk),
       grp AS (SELECT doc_id, s, e,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS UNBOUNDED PRECEDING) AS grp
               FROM br)
       """

  /** d03 oracle, generated: the portable SimHash recomputed in ANSI SQL.
   * Per token, bit i comes from md5 hex nibble i/4 (instr-parsed); per doc
   * the 64 ±1 bit sums aggregate; signs pack into two 32-bit halves; the
   * pair join computes hamming = bit_count(xor(h1)) + bit_count(xor(h2)). */
  private def simhashOracle: String = {
    val bitSums = (0 until 64).map { i =>
      val nib = s"(instr('0123456789abcdef', substring(m, ${i / 4 + 1}, 1)) - 1)"
      s"sum(CASE WHEN (($nib >> ${i % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(", ")
    val h1 = (0 until 32)
      .map(i => s"(CASE WHEN b$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)")
      .mkString(" + ")
    val h2 = (32 until 64)
      .map(i => s"(CASE WHEN b$i > 0 THEN (1::BIGINT << ${i - 32}) ELSE 0::BIGINT END)")
      .mkString(" + ")
    NormCte + s""",
      tok AS (SELECT doc_id, unnest(list_distinct(string_split(t, ' '))) AS tk FROM n),
      hm AS (SELECT doc_id, md5(tk) AS m FROM tok),
      bits AS (SELECT doc_id, $bitSums FROM hm GROUP BY doc_id),
      sim AS (SELECT doc_id, $h1 AS h1, $h2 AS h2 FROM bits)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) AS INTEGER) AS hamming
      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 3
      ORDER BY doc_a, doc_b"""
  }

  /** shared oracle snippet: the synthetic media payload (4-byte ASCII
   * magic by id mod 3, then the document bytes — ASCII corpus, so string
   * concatenation builds the identical byte stream). */
  private val PayCte =
    """WITH p AS (SELECT doc_id,
         (CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'PNG|' WHEN 1 THEN 'JPG|'
          ELSE 'GIF|' END) || text AS pay FROM documents)"""

  /** t05 oracle, generated: winnowing fingerprints recomputed in ANSI SQL
   * (first 8 md5 hex nibbles parsed positionally to the same 32-bit gram
   * hash, window minima over w=4, full windows only). */
  /** Shared t05/d17 winnow replay: per-position first-32-md5-bit k-gram
   * hashes and the w-long window minima — ends at `wm` (doc_id, i,
   * nmax, wmin); the distinct fingerprint set is
   * `SELECT DISTINCT doc_id, wmin FROM wm WHERE i <= nmax - 3`. */
  private val WinnowCte: String = {
    val h = (0 until 8).map { j =>
      val w = math.pow(16, 7 - j).toLong
      s"(instr('0123456789abcdef', substring(m, ${j + 1}, 1)) - 1) * ${w}"
    }.mkString(" + ")
    NormCte + s""",
      g AS (SELECT doc_id, t, length(t) - 8 + 1 AS nmax FROM n
            WHERE length(t) - 8 + 1 >= 4),
      pos AS (SELECT doc_id, t, nmax, unnest(generate_series(1, nmax)) AS i FROM g),
      hx AS (SELECT doc_id, nmax, i, ($h)::BIGINT AS h FROM
             (SELECT doc_id, nmax, i,
                     md5(substring(t, CAST(i AS INTEGER), 8)) AS m FROM pos) x),
      wm AS (SELECT doc_id, i, nmax,
                    min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin FROM hx)
      """
  }

  private def winnowOracle: String = WinnowCte +
    """SELECT DISTINCT doc_id, wmin AS fingerprint FROM wm
      WHERE i <= nmax - 3 ORDER BY doc_id, fingerprint"""

  /** sign-bit bucket of the first `planes` dims, as a DuckDB expression
   * over `e` (= embedding cast DOUBLE[]). */
  private def signBucketSql(planes: Int): String =
    (0 until planes)
      .map(i => s"(CASE WHEN e[${i + 1}] >= 0 THEN ${1L << i}::BIGINT ELSE 0::BIGINT END)")
      .mkString(" + ")

  /** Shared s08/s10 trained-centroid replay: ONE bit-deterministic
   * Lloyd's round for the IVF coarse quantizer (rounded assignment
   * scores, integer-micro means; an empty or all-zero cell keeps its
   * seed) — ends at `cent` (cid, ce) over the base `v`. */
  private val TrainedCentCte =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
                 FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
       a0 AS (SELECT vec_id, e, cid,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY round(list_cosine_similarity(e, ce), 6) DESC,
                                cid ASC) AS rn
              FROM v, cent0),
       m0 AS (SELECT cid, e FROM a0 WHERE rn = 1),
       mx AS (SELECT cid, dim_idx,
                     floor(sum(CAST(round(e[CAST(dim_idx + 1 AS INTEGER)] * 1000000) AS BIGINT))
                       / CAST(count(*) AS DOUBLE) + 0.5) / 1000000.0 AS m
              FROM (SELECT cid, e,
                           unnest(generate_series(0, CAST(len(e) - 1 AS BIGINT))) AS dim_idx
                    FROM m0)
              GROUP BY cid, dim_idx),
       cmean AS (SELECT cid, list(m ORDER BY dim_idx) AS mean FROM mx GROUP BY cid),
       cent AS (SELECT c0.cid,
                       CASE WHEN cmean.mean IS NULL OR
                                 list_max(list_transform(cmean.mean,
                                   x -> abs(x))) = 0.0
                            THEN c0.ce ELSE cmean.mean END AS ce
                FROM cent0 c0 LEFT JOIN cmean ON c0.cid = cmean.cid)"""

  /** Shared t11/t13 integer quality-score replay over the NormCte base:
   * the five clamped integer components of TextAnalysis.qualityScore —
   * ends at `qb` (doc_id, quality_bp). */
  private val QualityCte =
    """, f AS (SELECT n.doc_id,
         CAST(len(string_split(t, ' ')) AS BIGINT) AS wc,
         CAST(length(replace(t, ' ', '')) AS BIGINT) AS chars,
         CAST(len(regexp_extract_all(t, '\b(the|a|of|and|to|in|is|that|it|for)\b')) AS BIGINT) AS stop,
         CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS dig,
         CAST(greatest(length(text), 1) AS BIGINT) AS raw_len
       FROM n JOIN documents USING (doc_id)),
       qb AS (SELECT doc_id,
         least(wc, 100) * 35
         + least((chars * 3125) // (wc * 10), 2500)
         + least((stop * 6000) // wc, 2000)
         + (1000 - least((punct * 10000) // raw_len, 1000))
         + (1000 - least((dig * 10000) // raw_len, 1000)) AS quality_bp
       FROM f)"""

  /** First 16 md5 bits of the expression `x` as an integer, nibble-parsed
   * so it needs no hex-cast support (the simhashOracle discipline). */
  private def hex16Sql(x: String): String = {
    def nib(i: Int) = s"(instr('0123456789abcdef', substring(md5($x), $i, 1)) - 1)"
    s"(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})"
  }

  /** The 60-bit twin of [[hex16Sql]] (first 15 md5 nibbles as a BIGINT —
   * exact in 63 bits) for modulus-style hashes. */
  private def hex60Sql(x: String): String = {
    def nib(i: Int) = s"(instr('0123456789abcdef', substring(md5($x), $i, 1)) - 1)"
    (1 to 15).map(i =>
      s"${nib(i)} * ${java.math.BigInteger.valueOf(16).pow(15 - i)}")
      .mkString("(", " + ", ")")
  }

  /** [[hex16Sql]] at a dynamic 0-based hex offset `pos` (a SQL
   * expression) — the 16-bit slice starting there, nibble-parsed
   * (substring is 1-based, hence the +1..+4). */
  private def hex16AtSql(x: String, pos: String): String = {
    def nib(i: Int) =
      s"(instr('0123456789abcdef', substring(md5($x), CAST(($pos) + $i AS INTEGER), 1)) - 1)"
    s"(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})"
  }

  /** Shared oracle chain for t26/t27: the stupid-backoff trigram model
   * trained on the even-doc half and scored per (doc, trigram) of the
   * odd-doc half, ending with the `m(doc_id, n_td, mic)` CTE ready to
   * aggregate — ONE source of truth so the score oracle and the
   * downstream mixture oracle cannot drift apart. */
  private val TriLmCte = NormCte +
    """, tk AS (SELECT doc_id, string_split(t, ' ') AS ts FROM n),
       mtk AS (SELECT ts FROM tk WHERE doc_id % 2 = 0),
       uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
               FROM (SELECT unnest(ts) AS w FROM mtk) GROUP BY 1),
       st AS (SELECT CAST(sum(cu) AS BIGINT) AS nn,
                     CAST(count(*) AS BIGINT) AS vs FROM uni),
       bex AS (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
               FROM mtk WHERE len(ts) >= 2),
       big AS (SELECT ts[i] AS w1, ts[i + 1] AS w2,
                      CAST(count(*) AS BIGINT) AS cb
               FROM bex GROUP BY 1, 2),
       tex AS (SELECT ts, unnest(generate_series(1, len(ts) - 2)) AS i
               FROM mtk WHERE len(ts) >= 3),
       tri AS (SELECT ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3,
                      CAST(count(*) AS BIGINT) AS c3
               FROM tex GROUP BY 1, 2, 3),
       dex AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
               FROM tk WHERE doc_id % 2 = 1 AND len(ts) >= 3),
       td AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3,
                     CAST(count(*) AS BIGINT) AS n_td
              FROM dex GROUP BY 1, 2, 3, 4),
       j AS (SELECT td.doc_id, td.n_td, tri.c3, b1.cb AS c2b, b2.cb AS c23,
                    u2.cu AS cu2, u3.cu AS cu3, st.nn, st.vs
             FROM td LEFT JOIN tri USING (w1, w2, w3)
                     LEFT JOIN big b1 ON td.w1 = b1.w1 AND td.w2 = b1.w2
                     LEFT JOIN big b2 ON td.w2 = b2.w1 AND td.w3 = b2.w2
                     LEFT JOIN uni u2 ON td.w2 = u2.w
                     LEFT JOIN uni u3 ON td.w3 = u3.w
                     CROSS JOIN st),
       m AS (SELECT doc_id, n_td,
               CAST(floor(ln(CASE
                 WHEN c3 IS NOT NULL THEN c3 / c2b
                 WHEN c23 IS NOT NULL THEN CAST(0.4 AS DOUBLE) * c23 / cu2
                 ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) *
                      (CAST(coalesce(cu3, 0) AS DOUBLE) + 1.0) / (nn + vs)
               END) * 1000000.0 + 0.5) AS BIGINT) AS mic
             FROM j)"""

  /** Shared t15/t28/t30 oracle BODY (expects a CTE named `n` holding the
   * normalized corpus): the inverted index + Lucene-idf BM25 with
   * integer-micro term contributions — ONE ranking contract for the
   * one-shot, persisted-index, and maintained-index paths. */
  private val Bm25Body =
      """, tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
         tf AS (SELECT doc_id AS doc, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc, sum(tf) AS dl FROM tf GROUP BY 1),
         stats AS (SELECT count(*) AS nd,
                          CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         qt AS (SELECT DISTINCT doc_id AS query_id, term FROM tok
                WHERE doc_id < 50),
         m AS (SELECT qt.query_id, tf.doc, tf.tf, dfreq.df, dl.dl,
                      stats.nd, stats.avgdl
               FROM tf JOIN qt USING (term)
                       JOIN dfreq USING (term)
                       JOIN dl USING (doc), stats
               WHERE tf.doc <> qt.query_id AND dfreq.df <= stats.nd * 1.0),
         c AS (SELECT query_id, doc,
                      CAST(floor(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) *
                        ((tf * (1.2 + 1.0)) /
                         (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) *
                        1000000.0 + 0.5) AS BIGINT) AS mic
               FROM m),
         sc AS (SELECT query_id, doc, sum(mic) AS score_micro
                FROM c GROUP BY 1, 2),
         r AS (SELECT query_id, doc, score_micro,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY score_micro DESC, doc ASC) AS rank FROM sc)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, doc AS doc_id,
                CAST(score_micro AS BIGINT) AS score_micro
         FROM r WHERE rank <= 10 ORDER BY query_id, rank"""

  private val Bm25Sql = NormCte + Bm25Body

  /** q57 oracle: the integer-micro PageRank loop UNROLLED to `iters`
   * join+aggregate rounds of DuckDB CTEs over the same synthetic
   * 97-domain link graph — generated by a loop (the bpeCtes discipline)
   * so the SQL cannot drift from the round count; integer division and
   * the damped update use the same left-associative arithmetic as the
   * operator, so every rank replays exactly. */
  private def pageRankCtes(iters: Int, dampingPct: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH e AS (SELECT DISTINCT doc_id % 97 AS src,
                   (doc_id * 31 + 7) % 97 AS dst FROM documents
            UNION
            SELECT doc_id % 97 AS src, (doc_id * 17 + 3) % 97 AS dst
            FROM documents),
         nodes AS (SELECT DISTINCT src AS node FROM e
                   UNION SELECT DISTINCT dst FROM e),
         eo AS (SELECT e.src, e.dst, d.outdeg
                FROM e JOIN (SELECT src, count(*) AS outdeg
                             FROM e GROUP BY 1) d USING (src)),
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)""")
    for (i <- 1 to iters) {
      sb.append(s""",
         c$i AS (SELECT dst, sum(r // outdeg) AS s FROM eo
                 JOIN r${i - 1} ON eo.src = r${i - 1}.node GROUP BY 1),
         r$i AS (SELECT node, CAST(${(100 - dampingPct) * 10000L} +
                   coalesce(s, 0) * $dampingPct // 100 AS BIGINT) AS r
                 FROM nodes LEFT JOIN c$i ON node = dst)""")
    }
    sb.append(s"""
         SELECT node, r AS rank_micro FROM r$iters ORDER BY node""")
    sb.toString
  }

  /** q62 oracle: [[pageRankCtes]] with the dangling-mass term — the
   * graph gains 13 sink nodes (97..109, never sources), each round a
   * `d\$i` CTE sums the PREVIOUS ranks of the dangling set and every
   * node's update adds `dm // N` before damping, exactly the operator's
   * integer arithmetic. */
  private def pageRankDanglingCtes(iters: Int, dampingPct: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH e AS (SELECT DISTINCT doc_id % 97 AS src,
                   (doc_id * 31 + 7) % 97 AS dst FROM documents
            UNION
            SELECT doc_id % 97 AS src, doc_id % 13 + 97 AS dst
            FROM documents),
         nodes AS (SELECT DISTINCT src AS node FROM e
                   UNION SELECT DISTINCT dst FROM e),
         nn AS (SELECT count(*) AS n FROM nodes),
         dang AS (SELECT node FROM nodes
                  WHERE node NOT IN (SELECT src FROM e)),
         eo AS (SELECT e.src, e.dst, d.outdeg
                FROM e JOIN (SELECT src, count(*) AS outdeg
                             FROM e GROUP BY 1) d USING (src)),
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)""")
    for (i <- 1 to iters) {
      sb.append(s""",
         c$i AS (SELECT dst, sum(r // outdeg) AS s FROM eo
                 JOIN r${i - 1} ON eo.src = r${i - 1}.node GROUP BY 1),
         d$i AS (SELECT coalesce(sum(r), 0) AS dm
                 FROM r${i - 1} JOIN dang USING (node)),
         r$i AS (SELECT node, CAST(${(100 - dampingPct) * 10000L} +
                   (coalesce(s, 0) + (SELECT dm FROM d$i)
                      // (SELECT n FROM nn)) * $dampingPct // 100
                   AS BIGINT) AS r
                 FROM nodes LEFT JOIN c$i ON node = dst)""")
    }
    sb.append(s"""
         SELECT node, r AS rank_micro FROM r$iters ORDER BY node""")
    sb.toString
  }

  /** The s15/s16/s17 shared CTE: the IVF index rebuilt from scratch
   * over the POST-changelog corpus with the old corpus's first-16
   * pinned centroids — `idx` is the maintained cell assignment. */
  private val IvfIdxCte =
      """WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                     FROM embeddings WHERE vec_id % 17 <> 0),
         cent AS (SELECT vec_id AS cid, e AS ce FROM v0
                  ORDER BY vec_id LIMIT 16),
         v AS (SELECT vec_id,
                 CASE WHEN vec_id % 7 = 0
                      THEN list_reverse(CAST(embedding AS DOUBLE[]))
                      ELSE CAST(embedding AS DOUBLE[]) END AS e
               FROM embeddings WHERE vec_id % 13 <> 0),
         asg AS (SELECT vec_id, e, cid,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(e, ce), 6) DESC,
                                   cid ASC) AS crank
                 FROM v, cent),
         idx AS (SELECT vec_id, e, cid AS cell FROM asg WHERE crank = 1)"""

  /** Shared s15/s16 oracle: [[IvfIdxCte]] searched by the family's
   * probe/rank rule — ONE contract for the in-memory maintained index
   * and the store-served one. */
  private val IvfIncrementalSql = IvfIdxCte +
      """,
         qp AS (SELECT vec_id AS query_id, e AS qe, cid AS cell FROM asg
                WHERE vec_id < 5 AND crank <= 4),
         s AS (SELECT query_id, c.vec_id AS neighbor_id,
                      list_cosine_similarity(c.e, qe) AS cos
               FROM idx c JOIN qp ON c.cell = qp.cell AND c.vec_id <> query_id),
         r AS (SELECT query_id, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rank FROM s)
         SELECT query_id, rank, neighbor_id
         FROM r WHERE rank <= 10 ORDER BY query_id, rank"""

  /** s17 oracle: the committed cell STATE of the same build — s16's
   * attribution control reads this instead of serving a batch. */
  private val IvfBuildStateSql = IvfIdxCte +
      """
         SELECT cell, count(*) AS n_members,
                min(vec_id) AS lo, max(vec_id) AS hi
         FROM idx GROUP BY cell ORDER BY cell"""

  /** t30 oracle: the SAME ranking body over the POST-changelog corpus
   * (deletes: doc_id % 13; text updates: % 7; inserts: % 101 re-keyed
   * +1000000) — the maintained index must serve exactly what a rebuild
   * over this corpus serves. */
  private val Bm25MaintainedSql =
    """WITH newc AS (
         SELECT doc_id,
                CASE WHEN doc_id % 7 = 0 THEN text || ' updated payload'
                     ELSE text END AS text
         FROM documents WHERE doc_id % 13 <> 0
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, 'fresh doc ' || text AS text
         FROM documents WHERE doc_id % 101 = 0),
       n AS (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
             FROM newc)""" + Bm25Body

  private val pipelineSql: Map[String, String] = Map(
    "t01_lang_id" -> (NormCte +
      """, s AS (SELECT doc_id,
           len(regexp_extract_all(t, '\b(the|a|of|and|to|in|is|that|it|for)\b')) AS en,
           len(regexp_extract_all(t, '\b(le|la|les|de|et|un|une|est|que|pour)\b')) AS fr,
           len(regexp_extract_all(t, '\b(der|die|das|und|ein|eine|ist|zu|mit|von)\b')) AS de,
           len(regexp_extract_all(t, '\b(el|los|las|de|y|un|una|es|que|para)\b')) AS es
         FROM n)
         SELECT doc_id, CASE WHEN en = b AND b > 0 THEN 'en'
                             WHEN fr = b AND b > 0 THEN 'fr'
                             WHEN de = b AND b > 0 THEN 'de'
                             WHEN es = b AND b > 0 THEN 'es'
                             ELSE 'und' END AS lang_pred
         FROM (SELECT *, greatest(en, fr, de, es) AS b FROM s) ORDER BY doc_id"""),

    "t02_quality_score" -> (NormCte +
      """, f AS (SELECT n.doc_id,
           CAST(len(string_split(t, ' ')) AS BIGINT) AS wc,
           CAST(length(replace(t, ' ', '')) AS BIGINT) AS chars,
           CAST(len(regexp_extract_all(t, '\b(the|a|of|and|to|in|is|that|it|for)\b')) AS BIGINT) AS stop,
           CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS dig,
           CAST(greatest(length(text), 1) AS BIGINT) AS raw_len
         FROM n JOIN documents USING (doc_id))
         SELECT doc_id,
           least(wc, 100) * 35
           + least((chars * 3125) // (wc * 10), 2500)
           + least((stop * 6000) // wc, 2000)
           + (1000 - least((punct * 10000) // raw_len, 1000))
           + (1000 - least((dig * 10000) // raw_len, 1000)) AS quality_bp
         FROM f ORDER BY doc_id"""),

    "t03_token_count" -> (NormCte +
      """SELECT doc_id, len(string_split(t, ' ')) AS n_tokens,
           (SELECT len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))
            FROM documents d2 WHERE d2.doc_id = n.doc_id) AS n_tokens_bpe
         FROM n ORDER BY doc_id"""),

    "t04_fingerprint" -> (NormCte +
      "SELECT doc_id, md5(t) AS fingerprint FROM n ORDER BY doc_id"),

    "q39_shard_pack" -> (NormCte +
      """, c AS (SELECT doc_id, len(string_split(t, ' ')) AS n_tokens FROM n),
         w AS (SELECT doc_id, n_tokens,
                      CAST(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
               FROM c)
         SELECT doc_id, n_tokens, cum_tokens,
                CAST((cum_tokens - n_tokens) // 1000 AS BIGINT) AS shard
         FROM w ORDER BY doc_id"""),

    // the q39 packing at the export budget, grouped per shard — the
    // written manifest must round-trip to exactly this
    "q54_shard_export" -> (NormCte +
      """, c AS (SELECT doc_id, len(string_split(t, ' ')) AS n_tokens FROM n),
         w AS (SELECT doc_id, n_tokens,
                      CAST(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
               FROM c),
         p AS (SELECT doc_id, n_tokens,
                      CAST((cum_tokens - n_tokens) // 20000 AS BIGINT) AS shard
               FROM w)
         SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS tok_sum
         FROM p GROUP BY 1 ORDER BY shard"""),

    "t08_repetition" -> (NormCte +
      """, tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
         r AS (SELECT doc_id, len(toks) AS nt,
                 list_transform(generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1]) AS g2,
                 list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS g3
               FROM tk)
         SELECT doc_id,
                CASE WHEN nt >= 2 THEN
                  round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / (nt - 1), 4)
                END AS rep2,
                CASE WHEN nt >= 3 THEN
                  round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / (nt - 2), 4)
                END AS rep3
         FROM r ORDER BY doc_id"""),

    "t07_trigram_familiarity" -> (NormCte +
      """, g AS (SELECT doc_id, t FROM n WHERE length(t) >= 3),
         pos AS (SELECT doc_id, unnest(generate_series(1, length(t) - 2)) AS i, t
                 FROM g),
         tri AS (SELECT DISTINCT doc_id,
                        substring(t, CAST(i AS INTEGER), 3) AS tg FROM pos),
         dfq AS (SELECT tg, count(*) AS df FROM tri GROUP BY 1)
         SELECT doc_id, count(*) AS n_trigrams,
                round(CAST(sum(df) AS DOUBLE) / count(*), 4) AS familiarity
         FROM tri JOIN dfq USING (tg)
         GROUP BY doc_id ORDER BY doc_id"""),

    "t06_tfidf" -> (NormCte +
      """, tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         scored AS (SELECT doc_id AS doc, term,
                           round(tf * ln((SELECT count(*) + 1.0 FROM documents)
                                         / (df + 1.0)), 4) AS score
                    FROM tf JOIN dfreq USING (term)),
         ranked AS (SELECT doc, term, score,
                           row_number() OVER (PARTITION BY doc
                             ORDER BY score DESC, term ASC) AS rank
                    FROM scored)
         SELECT doc, CAST(rank AS INTEGER) AS rank, term, score
         FROM ranked WHERE rank <= 5 ORDER BY doc, rank"""),

    "d01_dedup_exact" -> (NormCte +
      """SELECT md5(t) AS fingerprint, min(doc_id) AS keep_id,
                count(*) AS dup_count
         FROM n GROUP BY 1 ORDER BY fingerprint"""),

    "d02_dedup_minhash" -> (NormCte +
      """, k AS (SELECT doc_id,
           md5(list_aggr(list_sort(list_distinct(string_split(t, ' '))),
                         'string_agg', chr(31))) AS kk FROM n)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM k a JOIN k b ON a.kk = b.kk AND a.doc_id < b.doc_id
         ORDER BY doc_a, doc_b"""),

    "d04_ngram_jaccard" -> (NormCte +
      """, tok AS (SELECT doc_id, unnest(list_distinct(string_split(t, ' '))) AS g FROM n),
         sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
         agr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                 FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE), 4) AS jaccard
         FROM agr JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.95
         ORDER BY doc_a, doc_b"""),

    "d06_dedup_clusters" -> (ClusterWalkCte +
      "SELECT doc, min(lab) AS cluster FROM walk GROUP BY doc ORDER BY doc"),

    "d07_dedup_keep" -> (ClusterWalkCte +
      """SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc FROM (SELECT doc, min(lab) AS cluster
                                               FROM walk GROUP BY doc) l
                              WHERE doc <> cluster)
         ORDER BY doc_id"""),

    // the fused pipeline must land on exactly the separate-stage answer
    "d09_dedup_pipeline" -> (ClusterWalkCte +
      """SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc FROM (SELECT doc, min(lab) AS cluster
                                               FROM walk GROUP BY doc) l
                              WHERE doc <> cluster)
         ORDER BY doc_id"""),

    "d08_decontaminate" -> (NormCte +
      """, tok AS (SELECT doc_id, unnest(list_distinct(string_split(t, ' '))) AS g FROM n),
         sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
         inter AS (SELECT c.doc_id AS doc, p.doc_id AS probe_id, count(*) AS inter
                   FROM tok c JOIN tok p ON c.g = p.g
                   WHERE p.doc_id % 50 = 0 AND c.doc_id <> p.doc_id
                   GROUP BY 1, 2)
         SELECT doc, probe_id,
                round(CAST(inter AS DOUBLE) / CAST(sc.sz + sp.sz - inter AS DOUBLE), 4)
                  AS jaccard
         FROM inter JOIN sz sc ON sc.doc_id = doc
                    JOIN sz sp ON sp.doc_id = probe_id
         WHERE CAST(inter AS DOUBLE) / CAST(sc.sz + sp.sz - inter AS DOUBLE) >= 0.5
         ORDER BY doc, probe_id"""),

    "d03_dedup_simhash" -> simhashOracle,

    "t05_winnow" -> winnowOracle,

    "m01_media_meta" -> (PayCte +
      """SELECT doc_id,
           CASE substring(pay, 1, 4) WHEN 'PNG|' THEN 'png' WHEN 'JPG|' THEN 'jpg'
                WHEN 'GIF|' THEN 'gif' ELSE 'bin' END AS format,
           octet_length(encode(pay)) AS n_bytes, md5(pay) AS fingerprint
         FROM p ORDER BY doc_id"""),

    "m02_media_dedup" -> (PayCte +
      """SELECT md5(pay) AS fingerprint, min(doc_id) AS keep_id,
                count(*) AS dup_count
         FROM p GROUP BY 1 ORDER BY fingerprint"""),

    "m03_media_chunks" -> (PayCte +
      """, c AS (SELECT doc_id, pay,
           unnest(generate_series(0, (length(pay)-1)//64)) AS chunk_idx FROM p)
         SELECT doc_id, chunk_idx,
                md5(substring(pay, CAST(chunk_idx*64+1 AS INTEGER), 64)) AS chunk_fp
         FROM c ORDER BY doc_id, chunk_idx"""),

    "m04_frame_sample" -> (PayCte +
      """, c AS (SELECT doc_id, pay,
           unnest(generate_series(0, (length(pay)-1)//64)) AS chunk_idx FROM p)
         SELECT doc_id, chunk_idx,
                md5(substring(pay, CAST(chunk_idx*64+1 AS INTEGER), 64)) AS chunk_fp
         FROM c WHERE chunk_idx % 4 = 0 ORDER BY doc_id, chunk_idx"""),

    "d05_embedding_neardup" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         b AS (SELECT vec_id, e, ${signBucketSql(6)} AS bucket FROM v)
         SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                round(list_cosine_similarity(a.e, c.e), 4) AS cos
         FROM b a JOIN b c ON a.vec_id < c.vec_id
         WHERE CAST(bit_count(xor(a.bucket, c.bucket)) AS INTEGER) <= 1
           AND list_cosine_similarity(a.e, c.e) >= 0.45
         ORDER BY id_a, id_b""",

    "s07_ann_ivfpq_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         cent AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
         asg AS (SELECT vec_id, e, cid,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(e, ce), 6) DESC,
                                   cid ASC) AS crank
                 FROM v, cent),
         cells AS (SELECT vec_id, cid AS cell FROM asg WHERE crank = 1),
         qp AS (SELECT vec_id AS query_id, cid AS cell FROM asg
                WHERE vec_id < 5 AND crank <= 4),
         cand AS (SELECT query_id, c.vec_id
                  FROM cells c JOIN qp ON c.cell = qp.cell
                  WHERE c.vec_id <> query_id),
         sp AS (SELECT unnest(generate_series(0, 7)) AS s),
         subs AS (SELECT vec_id, s, list_slice(e, s*8 + 1, s*8 + 8) AS sub
                  FROM v CROSS JOIN sp),
         firstk AS (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16),
         cb AS (SELECT sp.s,
                       row_number() OVER (PARTITION BY sp.s ORDER BY v.vec_id) - 1 AS ck,
                       list_slice(v.e, sp.s*8 + 1, sp.s*8 + 8) AS csub
                FROM v JOIN firstk USING (vec_id) CROSS JOIN sp),
         encd AS (SELECT vec_id, s, ck AS code FROM (
                    SELECT sub.vec_id, sub.s, cb.ck,
                           row_number() OVER (PARTITION BY sub.vec_id, sub.s
                             ORDER BY round(list_dot_product(sub.sub, sub.sub)
                               - 2*list_dot_product(sub.sub, cb.csub)
                               + list_dot_product(cb.csub, cb.csub), 6) ASC,
                             cb.ck ASC) AS rn
                    FROM subs sub JOIN cb ON sub.s = cb.s) t WHERE rn = 1),
         qt AS (SELECT q.vec_id AS query_id, cb.s, cb.ck AS code,
                       round(list_dot_product(q.sub, q.sub)
                         - 2*list_dot_product(q.sub, cb.csub)
                         + list_dot_product(cb.csub, cb.csub), 6) AS qd2
                FROM subs q JOIN cb ON q.s = cb.s WHERE q.vec_id < 5),
         adc AS (SELECT cand.query_id, e.vec_id AS neighbor_id,
                        floor((sum(CAST(round(qd2 * 1000000) AS BIGINT)) + 50) / 100.0) / 10000.0 AS adist
                 FROM cand JOIN encd e ON cand.vec_id = e.vec_id
                      JOIN qt ON qt.query_id = cand.query_id
                             AND e.s = qt.s AND e.code = qt.code
                 GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY adist ASC, neighbor_id ASC) AS rank FROM adc)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, adist
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",

    // replays ONE Lloyd's round for both quantizers exactly as Spark runs
    // it: assignment by 6-decimal-rounded score (ties to the low id), new
    // component = floor(sum(micro)/n + 0.5)/1e6 — long micro sums commute,
    // so both engines build bit-identical trained tables before the same
    // IVF-PQ probe/encode/ADC/rank replay as s07
    "s08_ann_trained_ivfpq" -> (TrainedCentCte +
      """, sp AS (SELECT unnest(generate_series(0, 7)) AS s),
         subs AS (SELECT vec_id, s, list_slice(e, s*8 + 1, s*8 + 8) AS sub
                  FROM v CROSS JOIN sp),
         firstk AS (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16),
         cb0 AS (SELECT sp.s,
                        row_number() OVER (PARTITION BY sp.s ORDER BY v.vec_id) - 1 AS ck,
                        list_slice(v.e, sp.s*8 + 1, sp.s*8 + 8) AS csub
                 FROM v JOIN firstk USING (vec_id) CROSS JOIN sp),
         p0 AS (SELECT vec_id, s, ck, sub FROM (
                  SELECT sub.vec_id, sub.s, cb0.ck, sub.sub,
                         row_number() OVER (PARTITION BY sub.vec_id, sub.s
                           ORDER BY round(list_dot_product(sub.sub, sub.sub)
                             - 2*list_dot_product(sub.sub, cb0.csub)
                             + list_dot_product(cb0.csub, cb0.csub), 6) ASC,
                           cb0.ck ASC) AS rn
                  FROM subs sub JOIN cb0 ON sub.s = cb0.s) t WHERE rn = 1),
         px AS (SELECT s, ck, pos,
                       floor(sum(CAST(round(sub[CAST(pos + 1 AS INTEGER)] * 1000000) AS BIGINT))
                         / CAST(count(*) AS DOUBLE) + 0.5) / 1000000.0 AS m
                FROM (SELECT s, ck, sub,
                             unnest(generate_series(0, CAST(len(sub) - 1 AS BIGINT))) AS pos
                      FROM p0)
                GROUP BY s, ck, pos),
         pmean AS (SELECT s, ck, list(m ORDER BY pos) AS mean FROM px GROUP BY s, ck),
         cb AS (SELECT cb0.s, cb0.ck, coalesce(pmean.mean, cb0.csub) AS csub
                FROM cb0 LEFT JOIN pmean ON cb0.s = pmean.s AND cb0.ck = pmean.ck),
         asg AS (SELECT vec_id, e, cid,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(e, ce), 6) DESC,
                                   cid ASC) AS crank
                 FROM v, cent),
         cells AS (SELECT vec_id, cid AS cell FROM asg WHERE crank = 1),
         qp AS (SELECT vec_id AS query_id, cid AS cell FROM asg
                WHERE vec_id < 5 AND crank <= 4),
         cand AS (SELECT query_id, c.vec_id
                  FROM cells c JOIN qp ON c.cell = qp.cell
                  WHERE c.vec_id <> query_id),
         encd AS (SELECT vec_id, s, ck AS code FROM (
                    SELECT sub.vec_id, sub.s, cb.ck,
                           row_number() OVER (PARTITION BY sub.vec_id, sub.s
                             ORDER BY round(list_dot_product(sub.sub, sub.sub)
                               - 2*list_dot_product(sub.sub, cb.csub)
                               + list_dot_product(cb.csub, cb.csub), 6) ASC,
                             cb.ck ASC) AS rn
                    FROM subs sub JOIN cb ON sub.s = cb.s) t WHERE rn = 1),
         qt AS (SELECT q.vec_id AS query_id, cb.s, cb.ck AS code,
                       round(list_dot_product(q.sub, q.sub)
                         - 2*list_dot_product(q.sub, cb.csub)
                         + list_dot_product(cb.csub, cb.csub), 6) AS qd2
                FROM subs q JOIN cb ON q.s = cb.s WHERE q.vec_id < 5),
         adc AS (SELECT cand.query_id, e.vec_id AS neighbor_id,
                        floor((sum(CAST(round(qd2 * 1000000) AS BIGINT)) + 50) / 100.0) / 10000.0 AS adist
                 FROM cand JOIN encd e ON cand.vec_id = e.vec_id
                      JOIN qt ON qt.query_id = cand.query_id
                             AND e.s = qt.s AND e.code = qt.code
                 GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY adist ASC, neighbor_id ASC) AS rank FROM adc)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, adist
         FROM r WHERE rank <= 10 ORDER BY query_id, rank"""),

    "s06_ann_pq_adc_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         sp AS (SELECT unnest(generate_series(0, 7)) AS s),
         subs AS (SELECT vec_id, s, list_slice(e, s*8 + 1, s*8 + 8) AS sub
                  FROM v CROSS JOIN sp),
         firstk AS (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16),
         cb AS (SELECT sp.s,
                       row_number() OVER (PARTITION BY sp.s ORDER BY v.vec_id) - 1 AS ck,
                       list_slice(v.e, sp.s*8 + 1, sp.s*8 + 8) AS csub
                FROM v JOIN firstk USING (vec_id) CROSS JOIN sp),
         encd AS (SELECT vec_id, s, ck AS code FROM (
                    SELECT sub.vec_id, sub.s, cb.ck,
                           row_number() OVER (PARTITION BY sub.vec_id, sub.s
                             ORDER BY round(list_dot_product(sub.sub, sub.sub)
                               - 2*list_dot_product(sub.sub, cb.csub)
                               + list_dot_product(cb.csub, cb.csub), 6) ASC,
                             cb.ck ASC) AS rn
                    FROM subs sub JOIN cb ON sub.s = cb.s) t WHERE rn = 1),
         qt AS (SELECT q.vec_id AS query_id, cb.s, cb.ck AS code,
                       round(list_dot_product(q.sub, q.sub)
                         - 2*list_dot_product(q.sub, cb.csub)
                         + list_dot_product(cb.csub, cb.csub), 6) AS qd2
                FROM subs q JOIN cb ON q.s = cb.s WHERE q.vec_id < 5),
         adc AS (SELECT query_id, e.vec_id AS neighbor_id,
                        floor((sum(CAST(round(qd2 * 1000000) AS BIGINT)) + 50) / 100.0) / 10000.0 AS adist
                 FROM encd e JOIN qt ON e.s = qt.s AND e.code = qt.code
                 WHERE e.vec_id <> query_id GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY adist ASC, neighbor_id ASC) AS rank FROM adc)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, adist
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",

    "s05_ann_quantized_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         sc AS (SELECT vec_id, e,
                       list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc
                FROM v),
         deq AS (SELECT vec_id,
                        list_transform(e, x -> floor(x / sc + 0.5) * sc) AS e
                 FROM sc WHERE sc > 0),
         q AS (SELECT vec_id AS query_id, e AS qv FROM deq WHERE vec_id < 5),
         s AS (SELECT query_id, c.vec_id AS neighbor_id,
                      round(list_cosine_similarity(c.e, qv), 4) AS cos
               FROM deq c, q WHERE c.vec_id <> query_id),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id ASC) AS rank FROM s)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",

    "s01_ann_brute_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 5),
         s AS (SELECT query_id, c.vec_id AS neighbor_id,
                      list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), qv) AS cos
               FROM embeddings c, q WHERE c.vec_id <> query_id),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rank FROM s)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",

    // the from-scratch rebuild over the NEW corpus with the OLD
    // corpus's first-16 pinned centroids — the maintained index must
    // land on exactly this answer
    "s15_ann_incremental" -> IvfIncrementalSql,

    // the STORE-SERVED maintained index must land on the same rebuild
    // answer (one contract for in-memory and served paths)
    "s16_ann_served" -> IvfIncrementalSql,
    "s17_ann_index_build" -> IvfBuildStateSql,

    // same scan as s01 with the label equality in the candidate space
    "s14_ann_filtered_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS qkey,
                           CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 5),
         s AS (SELECT query_id, c.vec_id AS neighbor_id, c.label AS key,
                      list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), qv) AS cos
               FROM embeddings c, q
               WHERE c.vec_id <> query_id AND c.label = qkey),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rank FROM s)
         SELECT query_id, rank, neighbor_id, key, round(cos, 4) AS cos
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",

    "s02_ann_lsh_topk" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         b AS (SELECT vec_id, e, ${signBucketSql(4)} AS bucket FROM v),
         q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qb FROM b WHERE vec_id < 5),
         s AS (SELECT query_id, c.vec_id AS neighbor_id,
                      list_cosine_similarity(c.e, qe) AS cos
               FROM b c, q
               WHERE c.vec_id <> query_id
                 AND CAST(bit_count(xor(c.bucket, qb)) AS INTEGER) <= 1),
         r AS (SELECT query_id, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rank FROM s)
         SELECT query_id, rank, neighbor_id
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",

    "s04_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         s AS (SELECT vec_id, e,
                      list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc
               FROM v),
         x AS (SELECT vec_id, sc, e,
                      unnest(generate_series(0, CAST(len(e) - 1 AS BIGINT))) AS dim_idx
               FROM s WHERE sc > 0)
         SELECT vec_id, CAST(dim_idx AS INTEGER) AS dim_idx, round(sc, 8) AS scale,
                CAST(floor(e[CAST(dim_idx + 1 AS INTEGER)] / sc + 0.5) AS INTEGER) AS code
         FROM x ORDER BY vec_id, dim_idx""",
    "s03_ann_ivf_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         cent AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
         asg AS (SELECT vec_id, e, cid,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(e, ce), 6) DESC,
                                   cid ASC) AS crank
                 FROM v, cent),
         idx AS (SELECT vec_id, e, cid AS cell FROM asg WHERE crank = 1),
         qp AS (SELECT vec_id AS query_id, e AS qe, cid AS cell FROM asg
                WHERE vec_id < 5 AND crank <= 4),
         s AS (SELECT query_id, c.vec_id AS neighbor_id,
                      list_cosine_similarity(c.e, qe) AS cos
               FROM idx c JOIN qp ON c.cell = qp.cell AND c.vec_id <> query_id),
         r AS (SELECT query_id, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rank FROM s)
         SELECT query_id, rank, neighbor_id
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",

    // same assignment/probe CTEs as s03, thresholded instead of ranked
    "s09_ann_range_search" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         cent AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
         asg AS (SELECT vec_id, e, cid,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(e, ce), 6) DESC,
                                   cid ASC) AS crank
                 FROM v, cent),
         idx AS (SELECT vec_id, e, cid AS cell FROM asg WHERE crank = 1),
         qp AS (SELECT vec_id AS query_id, e AS qe, cid AS cell FROM asg
                WHERE vec_id < 5 AND crank <= 4),
         s AS (SELECT query_id, c.vec_id AS neighbor_id,
                      round(list_cosine_similarity(c.e, qe), 6) AS cos
               FROM idx c JOIN qp ON c.cell = qp.cell AND c.vec_id <> query_id)
         SELECT query_id, neighbor_id, round(cos, 4) AS cos
         FROM s WHERE cos >= 0.3
         ORDER BY query_id, neighbor_id""",

    "d11_semantic_dedup" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         cent AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
         asg AS (SELECT vec_id, e, cid,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(e, ce), 6) DESC,
                                   cid ASC) AS crank
                 FROM v, cent),
         idx AS (SELECT vec_id, e, cid AS cell FROM asg WHERE crank = 1),
         drp AS (SELECT DISTINCT b.vec_id FROM idx a JOIN idx b
                 ON a.cell = b.cell AND a.vec_id < b.vec_id
                AND round(list_cosine_similarity(a.e, b.e), 6) >= 0.25)
         SELECT vec_id FROM v WHERE vec_id NOT IN (SELECT vec_id FROM drp)
         ORDER BY vec_id""",

    "d10_mixture_sample" ->
      """WITH cnt AS (SELECT CAST(label AS VARCHAR) AS c, count(*) AS n
                      FROM embeddings GROUP BY 1),
         t(c, w) AS (VALUES ('0', 4.0), ('1', 3.0), ('2', 2.0), ('3', 2.0), ('4', 1.0)),
         nn AS (SELECT min(n / w) AS bign FROM cnt JOIN t USING (c)),
         rate AS (SELECT c, CASE WHEN (n / w) = bign THEN 1.0
                                 ELSE least(1.0, (w * bign) / n) END AS r
                  FROM cnt JOIN t USING (c), nn)
         SELECT vec_id, label FROM embeddings e
         JOIN rate ON CAST(e.label AS VARCHAR) = rate.c
         WHERE substring(md5(CAST(vec_id AS VARCHAR) || ':42'), 1, 4) <
               CASE WHEN r >= 1.0 THEN 'zzzz'
                    ELSE printf('%04x', CAST(floor(r * 65536) AS BIGINT)) END
         ORDER BY vec_id""",

    // token sums per class, the capacity/budget arithmetic in the same
    // left-to-right order, epoch expansion via generate_series, and the
    // per-epoch salted md5 threshold — replayed end to end
    "q56_token_mixture" -> (NormCte +
      """, d AS (SELECT doc_id, CAST(doc_id % 4 AS VARCHAR) AS cls,
           CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tok FROM n),
         wt(cls, w, rmax) AS (VALUES ('0', 5.0, 3.0), ('1', 3.0, 1.5),
                                     ('2', 1.0, 1.0)),
         tc AS (SELECT cls, CAST(sum(n_tok) AS DOUBLE) AS tc
                FROM d JOIN wt USING (cls) GROUP BY 1),
         nn AS (SELECT min(tc * rmax / w) AS bign FROM tc JOIN wt USING (cls)),
         plan AS (SELECT cls, CASE WHEN tc * rmax / w = bign THEN rmax
                                   ELSE least(rmax, w * bign / tc) END AS u
                  FROM tc JOIN wt USING (cls), nn),
         e AS (SELECT cls, CAST(floor(u) AS BIGINT) AS nfull,
                      u - floor(u) AS frac FROM plan),
         maxe AS (SELECT CAST(max(nfull +
                    CASE WHEN frac > 0 THEN 1 ELSE 0 END) AS BIGINT) AS me
                  FROM e),
         ep AS (SELECT unnest(generate_series(0,
                  (SELECT me FROM maxe) - 1)) AS epoch),
         x AS (SELECT d.doc_id, d.cls, ep.epoch, e.nfull, e.frac
               FROM d JOIN e USING (cls) CROSS JOIN ep
               WHERE ep.epoch < e.nfull +
                 CASE WHEN e.frac > 0 THEN 1 ELSE 0 END)
         SELECT doc_id, cls, epoch FROM x
         WHERE epoch < nfull
            OR substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(42 + epoch AS VARCHAR)), 1, 4) <
               CASE WHEN frac <= 0 THEN '0000'
                    ELSE printf('%04x', CAST(floor(frac * 65536) AS BIGINT)) END
         ORDER BY doc_id, epoch"""),

    // position-carrying 8-token shingle index -> fixed-delta consecutive
    // runs -> per-doc overlap merge; same hot-shingle guard (occ <= 64)
    // as the Spark operator
    "d12_span_dedup" -> (SpanCte +
      """SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
                CAST(max(e) AS BIGINT) AS span_end
         FROM grp GROUP BY doc_id, grp ORDER BY doc_id, span_start"""),

    // d12's spans applied back: tokens inside any merged span removed,
    // survivors re-joined in position order (docs fully covered drop out)
    "d14_span_removal" -> (SpanCte +
      """, merged AS (SELECT doc_id, min(s) AS ms, max(e) AS me
                      FROM grp GROUP BY doc_id, grp),
         allt AS (SELECT doc_id, unnest(generate_series(1, len(ts))) AS p, ts
                  FROM tk),
         keep AS (SELECT a.doc_id, a.p, a.ts[a.p] AS tok
                  FROM allt a LEFT JOIN merged m
                    ON a.doc_id = m.doc_id AND a.p BETWEEN m.ms AND m.me
                  WHERE m.doc_id IS NULL)
         SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text
         FROM keep GROUP BY doc_id ORDER BY doc_id"""),

    // same overlapping-page construction, then split/fingerprint/rank
    "d13_paragraph_dedup" ->
      """WITH m AS (
           SELECT doc_id, text, doc_id // 5 AS page_id FROM documents
           UNION ALL
           SELECT doc_id, text, doc_id // 5 - 1 FROM documents
           WHERE doc_id % 5 = 0 AND doc_id > 0),
         p AS (SELECT page_id,
                      string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS text
               FROM m GROUP BY page_id),
         px AS (SELECT page_id, string_split_regex(text, '\n{2,}') AS ps FROM p),
         pos AS (SELECT page_id, unnest(generate_series(1, len(ps))) AS i, ps
                 FROM px),
         paras AS (SELECT page_id, i AS para_idx, ps[i] AS para FROM pos
                   WHERE length(trim(ps[i])) > 0),
         nm AS (SELECT page_id, para_idx,
                       md5(regexp_replace(trim(lower(para)), '\s+', ' ', 'g'))
                         AS fingerprint
                FROM paras),
         rk AS (SELECT page_id, para_idx, fingerprint,
                       row_number() OVER (PARTITION BY fingerprint
                                          ORDER BY page_id, para_idx) AS rn
                FROM nm)
         SELECT page_id, CAST(para_idx AS BIGINT) AS para_idx, fingerprint,
                CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
         FROM rk ORDER BY page_id, para_idx""",

    // same deterministic PII enrichment, then RE2 replays the Java
    // patterns (both engines: no lookaround, leftmost greedy matching)
    "t09_pii" ->
      """WITH e AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com now' ELSE '' END ||
           CASE WHEN doc_id % 11 = 0 THEN ' call +44 20 '
                || printf('%04d', doc_id % 10000) || ' 0141' ELSE '' END ||
           CASE WHEN doc_id % 13 = 0 THEN ' from 10.0.'
                || CAST(doc_id % 256 AS VARCHAR) || '.'
                || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END ||
           CASE WHEN doc_id % 17 = 0 THEN ' via 2001:db8:0:0:0:0:0:'
                || CAST(doc_id % 9999 AS VARCHAR) ELSE '' END ||
           CASE WHEN doc_id % 19 = 0 THEN ' dial 0207-946-0958 soon'
                ELSE '' END AS t
         FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}')) AS BIGINT) AS n_ipv6,
           CAST(len(regexp_extract_all(t, '(?:[0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(t, '\+[0-9](?:[- ]?[0-9]){7,14}|[0-9]{1,6}[- ][0-9](?:[- ]?[0-9]){6,13}|[0-9]{2,6}[- ][0-9](?:[- ]?[0-9]){5}|[0-9]{3,6}[- ][0-9](?:[- ]?[0-9]){4}|\b[0-9]{10,15}\b')) AS BIGINT) AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}', '<IP6>', 'g'),
             '(?:[0-9]{1,3}\.){3}[0-9]{1,3}', '<IP4>', 'g'),
             '\+[0-9](?:[- ]?[0-9]){7,14}|[0-9]{1,6}[- ][0-9](?:[- ]?[0-9]){6,13}|[0-9]{2,6}[- ][0-9](?:[- ]?[0-9]){5}|[0-9]{3,6}[- ][0-9](?:[- ]?[0-9]){4}|\b[0-9]{10,15}\b', '<PHONE>', 'g') AS redacted
         FROM e ORDER BY doc_id""",

    // the three feature pipelines of t02/t07/t08 joined and thresholded
    "t11_quality_gate" -> (NormCte + QualityCte +
      """, tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
         rr AS (SELECT doc_id, len(toks) AS nt,
                 list_transform(generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1]) AS g2,
                 list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS g3
               FROM tk),
         rep AS (SELECT doc_id,
                 CASE WHEN nt >= 2 THEN
                   round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / (nt - 1), 4)
                 END AS rep2,
                 CASE WHEN nt >= 3 THEN
                   round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / (nt - 2), 4)
                 END AS rep3
               FROM rr),
         g AS (SELECT doc_id, t FROM n WHERE length(t) >= 3),
         pos AS (SELECT doc_id, unnest(generate_series(1, length(t) - 2)) AS i, t
                 FROM g),
         tri AS (SELECT DISTINCT doc_id,
                        substring(t, CAST(i AS INTEGER), 3) AS tg FROM pos),
         dfq AS (SELECT tg, count(*) AS df FROM tri GROUP BY 1),
         fam AS (SELECT doc_id,
                        round(CAST(sum(df) AS DOUBLE) / count(*), 4) AS familiarity
                 FROM tri JOIN dfq USING (tg) GROUP BY doc_id)
         SELECT doc_id, quality_bp, rep2, rep3, familiarity
         FROM qb JOIN rep USING (doc_id) JOIN fam USING (doc_id)
         WHERE quality_bp >= 5500 AND (rep2 IS NULL OR rep2 <= 0.05)
           AND (rep3 IS NULL OR rep3 <= 0.05) AND familiarity >= 300.0
         ORDER BY doc_id"""),

    // same card enrichment; DuckDB's list lambdas replay the Luhn
    // mod-10 checksum digit-for-digit
    "t10_pii_cards" ->
      """WITH e AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 9 = 0 THEN ' pay 4111 1111 1111 1111 now' ELSE '' END ||
           CASE WHEN doc_id % 10 = 3 THEN ' ref 1234 5678 9012 3456 x' ELSE '' END ||
           CASE WHEN doc_id % 11 = 5 THEN ' amex 378282246310005 ok' ELSE '' END ||
           CASE WHEN doc_id % 13 = 7 THEN ' card 4111-1111-1111-1112 bad' ELSE '' END
             AS t
         FROM documents)
         SELECT doc_id,
           CAST(len(list_filter(
             list_transform(regexp_extract_all(t, '[0-9](?:[- ]?[0-9]){12,18}'),
               cand -> regexp_replace(cand, '[- ]', '', 'g')),
             d -> list_sum(list_transform(generate_series(1, length(d)),
               i -> CASE WHEN (length(d) - i) % 2 = 1
                         THEN CASE WHEN CAST(substring(d, i, 1) AS INT) * 2 > 9
                                   THEN CAST(substring(d, i, 1) AS INT) * 2 - 9
                                   ELSE CAST(substring(d, i, 1) AS INT) * 2 END
                         ELSE CAST(substring(d, i, 1) AS INT) END)) % 10 = 0))
             AS BIGINT) AS n_card
         FROM e ORDER BY doc_id""",

    // host extraction regexp + blocklist NOT IN + the hashSampleBy
    // md5-threshold filter on the greylist host
    "q40_url_filter" ->
      """WITH u AS (SELECT doc_id, 'https://' ||
           CASE doc_id % 5 WHEN 0 THEN 'spam.tracker.example'
                WHEN 1 THEN 'ads.adnetwork.example'
                WHEN 2 THEN 'en.wikipedia.org' WHEN 3 THEN 'github.com'
                ELSE 'docs.python.org' END ||
           '/page/' || CAST(doc_id AS VARCHAR) AS url
         FROM documents),
         h AS (SELECT doc_id, url,
                 regexp_extract(lower(url),
                   '^[a-z][a-z0-9+.-]*://(?:[^/?#]*@)?(\[[0-9a-f:.]+\]|[^/:?#@]+)', 1) AS host
               FROM u)
         SELECT doc_id, host FROM h
         WHERE host <> ''
           AND host NOT IN ('spam.tracker.example', 'ads.adnetwork.example')
           AND substring(md5(url || ':42'), 1, 4) <
               CASE WHEN host = 'en.wikipedia.org' THEN '8000' ELSE 'zzzz' END
         ORDER BY doc_id""",

    // stepped generate_series + list slice replay the window starts,
    // lengths, and dense chunk ids exactly
    "t12_chunk_tokens" -> (NormCte +
      """, tk AS (SELECT doc_id, string_split(t, ' ') AS ts FROM n),
         base AS (SELECT doc_id, ts, len(ts) AS nt FROM tk WHERE len(ts) >= 1),
         st AS (SELECT doc_id, unnest(generate_series(1, nt, 8)) AS s, ts, nt
                FROM base)
         SELECT doc_id, (s - 1) // 8 AS chunk_id,
                CAST(least(32, nt - s + 1) AS BIGINT) AS n_tokens,
                array_to_string(ts[s:least(s + 31, nt)], ' ') AS chunk
         FROM st ORDER BY doc_id, chunk_id"""),

    // same footer enrichment; lines whose normalized fingerprint spans
    // >= 3 distinct docs are dropped everywhere, survivors re-joined
    "d15_boilerplate_lines" ->
      """WITH e AS (SELECT doc_id, text || chr(10) ||
           CASE doc_id % 3 WHEN 0 THEN 'subscribe to our newsletter today'
                WHEN 1 THEN 'all rights reserved example corp'
                ELSE 'cookie policy accept to continue' END ||
           chr(10) || 'ref doc ' || CAST(doc_id AS VARCHAR) AS text
         FROM documents),
         lx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM e),
         pos AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls
                 FROM lx),
         ln AS (SELECT doc_id, i AS line_idx, ls[i] AS line FROM pos
                WHERE length(trim(ls[i])) > 0),
         fp AS (SELECT doc_id, line_idx, line,
                       md5(regexp_replace(trim(lower(line)), '\s+', ' ', 'g'))
                         AS f
                FROM ln),
         boiler AS (SELECT f FROM (SELECT DISTINCT doc_id, f FROM fp) df
                    GROUP BY f HAVING count(*) >= 3)
         SELECT doc_id, string_agg(line, chr(10) ORDER BY line_idx) AS text
         FROM fp WHERE f NOT IN (SELECT f FROM boiler)
         GROUP BY doc_id ORDER BY doc_id""",

    // the identical bloom bit math: probe trigrams set 3 nibble-parsed
    // 16-bit md5 positions; a corpus gram hits when all 3 are set
    "d16_bloom_decontaminate" -> (NormCte + s""",
         tk AS (SELECT doc_id, string_split(t, ' ') AS ts FROM n),
         base AS (SELECT doc_id, ts, len(ts) AS nt FROM tk WHERE len(ts) >= 3),
         g3 AS (SELECT DISTINCT doc_id, array_to_string(ts[p:p+2], ' ') AS g
                FROM (SELECT doc_id, ts, unnest(generate_series(1, nt - 2)) AS p
                      FROM base) px),
         hj AS (SELECT unnest([1, 2, 3, 4, 5]) AS j),
         bp AS (SELECT DISTINCT
                  ${hex16Sql("g || ':b' || CAST(j AS VARCHAR)")} % 65536 AS p
                FROM (SELECT DISTINCT g FROM g3 WHERE doc_id % 50 = 0) pg, hj),
         ch AS (SELECT doc_id, g, j,
                  ${hex16Sql("g || ':b' || CAST(j AS VARCHAR)")} % 65536 AS p
                FROM g3, hj),
         hit AS (SELECT doc_id, g FROM ch JOIN bp USING (p)
                 GROUP BY doc_id, g HAVING count(*) = 5)
         SELECT doc_id, count(*) AS n_hits
         FROM hit GROUP BY doc_id ORDER BY doc_id"""),

    // the s08 training round, stopped at the clustering answer:
    // assignment by rounded cosine + cell sizes
    "s10_kmeans_clusters" -> (TrainedCentCte +
      """, asg AS (SELECT vec_id, cid,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                  ORDER BY round(list_cosine_similarity(e, ce), 6) DESC,
                           cid ASC) AS crank
              FROM v, cent),
         cells AS (SELECT vec_id, cid AS cluster FROM asg WHERE crank = 1),
         sz AS (SELECT cluster, count(*) AS cluster_size FROM cells GROUP BY 1)
         SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, cluster_size
         FROM cells JOIN sz USING (cluster) ORDER BY vec_id"""),

    // s02's bucketed ranking + s03's probed ranking, fused by
    // 1/(60+rank) sums rounded before the final re-rank
    "s11_ann_rrf_fusion" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         b AS (SELECT vec_id, e, ${signBucketSql(4)} AS bucket FROM v),
         q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qb FROM b
               WHERE vec_id < 5),
         ls AS (SELECT query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(c.e, qe) AS cos
                FROM b c, q
                WHERE c.vec_id <> query_id
                  AND CAST(bit_count(xor(c.bucket, qb)) AS INTEGER) <= 1),
         lr AS (SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rank FROM ls),
         cent AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
         asg AS (SELECT vec_id, e, cid,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(e, ce), 6) DESC,
                                   cid ASC) AS crank
                 FROM v, cent),
         idx AS (SELECT vec_id, e, cid AS cell FROM asg WHERE crank = 1),
         qp AS (SELECT vec_id AS query_id, e AS qe, cid AS cell FROM asg
                WHERE vec_id < 5 AND crank <= 4),
         si AS (SELECT query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(c.e, qe) AS cos
                FROM idx c JOIN qp ON c.cell = qp.cell AND c.vec_id <> query_id),
         ir AS (SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rank FROM si),
         u AS (SELECT query_id, neighbor_id, rank FROM lr WHERE rank <= 10
               UNION ALL
               SELECT query_id, neighbor_id, rank FROM ir WHERE rank <= 10),
         f AS (SELECT query_id, neighbor_id,
                      round(sum(1.0 / (60 + rank)), 6) AS score
               FROM u GROUP BY 1, 2),
         fr AS (SELECT query_id, neighbor_id, score,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY score DESC, neighbor_id ASC) AS rank FROM f)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, score
         FROM fr WHERE rank <= 10 ORDER BY query_id, rank""",

    // the Matryoshka funnel: truncated-dim ranking picks 50 candidates,
    // the full-dim cosine re-ranks them — both stages on rounded scores
    "s12_ann_truncated_rerank" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         tv AS (SELECT vec_id, e, list_slice(e, 1, 16) AS te FROM v),
         q AS (SELECT vec_id AS query_id, e AS qe, te AS qte FROM tv
               WHERE vec_id < 5),
         s1 AS (SELECT query_id, c.vec_id AS neighbor_id, c.e AS ce, qe,
                       round(list_cosine_similarity(c.te, qte), 6) AS tcos
                FROM tv c, q WHERE c.vec_id <> query_id),
         cand AS (SELECT query_id, neighbor_id, ce, qe,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY tcos DESC, neighbor_id ASC) AS crank
                  FROM s1),
         s2 AS (SELECT query_id, neighbor_id,
                       round(list_cosine_similarity(ce, qe), 4) AS cos
                FROM cand WHERE crank <= 50),
         r AS (SELECT query_id, neighbor_id, cos,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rank FROM s2)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",

    // the s01 brute-force chain and the s02 sign-LSH chain side by side,
    // hit-joined on (query_id, neighbor_id); absent queries keep 0
    "s13_ann_recall" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         b AS (SELECT vec_id, e, ${signBucketSql(4)} AS bucket FROM v),
         q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qb FROM b
               WHERE vec_id < 5),
         es AS (SELECT query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(c.e, qe) AS cos
                FROM v c, q WHERE c.vec_id <> query_id),
         er AS (SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rank FROM es),
         ek AS (SELECT query_id, neighbor_id FROM er WHERE rank <= 10),
         ls AS (SELECT query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(c.e, qe) AS cos
                FROM b c, q
                WHERE c.vec_id <> query_id
                  AND CAST(bit_count(xor(c.bucket, qb)) AS INTEGER) <= 1),
         lr AS (SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rank FROM ls),
         lk AS (SELECT query_id, neighbor_id FROM lr WHERE rank <= 10),
         h AS (SELECT query_id, count(*) AS n_hit
               FROM ek JOIN lk USING (query_id, neighbor_id) GROUP BY 1)
         SELECT qq.query_id, coalesce(n_hit, 0) AS n_hit,
                round(coalesce(n_hit, 0) / 10.0, 4) AS recall
         FROM (SELECT DISTINCT query_id FROM q) qq LEFT JOIN h USING (query_id)
         ORDER BY query_id""",

    // same host synthesis as q40; the cap is a plain per-host window
    // over (token count desc, doc_id asc)
    "q41_domain_cap" -> (NormCte +
      """, c AS (SELECT doc_id,
           CASE doc_id % 5 WHEN 0 THEN 'spam.tracker.example'
                WHEN 1 THEN 'ads.adnetwork.example'
                WHEN 2 THEN 'en.wikipedia.org' WHEN 3 THEN 'github.com'
                ELSE 'docs.python.org' END AS host,
           len(string_split(t, ' ')) AS n_tokens FROM n),
         r AS (SELECT doc_id, host, n_tokens,
                      row_number() OVER (PARTITION BY host
                        ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM c)
         SELECT doc_id, host, n_tokens FROM r WHERE rn <= 30
         ORDER BY doc_id"""),

    // the corpus inverted index (tf/df/dl), Lucene-idf BM25 with each
    // term contribution fixed to integer micros before the per-doc sum —
    // expression text mirrors the Spark side so the doubles agree
    "t15_bm25_topk" -> Bm25Sql,

    // identical ranking contract: the persisted-index path must land on
    // exactly the one-shot path's answer
    "t28_bm25_from_index" -> Bm25Sql,

    // the maintained index serves exactly what a rebuild over the
    // post-changelog corpus serves
    "t30_bm25_maintained" -> Bm25MaintainedSql,

    // the unrolled 5-round integer PageRank — every rank replays exactly
    "q57_pagerank" -> pageRankCtes(5, 85),

    "q62_pagerank_dangling" -> pageRankDanglingCtes(5, 85),

    // the dense shuffle-order index, the 60-bit candidate hash, the
    // self-collision drop, and first-k-by-draw-order — replayed 1:1
    "q58_negative_samples" -> (
      s"""WITH v AS (SELECT DISTINCT vec_id FROM embeddings),
         kx AS (SELECT vec_id,
                       md5(CAST(vec_id AS VARCHAR) || ':42') || ':' ||
                         CAST(vec_id AS VARCHAR) AS skey FROM v),
         ix AS (SELECT vec_id AS neg,
                       CAST(row_number() OVER (ORDER BY skey) - 1 AS BIGINT)
                         AS idx FROM kx),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
         a AS (SELECT DISTINCT vec_id AS anchor FROM embeddings
               WHERE vec_id < 50),
         js AS (SELECT unnest(generate_series(0, 8)) AS j),
         c AS (SELECT anchor, j,
                      ${hex60Sql("CAST(anchor AS VARCHAR) || ':' || " +
                        "CAST(j AS VARCHAR) || ':42'")} %
                        (SELECT n FROM nn) AS idx
               FROM a CROSS JOIN js),
         m AS (SELECT anchor, j, neg FROM c JOIN ix USING (idx)
               WHERE neg <> anchor),
         r AS (SELECT anchor AS anchor_id, neg AS neg_id,
                      CAST(row_number() OVER (PARTITION BY anchor
                        ORDER BY j) AS INTEGER) AS neg_rank FROM m)
         SELECT anchor_id, neg_rank, neg_id FROM r
         WHERE neg_rank <= 5 ORDER BY anchor_id, neg_rank"""),

    // the benchmark (exact + double-space-scaled copies) and the
    // NOT-EXISTS cosine test, replayed 1:1
    "d22_semantic_decontaminate" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
         bench AS (SELECT e AS be FROM v WHERE vec_id % 41 = 0
                   UNION ALL
                   SELECT list_transform(e, x -> x * 1.1) AS be
                   FROM v WHERE vec_id % 43 = 0)
         SELECT vec_id, label FROM v
         WHERE NOT EXISTS (SELECT 1 FROM bench
                           WHERE list_cosine_similarity(e, be) >= 0.95)
         ORDER BY vec_id""",

    // the sign-bucket candidate contract replayed exactly: 8 sign bits
    // over the leading dimensions, Hamming<=1 bucket proximity, exact
    // cosine only on colliding candidates
    "d23_decontaminate_scaled" -> {
      def bkt(e: String): String = (0 until 8).map(i =>
        s"(CASE WHEN $e[${i + 1}]>=0 THEN ${1 << i} ELSE 0 END)").mkString("+")
      s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                     FROM embeddings),
         bench AS (SELECT e AS be FROM v WHERE vec_id % 41 = 0
                   UNION ALL
                   SELECT list_transform(e, x -> x * 1.1) AS be
                   FROM v WHERE vec_id % 43 = 0),
         cb AS (SELECT vec_id, label, e, ${bkt("e")} AS bkt FROM v),
         bb AS (SELECT be, ${bkt("be")} AS bkt FROM bench)
         SELECT vec_id, label FROM cb
         WHERE NOT EXISTS (SELECT 1 FROM bb
                           WHERE bit_count(xor(cb.bkt, bb.bkt)) <= 1
                             AND list_cosine_similarity(cb.e, bb.be) >= 0.95)
         ORDER BY vec_id"""
    },

    // exact-regime theta estimates ARE the set sizes — the oracle is
    // the plain exact per-group set arithmetic over the two slices
    "d24_corpus_overlap" ->
      """WITH a AS (SELECT doc_id % 5 AS grp, doc_id AS v FROM documents
                    WHERE doc_id % 3 <> 0),
         b AS (SELECT doc_id % 5 AS grp, doc_id AS v FROM documents
               WHERE doc_id % 2 <> 0),
         ga AS (SELECT grp, count(DISTINCT v) AS na FROM a GROUP BY grp),
         gb AS (SELECT grp, count(DISTINCT v) AS nb FROM b GROUP BY grp),
         ov AS (SELECT a.grp, count(DISTINCT a.v) AS no
                FROM a JOIN b ON a.grp = b.grp AND a.v = b.v GROUP BY a.grp)
         SELECT coalesce(ga.grp, gb.grp) AS grp,
                CAST(coalesce(na, 0) AS BIGINT) AS n_a,
                CAST(coalesce(nb, 0) AS BIGINT) AS n_b,
                CAST(coalesce(no, 0) AS BIGINT) AS n_overlap,
                CAST(coalesce(na, 0) - coalesce(no, 0) AS BIGINT) AS n_a_only,
                CAST(coalesce(nb, 0) - coalesce(no, 0) AS BIGINT) AS n_b_only
         FROM ga FULL OUTER JOIN gb ON ga.grp = gb.grp
         LEFT JOIN ov ON ov.grp = coalesce(ga.grp, gb.grp)
         ORDER BY grp""",

    // both hard-EM rounds unrolled: seed substring counts, per-position
    // match lengths under each round's vocabulary, the greedy walk as a
    // recursive CTE (pos strictly increases, so it terminates), the
    // (cnt desc, piece asc) prune with singles held out of the budget
    "t33_unigram_train" -> {
      def walkRound(v: String, r: Int): String = s"""
         ml$r AS (SELECT c.w, c.p,
                greatest(coalesce(max(CASE WHEN v.piece IS NOT NULL
                                           THEN c.l END), 1), 1) AS ml
            FROM cand c LEFT JOIN $v v ON c.piece = v.piece
            GROUP BY c.w, c.p),
         walk$r AS (
            SELECT w.w, 0 AS pos FROM w
            UNION ALL
            SELECT m.w, m.p + m.ml FROM walk$r k
            JOIN ml$r m ON m.w = k.w AND m.p = k.pos),
         cnt$r AS (SELECT substr(k.w, k.pos + 1, m.ml) AS piece,
                          sum(w.n) AS cnt
            FROM walk$r k JOIN ml$r m ON m.w = k.w AND m.p = k.pos
            JOIN w ON w.w = k.w
            GROUP BY 1)"""
      s"""WITH RECURSIVE n AS (SELECT doc_id,
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
             FROM documents),
         w AS (SELECT word AS w, count(*) AS n
               FROM (SELECT unnest(string_split(t, ' ')) AS word FROM n)
               WHERE len(word) > 0 GROUP BY 1),
         mx AS (SELECT max(len(w)) AS m FROM w),
         ps AS (SELECT unnest(generate_series(0, (SELECT m FROM mx) - 1)) AS p),
         ls AS (SELECT unnest(generate_series(1, 4)) AS l),
         cand AS (SELECT w.w, ps.p, ls.l, substr(w.w, ps.p + 1, ls.l) AS piece
                  FROM w CROSS JOIN ps CROSS JOIN ls
                  WHERE ps.p < len(w.w) AND ls.l <= len(w.w) - ps.p),
         seed AS (SELECT c.piece, sum(w.n) AS cnt
                  FROM cand c JOIN w ON w.w = c.w GROUP BY 1),
         singles AS (SELECT piece FROM seed WHERE len(piece) = 1),
         nsingles AS (SELECT count(*) AS k FROM singles),
         v0 AS (SELECT piece FROM singles
                UNION ALL
                SELECT piece FROM (SELECT piece FROM seed WHERE len(piece) > 1
                                   ORDER BY cnt DESC, piece LIMIT 64)),
         ${walkRound("v0", 1)},
         v1 AS (SELECT piece FROM singles
                UNION ALL
                SELECT piece FROM (SELECT piece FROM cnt1 WHERE len(piece) > 1
                                   ORDER BY cnt DESC, piece
                                   LIMIT (40 - (SELECT k FROM nsingles)))),
         ${walkRound("v1", 2)},
         final AS (SELECT s.piece, coalesce(c.cnt, 0) AS cnt
                   FROM singles s LEFT JOIN cnt2 c ON s.piece = c.piece
                   UNION ALL
                   SELECT piece, cnt
                   FROM (SELECT piece, cnt FROM cnt2 WHERE len(piece) > 1
                         ORDER BY cnt DESC, piece
                         LIMIT (40 - (SELECT k FROM nsingles))))
         SELECT piece, CAST(cnt AS BIGINT) AS cnt,
                CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INT) AS rank
         FROM final ORDER BY rank"""
    },

    // the fixed piece table as VALUES, the same match-length + greedy
    // recursive walk, reassembled per document in (word index, position)
    // order; blank documents vanish on both sides (no words, no rows)
    "t34_unigram_segment" ->
      s"""WITH RECURSIVE n AS (SELECT doc_id,
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
             FROM documents),
         voc(piece) AS (VALUES ('th'), ('he'), ('in'), ('er'), ('an'),
                               ('re'), ('ing'), ('ent')),
         d AS (SELECT doc_id, string_split(t, ' ') AS ws FROM n
               WHERE t IS NOT NULL),
         mxw AS (SELECT max(len(ws)) AS m FROM d),
         wi AS (SELECT unnest(generate_series(1, (SELECT m FROM mxw))) AS i),
         dw AS (SELECT doc_id, wi.i AS wi, ws[wi.i] AS w
                FROM d CROSS JOIN wi
                WHERE wi.i <= len(ws) AND len(ws[wi.i]) > 0),
         wd AS (SELECT DISTINCT w FROM dw),
         mx AS (SELECT max(len(w)) AS m FROM wd),
         ps AS (SELECT unnest(generate_series(0, (SELECT m FROM mx) - 1)) AS p),
         ls AS (SELECT unnest(generate_series(1, 4)) AS l),
         cand AS (SELECT wd.w, ps.p, ls.l, substr(wd.w, ps.p + 1, ls.l) AS piece
                  FROM wd CROSS JOIN ps CROSS JOIN ls
                  WHERE ps.p < len(wd.w) AND ls.l <= len(wd.w) - ps.p),
         ml AS (SELECT c.w, c.p,
                  greatest(coalesce(max(CASE WHEN v.piece IS NOT NULL
                                             THEN c.l END), 1), 1) AS ml
                FROM cand c LEFT JOIN voc v ON c.piece = v.piece
                GROUP BY c.w, c.p),
         walk AS (SELECT wd.w, 0 AS pos FROM wd
                  UNION ALL
                  SELECT m.w, m.p + m.ml FROM walk k
                  JOIN ml m ON m.w = k.w AND m.p = k.pos),
         wp AS (SELECT k.w, k.pos, substr(k.w, k.pos + 1, m.ml) AS piece
                FROM walk k JOIN ml m ON m.w = k.w AND m.p = k.pos)
         SELECT dw.doc_id,
                string_agg(wp.piece, ' ' ORDER BY dw.wi, wp.pos) AS pieces,
                CAST(count(*) AS BIGINT) AS n_pieces
         FROM dw JOIN wp ON wp.w = dw.w
         GROUP BY dw.doc_id ORDER BY dw.doc_id""",

    // the WordPiece merge loop unrolled: per-round symbol counts and
    // the likelihood score replayed through the same IEEE doubles
    "t38_wordpiece_train" -> wordPieceMergesOracle(6),

    // the MaxMatch walk replayed: per-position longest vocabulary match
    // (bare at word start, ##-keyed inside), whole-word [UNK] whenever
    // the walk cannot reach the end of the word
    "t39_wordpiece_segment" -> {
      val values = WordPieceVocab.map(p => s"('$p')").mkString(", ")
      s"""WITH RECURSIVE n AS (SELECT doc_id,
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
             FROM documents),
         voc(piece) AS (VALUES $values),
         d AS (SELECT doc_id, string_split(t, ' ') AS ws FROM n
               WHERE t IS NOT NULL),
         mxw AS (SELECT max(len(ws)) AS m FROM d),
         wi AS (SELECT unnest(generate_series(1, (SELECT m FROM mxw))) AS i),
         dw AS (SELECT doc_id, wi.i AS wi, ws[wi.i] AS w
                FROM d CROSS JOIN wi
                WHERE wi.i <= len(ws) AND len(ws[wi.i]) > 0),
         wd AS (SELECT DISTINCT w FROM dw),
         mx AS (SELECT max(len(w)) AS m FROM wd),
         ps AS (SELECT unnest(generate_series(0, (SELECT m FROM mx) - 1)) AS p),
         ls AS (SELECT unnest(generate_series(1, 5)) AS l),
         cand AS (SELECT wd.w, ps.p, ls.l,
                         CASE WHEN ps.p = 0 THEN substr(wd.w, 1, ls.l)
                              ELSE '##' || substr(wd.w, ps.p + 1, ls.l)
                         END AS key
                  FROM wd CROSS JOIN ps CROSS JOIN ls
                  WHERE ps.p < len(wd.w) AND ls.l <= len(wd.w) - ps.p),
         ml AS (SELECT c.w, c.p,
                       max(CASE WHEN v.piece IS NOT NULL THEN c.l END) AS ml
                FROM cand c LEFT JOIN voc v ON c.key = v.piece
                GROUP BY c.w, c.p),
         walk AS (SELECT wd.w, 0 AS pos FROM wd
                  UNION ALL
                  SELECT m.w, m.p + m.ml FROM walk k
                  JOIN ml m ON m.w = k.w AND m.p = k.pos
                            AND m.ml IS NOT NULL),
         cw AS (SELECT DISTINCT k.w FROM walk k WHERE k.pos = len(k.w)),
         wp AS (SELECT k.w, k.pos,
                       CASE WHEN k.pos = 0 THEN substr(k.w, 1, m.ml)
                            ELSE '##' || substr(k.w, k.pos + 1, m.ml)
                       END AS piece
                FROM walk k
                JOIN ml m ON m.w = k.w AND m.p = k.pos AND m.ml IS NOT NULL
                WHERE k.w IN (SELECT w FROM cw)),
         seg AS (SELECT w, pos, piece FROM wp
                 UNION ALL
                 SELECT w, 0 AS pos, '[UNK]' AS piece FROM wd
                 WHERE w NOT IN (SELECT w FROM cw))
         SELECT dw.doc_id,
                string_agg(seg.piece, ' ' ORDER BY dw.wi, seg.pos) AS pieces,
                CAST(count(*) AS BIGINT) AS n_pieces
         FROM dw JOIN seg ON seg.w = dw.w
         GROUP BY dw.doc_id ORDER BY dw.doc_id"""
    },

    // the maintained HLL estimates are coupon-exact at this per-group
    // cardinality, so the oracle is the plain exact distinct count
    "t36_hll_distinct" ->
      """SELECT doc_id % 50 AS grp,
             CAST(count(DISTINCT doc_id % 997) AS BIGINT) AS dcnt
         FROM documents GROUP BY 1 ORDER BY grp""",

    // distinct items per group sit far under the purge point, so the
    // maintained frequency estimates are the exact per-group counts
    "t40_freq_items" ->
      """SELECT CAST(doc_id % 7 AS VARCHAR) AS grp,
                'w' || CAST((doc_id * doc_id) % 13 AS VARCHAR) AS item,
                CAST(count(*) AS BIGINT) AS est
         FROM documents GROUP BY 1, 2 ORDER BY grp, item""",

    // 101 values per group keep the KLL sketch in its exact regime, so
    // the maintained INCLUSIVE median is the exact middle element —
    // DuckDB's median over an odd count picks the same one
    "t37_kll_quantile" ->
      """WITH cohort AS (
           SELECT o_orderpriority AS grp, o_totalprice AS v,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_orderkey) AS rn,
                  count(*) OVER (PARTITION BY o_orderpriority) AS gcnt
           FROM orders)
         SELECT grp, median(v) AS q50
         FROM cohort WHERE gcnt >= 101 AND rn <= 101
         GROUP BY grp ORDER BY grp""",

    // both smoothed hashed-bigram bucket models, the micro-fixed log
    // ratio, and the (key desc, doc_id) top-k replayed exactly
    "t35_dsir_select" -> (NormCte + s""",
         tk AS (SELECT doc_id, string_split(t, ' ') AS ts FROM n),
         ex AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
                FROM tk WHERE len(ts) >= 2),
         fb AS (SELECT doc_id,
                       (${hex16Sql("ts[i] || ':' || ts[i + 1]")}) % 256 AS b,
                       CAST(count(*) AS BIGINT) AS n_db
                FROM ex GROUP BY 1, 2),
         tgt AS (SELECT b, sum(n_db) AS ct FROM fb WHERE doc_id % 7 = 0
                 GROUP BY 1),
         rawf AS (SELECT doc_id, b, n_db FROM fb WHERE doc_id % 7 <> 0),
         rc AS (SELECT b, sum(n_db) AS cr FROM rawf GROUP BY 1),
         tt AS (SELECT coalesce(sum(ct), 0) AS tt FROM tgt),
         tr AS (SELECT coalesce(sum(cr), 0) AS tr FROM rc),
         ids AS (SELECT unnest(generate_series(0, 255)) AS b),
         ll AS (SELECT ids.b,
                  CAST(floor(ln(((coalesce(ct, 0) + 1.0) * (tr + 256)) /
                                ((coalesce(cr, 0) + 1.0) * (tt + 256)))
                       * 1000000.0 + 0.5) AS BIGINT) AS dll
                FROM ids LEFT JOIN tgt ON tgt.b = ids.b
                LEFT JOIN rc ON rc.b = ids.b
                CROSS JOIN tt CROSS JOIN tr),
         sc AS (SELECT rawf.doc_id, CAST(sum(n_db * dll) AS BIGINT) AS weight_micro,
                       CAST(sum(n_db) AS BIGINT) AS n_feats
                FROM rawf JOIN ll ON ll.b = rawf.b GROUP BY 1)
         SELECT n.doc_id, coalesce(weight_micro, 0) AS weight_micro,
                coalesce(n_feats, 0) AS n_feats,
                coalesce(weight_micro, 0) AS key_micro
         FROM n LEFT JOIN sc ON sc.doc_id = n.doc_id
         WHERE n.doc_id % 7 <> 0
         ORDER BY key_micro DESC, n.doc_id LIMIT 200"""),

    // the bucket grid and both 16-bit md5 hashes (span length, in-
    // bucket offset) replayed nibble by nibble
    "t32_corruption_spans" -> (NormCte +
      s""", d AS (SELECT doc_id, CAST(len(string_split(t, ' ')) AS BIGINT) AS n
                  FROM n),
         p AS (SELECT doc_id, n,
                      least(greatest(1, n * 15 // 300), n) AS k FROM d),
         mx AS (SELECT CAST(max(k) AS BIGINT) AS mk FROM p),
         ix AS (SELECT unnest(generate_series(0,
                  (SELECT mk FROM mx) - 1)) AS i),
         e AS (SELECT doc_id, n, k, n // k AS w, i
               FROM p CROSS JOIN ix WHERE i < k),
         s AS (SELECT doc_id, i, w,
                 least(1 + ${hex16Sql(
                   "CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR) || ':len'")}
                   % 5, w) AS slen
               FROM e),
         o AS (SELECT doc_id, i AS span_idx,
                      i * w + ${hex16Sql(
                        "CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR) || ':off'")}
                        % (w - slen + 1) + 1 AS span_start,
                      slen FROM s)
         SELECT doc_id, span_idx, CAST(span_start AS BIGINT) AS span_start,
                CAST(span_start + slen - 1 AS BIGINT) AS span_end
         FROM o ORDER BY doc_id, span_idx"""),

    // the stopword weight table (shared terms voting for both
    // languages), per-class sums, and the first-class-wins argmax —
    // replayed end to end
    "t31_weighted_lang_id" -> (NormCte +
      """, tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
         w(term, w0, w1, w2, w3) AS (VALUES
           ('the',1000,0,0,0), ('a',1000,0,0,0), ('of',1000,0,0,0),
           ('and',1000,0,0,0), ('to',1000,0,0,0), ('in',1000,0,0,0),
           ('is',1000,0,0,0), ('that',1000,0,0,0), ('it',1000,0,0,0),
           ('for',1000,0,0,0),
           ('le',0,1000,0,0), ('la',0,1000,0,0), ('les',0,1000,0,0),
           ('de',0,1000,0,1000), ('et',0,1000,0,0), ('un',0,1000,0,1000),
           ('une',0,1000,0,0), ('est',0,1000,0,0), ('que',0,1000,0,1000),
           ('pour',0,1000,0,0),
           ('der',0,0,1000,0), ('die',0,0,1000,0), ('das',0,0,1000,0),
           ('und',0,0,1000,0), ('ein',0,0,1000,0), ('eine',0,0,1000,0),
           ('ist',0,0,1000,0), ('zu',0,0,1000,0), ('mit',0,0,1000,0),
           ('von',0,0,1000,0),
           ('el',0,0,0,1000), ('los',0,0,0,1000), ('las',0,0,0,1000),
           ('y',0,0,0,1000), ('una',0,0,0,1000), ('es',0,0,0,1000),
           ('para',0,0,0,1000)),
         sc AS (SELECT doc_id,
                  CAST(sum(coalesce(w0, 0)) AS BIGINT) AS s_en,
                  CAST(sum(coalesce(w1, 0)) AS BIGINT) AS s_fr,
                  CAST(sum(coalesce(w2, 0)) AS BIGINT) AS s_de,
                  CAST(sum(coalesce(w3, 0)) AS BIGINT) AS s_es
                FROM tok LEFT JOIN w USING (term) GROUP BY 1)
         SELECT doc_id,
                CASE WHEN greatest(s_en, s_fr, s_de, s_es) <= 0 THEN 'und'
                     WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
                     WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
                     WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
                     ELSE 'es' END AS pred,
                s_en, s_fr, s_de, s_es
         FROM sc ORDER BY doc_id"""),

        // the d12 index construction, probe-restricted before the guard,
    // corpus-vs-probe match, corpus-side merged spans
    "d18_cross_spans" -> (NormCte +
      """, tk AS (SELECT doc_id, string_split(t, ' ') AS ts FROM n),
         base AS (SELECT doc_id, ts, len(ts) AS nt FROM tk WHERE len(ts) >= 8),
         pos AS (SELECT doc_id, unnest(generate_series(1, nt - 7)) AS p, ts
                 FROM base),
         idx AS (SELECT doc_id, p, md5(array_to_string(ts[p:p+7], ' ')) AS g
                 FROM pos),
         pidx0 AS (SELECT doc_id, p, g FROM idx WHERE doc_id % 50 = 0),
         pfg AS (SELECT g FROM pidx0 GROUP BY g HAVING count(*) <= 64),
         pidx AS (SELECT pidx0.* FROM pidx0 JOIN pfg USING (g)),
         cand AS (SELECT idx.* FROM idx
                  JOIN (SELECT DISTINCT g FROM pidx) pg USING (g)),
         fg AS (SELECT g FROM cand GROUP BY g HAVING count(*) <= 64),
         ck AS (SELECT cand.* FROM cand JOIN fg USING (g)),
         m AS (SELECT c.doc_id AS doc_c, c.p AS pc, q.doc_id AS doc_p, q.p AS pp
               FROM ck c JOIN pidx q ON c.g = q.g AND c.doc_id <> q.doc_id),
         r AS (SELECT doc_c, doc_p, pp - pc AS d, pc,
                      pc - row_number() OVER (PARTITION BY doc_c, doc_p, pp - pc
                                              ORDER BY pc) AS run
               FROM m),
         sp0 AS (SELECT doc_c AS doc_id, min(pc) AS s, max(pc) + 7 AS e
                 FROM r GROUP BY doc_c, doc_p, d, run),
         spans AS (SELECT DISTINCT doc_id, s, e FROM sp0),
         mk AS (SELECT doc_id, s, e,
                       max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM spans),
         br AS (SELECT doc_id, s, e,
                       CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END AS brk
                FROM mk),
         grp AS (SELECT doc_id, s, e,
                        sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS grp
                 FROM br)
         SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
                CAST(max(e) AS BIGINT) AS span_end
         FROM grp GROUP BY doc_id, grp ORDER BY doc_id, span_start"""),

    // m07 ground truth = ALL pairs at hamming <= 3 over the replayed
    // aHash (no banding clause: pigeonhole makes 16-bit-chunk banding
    // lossless at this bound, and equality against the banded operator
    // PROVES it); m05 below keeps its own set-Jaccard chunk shape
    // frames, in-frame energy sums, the voiced threshold, and the
    // islands merge — replayed with the same exact integers
    "m08_energy_segments" ->
      """WITH p AS (SELECT doc_id,
                 substring(text, 1, 100) || repeat(' ', 64) ||
                 substring(text, 101, 100) || repeat(' ', 64) ||
                 substring(text, 201, 100) AS pay
               FROM documents),
         f AS (SELECT doc_id, pay, CAST(length(pay) AS BIGINT) AS n
               FROM p WHERE length(pay) > 0),
         mx AS (SELECT CAST(max((n - 1) // 16) AS BIGINT) AS mf FROM f),
         ix AS (SELECT unnest(generate_series(0, (SELECT mf FROM mx))) AS fi),
         fr AS (SELECT doc_id, fi,
                  CAST(list_sum(list_transform(
                    range(0, CAST(least(16, n - fi * 16) AS INTEGER)),
                    j -> abs(ord(substring(pay,
                      CAST(fi * 16 + j + 1 AS INTEGER), 1)) - 32)))
                    AS BIGINT) AS e
                FROM f CROSS JOIN ix WHERE fi <= (n - 1) // 16),
         v AS (SELECT doc_id, fi FROM fr WHERE e >= 400),
         g AS (SELECT doc_id, fi,
                      fi - row_number() OVER (PARTITION BY doc_id
                        ORDER BY fi) AS grp FROM v)
         SELECT doc_id, CAST(min(fi) AS BIGINT) AS seg_start,
                CAST(max(fi) AS BIGINT) AS seg_end, count(*) AS n_frames
         FROM g GROUP BY doc_id, grp ORDER BY doc_id, seg_start""",

    "m07_perceptual_neardup" ->
      """WITH a AS (SELECT doc_id, doc_id - doc_id % 5 AS anchor_id
                    FROM documents),
         pj AS (SELECT a.doc_id, a.anchor_id, d.text AS atext
                FROM a JOIN documents d ON d.doc_id = a.anchor_id),
         p AS (SELECT doc_id,
                 (CASE CAST(anchor_id % 3 AS INTEGER) WHEN 0 THEN 'PNG|'
                  WHEN 1 THEN 'JPG|' ELSE 'GIF|' END)
                 || atext || ' tail ' || CAST(doc_id AS VARCHAR) AS pay
               FROM pj),
         cs AS (SELECT doc_id,
                  list_transform(range(0, 64), j ->
                    CAST(ord(substring(pay,
                      CAST((j * (length(pay) - 1)) // 63 AS INTEGER) + 1, 1))
                      AS BIGINT)) AS c
                FROM p WHERE length(pay) > 0),
         hh AS (SELECT doc_id, c, CAST(list_sum(c) AS BIGINT) AS tot FROM cs),
         h AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(0, 32), j ->
                   CASE WHEN 64 * c[j + 1] >= tot
                        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS h1,
                 CAST(list_sum(list_transform(range(32, 64), j ->
                   CASE WHEN 64 * c[j + 1] >= tot
                        THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)) AS BIGINT) AS h2
               FROM hh)
         SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                CAST(bit_count(xor(x.h1, y.h1)) +
                     bit_count(xor(x.h2, y.h2)) AS INTEGER) AS hamming
         FROM h x JOIN h y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h1, y.h1)) + bit_count(xor(x.h2, y.h2)) <= 3
         ORDER BY doc_a, doc_b""",

    // anchor-shared payload chunks, distinct per doc, paired on shared
    // chunk fingerprints — same set-Jaccard shape as d17
    "m05_media_neardup" ->
      """WITH a AS (SELECT doc_id, doc_id - doc_id % 5 AS anchor_id
                    FROM documents),
         pj AS (SELECT a.doc_id, a.anchor_id, d.text AS atext
                FROM a JOIN documents d ON d.doc_id = a.anchor_id),
         p AS (SELECT doc_id,
                 (CASE CAST(anchor_id % 3 AS INTEGER) WHEN 0 THEN 'PNG|'
                  WHEN 1 THEN 'JPG|' ELSE 'GIF|' END)
                 || atext || ' tail ' || CAST(doc_id AS VARCHAR) AS pay
               FROM pj),
         c AS (SELECT doc_id, pay,
                 unnest(generate_series(0, (length(pay)-1)//64)) AS chunk_idx
               FROM p),
         fp AS (SELECT DISTINCT doc_id,
                  md5(substring(pay, CAST(chunk_idx*64+1 AS INTEGER), 64)) AS f
                FROM c),
         occ AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 64),
         kept AS (SELECT fp.doc_id, fp.f FROM fp JOIN occ USING (f)),
         sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
         agr AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
                 FROM kept x JOIN kept y ON x.f = y.f AND x.doc_id < y.doc_id
                 GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4)
                  AS jaccard
         FROM agr JOIN sz sa ON sa.doc_id = doc_a
                  JOIN sz sb ON sb.doc_id = doc_b
         WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
         ORDER BY doc_a, doc_b""",

    // the winnow fingerprint sets of t05, hot-guard filtered, paired on
    // shared values — the bucket join's count IS the intersection
    "d17_winnow_pairs" -> (WinnowCte +
      """, fp AS (SELECT DISTINCT doc_id, wmin AS f FROM wm
                  WHERE i <= nmax - 3),
         occ AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 64),
         kept AS (SELECT fp.doc_id, fp.f FROM fp JOIN occ USING (f)),
         sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
         agr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                 FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4)
                  AS jaccard
         FROM agr JOIN sz sa ON sa.doc_id = doc_a
                  JOIN sz sb ON sb.doc_id = doc_b
         WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
         ORDER BY doc_a, doc_b"""),

    // global token frequencies, deterministic tie-break on the token
    "t14_vocab_topk" -> (NormCte +
      """, tok AS (SELECT unnest(string_split(t, ' ')) AS token FROM n)
         SELECT token, count(*) AS n FROM tok
         GROUP BY token ORDER BY n DESC, token ASC LIMIT 100"""),

    // the t14 vocabulary at k=200, then per-doc occurrence membership
    "t29_oov_rate" -> (NormCte +
      """, tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token FROM n),
         voc AS (SELECT token FROM (SELECT token, count(*) AS n FROM tok
                 GROUP BY token ORDER BY n DESC, token ASC LIMIT 200)),
         j AS (SELECT tok.doc_id,
                 CASE WHEN voc.token IS NULL THEN 1 ELSE 0 END AS oov
               FROM tok LEFT JOIN voc ON tok.token = voc.token)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(oov) AS BIGINT) AS n_oov,
                CAST(floor(sum(oov) * 10000.0 / count(*) + 0.5) AS BIGINT)
                  AS oov_bp
         FROM j GROUP BY doc_id ORDER BY doc_id"""),

    // the integer quality score as a per-doc keep probability, replayed
    // through the same 16-bit md5 digest compare as the d10 sampler
    "t13_weighted_sample" -> (NormCte + QualityCte +
      """, w AS (SELECT doc_id, CAST(quality_bp AS DOUBLE) / 10000 AS w FROM qb)
         SELECT doc_id, round(w, 4) AS w FROM w
         WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 4) <
               CASE WHEN w >= 1.0 THEN 'zzzz'
                    ELSE printf('%04x', CAST(floor(w * 65536) AS BIGINT)) END
         ORDER BY doc_id"""),

    // the BPE merge loop, unrolled round by round (see bpeMergesOracle)
    "t16_bpe_merges" -> bpeMergesOracle(8),

    // training + application unrolled together (see bpeSegmentOracle)
    "t18_bpe_segment" -> bpeSegmentOracle(8),

    // cumulative digest cuts; (0.8 + 0.1) spelled as the sum, not the
    // folded 0.9 literal, so both engines floor the same IEEE double
    "q43_train_split" ->
      """SELECT doc_id,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 4) <
                     printf('%04x', CAST(floor(0.8 * 65536) AS BIGINT)) THEN 'train'
                WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 4) <
                     printf('%04x', CAST(floor((0.8 + 0.1) * 65536) AS BIGINT)) THEN 'val'
                ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",

    // the three backoff levels replayed literally: same counts, same
    // canonical double evaluation order inside ln, same micro fix
    "t26_trigram_backoff_lm" -> (TriLmCte +
      """ SELECT doc_id, CAST(sum(n_td) AS BIGINT) AS n_tris,
                CAST(sum(n_td * mic) AS BIGINT) AS logp_micro_sum
         FROM m GROUP BY doc_id ORDER BY doc_id"""),

    // the t26 score chain, then fixed integer-micro bars cut CCNet-style
    // head/middle/tail buckets and the d10/t13 md5 digest keeps each
    // bucket at its rate
    "t27_perplexity_mixture" -> (TriLmCte +
      """, sc AS (SELECT doc_id, CAST(sum(n_td) AS BIGINT) AS n_tris,
                CAST(sum(n_td * mic) AS BIGINT) AS logp_micro_sum
         FROM m GROUP BY doc_id),
         bk AS (SELECT doc_id, n_tris, logp_micro_sum,
                  CASE WHEN logp_micro_sum >= -3600000 * n_tris THEN 'head'
                       WHEN logp_micro_sum >= -3800000 * n_tris THEN 'middle'
                       ELSE 'tail' END AS bucket
                FROM sc)
         SELECT doc_id, n_tris, logp_micro_sum, bucket FROM bk
         WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 4) <
               CASE bucket WHEN 'head' THEN 'zzzz'
                    WHEN 'middle' THEN printf('%04x', CAST(floor(0.5 * 65536) AS BIGINT))
                    ELSE printf('%04x', CAST(floor(0.1 * 65536) AS BIGINT)) END
         ORDER BY doc_id"""),

    // same aggregates, same micro-fixed log term, same integer sums
    "t19_bigram_lm" -> (NormCte +
      """, tk AS (SELECT doc_id, string_split(t, ' ') AS ts FROM n),
         ex AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
                FROM tk WHERE len(ts) >= 2),
         bd AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2,
                       CAST(count(*) AS BIGINT) AS n_bd
                FROM ex GROUP BY 1, 2, 3),
         cb AS (SELECT w1, w2, CAST(sum(n_bd) AS BIGINT) AS c12
                FROM bd GROUP BY 1, 2),
         cu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY 1),
         v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vs
               FROM (SELECT w1 AS w FROM cb UNION SELECT w2 FROM cb) u)
         SELECT doc_id,
                CAST(sum(n_bd) AS BIGINT) AS n_pairs,
                CAST(sum(n_bd * CAST(floor(ln((c12 + 1.0) / (c1 + vs)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS logp_micro_sum
         FROM bd JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
         GROUP BY doc_id ORDER BY doc_id"""),

    // the same doc_id-derived HTML enrichment and the same extraction
    // chain as the Spark side: script/style/comment blocks out, tags ->
    // space, entity decode with &amp; last, portable-whitespace collapse
    "t17_html_extract" -> (NormCte +
      """, h AS (SELECT doc_id,
           '<!DOCTYPE html><html><head><title>d' || doc_id || '</title>' ||
           CASE WHEN doc_id % 2 = 0
                THEN '<script type="text/javascript">var x = ' || doc_id || ' < 4 && 1 > 0;</script>'
                ELSE '<style>p { color: #fff }</style>' END ||
           '</head><body><h1>Doc ' || doc_id ||
           '</h1><!-- id ' || doc_id || ' --><p>' || t || '</p>' ||
           CASE WHEN doc_id % 3 = 0
                THEN '<div class="f">Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;q&#39;&nbsp;end &amp;lt;b&gt;</div>'
                ELSE '' END ||
           '</body></html>' AS html
         FROM n)
         SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(replace(
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
                 '(?is)<script\b[^>]*>.*?</script[ \t\n\r\f]*>', ' ', 'g'),
                 '(?is)<style\b[^>]*>.*?</style[ \t\n\r\f]*>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g'),
                 '(?s)<[^>]*>', ' ', 'g'),
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
             '[ \t\n\r\f]+', ' ', 'g')) AS txt
         FROM h ORDER BY doc_id"""),

    // q39's windowed cumsum re-run over the md5 shuffle order — the
    // oracle proves the shuffled shard assignment is bit-exact too
    "q42_shuffle_shards" -> (NormCte +
      """, c AS (SELECT doc_id, len(string_split(t, ' ')) AS n_tokens FROM n),
         k AS (SELECT doc_id, n_tokens,
                      md5(CAST(doc_id AS VARCHAR) || ':42') || ':' ||
                        CAST(doc_id AS VARCHAR) AS shuffle_key
               FROM c),
         w AS (SELECT doc_id, n_tokens, shuffle_key,
                      CAST(sum(n_tokens) OVER (ORDER BY shuffle_key
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
               FROM k)
         SELECT doc_id, n_tokens, shuffle_key, cum_tokens,
                CAST((cum_tokens - n_tokens) // 1000 AS BIGINT) AS shard
         FROM w ORDER BY doc_id"""),

    // the same null-safe lag collapse and lead validity window
    "q44_scd2" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                            event_type FROM events),
         l AS (SELECT *, lag(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM ev),
         r AS (SELECT user_id, ts, event_id, event_type FROM l
               WHERE prev IS DISTINCT FROM event_type),
         v AS (SELECT user_id, event_type, ts AS valid_from,
                      lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
               FROM r)
         SELECT user_id, event_type, valid_from, valid_to,
                CAST(valid_to IS NULL AS INTEGER) AS is_current
         FROM v ORDER BY user_id, valid_from""",

    // the same full-outer classify; every shared column compared
    // null-safely, NEW side carried on the changelog
    "q45_snapshot_diff" ->
      """WITH oldv AS (SELECT * FROM orders WHERE o_orderkey % 17 <> 0),
         newv AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                              ELSE o_totalprice END AS o_totalprice,
                         o_orderdate, o_orderpriority
                  FROM orders WHERE o_orderkey % 13 <> 0),
         j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                      CASE WHEN o.o_orderkey IS NULL THEN 'I'
                           WHEN n.o_orderkey IS NULL THEN 'D'
                           WHEN (o.o_custkey IS DISTINCT FROM n.o_custkey)
                             OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                             OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                             OR (o.o_orderdate IS DISTINCT FROM n.o_orderdate)
                             OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
                           THEN 'U' END AS change,
                      n.o_custkey, n.o_orderstatus, n.o_totalprice,
                      n.o_orderdate, n.o_orderpriority
               FROM oldv o FULL OUTER JOIN newv n ON o.o_orderkey = n.o_orderkey)
         SELECT * FROM j WHERE change IS NOT NULL ORDER BY o_orderkey""",

    // the pruned box read must equal the plain full-scan filter
    "q53_zonemap_scan" ->
      """SELECT o_orderkey, o_custkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         FROM orders
         WHERE o_custkey BETWEEN 100 AND 500
           AND CAST(round(o_totalprice * 100) AS BIGINT)
               BETWEEN 5000000 AND 15000000
         ORDER BY o_orderkey""",

    // the store's stats-pruned range read must equal the plain
    // full-scan filter
    "q55_store_range_scan" ->
      """SELECT o_orderkey, o_custkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         FROM orders
         WHERE CAST(round(o_totalprice * 100) AS BIGINT)
               BETWEEN 5000000 AND 15000000
         ORDER BY o_orderkey""",

    // the clustered rewrite changes LAYOUT only: the stats-pruned band
    // read over the compacted table must equal the plain filter
    "q60_compact_clustered_scan" ->
      """SELECT o_orderkey, o_custkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         FROM orders
         WHERE CAST(round(o_totalprice * 100) AS BIGINT)
               BETWEEN 5000000 AND 15000000
         ORDER BY o_orderkey""",

    // partial clustered maintenance never moves the answer: the band
    // read after the bucket-scoped rewrite equals q60's full-scan band
    "q74_store_partial_compact" ->
      """SELECT o_orderkey, o_custkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         FROM orders
         WHERE CAST(round(o_totalprice * 100) AS BIGINT)
               BETWEEN 5000000 AND 15000000
         ORDER BY o_orderkey""",

    // the store's value-set-pruned equality read must equal the plain
    // full-scan IN filter
    "q63_store_setstats_scan" ->
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
         ORDER BY c_custkey""",

    // the store's expression-derived pruned read must equal the
    // identical full-scan WHERE clause
    "q64_store_predicate_scan" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
         FROM customer
         WHERE (c_acctbal BETWEEN 1000.0 AND 3000.0
                AND c_mktsegment = 'BUILDING')
            OR c_name LIKE 'Customer#00000001%'
         ORDER BY c_custkey""",

    // after the copy-on-write DELETE the surviving snapshot must equal
    // the NOT-filtered full scan
    "q65_store_delete_where" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000.0)
         ORDER BY o_orderkey""",

    // after the copy-on-write UPDATE the snapshot must equal the
    // CASE-WHEN full scan (doubling doubles is exact in IEEE)
    "q66_store_update_where" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderstatus = 'P' THEN 0 ELSE o_custkey END
                  AS o_custkey,
                o_orderstatus,
                CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 2.0
                     ELSE o_totalprice END AS o_totalprice
         FROM orders
         ORDER BY o_orderkey""",

    // the decimal-stats-pruned band read must equal the identical
    // full-scan band in decimal space; the projected money column is
    // exact integer cents (scale-2 decimal × 100, no rounding) so the
    // cross-engine compare hashes int64 rather than decimal128
    "q69_store_decimal_scan" ->
      """SELECT o_orderkey, o_orderstatus,
                CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS o_price_cents
         FROM orders
         WHERE CAST(o_totalprice AS DECIMAL(12,2))
               BETWEEN CAST('50000.00' AS DECIMAL(12,2))
                   AND CAST('75000.00' AS DECIMAL(12,2))
         ORDER BY o_orderkey""",

    // the merge-on-read delete's logical snapshot must equal the same
    // NOT-filtered full scan the copy-on-write oracle (q65) pins
    "q68_store_delete_mor" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000.0)
         ORDER BY o_orderkey""",

    // the position-delete snapshot equals the same NOT-filtered scan —
    // the sidecar kind (addresses vs keys) never moves the answer
    "q70_store_pos_delete" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000.0)
         ORDER BY o_orderkey""",

    // the AS-OF band answers from the PINNED (full) snapshot, not the
    // open-orders HEAD the second overwrite left behind
    "q71_store_asof_scan" ->
      """SELECT o_orderkey, o_totalprice
         FROM orders
         WHERE o_totalprice >= 50000.0 AND o_totalprice <= 75000.0
         ORDER BY o_orderkey""",

    // the re-bucketed snapshot equals the plain full scan — a physical
    // layout choice must never move the answer
    "q73_store_rebucket" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         ORDER BY o_orderkey""",

    // the folded snapshot (addressed files rewritten, the rest carried
    // file-granularly) equals the same NOT-filtered scan — a partial
    // maintenance pass must never move the answer
    "q75_store_debt_fold" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE NOT (o_totalprice < 25000.0)
         ORDER BY o_orderkey""",

    // the evolved snapshot equals the CASE projection: rewritten keys
    // carry the new column's value, rows carried from pre-evolution
    // files read as NULL
    "q76_store_schema_evolution" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                CASE WHEN o_orderkey < 1000 THEN 'hot' END AS o_tier
         FROM orders
         ORDER BY o_orderkey""",

    // the statement-driven takedown + correction equal the same
    // NOT-filter and CASE the typed q65/q66 oracles pin — the SQL
    // dialect changes nothing about the answer
    "q77_store_sql_dml" ->
      """SELECT o_orderkey, o_custkey,
                CASE WHEN o_orderstatus = 'P' THEN 'X'
                     ELSE o_orderstatus END AS o_orderstatus,
                o_totalprice
         FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000.0)
         ORDER BY o_orderkey""",

    // the multiset feed of the takedown commit: per surviving distinct
    // image nothing, per deleted image one D row carrying the exact
    // physical copy count
    "q80_store_multiset_feed" ->
      """SELECT o_orderstatus, band, 'D' AS change,
                count(*) AS copies
         FROM (SELECT o_orderstatus,
                      CAST(floor(o_totalprice / 10000) AS INT) AS band
               FROM orders)
         WHERE band < 5
         GROUP BY o_orderstatus, band
         ORDER BY o_orderstatus, band""",

    // the exported delta is the diff itself: D per deleted key
    // (new side null), U per surviving corrected key
    "q86_store_change_feed" ->
      """SELECT * FROM (
           SELECT o_orderkey, 'D' AS change,
                  CAST(NULL AS BIGINT) AS o_custkey,
                  CAST(NULL AS VARCHAR) AS o_orderstatus,
                  CAST(NULL AS DOUBLE) AS o_totalprice
           FROM orders WHERE o_totalprice < 30000.0
           UNION ALL
           SELECT o_orderkey, 'U' AS change, o_custkey,
                  'X' AS o_orderstatus, o_totalprice
           FROM orders
           WHERE NOT (o_totalprice < 30000.0) AND o_orderstatus = 'P')
         ORDER BY o_orderkey""",

    // the metadata-added column reads NULL everywhere the backfill
    // did not reach
    "q91_store_add_column" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                CASE WHEN o_orderstatus = 'F' THEN 'flagged'
                     ELSE NULL END AS note
         FROM orders
         WHERE NOT (o_totalprice < 20000.0)
         ORDER BY o_orderkey""",

    // the widened columns carry the SAME values (plus the post-widen
    // backfill only the wide type can hold); amt surfaces in the
    // board's integer-units discipline (deci-milli-units, bigint) —
    // the widening itself is pinned by the fixture's internal requires
    "q92_store_widen_column" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderstatus = 'F'
                     THEN CAST(o_custkey AS BIGINT) + 3000000000
                     ELSE CAST(o_custkey AS BIGINT) END AS cust,
                o_orderstatus,
                CAST(o_orderkey % 90000 AS BIGINT) * 10000 AS amt_tenk
         FROM orders
         WHERE NOT (o_orderkey % 90000 < 1000)
         ORDER BY o_orderkey""",

    // the pinned dimension is the PRISTINE customer set (the head's
    // redactions never reach the AS-OF reference)
    "q93_sql_time_travel_join" ->
      """SELECT o.o_orderkey, c.c_name AS name_asof, o.o_totalprice
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE NOT (o.o_totalprice < 50000.0)
           AND o.o_totalprice > 150000.0
         ORDER BY o.o_orderkey""",

    // the renamed KEY is the same key: the pre-rename MoR takedown and
    // the post-rename delete compose, projected under the new spelling
    "q94_store_pk_rename" ->
      """SELECT o_orderkey AS order_id, o_custkey, o_orderstatus,
                o_totalprice
         FROM orders
         WHERE NOT (o_totalprice < 20000.0)
           AND NOT (o_totalprice > 180000.0)
         ORDER BY order_id""",

    // the detach/re-attach round-trip loses nothing: the survivor set
    // of the pre-drop delete, updated by the post-re-attach statement
    "q95_statement_lifecycle" ->
      """SELECT o_orderkey, o_custkey,
                CASE WHEN o_totalprice > 180000.0 THEN 'X'
                     ELSE o_orderstatus END AS o_orderstatus,
                o_totalprice
         FROM orders
         WHERE NOT (o_totalprice < 20000.0)
         ORDER BY o_orderkey""",

    // the split-then-INSERT re-assembly answers the FULL corpus under
    // the follow-up takedown
    "q96_statement_insert" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE NOT (o_totalprice < 20000.0)
         ORDER BY o_orderkey""",

    // the window-retained AS-OF read answers the PRE-delete snapshot
    "q90_store_time_travel" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         ORDER BY o_orderkey""",

    // the dropped column leaves the answer; everything else survives
    // the carried-file reads and the post-drop takedown
    "q89_store_drop_column" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE NOT (o_totalprice < 20000.0)
           AND NOT (o_totalprice > 180000.0)
         ORDER BY o_orderkey""",

    // the renamed column is the same column: pre-rename takedown,
    // post-rename takedown under the new name, projected new schema
    "q88_store_rename_column" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                o_totalprice AS total_price
         FROM orders
         WHERE NOT (o_totalprice < 20000.0)
           AND NOT (o_totalprice > 180000.0)
         ORDER BY o_orderkey""",

    // answer invariance across physical erasure: a vacuum deletes
    // bytes, never rows — the post-vacuum read equals the logical
    // survivor set
    "q87_store_vacuum" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE NOT (o_totalprice < 30000.0)
         ORDER BY o_orderkey""",

    // the manifest-only count equals the real cardinality
    "q85_store_manifest_count" ->
      """SELECT count(*) AS cnt FROM lineitem
         WHERE NOT (l_returnflag = 'R')""",

    // the conforming end state: the refused correction left no trace,
    // the conforming one set F prices to 1.0
    "q84_store_check_constraint" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderstatus = 'F' THEN 1.0
                     ELSE o_totalprice END AS o_totalprice
         FROM orders
         ORDER BY o_orderkey""",

    // the operation log IS the script that produced it
    "q83_store_history" ->
      """SELECT * FROM (VALUES
           (0, 'overwrite'), (1, 'delete'), (2, 'update'),
           (3, 'delete-mor'), (4, 'debt-fold'), (5, 'restore(v=2)'))
         AS t(version, operation)
         ORDER BY version""",

    // the diverged clone: the source rows minus the clone's own
    // takedown — borrowing is invisible in the answer
    "q82_store_shallow_clone" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 150000.0)
         ORDER BY o_orderkey""",

    // the rewind lands exactly at the takedown version: the deleted
    // rows stay gone, the later bad correction un-happens
    "q81_store_restore" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE NOT (o_totalprice < 50000.0)
         ORDER BY o_orderkey""",

    // file-scoped layout + debt maintenance never move the answer: the
    // maintained PK-less snapshot equals the same NOT-filtered scan
    "q79_store_pkless_maintain" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE NOT (o_totalprice < 10000.0)
         ORDER BY o_orderkey""",

    // the merged snapshot: matched rows past the delete arm's price
    // threshold are gone, the rest of the matched keys read 'M', and
    // the not-matched source keys arrive as 'I' inserts
    "q78_store_merge_into" ->
      """SELECT * FROM (
           SELECT o_orderkey, o_custkey,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'M'
                       ELSE o_orderstatus END AS o_orderstatus,
                  o_totalprice
           FROM orders
           WHERE NOT (o_orderkey % 10 = 0 AND o_totalprice > 150000.0)
           UNION ALL
           SELECT o_orderkey + 100000000000 AS o_orderkey,
                  0 AS o_custkey, 'I' AS o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 1000 = 0
         ) ORDER BY o_orderkey""",

    // the advisor's manifest-read debt equals the oracle's own count of
    // the two takedowns' matched rows; the count threshold fires at 2
    "q72_store_delete_debt" ->
      """SELECT 2 AS sidecars, 2 AS live_sidecars,
                (SELECT count(*) FROM orders
                 WHERE o_orderstatus = 'F' AND o_totalprice < 100000.0)
                + (SELECT count(*) FROM orders
                   WHERE o_orderstatus = 'P') AS deleted_rows,
                TRUE AS rows_known, TRUE AS advised""",

    // SQL over store-backed skipping views must equal the identical SQL
    // over the raw tables (pruning is a sound superset of the matches;
    // cents-space sum keeps the aggregate exact across engines)
    "q67_store_sql_join" ->
      """SELECT c_mktsegment,
                count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     AS BIGINT) AS total_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderdate >= DATE '1997-01-01'
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",

    // the store's truncated-string-stats-pruned read must equal the
    // plain full-scan lexicographic filter
    "q61_store_string_scan" ->
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer
         WHERE c_name BETWEEN 'Customer#000000100' AND 'Customer#000000299'
         ORDER BY c_custkey""",

    // the store's date-stats-pruned window read must equal the plain
    // full-scan date filter
    "q59_store_date_scan" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
                o_orderpriority
         FROM orders
         WHERE CAST(o_orderdate AS DATE)
               BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
         ORDER BY o_orderkey""",

    // the maintained distinct count must equal the from-scratch
    // count(DISTINCT) over the new snapshot
    "q52_ivm_distinct" ->
      """WITH newv AS (SELECT o_orderkey, o_orderpriority,
           CASE WHEN o_orderkey % 7 = 0 THEN (o_custkey + 1) % 199
                ELSE o_custkey % 199 END AS cust_bucket
         FROM orders WHERE o_orderkey % 13 <> 0)
         SELECT o_orderpriority AS grp,
                count(DISTINCT cust_bucket) AS dcnt
         FROM newv GROUP BY 1 ORDER BY grp""",

    // the store's after-the-fact diff must equal the raw-snapshot diff
    "q51_version_diff" ->
      """WITH oldv AS (SELECT o_orderkey, o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         FROM orders WHERE o_orderkey % 17 <> 0),
         newv AS (SELECT o_orderkey, o_orderpriority,
           CAST(round((CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END) * 100) AS BIGINT) AS price_c
         FROM orders WHERE o_orderkey % 13 <> 0),
         j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                      CASE WHEN o.o_orderkey IS NULL THEN 'I'
                           WHEN n.o_orderkey IS NULL THEN 'D'
                           WHEN (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
                             OR (o.price_c IS DISTINCT FROM n.price_c)
                           THEN 'U' END AS change,
                      n.o_orderpriority, n.price_c
               FROM oldv o FULL OUTER JOIN newv n ON o.o_orderkey = n.o_orderkey)
         SELECT * FROM j WHERE change IS NOT NULL ORDER BY o_orderkey""",

    // the STRONG form of an IVM oracle: recompute the aggregate from
    // scratch over the new snapshot — equality proves the incremental
    // delta application is exact
    "q46_ivm" ->
      """WITH newv AS (SELECT o_orderkey, o_orderpriority,
           CAST(round((CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END) * 100) AS BIGINT) AS price_c
         FROM orders WHERE o_orderkey % 13 <> 0)
         SELECT o_orderpriority AS grp, count(*) AS cnt,
                CAST(sum(price_c) AS BIGINT) AS sum_units,
                count(price_c) AS nnv
         FROM newv GROUP BY 1 ORDER BY grp""",

    // the canonicalization chain replayed stage by stage (every
    // regexp_replace global, matching Spark's always-global semantics),
    // then a plain keep-1-per-canonical window
    "d19_url_dedup" -> (NormCte +
      """, c AS (SELECT doc_id, len(string_split(t, ' ')) AS n_tokens,
           CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN 'https://www.example.com:443/a/'
                  || CAST(doc_id % 97 AS VARCHAR) || '?utm_source=x&utm_medium=y#frag'
             WHEN 1 THEN 'HTTPS://EXAMPLE.COM/a/'
                  || CAST(doc_id % 97 AS VARCHAR) || '/'
             WHEN 2 THEN 'https://example.com/a/'
                  || CAST(doc_id % 97 AS VARCHAR) || '?ref=tw'
             ELSE 'https://example.com:80/a/'
                  || CAST(doc_id % 97 AS VARCHAR) || '#nav' END AS url
         FROM n),
         k1 AS (SELECT doc_id, n_tokens,
                  regexp_replace(lower(regexp_extract(url, '^[^?#]*'))
                      || regexp_replace(url, '^[^?#]*', ''),
                    '#.*$', '', 'g') AS u FROM c),
         k2 AS (SELECT doc_id, n_tokens, regexp_replace(u,
                  '(?i)([?&])(utm_[a-z0-9_]+|gclid|fbclid|msclkid|igshid|mc_eid|ref)=[^&#]*',
                  '\1', 'g') AS u FROM k1),
         k3 AS (SELECT doc_id, n_tokens,
                  regexp_replace(regexp_replace(u, '&&+', '&', 'g'),
                    '\?&', '?', 'g') AS u FROM k2),
         k4 AS (SELECT doc_id, n_tokens,
                  regexp_replace(u, '[?&]+$', '', 'g') AS u FROM k3),
         k5 AS (SELECT doc_id, n_tokens, regexp_replace(u,
                  '^(https?://[^/:?#]+):(80|443)([/?#]|$)', '\1\3', 'g') AS u
                FROM k4),
         k6 AS (SELECT doc_id, n_tokens,
                  regexp_replace(u, '^(https?://)www\.', '\1', 'g') AS u
                FROM k5),
         k7 AS (SELECT doc_id, n_tokens,
                  regexp_replace(regexp_extract(u, '^[^?]*'), '/+$', '', 'g')
                  || regexp_replace(u, '^[^?]*', '') AS canon_url FROM k6),
         r AS (SELECT doc_id, canon_url, n_tokens,
                 row_number() OVER (PARTITION BY canon_url
                   ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM k7)
         SELECT doc_id, canon_url, n_tokens FROM r WHERE rn = 1
         ORDER BY doc_id"""),

    // hashed-bag-of-words score: the same first-16-md5-bit weight per
    // token, summed with multiplicity
    "t20_hashed_score" -> (NormCte +
      s""", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tk FROM n)
         SELECT doc_id,
                CAST(sum(${hex16Sql("tk")} % 2001 - 1000) AS BIGINT)
                  AS score_milli
         FROM tok GROUP BY 1 ORDER BY doc_id"""),

    // junk injected via chr() codepoints (no escape-literal support
    // needed), then the cleanup chain replayed stage by stage
    "t21_clean_text" ->
      """WITH j AS (SELECT doc_id,
           (CASE WHEN doc_id % 3 = 0
                 THEN chr(7) || 'bell' || chr(31) || 'ctl ' ELSE '' END)
           || text
           || (CASE WHEN doc_id % 3 = 1
                    THEN ' zero' || chr(8203) || 'width' || chr(8204)
                         || chr(65279) || 'end' ELSE '' END)
           || (CASE WHEN doc_id % 3 = 2
                    THEN ' nb' || chr(160) || 'sp' || chr(159) || 'ctl'
                    ELSE '' END) AS text
         FROM documents),
         c1 AS (SELECT doc_id, regexp_replace(text,
                  '[\x{00}-\x{08}\x{0b}\x{0c}\x{0e}-\x{1f}\x{7f}-\x{9f}]',
                  '', 'g') AS t FROM j),
         c2 AS (SELECT doc_id, regexp_replace(t,
                  '[\x{200b}-\x{200d}\x{feff}\x{fffd}]', '', 'g') AS t FROM c1),
         c3 AS (SELECT doc_id, regexp_replace(t, '\x{a0}', ' ', 'g') AS t
                FROM c2)
         SELECT doc_id, trim(regexp_replace(t, '[ \t\n\r\f]+', ' ', 'g'))
                  AS clean
         FROM c3 ORDER BY doc_id""",

    // the q39 cumsum replay with context arithmetic on top
    "t22_pack_contexts" -> (NormCte +
      """, c AS (SELECT doc_id, len(string_split(t, ' ')) AS n_tokens FROM n),
         w AS (SELECT doc_id, n_tokens,
                      CAST(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
               FROM c)
         SELECT doc_id, n_tokens, cum_tokens,
                CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS context_id,
                CAST((cum_tokens - n_tokens) % 512 AS BIGINT) AS offset,
                CAST(greatest(cum_tokens - 1, cum_tokens - n_tokens) // 512
                  AS BIGINT) AS end_context_id
         FROM w ORDER BY doc_id"""),

    // same inserted-separator split; positions are dense over the
    // non-empty trimmed pieces
    "t25_sentences" ->
      """WITH j AS (SELECT doc_id,
           regexp_replace(text, '([a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ',
             '\1. ', 'g') AS text
         FROM documents),
         sp AS (SELECT doc_id,
           string_split(regexp_replace(text, '([.!?])[ \t\n\r\f]+',
             '\1' || chr(31), 'g'), chr(31)) AS ss
         FROM j),
         e AS (SELECT doc_id, ss,
                 unnest(generate_series(1, len(ss))) AS i FROM sp),
         s2 AS (SELECT doc_id, i, trim(ss[CAST(i AS INTEGER)]) AS sentence
                FROM e),
         k AS (SELECT doc_id, sentence,
                 CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
                   AS BIGINT) AS sent_idx
               FROM s2 WHERE length(sentence) > 0)
         SELECT doc_id, sent_idx, sentence FROM k
         ORDER BY doc_id, sent_idx""",

    // the t25 sentence replay over the planted text, then the d15
    // boilerplate pattern at sentence grain (space-joined)
    "d21_boilerplate_sentences" ->
      """WITH e AS (SELECT doc_id,
           regexp_replace(text, '([a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ',
             '\1. ', 'g')
           || '. '
           || (CASE CAST(doc_id % 3 AS INTEGER)
                 WHEN 0 THEN 'Subscribe to our newsletter today.'
                 WHEN 1 THEN 'All rights reserved example corp.'
                 ELSE 'Cookie policy accept to continue.' END)
           || ' Ref doc ' || CAST(doc_id AS VARCHAR) || '.' AS text
         FROM documents),
         sp AS (SELECT doc_id,
           string_split(regexp_replace(text, '([.!?])[ \t\n\r\f]+',
             '\1' || chr(31), 'g'), chr(31)) AS ss
         FROM e),
         ex AS (SELECT doc_id, ss,
                  unnest(generate_series(1, len(ss))) AS i FROM sp),
         s2 AS (SELECT doc_id, i, trim(ss[CAST(i AS INTEGER)]) AS sentence
                FROM ex),
         k AS (SELECT doc_id, i, sentence,
                 md5(regexp_replace(trim(lower(sentence)), '\s+', ' ', 'g'))
                   AS f
               FROM s2 WHERE length(sentence) > 0),
         boiler AS (SELECT f FROM (SELECT DISTINCT doc_id, f FROM k) df
                    GROUP BY f HAVING count(*) >= 3)
         SELECT doc_id, string_agg(sentence, ' ' ORDER BY i) AS text
         FROM k WHERE f NOT IN (SELECT f FROM boiler)
         GROUP BY doc_id ORDER BY doc_id""",

    // per-position window-hash cut flags, chunk id = cuts strictly
    // before the byte (windowed cumsum), chunk bytes reassembled in
    // order and hashed
    "d20_cdc_chunks" -> (PayCte +
      s""", pos AS (SELECT doc_id, pay,
             unnest(generate_series(1, length(pay))) AS i FROM p),
         b AS (SELECT doc_id, i,
                 CASE WHEN i >= 8 AND
                   ${hex16Sql("substring(pay, CAST(i - 7 AS INTEGER), 8)")}
                     % 16 = 0
                 THEN 1 ELSE 0 END AS cut,
                 substring(pay, CAST(i AS INTEGER), 1) AS ch
               FROM pos),
         cid AS (SELECT doc_id, i, ch,
                   CAST(coalesce(sum(cut) OVER (PARTITION BY doc_id
                     ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS chunk_idx
                 FROM b)
         SELECT doc_id, chunk_idx,
                md5(string_agg(ch, '' ORDER BY i)) AS chunk_fp,
                count(*) AS n_bytes
         FROM cid GROUP BY 1, 2 ORDER BY doc_id, chunk_idx"""),

    // one digest per token; dimension j reads the 16-bit slice at hex
    // offset 4j (dim 0 = the t20 weight), summed with multiplicity
    "t24_hashed_embedding" -> (NormCte +
      s""", tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tk FROM n),
         dims AS (SELECT unnest(generate_series(0, 7)) AS dim)
         SELECT doc_id, dim,
                CAST(sum(${hex16AtSql("tk", "dim * 4")}
                  % 2001 - 1000) AS BIGINT) AS val_milli
         FROM tok CROSS JOIN dims GROUP BY 1, 2 ORDER BY doc_id, dim"""),

    // the d01 aggregate over the new batch, minus store membership
    "q47_incremental_dedup" -> (NormCte +
      """, seen AS (SELECT DISTINCT md5(t) AS fingerprint FROM n
                    WHERE doc_id % 4 <> 0),
         b AS (SELECT md5(t) AS fingerprint, min(doc_id) AS keep_id,
                      count(*) AS dup_count
               FROM n WHERE doc_id % 4 = 0 GROUP BY 1)
         SELECT fingerprint, keep_id, dup_count FROM b
         WHERE NOT EXISTS (SELECT 1 FROM seen
                           WHERE seen.fingerprint = b.fingerprint)
         ORDER BY fingerprint"""),

    // the bucket-pruned point lookup must equal a plain full-scan filter
    "q48_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderpriority,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         FROM orders WHERE o_orderkey % 9973 = 7
         ORDER BY o_orderkey""",

    // the maintained min/max aggregate must equal the recompute over
    // the new snapshot
    "q49_ivm_minmax" ->
      """WITH newv AS (SELECT o_orderkey, o_orderpriority,
           CAST(round((CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END) * 100) AS BIGINT) AS price_c
         FROM orders WHERE o_orderkey % 13 <> 0)
         SELECT o_orderpriority AS grp, count(*) AS cnt,
                min(price_c) AS min_units, max(price_c) AS max_units
         FROM newv GROUP BY 1 ORDER BY grp""",

    // per-script character counts + the ordered argmax, over the same
    // swapped-in bodies
    "t23_script_id" ->
      """WITH sw AS (SELECT doc_id,
           CASE CAST(doc_id % 5 AS INTEGER)
             WHEN 1 THEN 'Привет мир это проверка'
             WHEN 2 THEN '你好世界 これはテスト'
             WHEN 3 THEN 'مرحبا بالعالم هذا اختبار'
             WHEN 4 THEN 'mixed Γειά σου ' || substring(text, 1, 20)
             ELSE text END AS text
         FROM documents),
         s AS (SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z\x{c0}-\x{ff}\x{100}-\x{17f}]')) AS latin,
           len(regexp_extract_all(text, '[\x{400}-\x{4ff}]')) AS cyrillic,
           len(regexp_extract_all(text, '[\x{370}-\x{3ff}]')) AS greek,
           len(regexp_extract_all(text, '[\x{600}-\x{6ff}]')) AS arabic,
           len(regexp_extract_all(text, '[\x{900}-\x{97f}]')) AS devanagari,
           len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}]')) AS cjk,
           len(regexp_extract_all(text, '[\x{ac00}-\x{d7af}]')) AS hangul
         FROM sw)
         SELECT doc_id,
           CASE WHEN latin = b AND b > 0 THEN 'latin'
                WHEN cyrillic = b AND b > 0 THEN 'cyrillic'
                WHEN greek = b AND b > 0 THEN 'greek'
                WHEN arabic = b AND b > 0 THEN 'arabic'
                WHEN devanagari = b AND b > 0 THEN 'devanagari'
                WHEN cjk = b AND b > 0 THEN 'cjk'
                WHEN hangul = b AND b > 0 THEN 'hangul'
                ELSE 'und' END AS script
         FROM (SELECT *, greatest(latin, cyrillic, greek, arabic,
                 devanagari, cjk, hangul) AS b FROM s)
         ORDER BY doc_id""",

    // the m03 chunk replay over a 64-byte-period payload, then the lag
    // window keeps only scene-change chunks
    "m06_keyframes" ->
      """WITH p AS (SELECT doc_id,
           (CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'PNG|'
                 WHEN 1 THEN 'JPG|' ELSE 'GIF|' END)
           || repeat(rpad(substring(text, 1, 60), 64, 'x'), 3)
           || repeat(rpad(substring(text, 61, 60), 64, 'y'), 2) AS pay
         FROM documents),
         c AS (SELECT doc_id, pay,
                 unnest(generate_series(0, (length(pay)-1)//64)) AS chunk_idx
               FROM p),
         f AS (SELECT doc_id, chunk_idx,
                 md5(substring(pay, CAST(chunk_idx*64+1 AS INTEGER), 64))
                   AS chunk_fp FROM c),
         k AS (SELECT doc_id, chunk_idx, chunk_fp,
                 lag(chunk_fp) OVER (PARTITION BY doc_id ORDER BY chunk_idx)
                   AS prev FROM f)
         SELECT doc_id, chunk_idx, chunk_fp FROM k
         WHERE prev IS NULL OR prev <> chunk_fp
         ORDER BY doc_id, chunk_idx""")

  // -------------------------------------------------------------- public

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    core ++ headline ++ pipeline

  /** Collapse formatting whitespace WITHOUT touching whitespace inside
   * single-quoted SQL literals (a naive regex would rewrite a literal
   * like '  ' or a regexp replacement string). */
  private def collapseWs(sql: String): String = {
    val sb = new StringBuilder(sql.length)
    var inQuote = false
    var lastWs = false
    var esc = false
    sql.foreach { c =>
      if (inQuote) {
        sb += c
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '\'') inQuote = false
      } else if (c == '\'') {
        inQuote = true; sb += c; lastWs = false
      } else if (c.isWhitespace) {
        if (!lastWs) sb += ' '
        lastWs = true
      } else {
        sb += c; lastWs = false
      }
    }
    sb.result().trim
  }

  def oracleSql: Map[String, String] =
    (coreSql ++ headlineSql ++ pipelineSql).map { case (k, v) =>
      k -> collapseWs(v)
    }
}
