package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. A query that fails is
  * recorded under "errors" with its timing excluded from the total — a
  * broken query must never bench as a fast success. A warm-up pass at
  * sf0.001 JIT-compiles the codegen/shuffle/scan paths first, then each
  * query is executed [[Bench.Passes]] times (interleaved across whole
  * passes) and the min reported (steady-state plan cost, robust to
  * one-off GC/noisy-neighbor hiccups); methodology is declared in the
  * JSON (`runs`/`agg`). */
object Bench {

  /** Interleaved timed passes per query. Three (not two): min-of-2 left a
    * single co-tenant load spike able to contaminate a query's only clean
    * sample; a third pass costs ~40 s at sf0.1 and makes min-of-N robust
    * to one noisy pass per query. */
  val Passes = 3

  /** One timed result: (query, best seconds, error if it failed). Queries
    * run in NAME order (a Map's hash order reshuffles whenever a query is
    * added, which confounds round-over-round per-query deltas with
    * position-in-session effects). After each timed run the query's
    * checkpoint cuts are released — outside the timed region, so timings
    * measure the query, but between runs, so a 60-query session measures
    * steady-state plans instead of degrading under accumulated blocks.
    *
    * The `runs` timings of a query are INTERLEAVED across whole passes
    * (pass 1 runs every query once, then pass 2, ...; min per query)
    * rather than back-to-back: a multi-minute co-tenant load spike on a
    * shared machine then inflates at most one pass of each query instead
    * of defeating min-of-N for every query inside its window. */
  def timeQueries(spark: SparkSession, sfDir: String,
                  queries: Map[String, (SparkSession, String) => DataFrame],
                  runs: Int = Passes,
                  passHook: Int => Unit = _ => ())
      : Seq[(String, Double, Option[String])] = {
    // runs < 1 would skip the pass loop entirely and leave `best` empty
    // while the result mapping still looks every query up
    require(runs >= 1, s"need at least one pass, got runs=$runs")
    val ordered = queries.toSeq.sortBy(_._1)
    def once(fn: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      val dt = (System.nanoTime() - t0) / 1e9
      graft.operators.Materialize.releaseAll()
      (dt, err)
    }
    // any failing run marks the query failed — a flaky query must never
    // bench as a fast success; a query that failed in an earlier pass is
    // skipped in later passes (its error is sticky)
    val best = scala.collection.mutable.LinkedHashMap[String, (Double, Option[String])]()
    for (pass <- 1 to runs) {
      passHook(pass) // e.g. one calibration-anchor sample per pass
      for ((name, fn) <- ordered) best.get(name) match {
        case Some((_, Some(_))) => () // already failed; stop re-running it
        case prev =>
          val (t, e) = once(fn)
          best(name) = prev match {
            case Some((b, None)) if e.isEmpty => (math.min(b, t), None)
            case _                            => (t, e)
          }
      }
    }
    ordered.map { case (name, _) =>
      val (t, e) = best(name); (name, t, e)
    }
  }

  /** Calibration anchor: a fixed, deterministic, CPU-bound, no-I/O
   * computation (a chained-xxhash64 fold over `spark.range`) whose wall
   * time depends ONLY on the machine's free CPU — so two bench runs of
   * the same code on a co-tenant box can be compared by normalizing
   * per-query seconds against their anchor readings (r20/r21 left
   * builder-vs-driver contradictions on d06/d07/t27 that were pure
   * machine load). The work is constant per-core-count: `range` splits
   * into `defaultParallelism` tasks, so the 8-core and 32-core contract
   * runs each measure their own configuration's throughput. One sample
   * runs before each timed pass; the JSON reports the min alongside the
   * samples. Never added to `queries` — it is a measurement of the
   * machine, not of the engine, and must not inflate the headline
   * total. */
  def anchorOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val chained = (1 to 8).foldLeft(col("id"))((c, _) => xxhash64(c))
    // XOR-fold, not sum: hash outputs span the full long range and an
    // ANSI-mode sum overflows; xor is the same CPU-bound work per row
    spark.range(0, 64L * 1000 * 1000, 1,
        spark.sparkContext.defaultParallelism)
      .select(chained.as("h"))
      .agg(expr("bit_xor(h)")).head()
    (System.nanoTime() - t0) / 1e9
  }

  // same escaping rules as Verify's oracle_sql writer: control chars
  // \u-escape so multi-line Spark errors round-trip through the JSON
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The run's session shape as extra top-level JSON keys: `cpus` (the
   * local[N] core count) and `conf` (every SPARK_GRAFT_EXTRA_CONF
   * override applied to the session, `{}` when none), so a run under a
   * stray exported override stays distinguishable from the committed
   * configuration after the fact. */
  private def sessionJson(cpus: Option[Int], conf: Seq[(String, String)]): String =
    cpus.fold("")(c => s""","cpus":$c""") +
      conf.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString(""","conf":{""", ",", "}")

  /** The driver-contract JSON line. */
  def toJson(results: Seq[(String, Double, Option[String])], sfDir: String,
             runs: Int = Passes, anchors: Seq[Double] = Nil,
             cpus: Option[Int] = None,
             conf: Seq[(String, String)] = Nil): String = {
    // seconds rounded to 3 decimals (1 ms — far below run-to-run noise):
    // raw doubles print ~17 significant digits each, and with 70+ queries
    // that pushed the single contract line past the driver's tail-capture
    // window two rounds running; the window is the LAST 2000 bytes and
    // sbt's trailer follows the line, so at 125 queries even 4-decimal
    // values leave too little margin. toPlainString is locale-independent.
    // Non-finite values cannot come from System.nanoTime deltas today, but
    // a future non-finite metric must record as an explicit 0, not crash
    // the one line the driver reads (BigDecimal(NaN) throws).
    def num(v: Double): String =
      if (!java.lang.Double.isFinite(v)) "0"
      else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.toPlainString
    // per-query values at 2 decimals (10 ms — still far below the
    // ±20-35% run-to-run noise band): at 150+ queries the 3-decimal
    // line crossed the 2000-byte tail window again in r15 ("parsed":
    // null); the full-precision line lands in BENCH_DETAIL.json
    def numQ(v: Double): String =
      if (!java.lang.Double.isFinite(v)) "0"
      else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.toPlainString
    // The driver's tail capture is a fixed window (2000 bytes observed);
    // 78 queries x full names is ~2.9 KB, so full-name keys can NEVER fit
    // no matter how the values are rounded — two rounds of BENCH_r{N}
    // arrived tail-clipped with "parsed": null. The contract's own example
    // uses short keys ({"q1":sec}), so per-query keys are the unambiguous
    // name prefix before the first '_' ("d01_dedup_exact" -> "d01"),
    // falling back to full names only if prefixes would collide.
    val short = results.map { case (k, _, _) => k -> k.takeWhile(_ != '_') }.toMap
    val key: String => String =
      if (short.values.toSet.size == short.size) short else identity
    val qs = results.map { case (k, v, _) => s"\"${key(k)}\":${numQ(v)}" }.mkString("{", ",", "}")
    // a non-finite metric renders as "0" in queries (the line must stay
    // parseable), but silently — indistinguishable from a genuinely
    // 0-second query — so it is ALSO recorded under errors by name
    val errs = results.collect {
      case (k, _, Some(e)) => s"\"${key(k)}\":\"${esc(e)}\""
      case (k, v, None) if !java.lang.Double.isFinite(v) =>
        s"\"${key(k)}\":\"non-finite metric ($v)\""
    }
    // a non-finite per-query value renders as "0"; it must also stay OUT
    // of the headline sum — NaN is absorbing, so one bad metric would
    // zero the one field the driver ranks on
    val total = results.collect {
      case (_, v, None) if java.lang.Double.isFinite(v) => v
    }.sum
    val errJson = if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    // sf as the directory BASENAME: the full path spent 16 bytes of the
    // driver's fixed tail window on a constant prefix
    val sfName = sfDir.stripSuffix("/").split('/').last
    // the calibration anchor (min of per-pass samples) as ONE extra
    // top-level key (~14 bytes) — extra keys are ignored by any JSON
    // parse of the contract line, and the anchor must NOT join `queries`
    // (it would inflate the headline total and the scaling block)
    val anchorJson =
      if (anchors.isEmpty) "" else s""","anchor":${numQ(anchors.min)}"""
    s"""{"metric":"total","value":${num(total)},"unit":"sec","runs":$runs,"agg":"min","queries":$qs$errJson,"sf":"$sfName"$anchorJson${sessionJson(cpus, conf)}}"""
  }

  /** The full-precision sidecar (3-decimal per-query values, full names,
   * full sf path) — the contract STDOUT line is size-bounded by the
   * driver's 2000-byte tail capture, so precision and full names live
   * here; committed per round for the judge. */
  def toDetailJson(results: Seq[(String, Double, Option[String])],
                   sfDir: String, runs: Int,
                   anchors: Seq[Double] = Nil,
                   cpus: Option[Int] = None,
                   conf: Seq[(String, String)] = Nil): String = {
    def num(v: Double): String =
      if (!java.lang.Double.isFinite(v)) "0"
      else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.toPlainString
    val qs = results.map { case (k, v, _) => s"""  "$k": ${num(v)}""" }
      .mkString("{\n", ",\n", "\n}")
    val errs = results.collect { case (k, _, Some(e)) =>
      s"""  "$k": "${e.replaceAll("[\\\\\"\\n\\r\\t]", " ").take(200)}"""" }
    val errJson =
      if (errs.isEmpty) "" else errs.mkString(",\n\"errors\": {\n", ",\n", "\n}")
    val total = results.collect {
      case (_, v, None) if java.lang.Double.isFinite(v) => v }.sum
    val anchorJson =
      if (anchors.isEmpty) ""
      else s""","anchor": ${num(anchors.min)},"anchor_samples": [${
        anchors.map(num).mkString(", ")}]"""
    s"""{"metric":"total","value":${num(total)},"unit":"sec","runs":$runs,"agg":"min","sf":"$sfDir"$anchorJson${sessionJson(cpus, conf)},\n"queries":$qs$errJson}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // opt-in extra session conf for LOCAL A/B runs only ("k=v;k=v" —
    // the driver never sets it, so the contract run is always the
    // committed configuration); lets an experiment flip one conf
    // without touching the harness between runs
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not k=v")
        kv.take(i) -> kv.drop(i + 1)
      }
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Spark's whole-stage-codegen class cache holds 100 entries by
      // default; a session running this 184-query board compiles ~10x
      // that many distinct codegen stages, so every bench pass was
      // recompiling every stage through janino (stack-sampled: compile
      // frames dominated the driver gaps; raising the cache cut the
      // measured subset total by ~33%). Size it to hold the whole
      // board's stages — same win for any long-lived production session
      // running a query mix wider than 100 stages. Static conf, so it
      // must land at session build; env-overridable for A/B runs.
    val builder = builder0
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
      .config("spark.ui.enabled", "false")
      // events.parquet is TIMESTAMP(NANOS); declared here so the
      // events() helper's conf dependency is visible at session build
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val owned = graft.tools.LocalIo.ownScratch(builder)
    if (extraConf.nonEmpty)
      System.err.println("[bench] SPARK_GRAFT_EXTRA_CONF applied: " +
        extraConf.map { case (k, v) => s"$k=$v" }.mkString(";"))
    val spark = extraConf.foldLeft(owned)((b, kv) =>
      b.config(kv._1, kv._2)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // drop local-FS CRC sidecars (doubled file creates on every store
    // commit; production FS targets have no client CRC) — see LocalIo
    graft.tools.LocalIo.tuneLocalFs(spark)
    graft.tools.LocalIo.sweepScratch() // stale tmpfs scratch from finished runs
    // releasing a lineage-truncated cut logs one WARN per RDD; 60+ queries
    // of that can clip the single JSON contract line off a captured tail
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // re-registering a checkpoint block logs "Block rdd_N already
    // exists" from the BlockManager at WARN — same fixed-tail hazard
    // (r16's captured window arrived part-filled with these)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.storage", org.apache.logging.log4j.Level.ERROR)

    // opt-in local-iteration filter (comma-separated full names or
    // short prefixes): the driver never sets it, so the contract run is
    // always the full suite; unknown names fail fast like Verify's
    val queries = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(csv) =>
        val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val picked = SparkEntry.queries.filter { case (k, _) =>
          names.contains(k) || names.contains(k.takeWhile(_ != '_'))
        }
        val matched = picked.keySet.map(_.takeWhile(_ != '_')) ++ picked.keySet
        val unknown = names.diff(matched)
        require(unknown.isEmpty, s"unknown bench filter name(s): " +
          unknown.toSeq.sorted.mkString(", "))
        picked
      case None => SparkEntry.queries
    }

    // opt-in pass-count override for local scale runs (the driver never
    // sets it, so the contract run stays min-of-Passes): a single pass
    // at a big derived sf already costs minutes per query, and the
    // scaling RATIO is read against a same-machine same-pass baseline
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .map(_.toInt).getOrElse(Passes)

    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      queries.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
        finally graft.operators.Materialize.releaseAll()
      }

    // one calibration-anchor sample per pass (plus one un-recorded
    // JIT warm-up before the first), interleaved exactly like the
    // queries so the anchor sees the same load the pass saw
    val anchors = scala.collection.mutable.ArrayBuffer.empty[Double]
    anchorOnce(spark)
    val results = timeQueries(spark, sfDir, queries, passes,
      passHook = _ => anchors += anchorOnce(spark))
    // full-precision sidecar first (best effort — the contract line must
    // print even if the cwd is read-only), then the one contract line
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (toDetailJson(results, sfDir, passes, anchors.toSeq, Some(cpus.toInt),
        extraConf) + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    println(toJson(results, sfDir, passes, anchors.toSeq, Some(cpus.toInt),
      extraConf))
    spark.stop()
  }
}
