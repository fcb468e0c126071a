package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, current_timestamp}

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
import graft.ingest.GgLogsToParquet
import graft.operators.{ChangeLogApplier, CuratedApplier, DomainRunner, QueryRunner}

/** A workload: table sizes, the shape of each measured CDC batch per table,
 * warm-up batches, apply mode, and how many read rounds go with each batch
 * (after it, or before it when `readsFirst`). */
final case class Workload(name: String, nOffenders: Int, nBookings: Int,
                          shapes: Map[Int, BatchShape], warmShapes: Map[Int, BatchShape],
                          warmBatches: Int, chainVerified: Boolean, readRounds: Int,
                          minBatches: Int, readsFirst: Boolean = false)

object Workloads {
  private def both(off: BatchShape, book: BatchShape) = Map(0 -> off, 1 -> book)
  private def trickleShape(n: Int) = BatchShape(n, insertFrac = 0.05, deleteFrac = 0.03,
    perKey = 1, skew = 0.7, brokenFrac = 0.0)
  private def bulkShape(n: Int) = BatchShape(n, insertFrac = 0.02, deleteFrac = 0.01,
    perKey = 4, skew = 0.0, brokenFrac = 0.01)

  val all: Map[String, Workload] = Seq(
    // many small last-wins batches: at this table size the cost is the
    // pipeline's fixed per-batch overhead, not the events or the rewrite
    Workload("trickle", 10000, 15000,
      both(trickleShape(200), trickleShape(100)), both(trickleShape(200), trickleShape(100)),
      warmBatches = 2, chainVerified = false, readRounds = 4, minBatches = 2),
    // few large chain-verified replay batches, several events per key
    Workload("bulk", 10000, 15000,
      both(bulkShape(16000), bulkShape(8000)), both(bulkShape(4000), bulkShape(2000)),
      warmBatches = 2, chainVerified = true, readRounds = 4, minBatches = 2),
    // read mix with a small commit between every few rounds
    Workload("serve", 10000, 15000,
      both(trickleShape(40), trickleShape(20)), both(trickleShape(40), trickleShape(20)),
      warmBatches = 1, chainVerified = false, readRounds = 3, minBatches = 2,
      readsFirst = true)
  ).map(w => w.name -> w).toMap
}

/** Per-batch measurements. Times in seconds; byte counts from listing the
 * store table directories before and after the batch. */
final case class BatchSample(traced: Boolean, group: String, events: Int,
                             rejected: Int, ingestS: Double, applyS: Double,
                             curatedS: Double, domainS: Double, freshnessS: Double,
                             landedFiles: Int, landedBytes: Long,
                             structBytes: Long, structFiles: Int, curatedBytes: Long,
                             domainBytes: Long, counts: LayerCounts)

/** Counts read back from the program's landing and committed tables after
 * a traced batch (zero in untraced ones). */
final case class LayerCounts(eventsLanded: Long, keysChanged: Long, liveFiles: Long,
                             domainRows: Long)

/** Set-up cost: generation plus bootstrap, and the warm-up after it. */
final case class Setup(bootstrapS: Double, warmUpS: Double) {
  def totalS: Double = bootstrapS + warmUpS
}

final case class QuerySample(traced: Boolean, cls: String, ms: Double, planMs: Double,
                             execMs: Double, filesScanned: Long, filesLive: Long,
                             rowsScanned: Long, rowsOut: Long)

object Main extends AdaptiveSparkPlanHelper {
  val Db = "cdc"
  val DomainTable = "domain1_off_book"
  /** One read round: one query of each class. */
  val QueryClasses: Seq[String] = Seq("point", "range", "agg", "domain", "lookup")
  val DomainDef: String =
    "Status,Type,Domain,Dependancies,Target,Resolution\n" +
      "Active,SQL,domain1,\"offenders,offender_bookings\"," + DomainTable + "," +
      "\"select offenders.offender_id, offenders.first_name||' '||offenders.last_name " +
      "as offender_name, offender_bookings.in_out_status, " +
      "offender_bookings.booking_begin_date, offender_bookings.booking_end_date " +
      "from offenders INNER JOIN offender_bookings ON " +
      "offenders.offender_id = offender_bookings.offender_id\"\n"

  /** One set-up pipeline: its directory, generator, catalog and store. */
  final class Ctx(val dir: File, val gen: Generator, val catalog: InMemoryCatalog,
                  val store: MergeSnapshotStore, val defs: String) {
    var batchNo = 0
    var queryNo = 0
    def tableDir(t: String): File = new File(dir, s"tables/$t")
    val structured: Seq[String] = Model.Tables.map(_.name)
    val curated: Seq[String] = structured.map(_ + "_curated")
    val storeTables: Seq[String] = structured ++ curated :+ DomainTable
  }

  var spark: SparkSession = _
  var n = 1
  var tracer: Tracer = new Tracer(None)
  var attempted = 0
  var failed = 0
  private var reported = 0

  private def fail(what: String): Unit = {
    failed += 1
    if (reported < 10) { System.err.println(s"[perfbench] FAILED $what"); reported += 1 }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.all.getOrElse(opts.getOrElse("workload", ""),
      throw new IllegalArgumentException(
        s"--workload must be one of ${Workloads.all.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val out = new File(opts.getOrElse("out", ".bench_out")).getAbsoluteFile
    val nproc = Runtime.getRuntime.availableProcessors()
    n = math.min(nproc, 4)

    spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.tools.LocalIo.tuneLocalFs(spark)
    if (trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      tracer = new Tracer(Some(l))
    }
    println(provenance(wl, seed, seconds, trace, nproc))

    // set-up: data generation and bootstrap, then warm-up, before timing
    val t0 = System.nanoTime()
    val ctx = bootstrap(wl, seed, new File(work, "pipeline"))
    val t1 = System.nanoTime()
    warmUp(ctx, wl, seed)
    val setup = Setup((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)

    // closed loop, one client: next batch / query starts when the last ends
    val batches = mutable.ArrayBuffer.empty[BatchSample]
    val queries = mutable.ArrayBuffer.empty[QuerySample]
    val rnd = new java.util.Random(seed * 7 + 1)
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var i = 0
    var broken = false
    // a traced run traces iterations in an ABBA order (which of the two
    // comes first depends on the seed), so traced and untraced iterations
    // sit at the same mean position in the run; the difference between
    // them is the tracing overhead
    val order = if (seed % 2 == 0) "TUUT" else "UTTU"
    val minBatches = if (trace) math.max(wl.minBatches, order.length) else wl.minBatches
    while (!broken && (System.nanoTime() < deadline || batches.size < minBatches)) {
      val traced = trace && order(i % order.length) == 'T'
      tracer.setEnabled(traced)
      def reads(): Unit = (1 to wl.readRounds).foreach(_ => queries ++= readRound(ctx, rnd, traced))
      if (wl.readsFirst) reads()
      try batches += runBatch(ctx, wl.shapes, wl.chainVerified, traced)
      catch { case e: Exception => fail(s"batch ${ctx.batchNo}: $e"); broken = true }
      if (!broken && !wl.readsFirst) reads()
      i += 1
    }
    tracer.setEnabled(false)
    val measuredS = (System.nanoTime() - start) / 1e9

    val spaceAmp = spaceAmplification(ctx)
    val bytesOnDisk = ctx.storeTables.map(t => dirBytes(ctx.tableDir(t))).sum
    finalCheck(ctx)

    val untracedB = batches.filterNot(_.traced).toVector
    val untracedQ = queries.filterNot(_.traced).toVector
    val correct = failed == 0
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(setup, untracedB, untracedQ, spaceAmp)
      else perLayer(batches.toVector, queries.toVector, bytesOnDisk, wl, seed, out)

    summary(wl, setup, batches.toVector, queries.toVector, measuredS, trace)
    val ms = metrics.map { case (k, v, u) =>
      s"${Model.jsonStr(k)}: {\"value\": ${num(v)}, \"unit\": ${Model.jsonStr(u)}}" }
    println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": $failed, "metrics": {${ms.mkString(", ")}}}""")
    spark.stop()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric value $v")
    else v.toString

  // ------------------------------------------------------------- set-up

  /** Generates the model and bootstraps the structured targets from it (the
   * initial load). The curated and domain tables are first written by the
   * warm-up batch. */
  def bootstrap(wl: Workload, seed: Long, dir: File): Ctx = {
    dir.mkdirs()
    val gen = new Generator(seed, wl.nOffenders, wl.nBookings)
    val catalog = new InMemoryCatalog
    // single writer, closed loop: no reader outlives a commit, so old
    // versions are reclaimed at once (the store's documented batch-job mode)
    val store = new MergeSnapshotStore(spark, catalog, vacuumRetentionMs = 0L)
    val defs = new File(dir, "defs/domain_table_1.csv")
    defs.getParentFile.mkdirs()
    Files.write(defs.toPath, DomainDef.getBytes("UTF-8"))
    val ctx = new Ctx(dir, gen, catalog, store, defs.toString)
    Model.Tables.foreach { t =>
      catalog.register(TableMeta(Db, t.name, ctx.tableDir(t.name).toString,
        primaryKey = Seq(t.pk)))
      catalog.register(TableMeta(Db, s"${t.name}_curated",
        ctx.tableDir(s"${t.name}_curated").toString))
    }
    catalog.register(TableMeta(Db, DomainTable, ctx.tableDir(DomainTable).toString))

    Model.Tables.foreach { t =>
      val cols = Oracle.targetSchema(t).fieldNames.map(col)
      store.overwrite(Db, t.name, Oracle.expected(spark, gen.state(t), n)
        .withColumn(Oracle.AdminEventTs, current_timestamp()).select(cols.toIndexedSeq: _*))
    }
    ctx
  }

  /** Warm-up batches, then a read round, before timing (the first batch of
   * a JVM runs about twice as slow as later ones). */
  def warmUp(ctx: Ctx, wl: Workload, seed: Long): Unit = {
    (1 to wl.warmBatches).foreach(_ => runBatch(ctx, wl.warmShapes, wl.chainVerified, traced = false))
    readRound(ctx, new java.util.Random(seed * 13 + 5), traced = false)
  }

  // -------------------------------------------------------------- batches

  def runBatch(ctx: Ctx, shapes: Map[Int, BatchShape], chain: Boolean,
               traced: Boolean): BatchSample = {
    attempted += 1
    ctx.batchNo += 1
    val b = ctx.batchNo
    val group = f"b$b%05d"
    val raw = new File(ctx.dir, s"raw/$group")
    val info = ctx.gen.writeBatch(raw, shapes, lastWins = !chain)
    val landing = new File(ctx.dir, s"landing/$group")
    ctx.catalog.register(TableMeta(Db, "raw_events", landing.toString,
      partitionBy = GgLogsToParquet.PartitionBy))
    val before = ctx.storeTables.map(t => t -> listFiles(ctx.tableDir(t))).toMap
    val versions = if (traced) ctx.structured.map(t => t -> ctx.store.latestVersion(Db, t)).toMap
      else Map.empty[String, Int]

    // freshness: from the raw files being present until the domain
    // table holds the change
    val t0 = System.nanoTime()
    var t1, t2, t3 = 0L
    tracer.span(group, "batch") {
      tracer.span(group, "ingest") {
        GgLogsToParquet.run(spark, ctx.store, raw.toString, Db, "raw_events")
      }
      t1 = System.nanoTime()
      val applied = tracer.span(group, "apply") {
        ChangeLogApplier.run(spark, ctx.store, Db, ctx.store.readFlat(Db, "raw_events"),
          chainVerified = chain, parallelism = n)
      }
      t2 = System.nanoTime()
      tracer.span(group, "curated") { new CuratedApplier(ctx.store).run(Db, applied) }
      t3 = System.nanoTime()
      tracer.span(group, "domain") {
        new DomainRunner(spark, ctx.store).run(Db, ctx.defs, applied, processId = b.toLong)
      }
    }
    val t4 = System.nanoTime()

    val after = ctx.storeTables.map(t => t -> listFiles(ctx.tableDir(t))).toMap
    def written(ts: Seq[String], pred: String => Boolean = _ => true): Seq[Long] =
      ts.flatMap(t => after(t).collect {
        case (p, sz) if !before(t).contains(p) && pred(p) => sz })
    val landed = listFiles(landing).filter(_._1.endsWith(".parquet"))
    val structNew = written(ctx.structured, _.endsWith(".parquet"))
    // per-layer counts read back from what the program landed and
    // committed (traced batches only, after the timed part)
    val counts =
      if (!traced) LayerCounts(0, 0, 0, 0)
      else LayerCounts(ctx.store.readFlat(Db, "raw_events").count(),
        ctx.structured.map(t => keysChanged(ctx, t, versions(t))).sum,
        ctx.structured.map(t => detail(ctx, t).getAs[Int]("num_files").toLong).sum,
        ctx.store.countRows(Db, DomainTable))
    if (traced && counts.eventsLanded != info.events)
      fail(s"batch $group: landed ${counts.eventsLanded} events, generated ${info.events}")
    deleteTree(raw); deleteTree(landing)
    BatchSample(traced, group, info.events, info.rejected,
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9, (t4 - t0) / 1e9,
      landed.size, landed.map(_._2).sum,
      written(ctx.structured).sum, structNew.size, written(ctx.curated).sum,
      written(Seq(DomainTable)).sum, counts)
  }

  /** Keys whose committed row the batch inserted, deleted or replaced: the
   * table's version before the batch against its latest, by key and
   * position of the last applied event. */
  def keysChanged(ctx: Ctx, t: String, oldVersion: Int): Long = {
    val pk = Model.Tables.find(_.name == t).get.pk
    val pos = "admin_gg_pos"
    val was = ctx.store.readVersion(ctx.catalog(Db, t), oldVersion)
      .select(col(pk), col(pos).as("p0"))
    val now = ctx.store.read(Db, t).select(col(pk), col(pos).as("p1"))
    was.join(now, Seq(pk), "full_outer").filter(!(col("p0") <=> col("p1"))).count()
  }

  def detail(ctx: Ctx, t: String): Row = ctx.store.describeDetail(Db, t).head()

  // -------------------------------------------------------------- queries

  /** One pass over the fixed read mix; every answer is checked against a
   * plain filter over the model. */
  def readRound(ctx: Ctx, rnd: java.util.Random, traced: Boolean): Seq[QuerySample] = {
    val g = ctx.gen
    val off = g.offenders
    val qr = new QueryRunner(ctx.store)
    val fields = Seq("offender_id", "first_name", "last_name", "birth_date", "age")
    val maxKey = off.nextKey - 1
    QueryClasses.map { cls =>
      ctx.queryNo += 1
      val group = f"q${ctx.queryNo}%06d"
      val (build, expect): (() => DataFrame, () => Vector[String]) = cls match {
        case "point" =>
          val k = off.pickKey(rnd, 0.0, Set.empty)
          (() => qr.run(Db, "offenders", fields, s"offender_id = $k"),
            () => Oracle.offenderRows(g, fields, Iterator.single(k)))
        case "range" =>
          val a = 1 + rnd.nextInt(math.max(1, maxKey - 100))
          (() => qr.run(Db, "offenders", fields, s"offender_id BETWEEN $a AND ${a + 99}"),
            () => Oracle.offenderRows(g, fields, (a to a + 99).iterator))
        case "agg" =>
          val lo = 18 + rnd.nextInt(65)
          (() => qr.run(Db, "offenders", Seq("caseload_type", "age"),
            s"age BETWEEN $lo AND ${lo + 4}").groupBy("caseload_type").count(),
            () => Oracle.aggRows(g, lo, lo + 4))
        case "domain" =>
          val a = 1 + rnd.nextInt(math.max(1, maxKey - 50))
          (() => qr.run(Db, DomainTable, Seq("offender_id", "offender_name", "in_out_status"),
            s"offender_id BETWEEN $a AND ${a + 49}"),
            () => Oracle.domainRows(g, a, a + 49))
        case "lookup" =>
          // mostly live keys, a few that may have been deleted
          val keys = (1 to 45).map(_ => off.pickKey(rnd, 0.3, Set.empty)) ++
            (1 to 5).map(_ => 1 + rnd.nextInt(maxKey))
          (() => {
            val kdf = spark.createDataFrame(keys.map(k => Tuple1(k))).toDF("offender_id")
            ctx.store.pointLookup(Db, "offenders", kdf)
              .select("offender_id", "last_name", "admin_gg_pos")
          }, () => Oracle.lookupRows(g, keys))
      }
      attempted += 1
      val t0 = System.nanoTime()
      var tp = t0
      val res = try {
        tracer.span(group, "query") {
          tracer.span(group, s"query.$cls") {
            val df = build()
            if (traced) df.queryExecution.executedPlan // planning, timed apart
            tp = System.nanoTime()
            Some((df, df.collect()))
          }
        }
      } catch { case e: Exception => fail(s"query $cls: $e"); None }
      val t1 = System.nanoTime()
      res match {
        case None => QuerySample(traced, cls, (t1 - t0) / 1e6, 0, 0, 0, 0, 0, 0)
        case Some((df, rows)) =>
          val got = rows.map(Oracle.rowKey).toVector.sorted
          val want = expect()
          if (got != want)
            fail(s"query $cls (${ctx.queryNo}): got ${got.size} rows, want ${want.size}; " +
              s"first diff ${got.diff(want).headOption} / ${want.diff(got).headOption}")
          val (files, scanned) = if (traced) scanMetrics(df) else (0L, 0L)
          val live = if (!traced) 0L
            else detail(ctx, if (cls == "domain") DomainTable else "offenders")
              .getAs[Int]("num_files").toLong
          QuerySample(traced, cls, (t1 - t0) / 1e6, (tp - t0) / 1e6, (t1 - tp) / 1e6,
            files, live, scanned, rows.length.toLong)
      }
    }
  }

  /** Files and rows read by the plan's file scans (from their metrics). */
  def scanMetrics(df: DataFrame): (Long, Long) = {
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "numOutputRows")).sum)
  }

  // ---------------------------------------------------------- final check

  def finalCheck(ctx: Ctx): Unit = {
    val exp = Model.Tables.map(t => t.name -> Oracle.expected(spark, ctx.gen.state(t), n)).toMap
    val checks = Model.Tables.flatMap { t =>
      Seq(t.name -> exp(t.name), s"${t.name}_curated" -> exp(t.name))
    } :+ (DomainTable -> Oracle.expectedDomain(exp("offenders"),
      exp("offender_bookings"), ctx.batchNo.toLong))
    attempted += checks.size
    try Oracle.compareAll(checks.map { case (t, e) => (t, ctx.store.read(Db, t), e) })
      .foreach(m => fail(s"final $m"))
    catch { case ex: Exception => fail(s"final check: $ex") }
  }

  // ------------------------------------------------------------- metrics

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it: (value,
   * percentile). None when that percentile does not lie above the median
   * (fewer than 23 samples): the samples support no tail. */
  def tail(xs: Seq[Double]): Option[(Double, Int)] = {
    val s = xs.sorted
    val idx = s.size - 11
    if (idx <= s.size / 2) None
    else Some((s(idx), math.round(100.0 * (idx + 1) / s.size).toInt))
  }

  def tailText(xs: Seq[Double], fmt: Double => String): String = tail(xs) match {
    case Some((v, p)) => s"tail p$p = ${fmt(v)} (n=${xs.size})"
    case None => s"no tail (n=${xs.size}, a tail needs 23 samples)"
  }

  def spaceAmplification(ctx: Ctx): Double = {
    val onDisk = ctx.storeTables.map(t => dirBytes(ctx.tableDir(t))).sum.toDouble
    val live = ctx.storeTables.map(t => detail(ctx, t).getAs[Long]("size_bytes")).sum
    onDisk / live
  }

  /** Read latency of the mix: the geometric mean over the query classes of
   * each class's median. The classes differ several-fold in latency, so a
   * median pooled over the mix sits on a class boundary and jumps between
   * classes from run to run; one class's median alone moves by up to a
   * quarter between runs. */
  def readLatency(q: Seq[QuerySample]): Double = perClassGeomean(q, median)

  /** Upper read latency of the mix: each class's p75 (the sample with two
   * beyond it of a run's eight, so ten beyond over the five classes),
   * geometric mean over the classes. A tail pooled over the mix lands on
   * the boundary between the two slowest classes and spread by a third
   * between runs. */
  def readP75(q: Seq[QuerySample]): Double = perClassGeomean(q, { xs =>
    require(xs.size >= 4, s"a class p75 from ${xs.size} samples")
    xs.sorted.apply(xs.size - 3)
  })

  def perClassGeomean(q: Seq[QuerySample], stat: Seq[Double] => Double): Double =
    math.exp(QueryClasses.map(c => math.log(stat(q.filter(_.cls == c).map(_.ms)))).sum /
      QueryClasses.size)

  /** End-to-end metrics. */
  def endToEnd(setup: Setup, b: Vector[BatchSample], q: Vector[QuerySample],
               spaceAmp: Double): Seq[(String, Double, String)] = {
    Seq(
      ("setup_s", setup.totalS, "s"),
      ("freshness_p50_s", median(b.map(_.freshnessS)), "s"),
      ("apply_events_per_s", median(b.map(x => x.events / (x.ingestS + x.applyS))), "events/s"),
      ("write_amp", b.map(x => x.structBytes + x.curatedBytes + x.domainBytes).sum.toDouble /
        b.map(_.landedBytes).sum, "ratio"),
      ("space_amp", spaceAmp, "ratio"),
      ("query_p50_geomean_ms", readLatency(q), "ms"),
      ("query_p75_geomean_ms", readP75(q), "ms"))
  }

  def perLayer(b: Vector[BatchSample], q: Vector[QuerySample], bytesOnDisk: Long,
               wl: Workload, seed: Long, out: File): Seq[(String, Double, String)] = {
    val l = tracer.listener.get
    l.drain()
    val jobs = l.all
    val store = tracer.storeSpans(jobs)
    val spans = tracer.recorded
    tracer.write(new File(out, s"trace-${wl.name}-seed$seed.jsonl"), store, jobs)
    val tb = b.filter(_.traced)
    val tq = q.filter(_.traced)
    def layer(name: String): Vector[Span] = spans.filter(_.name == name)
    // self time: the layer span minus the part its store child spans cover
    def selfS(name: String): Double = median(layer(name).map { s =>
      val kids = store.filter(_.parent == s.id).map(k => (k.startMs, k.endMs))
      (s.durNs / 1e6 - Trace.unionMs(kids)) / 1000.0
    })
    def jobsIn(s: Span) = jobs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
    val mergeS = layer("apply").map { s =>
      Trace.unionMs(store.filter(k => k.parent == s.id && k.name == "store.merge")
        .map(k => (k.startMs, k.endMs))) / 1000.0 }
    def med(f: BatchSample => Double) = median(tb.map(f))
    val overheadFresh = median(tb.map(_.freshnessS)) /
      median(b.filterNot(_.traced).map(_.freshnessS)) - 1
    val overheadQuery = readLatency(tq) / readLatency(q.filterNot(_.traced)) - 1
    Seq(
      ("ingest.busy_s", med(_.ingestS), "s"),
      ("ingest.self_s", selfS("ingest"), "s"),
      ("ingest.events", med(_.counts.eventsLanded.toDouble), "count"),
      ("ingest.files_landed", med(_.landedFiles.toDouble), "count"),
      ("ingest.bytes_landed", med(_.landedBytes.toDouble), "bytes"),
      ("apply.busy_s", med(_.applyS), "s"),
      ("apply.self_s", selfS("apply"), "s"),
      ("apply.spark_jobs", median(layer("apply").map(s => jobsIn(s).size.toDouble)), "count"),
      ("apply.keys_changed", med(_.counts.keysChanged.toDouble), "count"),
      ("store.merge_s", median(mergeS), "s"),
      ("store.bytes_written", med(_.structBytes.toDouble), "bytes"),
      ("store.files_rewritten", med(_.structFiles.toDouble), "count"),
      ("store.files_carried", med(x => (x.counts.liveFiles - x.structFiles).toDouble), "count"),
      ("store.files_live", med(_.counts.liveFiles.toDouble), "count"),
      ("store.bytes_on_disk", bytesOnDisk.toDouble, "bytes"),
      ("curated.busy_s", med(_.curatedS), "s"),
      ("curated.self_s", selfS("curated"), "s"),
      ("curated.bytes_written", med(_.curatedBytes.toDouble), "bytes"),
      ("domain.busy_s", med(_.domainS), "s"),
      ("domain.self_s", selfS("domain"), "s"),
      ("domain.rows_out", med(_.counts.domainRows.toDouble), "count")) ++
      QueryClasses.flatMap { c =>
        val xs = tq.filter(_.cls == c)
        Seq(
          (s"query.$c.plan_ms", median(xs.map(_.planMs)), "ms"),
          (s"query.$c.exec_ms", median(xs.map(_.execMs)), "ms"),
          (s"query.$c.files_scanned_frac",
            median(xs.map(x => x.filesScanned.toDouble / math.max(1L, x.filesLive))), "ratio"),
          (s"query.$c.rows_scanned_per_row",
            median(xs.map(x => x.rowsScanned.toDouble / math.max(1L, x.rowsOut))), "ratio"))
      } ++ Seq(
      ("trace.overhead_freshness_frac", overheadFresh, "ratio"),
      ("trace.overhead_query_frac", overheadQuery, "ratio"),
      ("trace.spans", (spans.size + store.size).toDouble, "count"))
  }

  /** Human-readable lines (stdout, before the result line). */
  def summary(wl: Workload, setup: Setup, b: Vector[BatchSample],
              q: Vector[QuerySample], measuredS: Double, trace: Boolean): Unit = {
    val fresh = b.filterNot(_.traced && trace).map(_.freshnessS)
    val lat = q.filterNot(_.traced && trace).map(_.ms)
    def line(s: String): Unit = println(s"[perfbench] ${wl.name}: $s")
    line(f"bootstrap ${setup.bootstrapS}%.2f s, warm-up " +
      f"${setup.warmUpS}%.2f s, setup_s ${setup.totalS}%.2f s; measured $measuredS%.1f s, " +
      s"${b.size} batches, ${q.size} queries")
    if (fresh.nonEmpty)
      line(f"freshness p50 ${median(fresh)}%.3f s, " + tailText(fresh, v => f"$v%.3f s"))
    if (lat.nonEmpty)
      line("query, pooled over the mix: " + tailText(lat, v => f"$v%.1f ms"))
    if (wl.chainVerified)
      line(s"chain-broken events the oracle expects rejected: ${b.map(_.rejected).sum} " +
        "(the final table check verifies they were)")
    b.foreach { x =>
      line(f"batch ${x.group}: ${x.events} events, freshness ${x.freshnessS}%.3f s " +
        f"(ingest ${x.ingestS}%.3f, apply ${x.applyS}%.3f, curated ${x.curatedS}%.3f, " +
        f"domain ${x.domainS}%.3f); landed ${x.landedFiles} files ${x.landedBytes} B; " +
        s"written structured ${x.structBytes} B, curated ${x.curatedBytes} B, " +
        s"domain ${x.domainBytes} B${if (x.traced) " (traced)" else ""}")
    }
    if (q.nonEmpty) line(QueryClasses.map { c =>
      f"$c ${median(q.filter(_.cls == c).map(_.ms))}%.1f" }.mkString("query medians ms: ", ", ", ""))
    QueryClasses.foreach { c =>
      line(q.filter(_.cls == c).map(x => f"${x.ms}%.0f").mkString(s"$c samples ms, in run order: ", " ", ""))
    }
    line(f"failed_frac = ${failed.toDouble / math.max(attempted, 1)}%.4f " +
      s"($failed of $attempted operations); oracle ${if (failed == 0) "OK" else "MISMATCH"}")
  }

  // ------------------------------------------------------------ provenance

  def provenance(wl: Workload, seed: Long, seconds: Double, trace: Boolean,
                 nproc: Int): String = {
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Model.jsonStr(k)}: ${Model.jsonStr(v)}" }
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("--add-opens")).map(Model.jsonStr)
    val env = sys.env.toSeq.filter(_._1.startsWith("SPARK_GRAFT_")).sortBy(_._1)
      .map { case (k, v) => s"${Model.jsonStr(k)}: ${Model.jsonStr(v)}" }
    def shape(m: Map[Int, BatchShape]) = Model.Tables.map { t =>
      val s = m(t.id)
      s"""${Model.jsonStr(t.name)}: {"events": ${s.events}, "insert_frac": ${s.insertFrac}, """ +
        s""""delete_frac": ${s.deleteFrac}, "per_key": ${s.perKey}, "skew": ${s.skew}, """ +
        s""""broken_frac": ${s.brokenFrac}}"""
    }.mkString("{", ", ", "}")
    s"""{"provenance": {"workload": "${wl.name}", "seed": $seed, "seconds": $seconds, """ +
      s""""trace": $trace, "nproc": $nproc, "local_n": $n, "java": """ +
      s"""${Model.jsonStr(System.getProperty("java.version"))}, "max_heap_bytes": """ +
      s"""${Runtime.getRuntime.maxMemory}, "tables": {"offenders": ${wl.nOffenders}, """ +
      s""""offender_bookings": ${wl.nBookings}}, "batch": ${shape(wl.shapes)}, """ +
      s""""warmup_batch": ${shape(wl.warmShapes)}, "warmup_batches": ${wl.warmBatches}, """ +
      s""""chain_verified": ${wl.chainVerified}, "read_rounds_per_batch": ${wl.readRounds}, """ +
      s""""jvm_args": [${jvmArgs.mkString(", ")}], """ +
      s""""spark_graft_env": {${env.mkString(", ")}}, "spark_graft_env_set": ${env.nonEmpty}, """ +
      s""""spark_conf": {${conf.mkString(", ")}}}}"""
  }

  // ------------------------------------------------------------ file utils

  def listFiles(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else {
      val s = Files.walk(dir.toPath)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map((p: Path) => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def dirBytes(dir: File): Long = listFiles(dir).values.sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
