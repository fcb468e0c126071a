package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
import graft.ingest.GgLogsToParquet
import graft.model.CdcModel
import graft.operators.{ChangeLogApplier, CuratedApplier, DomainRunner}

/**
 * What one CDC batch costs and leaves behind on the merge store: the
 * Spark jobs of a trickle-shaped `ChangeLogApplier.run` (two targets, a
 * landing table partitioned by `table`), the one-file-per-bucket layout
 * and write-task count of scoped merges and overwrites, and a batch
 * re-run after a crash between its two tables' commits, and past apply
 * at the curated and the domain commit.
 */
class ApplyJobBudgetSpec extends AnyFunSuite with SparkFixture {
  private val Db = "jb"
  private val payload = StructType(Seq(
    StructField("ID", IntegerType), StructField("NAME", StringType),
    StructField("BID", IntegerType), StructField("OID", IntegerType),
    StructField("STATUS", StringType)))
  private val evSchema = StructType(Seq(
    StructField("table", StringType), StructField("op_type", StringType),
    StructField("op_ts", StringType), StructField("pos", StringType),
    StructField("before", payload), StructField("after", payload)))
  private val offSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)) ++
    CdcModel.adminFields)
  private val bookSchema = StructType(Seq(
    StructField("bid", IntegerType), StructField("oid", IntegerType),
    StructField("status", StringType)) ++ CdcModel.adminFields)

  /** A store with both targets bootstrapped (400 offenders, 300 bookings). */
  private def mkStore(nBuckets: Int = 32): (MergeSnapshotStore, String) = {
    val dir = Files.createTempDirectory("graft-jobbudget").toString
    val cat = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, cat, nBuckets = nBuckets)
    cat.register(TableMeta(Db, "offenders", s"$dir/offenders", primaryKey = Seq("id")))
    cat.register(TableMeta(Db, "bookings", s"$dir/bookings", primaryKey = Seq("bid")))
    def rows(n: Int)(f: Int => Row) =
      spark.sparkContext.parallelize((1 to n).map(f), 2)
    val pos0 = "0" * 20
    store.overwrite(Db, "offenders", spark.createDataFrame(rows(400)(i =>
      Row(i, s"o$i", 0, pos0, null, null)), offSchema))
    store.overwrite(Db, "bookings", spark.createDataFrame(rows(300)(i =>
      Row(i, i % 50, "open", 0, pos0, null, null)), bookSchema))
    (store, dir)
  }

  /** Lands one seeded batch (mostly U, some I and D, repeated keys) of
   * `n` events per table as raw GG JSON, plus `nullTable` events whose
   * `table` is null, ingests it into a fresh landing table, and returns
   * the landing read the applier takes. */
  private def landBatch(store: MergeSnapshotStore, dir: String, batch: Int,
                        n: Int = 60, nullTable: Int = 0): DataFrame = {
    val rnd = new Random(batch)
    var pos = batch * 10000
    def ev(table: String, op: String, img: Row): Row = {
      pos += 1
      Row(table, op, "2022-09-26 14:57:13.817732", f"$pos%020d",
        if (op == "I") null else img, if (op == "D") null else img)
    }
    def op(): String = rnd.nextInt(20) match {
      case 0 => "I"
      case 1 => "D"
      case _ => "U"
    }
    val evs = (1 to n).map { _ =>
      val id = 1 + rnd.nextInt(420)
      ev("OMS_OWNER.OFFENDERS", op(), Row(id, s"n$batch-$pos", null, null, null))
    } ++ (1 to n).map { _ =>
      val bid = 1 + rnd.nextInt(320)
      ev("OMS_OWNER.BOOKINGS", op(), Row(null, null, bid, bid % 50, s"s$pos"))
    } ++ (1 to nullTable).map(_ => ev(null, "U", Row(1, "x", null, null, null)))
    val raw = s"$dir/raw/b$batch"
    spark.createDataFrame(spark.sparkContext.parallelize(evs, 2), evSchema)
      .write.json(raw)
    store.catalog.register(TableMeta(Db, "raw_events", s"$dir/landing/b$batch",
      partitionBy = GgLogsToParquet.PartitionBy))
    GgLogsToParquet.run(spark, store, raw, Db, "raw_events")
    store.readFlat(Db, "raw_events")
  }

  private def canon(df: DataFrame): Seq[String] =
    df.drop(CdcModel.AdminEventTs).collect().map(_.toString).toSeq.sorted

  /** Data files under each bucket dir of the latest version. */
  private def filesPerBucket(store: MergeSnapshotStore, t: String): Map[Int, Int] = {
    val loc = store.catalog(Db, t).location
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    store.manifestEntries(Db, t, store.latestVersion(Db, t)).map { case (b, rel) =>
      b -> fs.listStatus(new Path(s"$loc/$rel"))
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    }
  }

  test("a trickle batch over two targets runs at most 10 jobs, each a labelled store phase") {
    val (store, dir) = mkStore()
    // the first batch warms the session (caches, codegen); the second is measured
    ChangeLogApplier.run(spark, store, Db, landBatch(store, dir, 1))
    val landing = landBatch(store, dir, 2)
    val (applied, jobs) = JobRecorder.during(spark) {
      ChangeLogApplier.run(spark, store, Db, store.readFlat(Db, "raw_events"))
    }
    assert(applied.toSet == Set("offenders", "bookings"))
    val descs = jobs.map(_.desc)
    assert(jobs.size <= 10, s"${jobs.size} jobs: ${descs.mkString("; ")}")
    // the table list comes from the partition listing and readFlat from
    // the registered schema: neither runs an (unlabelled) job
    assert(descs.forall(_.startsWith("store: merge ")),
      s"unlabelled jobs: ${descs.mkString("; ")}")
    // every job names its phase after the store head
    val phases = descs.map(_.split(' ').drop(3).mkString(" "))
    assert(phases.forall(Set("decide", "guard", "write", "stats")),
      s"phases: ${phases.mkString("; ")}")
    // the decided key frame is local: no touched-bucket scan job
    assert(!phases.contains("scan"))
    // and the batch committed what a reference apply commits
    Seq("offenders" -> "id", "bookings" -> "bid").foreach { case (t, pk) =>
      val before = store.readVersion(store.catalog(Db, t), store.latestVersion(Db, t) - 1)
      val src = if (t == "offenders") "OMS_OWNER.OFFENDERS" else "OMS_OWNER.BOOKINGS"
      val want = ChangeLogApplier.applyTable(before,
        landing.filter(col("table") === src), pk)
      assert(canon(store.read(Db, t)) == canon(want), t)
    }
  }

  test("a landing with a null-table event is refused before any table applies") {
    val (store, dir) = mkStore()
    val before = Seq("offenders", "bookings").map(t => t -> store.latestVersion(Db, t))
    val landing = landBatch(store, dir, 3, nullTable = 1)
    assert(landing.filter(col("table").isNull).count() == 1,
      "fixture: the null-table event must land")
    val err = intercept[IllegalArgumentException] {
      ChangeLogApplier.run(spark, store, Db, landing)
    }
    assert(err.getMessage.contains(s"$Db: 1 change event"), err.getMessage)
    assert(Seq("offenders", "bookings").map(t => t -> store.latestVersion(Db, t)) ==
      before, "a table committed before the refusal")
  }

  test("a table that fails fast leaves run waiting for its sibling's commit") {
    val (store, dir) = mkStore()
    // bookings loses its PK: its future fails at once, before any job
    store.catalog.register(store.catalog(Db, "bookings").copy(primaryKey = Nil))
    val landing = landBatch(store, dir, 6)
    val v0 = store.latestVersion(Db, "offenders")
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var doneAt = 0L
    store.beforePublish = () => Thread.sleep(2000)
    val err = intercept[IllegalStateException] {
      ChangeLogApplier.run(spark, store, Db, landing, onTableDone = _ => {
        doneAt = System.nanoTime(); done.countDown()
      })
    }
    val threwAt = System.nanoTime()
    assert(err.getMessage.contains("no PK registered"), err.getMessage)
    val atThrow = store.latestVersion(Db, "offenders")
    // a sibling still running after the throw would finish in here
    assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    assert(doneAt < threwAt, "offenders settled after run had thrown")
    assert(atThrow == v0 + 1 && store.latestVersion(Db, "offenders") == atThrow,
      s"offenders at $atThrow when run threw, later ${store.latestVersion(Db, "offenders")}")
  }

  test("scoped merges and overwrites write one file per bucket from min(nBuckets, cores) tasks") {
    val cores = spark.sparkContext.defaultParallelism
    // 64 bucket dirs is past Spark's parallel-listing threshold (32): a
    // scan that handed them to Spark's own file index would run an
    // unlabelled listing job
    Seq(64, 32, 2).foreach { nBuckets =>
      val tasks = math.min(nBuckets, cores)
      val (store, dir) = mkStore(nBuckets)
      assert(filesPerBucket(store, "offenders").values.forall(_ == 1))
      val landing = landBatch(store, dir, 3)
      val (_, jobs) = JobRecorder.during(spark) {
        ChangeLogApplier.run(spark, store, Db, landing)
      }
      val merge = s"store: merge $Db\\.(offenders|bookings) [a-z]+".r
      assert(jobs.forall(j => merge.matches(j.desc)),
        s"$nBuckets buckets, jobs outside a labelled merge phase: " +
          jobs.map(_.desc).mkString("; "))
      val (_, readJobs) = JobRecorder.during(spark)(store.read(Db, "offenders"))
      assert(readJobs.isEmpty, s"$nBuckets buckets, read before an action ran $readJobs")
      Seq("offenders", "bookings").foreach { t =>
        val counts = filesPerBucket(store, t)
        assert(counts.size == nBuckets && counts.values.forall(_ == 1),
          s"$t with $nBuckets buckets: $counts")
        // the write job is the last one labelled write; its final stage
        // is the write stage (earlier ones are AQE shuffle-map jobs)
        val writes = jobs.filter(_.desc == s"store: merge $Db.$t write")
        assert(writes.nonEmpty && writes.last.finalTasks == tasks,
          s"$t write jobs: $writes")
      }
      val (_, ow) = JobRecorder.during(spark) {
        store.overwrite(Db, "offenders", store.read(Db, "offenders"))
      }
      val counts = filesPerBucket(store, "offenders")
      assert(counts.size == nBuckets && counts.values.forall(_ == 1), counts)
      val writes = ow.filter(_.desc == s"store: overwrite $Db.offenders write")
      assert(writes.nonEmpty && writes.last.finalTasks == tasks, ow)
    }
  }

  test("a batch that fails after its first table committed re-runs to the clean result") {
    val (store, dir) = mkStore()
    val (clean, _) = mkStore()
    val landing = landBatch(store, dir, 4)
    ChangeLogApplier.run(spark, clean, Db, landing, parallelism = 1)
    val v0 = Seq("offenders", "bookings").map(t => store.latestVersion(Db, t))
    // the first table's merge publishes; the second one's crashes before
    // its publish (parallelism 1 runs the tables one after the other)
    store.beforePublish = () => {
      store.beforePublish = () => throw new IllegalStateException("crash before publish")
    }
    val err = intercept[IllegalStateException] {
      ChangeLogApplier.run(spark, store, Db, landing, parallelism = 1)
    }
    assert(err.getMessage.contains("crash before publish"))
    val moved = Seq("offenders", "bookings").zip(v0).count { case (t, v) =>
      store.latestVersion(Db, t) > v }
    assert(moved == 1, "exactly one table committed before the crash")
    // the whole batch again: the committed table's events are all at or
    // below the positions it now holds, so the stale guard skips them
    ChangeLogApplier.run(spark, store, Db, landing, parallelism = 1)
    Seq("offenders", "bookings").foreach { t =>
      assert(canon(store.read(Db, t)) == canon(clean.read(Db, t)), t)
    }
  }

  /** One whole batch, apply → curated → domain, over a store whose
   * curated (`<t>_curated`) and domain (`off_book`) tables are
   * registered on first use. `arm(stage)` runs just before that
   * stage: the failpoint hook goes in there. */
  private def fullBatch(store: MergeSnapshotStore, dir: String, landing: DataFrame,
                        arm: String => Unit = _ => ()): Unit = {
    val defs = s"$dir/defs.csv"
    if (store.catalog.get(Db, "off_book").isEmpty) {
      Files.write(java.nio.file.Paths.get(defs),
        ("Status,Type,Domain,Dependancies,Target,Resolution\n" +
          "Active,SQL,dom,\"offenders,bookings\",off_book,\"select " +
          "offenders.id, offenders.name, bookings.bid, bookings.status from " +
          "offenders INNER JOIN bookings ON offenders.id = bookings.oid\"\n")
          .getBytes("UTF-8"))
      Seq("offenders" -> "id", "bookings" -> "bid").foreach { case (t, pk) =>
        store.catalog.register(TableMeta(Db, s"${t}_curated",
          s"$dir/${t}_curated", primaryKey = Seq(pk)))
      }
      store.catalog.register(TableMeta(Db, "off_book", s"$dir/off_book"))
    }
    arm("apply")
    val applied = ChangeLogApplier.run(spark, store, Db, landing, parallelism = 1)
    arm("curated")
    new CuratedApplier(store).run(Db, applied.sorted)
    arm("domain")
    new DomainRunner(spark, store).run(Db, defs, applied, processId = 1L)
  }

  test("every job of a batch carries its layer's label; the domain reads its definitions in one job") {
    val (store, dir) = mkStore()
    fullBatch(store, dir, landBatch(store, dir, 1))
    // batch 2's raw files, landed again under the recorder
    landBatch(store, dir, 2)
    store.catalog.register(TableMeta(Db, "raw_events", s"$dir/landing/b2-again",
      partitionBy = GgLogsToParquet.PartitionBy))
    val (_, jobs) = JobRecorder.during(spark) {
      GgLogsToParquet.run(spark, store, s"$dir/raw/b2", Db, "raw_events")
      fullBatch(store, dir, store.readFlat(Db, "raw_events"))
    }
    val descs = jobs.map(_.desc)
    assert(descs.forall(_.nonEmpty), s"unlabelled jobs among: ${descs.mkString("; ")}")
    assert(descs.filter(_.startsWith("ingest: ")).toSet ==
      Set(s"ingest: $Db.raw_events infer", s"ingest: $Db.raw_events write"))
    // the definitions CSV's columns are declared: no header job beside
    // the collect
    assert(descs.count(_ == s"domain: $Db defs") == 1, descs.mkString("; "))
    // curated promotes by reference: no job of its own
    assert(!descs.exists(_.contains("_curated")), descs.mkString("; "))
  }

  private val chainTables =
    Seq("offenders", "bookings", "offenders_curated", "bookings_curated", "off_book")

  /** Crashes the batch at the publish of `stage` after letting `lets`
   * of its publishes through, checks that exactly `committed` of the
   * chain's tables hold a version, re-runs the whole batch, and compares
   * every table of the chain with a clean run. */
  private def crashAndReplay(stage: String, lets: Int, committed: Seq[String]): Unit = {
    val (store, dir) = mkStore()
    val (clean, cleanDir) = mkStore()
    val landing = landBatch(store, dir, 5)
    fullBatch(clean, cleanDir, landing)
    val crash: () => Unit = () => throw new IllegalStateException("crash before publish")
    val err = intercept[IllegalStateException] {
      fullBatch(store, dir, landing, arm = s =>
        if (s == stage) store.beforePublish =
          if (lets == 0) crash else () => { store.beforePublish = crash })
    }
    assert(err.getMessage.contains("crash before publish"))
    assert(chainTables.filter(t => store.exists(Db, t)) == committed)
    // the whole batch again: apply finds every event stale, curated and
    // domain rewrite from the committed structured tables
    fullBatch(store, dir, landing)
    chainTables.foreach { t =>
      assert(canon(store.read(Db, t)) == canon(clean.read(Db, t)), t)
    }
    // the domain registers the committed schema, narrowed: the scan's
    // schema narrows to the same catalog columns
    assert(store.catalog(Db, "off_book").schema ==
      Some(DomainRunner.narrowForCatalog(store.read(Db, "off_book").schema)))
    assert(store.catalog(Db, "off_book").schema.get.fieldNames.toSeq.take(4) ==
      Seq("id", "name", "bid", "status"))
  }

  test("a batch that fails at its second curated commit re-runs apply -> curated -> domain to the clean result") {
    // curated runs the applied tables in name order: bookings, offenders
    crashAndReplay("curated", lets = 1,
      committed = Seq("offenders", "bookings", "bookings_curated"))
  }

  test("a batch that fails at its domain commit re-runs apply -> curated -> domain to the clean result") {
    crashAndReplay("domain", lets = 0,
      committed = Seq("offenders", "bookings", "offenders_curated", "bookings_curated"))
  }
}
