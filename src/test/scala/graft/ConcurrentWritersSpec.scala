package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}

/**
 * REAL thread-level contention over the commit CAS ([[MorPropSpec]]
 * model-checks sequential interleavings; this spec races actual
 * threads): four writers with DISJOINT key ranges fire mixed DML
 * (upsert merges, CoW and MoR deletes, updates) at one shared 4-bucket
 * table — disjoint keys, shared buckets, so scoped commits genuinely
 * collide and must rebase or refuse — while a maintenance thread
 * compacts with retry. Pins: with retry-on-refusal, every writer's ops
 * all land; the final table equals the union of each writer's
 * sequential expectation (a writer's semantics are never corrupted by
 * a racing commit — lost updates impossible); the version log is
 * contiguous with one operation stamp per commit; maintenance changed
 * no answer. Two more tests pin each publish site's policy on a lost
 * race, one site at a time under an armed failpoint: refuse, rebase
 * after adjudication, or retry unchanged; the second races a base whose
 * successor vacuum has already expired.
 */
class ConcurrentWritersSpec extends AnyFunSuite with SparkFixture {

  private val Threads = 4
  private val KeysPerThread = 32
  private val OpsPerThread = 6

  private def withRetry[A](what: String)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case _: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > 100) fail(s"$what still refused after $attempt attempts")
          Thread.sleep(10L * scala.util.Random.nextInt(5))
      }
    }
    sys.error("unreachable")
  }

  test("racing writers with disjoint keys: all ops land, answers exact") {
    // a REAL retention window: with vacuumRetentionMs = 0 the
    // pinned-reader promise is explicitly void (a racing vacuum may
    // reclaim a just-renamed dir before its publish lands), which is
    // exactly the out-of-contract configuration for concurrent writers
    val store = new MergeSnapshotStore(spark, new InMemoryCatalog,
      nBuckets = 4, keepVersions = 64, vacuumRetentionMs = 600000L)
    store.catalog.register(TableMeta("cdb", "t",
      Files.createTempDirectory("graft-race").toString,
      primaryKey = Seq("id")))
    import spark.implicits._
    val keys = (0 until Threads * KeysPerThread).map(_.toLong)
    store.overwrite("cdb", "t",
      keys.map(k => (k, k)).toDF("id", "v"))

    // each thread's model: its own keys only (None = deleted)
    def runWriter(t: Int): Map[Long, Long] = {
      val rnd = new scala.util.Random(42 + t)
      val base = t.toLong * KeysPerThread
      val model = scala.collection.mutable.Map[Long, Long](
        (base until base + KeysPerThread).map(k => k -> k): _*)
      (0 until OpsPerThread).foreach { i =>
        rnd.nextInt(4) match {
          case 0 => // upsert merge: bump some keys, insert a fresh one
            val bump = model.keys.toSeq.sorted.take(4)
            val fresh = base + 1000L + i
            val rows = (bump.map(k => (k, model(k) + 100L)) :+
              ((fresh, fresh))).toDF("id", "v")
            withRetry(s"t$t merge $i") {
              store.mergeScoped("cdb", "t", rows.select("id")) { old =>
                old.join(rows.withColumnRenamed("v", "__nv"),
                    Seq("id"), "full_outer")
                  .select(col("id"),
                    coalesce(col("__nv"), col("v")).as("v"))
              }
            }
            bump.foreach(k => model(k) = model(k) + 100L)
            model(fresh) = fresh
          case 1 => // CoW point delete
            model.keys.toSeq.sorted.headOption.foreach { k =>
              withRetry(s"t$t cow-del $i") {
                store.deleteWhere("cdb", "t", col("id") === k)
              }
              model.remove(k)
            }
          case 2 => // MoR point delete (sidecar rides reads)
            model.keys.toSeq.sorted.lastOption.foreach { k =>
              withRetry(s"t$t mor-del $i") {
                store.deleteWhere("cdb", "t", col("id") === k,
                  MergeSnapshotStore.MergeOnRead)
              }
              model.remove(k)
            }
          case 3 => // guarded update
            val tgt = model.keys.toSeq.sorted.drop(2).headOption
            tgt.foreach { k =>
              withRetry(s"t$t update $i") {
                store.updateWhere("cdb", "t", col("id") === k,
                  Map("v" -> lit(-k)))
              }
              model(k) = -k
            }
        }
      }
      model.toMap
    }

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintainer = new Thread(() => {
      while (!stop.get()) {
        try store.compact("cdb", "t", targetFiles = 2)
        catch {
          case _: java.util.ConcurrentModificationException => ()
          case scala.util.control.NonFatal(_) => ()
        }
        Thread.sleep(50)
      }
    })
    maintainer.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val models =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          (0 until Threads).map(t => scala.concurrent.Future(runWriter(t)))),
        scala.concurrent.duration.Duration(600, "s"))
      finally { stop.set(true); maintainer.join(); pool.shutdown() }

    val want = models.flatten.toMap
    val got = store.read("cdb", "t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want,
      s"racing writers corrupted the table: missing=${
        (want.keySet -- got.keySet).toSeq.sorted.take(8)}, stray=${
        (got.keySet -- want.keySet).toSeq.sorted.take(8)}, diffVals=${
        want.keySet.intersect(got.keySet)
          .filter(k => want(k) != got(k)).toSeq.sorted.take(8)}")

    // the version log is contiguous and every commit stamped exactly once
    val hist = store.history("cdb", "t").orderBy("version").collect()
    val versions = hist.map(_.getInt(0)).toSeq
    assert(versions == (versions.head to versions.last),
      s"version log has gaps: $versions")
    assert(hist.forall(_.getString(1) != "unknown"))
  }

  test("every publish site's lost race: refuse, rebase after adjudication, or retry unchanged") {
    raceMatrix(keepVersions = 64, commits = 1)
  }

  test("a base older than keepVersions loses its race instead of landing below the head") {
    raceMatrix(keepVersions = 2, commits = 3)
  }

  /** Each publish site under a `beforePublish` failpoint that commits
   * `commits` competing versions. With `commits > keepVersions` the
   * competitor's vacuum has expired the version after the site's base
   * by the time it publishes, so a publish that only CASes base + 1
   * would land below the head and report success. */
  private def raceMatrix(keepVersions: Int, commits: Int): Unit = {
    import spark.implicits._
    val Db = "rdb"
    val store = new MergeSnapshotStore(spark, new InMemoryCatalog,
      nBuckets = 4, keepVersions = keepVersions, vacuumRetentionMs = 600000L)
    val root = Files.createTempDirectory("graft-race-matrix").toString
    val base = spark.range(64).select(col("id"), col("id").as("v"),
      col("id").cast("int").as("w"), concat(lit("c"), col("id")).as("c"))
    val bucket = spark.range(200).select(col("id"), store.bucketOf(col("id")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // `mine` is the key a site commits to, `same` another key of its
    // bucket, `other` a key of another bucket, `fresh` a new key of
    // mine's bucket
    val mine = 5L
    val same = (0L until 64L).find(k => k != mine && bucket(k) == bucket(mine)).get
    val other = (0L until 64L).find(k => bucket(k) != bucket(mine)).get
    val fresh = (64L until 200L).find(k => bucket(k) == bucket(mine)).get
    def rows(t: String): Map[Long, Long] =
      store.read(Db, t).select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def files(t: String): Seq[String] = store.fileHealth(Db, t, "v").map(_.file)
    val mor = MergeSnapshotStore.MergeOnRead
    // the promote site's source: the rows an overwrite ×10 would write
    store.catalog.register(TableMeta(Db, "promoted", s"$root/promoted",
      primaryKey = Seq("id")))
    store.overwrite(Db, "promoted", base.withColumn("v", col("v") * 10))

    // one publish site: `call` is re-runnable (it reads what it needs
    // from the current snapshot), `effect` is what it does to the
    // (id -> v) rows, `op` the operation it stamps in history; a
    // `metaCompetitor` races ADD COLUMNs instead of updates of one
    // key (PK-less tables hold one bucket, and rebucket flips the
    // table's bucket count before it publishes)
    case class Site(name: String, op: String, policy: String,
                    call: String => Unit,
                    effect: Map[Long, Long] => Map[Long, Long] = identity,
                    keyed: Boolean = true,
                    prep: String => Unit = _ => (),
                    metaCompetitor: Boolean = false)
    val sites = Seq(
      Site("merge", "merge", "rebase",
        t => store.mergeScoped(Db, t, Seq(mine).toDF("id")) { old =>
          old.withColumn("v", when(col("id") === mine, lit(1000L)).otherwise(col("v")))
        }, _ + (mine -> 1000L)),
      Site("cow delete", "delete", "rebase",
        t => store.deleteWhere(Db, t, col("id") === mine), _ - mine),
      Site("update", "update", "rebase",
        t => store.updateWhere(Db, t, col("id") === mine, Map("v" -> lit(1000L))),
        _ + (mine -> 1000L)),
      Site("insert", "merge", "rebase",
        t => store.insertInto(Db, t,
          Seq((fresh, fresh, fresh.toInt, s"c$fresh")).toDF("id", "v", "w", "c")),
        _ + (fresh -> fresh)),
      Site("bucket compaction", "compact-buckets", "rebase",
        t => store.compactBucketsClustered(Db, t, Seq("v" -> None), 2, Seq(bucket(mine)))),
      Site("keyed debt fold", "debt-fold", "rebase",
        t => store.compactDebt(Db, t),
        prep = t => store.deleteWhere(Db, t, col("id") === mine, mor)),
      Site("mor delete", "delete-mor", "rebase",
        t => store.deleteWhere(Db, t, col("id") === mine, mor), _ - mine),
      Site("overwrite", "overwrite", "last-wins",
        t => store.overwrite(Db, t, base.withColumn("v", col("v") * 10)),
        _ => (0L until 64L).map(k => k -> k * 10).toMap),
      Site("promote", s"promote($Db.promoted@0)", "last-wins",
        t => store.promote(Db, "promoted", Db, t),
        _ => (0L until 64L).map(k => k -> k * 10).toMap),
      Site("compact", "compact", "refuse", t => store.compact(Db, t, 1)),
      Site("clustered compaction", "compact-clustered", "refuse",
        t => store.compactClustered(Db, t, Seq("v" -> None), 2)),
      Site("rebucket", "rebucket", "refuse", t => store.rebucket(Db, t, 8),
        metaCompetitor = true),
      Site("dead-sidecar clear", "debt-clear", "refuse",
        t => store.compactDebt(Db, t),
        // the sidecar's only key bucket is rewritten after it: dead,
        // while older buckets keep it in the manifest
        prep = t => {
          store.deleteWhere(Db, t, col("id") === mine, mor)
          store.mergeScoped(Db, t, Seq(same).toDF("id"))(identity)
        }),
      Site("pk-less file compaction", "compact-files", "refuse",
        t => store.compactFilesClustered(Db, t, Seq("v" -> None), 2, files(t)),
        keyed = false, metaCompetitor = true),
      Site("pk-less debt fold", "debt-fold", "refuse",
        t => store.compactDebt(Db, t), keyed = false,
        prep = t => store.deleteWhere(Db, t, col("id") === mine, mor),
        metaCompetitor = true),
      Site("rename", "rename(c->c2)", "refuse",
        t => store.renameColumn(Db, t, "c", "c2")),
      Site("pk rename", "rename-pk(id->key)", "refuse",
        t => store.renamePrimaryKeyColumn(Db, t, "id", "key")),
      Site("drop", "drop(c)", "refuse", t => store.dropColumn(Db, t, "c")),
      Site("add", "add(n bigint)", "refuse",
        t => store.addColumn(Db, t, "n", org.apache.spark.sql.types.LongType)),
      Site("widen", "widen(w int->bigint)", "refuse",
        t => store.alterColumnType(Db, t, "w", org.apache.spark.sql.types.LongType)),
      Site("restore", "restore(v=0)", "refuse", t => store.restore(Db, t, 0),
        prep = t => store.updateWhere(Db, t, col("id") === mine, Map("v" -> lit(7L)))))

    var n = 0
    sites.foreach { s =>
      val competitors = if (s.policy == "rebase") Seq(other, same) else Seq(other)
      competitors.foreach { k =>
        n += 1
        val t = s"t$n"
        val what = s"${s.name} racing a commit to key $k"
        store.catalog.register(TableMeta(Db, t, s"$root/$t",
          primaryKey = if (s.keyed) Seq("id") else Nil))
        store.overwrite(Db, t, base)
        s.prep(t)
        val before = rows(t)
        val cols = store.read(Db, t).columns.toSeq
        val extras = (1 to commits).map(i => if (i == 1) "extra" else s"extra$i")
        val readVer = store.latestVersion(Db, t)
        var compVer = -1
        store.beforePublish = () => {
          extras.foreach { x =>
            if (s.metaCompetitor)
              store.addColumn(Db, t, x, org.apache.spark.sql.types.LongType)
            else store.updateWhere(Db, t, col("id") === k, Map("v" -> lit(-k)))
          }
          compVer = store.latestVersion(Db, t)
        }
        val competed = if (s.metaCompetitor) before else before + (k -> -k)
        if (s.policy == "refuse" || k == same) {
          intercept[java.util.ConcurrentModificationException](s.call(t))
          assert(compVer >= 0 && store.latestVersion(Db, t) == compVer, what)
          assert(rows(t) == competed, what)
          assert(store.read(Db, t).columns.toSeq ==
            (if (s.metaCompetitor) cols ++ extras else cols), what)
          assert(store.catalog(Db, t).primaryKey == (if (s.keyed) Seq("id") else Nil), what)
        }
        // a refused site's documented recovery: re-run against the new
        // snapshot; it then lands like every other site (restore's
        // target has expired once the competitor outran keepVersions)
        val rerun = s.policy == "refuse" &&
          (s.name != "restore" || commits < keepVersions)
        if (s.policy == "refuse") { if (rerun) s.call(t) }
        else if (k == other) {
          s.call(t)
          assert(compVer >= 0 && store.latestVersion(Db, t) == compVer + 1, what)
          assert(rows(t) == s.effect(competed), what)
        }
        assert(compVer == readVer + commits, s"$what: competitor landed at $compVer")
        if (k == other && (s.policy != "refuse" || rerun)) {
          val head = store.history(Db, t).orderBy(col("version").desc).head()
          assert(head.getInt(0) == compVer + 1 && head.getString(1) == s.op &&
            !head.isNullAt(2), s"$what: history head $head")
        }
      }
    }
  }
}
