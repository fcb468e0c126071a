package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
import graft.model.CdcModel
import graft.operators.ChangeLogApplier._

/**
 * Property-style tests for the CDC fold (SURVEY §5 plan): against randomly
 * generated event logs (seeded — reproducible), the fold must (a) agree
 * with an independent in-JVM reference model, (b) agree with the last-wins
 * fast path, and (c) be invariant to input row order (it sorts by pos).
 * The decided last-wins merge (`mergeLastWins`) must commit exactly what
 * a scoped merge of `applyLastWins` commits.
 */
class CdcFoldPropSpec extends AnyFunSuite with SparkFixture {

  private val tSchema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType)) ++ CdcModel.adminFields)
  private val payload = StructType(Seq(
    StructField("ID", IntegerType), StructField("NAME", StringType)))
  private val evSchema = StructType(Seq(
    StructField("table", StringType), StructField("op_type", StringType),
    StructField("op_ts", StringType), StructField("pos", StringType),
    StructField("before", payload), StructField("after", payload),
    StructField("after_hash", IntegerType), StructField("before_hash", IntegerType)))

  private def mkTarget(rows: Seq[(Int, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, nm) => Row(id, nm, 0, "0" * 20, null, null) }), tSchema)

  private def mkEvents(evs: Seq[(Int, String, String, Int)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      evs.map { case (id, nm, op, pos) =>
        val img = Row(id, nm)
        Row("S.T", op, "2022-09-26 14:57:13.817732", f"$pos%020d",
          if (op == "I") null else img, if (op == "D") null else img, 0, 0)
      }), evSchema)

  private def foldResult(t: DataFrame, e: DataFrame): Map[Int, String] =
    applyFold(t, mapEvents(e, tSchema), "id", chainVerified = false)
      .select("id", "name").collect().map(r => r.getInt(0) -> r.getString(1)).toMap

  /** reference model: the last event per key (pos order) decides — exact
   * for no-chain mode, including seeded new keys. */
  private def lastOpModel(target: Seq[(Int, String)],
                          evs: Seq[(Int, String, String, Int)]): Map[Int, String] = {
    val byKey = evs.groupBy(_._1)
    (target.map(_._1) ++ evs.map(_._1)).distinct.flatMap { id =>
      byKey.get(id) match {
        case None => target.find(_._1 == id).map(id -> _._2)
        case Some(ks) =>
          val last = ks.maxBy(_._4)
          if (last._3 == "D") None else Some(id -> last._2)
      }
    }.toMap
  }

  test("fold matches the reference model on 10 random seeded logs") {
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed)
      val target = (1 to 5).filter(_ => rnd.nextBoolean()).map(i => i -> s"t$i")
      var pos = 0
      val evs = (1 to 8).flatMap { id =>
        (0 until rnd.nextInt(4)).map { _ =>
          pos += 1
          (id, s"v$pos", Seq("I", "U", "D")(rnd.nextInt(3)), pos)
        }
      }
      val got = foldResult(mkTarget(target), mkEvents(evs))
      assert(got == lastOpModel(target, evs), s"seed=$seed target=$target evs=$evs")
    }
  }

  test("scalacheck: fold matches the model on arbitrary generated logs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genEvents: Gen[List[(Int, String, String, Int)]] = for {
      n <- Gen.choose(0, 10)
      ids <- Gen.listOfN(n, Gen.choose(1, 6))
      ops <- Gen.listOfN(n, Gen.oneOf("I", "U", "D"))
    } yield ids.zip(ops).zipWithIndex.map { case ((id, op), i) =>
      (id, s"v${i + 1}", op, i + 1)
    }
    val genTarget: Gen[Seq[(Int, String)]] =
      Gen.someOf(1 to 5).map(_.map(i => i -> s"t$i").toSeq)
    val prop = Prop.forAll(genTarget, genEvents) { (target, evs) =>
      foldResult(mkTarget(target), mkEvents(evs)) == lastOpModel(target, evs)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("fold is invariant to input row order (it sorts by pos)") {
    val rnd = new Random(99)
    val target = Seq(1 -> "a", 2 -> "b")
    val evs = Seq((1, "x", "U", 3), (1, "y", "U", 1), (2, "z", "D", 2),
      (7, "n", "I", 4), (7, "m", "U", 5))
    val a = foldResult(mkTarget(target), mkEvents(evs))
    val b = foldResult(mkTarget(target), mkEvents(rnd.shuffle(evs)))
    assert(a == b)
    assert(a == Map(1 -> "x", 7 -> "m"))
  }

  test("fold and last-wins fast path agree on random logs") {
    (1 to 5).foreach { seed =>
      val rnd = new Random(100 + seed)
      val target = (1 to 4).map(i => i -> s"t$i")
      var pos = 0
      val evs = (1 to 6).flatMap { id =>
        (0 until rnd.nextInt(3)).map { _ =>
          pos += 1
          (id, s"v$pos", Seq("I", "U", "D")(rnd.nextInt(3)), pos)
        }
      }
      val t = mkTarget(target)
      val e = mkEvents(evs)
      val mapped = mapEvents(e, tSchema)
      val fold = applyFold(t, mapped, "id", chainVerified = false)
        .select("id", "name").collect().map(r => (r.getInt(0), r.getString(1))).toSet
      val fast = applyLastWins(t, mapped, "id")
        .select("id", "name").collect().map(r => (r.getInt(0), r.getString(1))).toSet
      assert(fold == fast, s"seed=$seed evs=$evs")
    }
  }

  // ---- the decided last-wins merge against applyLastWins

  /** Commits `events` into two copies of `target` in one store — one
   * through `mergeLastWins`, one through `mergeScoped` with
   * `applyLastWins` — and returns both committed tables (without
   * admin_event_ts: each commit stamps its own time) and the labels of
   * the jobs the decided merge ran. */
  private def bothPaths(target: DataFrame, events: DataFrame, pks: Seq[String])
      : (Seq[String], Seq[String], Seq[String]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-decided").toString
    val cat = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, cat, nBuckets = 4)
    Seq("inline", "reference").foreach { t =>
      cat.register(TableMeta("pdb", t, s"$dir/$t", primaryKey = pks))
      store.overwrite("pdb", t, target)
    }
    val mapped = mapEvents(events, store.committedSchema("pdb", "inline"))
    val (_, jobs) = JobRecorder.during(spark) {
      mergeLastWins(store, "pdb", "inline", mapped, pks)
    }
    store.mergeScoped("pdb", "reference", mapped.selectExpr(pks: _*)) { old =>
      applyLastWins(old, mapped, pks)
    }
    def rows(t: String) = store.read("pdb", t).drop(CdcModel.AdminEventTs)
      .collect().map(_.toString).toSeq.sorted
    (rows("inline"), rows("reference"), jobs.map(_.desc))
  }

  private val posTSchema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType)) ++ CdcModel.adminFields)

  /** A random seeded log over ids 1..8 plus NULL, against a target whose
   * rows hold random applied positions: events below a row's position
   * are stale, some events are replayed verbatim, and D-then-I runs
   * occur by chance. */
  private def randomCase(seed: Int): (DataFrame, DataFrame) = {
    val rnd = new Random(seed)
    val ids: Seq[Integer] = (1 to 8).map(Int.box) :+ null
    val target = ids.filter(_ => rnd.nextBoolean()).map(id =>
      Row(id, s"t$id", 0, f"${rnd.nextInt(30)}%020d", null, null))
    var pos = 0
    val fresh = (1 to 30).map { _ =>
      pos += 1 + rnd.nextInt(2)
      val id = ids(rnd.nextInt(ids.size))
      val op = Seq("I", "U", "D")(rnd.nextInt(3))
      val img = Row(id, s"v$pos")
      Row("S.T", op, "2022-09-26 14:57:13.817732", f"$pos%020d",
        if (op == "I") null else img, if (op == "D") null else img, 0, 0)
    }
    val replayed = fresh.filter(_ => rnd.nextInt(5) == 0)
    val events = rnd.shuffle(fresh ++ replayed)
    (spark.createDataFrame(spark.sparkContext.parallelize(target, 2), posTSchema),
      spark.createDataFrame(spark.sparkContext.parallelize(events, 2), evSchema))
  }

  test("decided merge commits what applyLastWins commits: stale, replayed, D-then-I, null keys") {
    (1 to 6).foreach { seed =>
      val (t, e) = randomCase(seed)
      val (inline, reference, jobs) = bothPaths(t, e, Seq("id"))
      assert(inline == reference, s"seed=$seed")
      assert(jobs.exists(_.endsWith(" guard")), s"seed=$seed took no decided path: $jobs")
    }
  }

  test("decided merge on composite keys and on a target without admin_gg_pos") {
    val rnd = new Random(7)
    val cSchema = StructType(Seq(StructField("id", IntegerType),
      StructField("sub", StringType), StructField("name", StringType)) ++
      CdcModel.adminFields)
    val cPayload = StructType(Seq(StructField("ID", IntegerType),
      StructField("SUB", StringType), StructField("NAME", StringType)))
    val cEv = StructType(evSchema.fields.map {
      case f if f.name == "before" || f.name == "after" => f.copy(dataType = cPayload)
      case f => f
    })
    val subs = Seq("a", "b", null)
    val target = for (id <- 1 to 4; sub <- subs.take(2) if rnd.nextBoolean())
      yield Row(id, sub, s"t$id$sub", 0, f"${rnd.nextInt(20)}%020d", null, null)
    val events = (1 to 40).map { p =>
      val op = Seq("I", "U", "D")(rnd.nextInt(3))
      val img = Row(1 + rnd.nextInt(5), subs(rnd.nextInt(3)), s"v$p")
      Row("S.T", op, "2022-09-26 14:57:13.817732", f"$p%020d",
        if (op == "I") null else img, if (op == "D") null else img, 0, 0)
    }
    val tDf = spark.createDataFrame(spark.sparkContext.parallelize(target, 2), cSchema)
    val eDf = spark.createDataFrame(spark.sparkContext.parallelize(events, 2), cEv)
    val (inline, reference, jobs) = bothPaths(tDf, eDf, Seq("id", "sub"))
    assert(inline == reference)
    assert(jobs.exists(_.endsWith(" guard")))

    // no applied positions to guard against: every last event applies
    val (t, e) = randomCase(11)
    val noPos = t.drop(CdcModel.AdminGgPos)
    val (i2, r2, jobs2) = bothPaths(noPos, e, Seq("id"))
    assert(i2 == r2)
    assert(jobs2.exists(_.endsWith(" decide")) && !jobs2.exists(_.endsWith(" guard")))
  }

  test("a batch of 10 001 distinct keys takes the applyLastWins fallback, same result") {
    val n = MergeSnapshotStore.MaxInlineKeys + 1
    val target = mkTarget((1 to 50).map(i => i -> s"t$i"))
    val events = mkEvents((1 to n).map(i => (i, s"v$i", if (i % 7 == 0) "D" else "I", i)))
    val (inline, reference, jobs) = bothPaths(target, events, Seq("id"))
    assert(inline.size == n - n / 7)
    assert(inline == reference)
    assert(!jobs.exists(_.endsWith(" guard")), jobs)
    assert(jobs.exists(_.endsWith(" scan")), jobs)
  }
}
