package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.CdcModel
import graft.operators.ChangeLogApplier._

/**
 * CDC-merge parity with the reference (tests/test_2_apply_change_log_delta
 * .py golden asserts, run on the checked-in landing parquet: 3,897 events
 * over 1,951 keys against the 19-row offenders bootstrap), plus unit
 * semantics for the chain-verified fold (dev/_read_delta_table.py:343-369).
 */
class ChangeLogApplierSpec extends AnyFunSuite with SparkFixture {
  private lazy val events =
    spark.read.parquet(refData("kinesis/transac/parquet/oms_owner/offenders"))
  private lazy val target =
    spark.read.parquet(refData("database/oms_owner/offenders"))
  private lazy val mapped = mapEvents(events, target.schema)

  test("merge schema = target + 4 transient fields (reference expects 55)") {
    assert(mapped.schema.length == target.schema.length + 4)
    assert(mapped.schema.length == 55)
  }

  test("golden mapper output: offender 149's U event maps last_name=Lightfoot") {
    val got = mapped.filter(col("offender_id") === 149 && col("event_type") === "U")
      .select("last_name").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("Lightfoot"))
  }

  test("golden distinct key count (1951)") {
    assert(mapped.select("offender_id").distinct().count() == 1951)
  }

  test("conservation: untouched + touched = target") {
    val keys = mapped.select("offender_id").distinct()
    val consider = target.join(keys, Seq("offender_id"), "left_semi").count()
    val remain = target.join(keys, Seq("offender_id"), "left_anti").count()
    assert(consider + remain == target.count())
  }

  test("golden end state: offender 144's last event is D, so it is dropped") {
    val out = applyTable(target, events, "offender_id")
    assert(out.filter(col("offender_id") === 144).count() == 0)
    // reference keeps only final-action U/I rows plus untouched ones
    assert(out.count() > 0)
  }

  test("fold (no-chain) and last-wins fast path agree on the full fixture") {
    val a = applyLastWins(target, mapped, "offender_id")
      .drop(CdcModel.AdminEventTs)
    val b = applyFold(target, mapped, "offender_id", chainVerified = false)
      .drop(CdcModel.AdminEventTs)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  // ---- chain-verified unit semantics on tiny synthetic data ----

  private val tSchema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType)) ++ CdcModel.adminFields)

  private def targetRow(id: Int, name: String, h: Int): Row =
    Row(id, name, h, "0" * 20, null, null)

  private def mkTarget(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), tSchema)

  /** events in envelope form -> through the real expression mapper */
  private def mkEvents(evs: (Int, String, String, String, Int, Int)*): DataFrame = {
    // (id, name, opType, pos, afterHash, beforeHash)
    val payload = StructType(Seq(
      StructField("ID", IntegerType), StructField("NAME", StringType)))
    val schema = StructType(Seq(
      StructField("table", StringType), StructField("op_type", StringType),
      StructField("op_ts", StringType), StructField("current_ts", StringType),
      StructField("pos", StringType),
      StructField("before", payload), StructField("after", payload),
      StructField("after_hash", IntegerType), StructField("before_hash", IntegerType)))
    val rows = evs.map { case (id, name, op, pos, ah, bh) =>
      val img = Row(id, name)
      Row("S.T", op, "2022-09-26 14:57:13.817732", "2022-09-26 15:00:00.000000",
        pos, if (op == "I") null else img, if (op == "D") null else img, ah, bh)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
  }

  test("chain-verified: matching previous_hash applies, mismatch is skipped") {
    val t = mkTarget(targetRow(1, "old", 100), targetRow(2, "keep", 200))
    val ev = mkEvents(
      (1, "new", "U", "00000000000000000001", 101, 100), // chain ok
      (2, "bad", "U", "00000000000000000002", 201, 999)) // chain broken
    val out = applyFold(t, mapEvents(ev, tSchema), "id", chainVerified = true)
      .select("id", "name").collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(out(1) == "new")
    assert(out(2) == "keep") // unapplied event leaves row as-is
  }

  test("chain-verified: D then I resurrects the row as U") {
    val t = mkTarget(targetRow(1, "alive", 100))
    val ev = mkEvents(
      (1, "alive", "D", "00000000000000000001", 100, 100),
      (1, "back", "I", "00000000000000000002", 102, 100))
    val out = applyFold(t, mapEvents(ev, tSchema), "id", chainVerified = true)
    val rows = out.select("id", "name").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "back")))
  }

  test("chain-verified: I on a live row is a no-op (reference dev semantics)") {
    val t = mkTarget(targetRow(1, "alive", 100))
    val ev = mkEvents((1, "dupe", "I", "00000000000000000001", 101, 100))
    val out = applyFold(t, mapEvents(ev, tSchema), "id", chainVerified = true)
      .select("name").collect().map(_.getString(0)).toSeq
    assert(out == Seq("alive"))
  }

  test("no-chain: events fold in pos order, last wins; new key via I") {
    val t = mkTarget(targetRow(1, "old", 100))
    val ev = mkEvents(
      (1, "mid", "U", "00000000000000000002", 1, 0),
      (1, "last", "U", "00000000000000000003", 2, 1),
      (9, "fresh", "I", "00000000000000000001", 3, 0))
    val out = applyFold(t, mapEvents(ev, tSchema), "id", chainVerified = false)
      .select("id", "name").collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(out == Map(1 -> "last", 9 -> "fresh"))
  }

  test("mapEvents handles insert-only logs (no before/before_hash columns)") {
    val insertOnly = events.filter(col("op_type") === "I")
      .drop("before", "before_hash")
    val m = mapEvents(insertOnly, target.schema)
    assert(m.count() > 0)
    assert(m.filter(col(CdcModel.PreviousHash).isNotNull).count() == 0)
    // business fields still map from the after image
    assert(m.filter(col("last_name").isNull).count() == 0)
  }

  test("stale events at or below the applied pos never regress the row") {
    val tHigh = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1, "current", 100, f"${10}%020d", null, null))), tSchema)
    // a replayed/out-of-order batch: one event BELOW the applied pos, one above
    val both = mkEvents(
      (1, "old", "U", "00000000000000000005", 101, 100),
      (1, "newer", "U", "00000000000000000011", 102, 101))
    val lw = applyLastWins(tHigh, mapEvents(both, tSchema), "id")
      .select("name").collect().map(_.getString(0)).toSeq
    assert(lw == Seq("newer"))
    val fold = applyFold(tHigh, mapEvents(both, tSchema), "id", chainVerified = false)
      .select("name").collect().map(_.getString(0)).toSeq
    assert(fold == Seq("newer"))
    // only the stale event: the row must stay untouched (not regress, not drop)
    val staleOnly = mkEvents((1, "old", "U", "00000000000000000005", 101, 100))
    val lw2 = applyLastWins(tHigh, mapEvents(staleOnly, tSchema), "id")
      .select("name").collect().map(_.getString(0)).toSeq
    assert(lw2 == Seq("current"))
    val fold2 = applyFold(tHigh, mapEvents(staleOnly, tSchema), "id",
      chainVerified = false).select("name").collect().map(_.getString(0)).toSeq
    assert(fold2 == Seq("current"))
  }

  test("fold: null PK groups apart from empty-string PK") {
    val sSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType)) ++ CdcModel.adminFields)
    val t = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("", "emptykey", 100, "0" * 20, null, null))), sSchema)
    val payload = StructType(Seq(
      StructField("ID", StringType), StructField("NAME", StringType)))
    val evSchema = StructType(Seq(
      StructField("table", StringType), StructField("op_type", StringType),
      StructField("op_ts", StringType), StructField("pos", StringType),
      StructField("before", payload), StructField("after", payload),
      StructField("after_hash", IntegerType), StructField("before_hash", IntegerType)))
    // a D event whose PK is null must NOT delete the empty-string-keyed row
    val ev = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("S.T", "D", "2022-09-26 14:57:13.817732", "00000000000000000001",
        Row(null, "ghost"), null, 1, 1))), evSchema)
    val out = applyFold(t, mapEvents(ev, sSchema), "id", chainVerified = false)
      .select("id", "name").collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("", "emptykey")))
  }

  test("no-chain: delete of a never-seen key yields nothing") {
    val t = mkTarget(targetRow(1, "old", 100))
    val ev = mkEvents((7, "ghost", "D", "00000000000000000001", 0, 70))
    val out = applyFold(t, mapEvents(ev, tSchema), "id", chainVerified = false)
    assert(out.select("id").collect().map(_.getInt(0)).toSeq == Seq(1))
  }
}
