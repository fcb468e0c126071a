package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.GgLogsToParquet._

/**
 * Golden-value parity with the reference's ingest tests
 * (tests/test_1_gg_logs_to_parquet.py). The Murmur3 struct hashes must be
 * bit-exact — they prove `functions.hash` + Spark 4 JSON inference
 * reproduce what PySpark 3.3 computed. (The `updates` fixture file is
 * absent from the reference checkout — .MISSING_LARGE_BLOBS — so its
 * asserts are reproduced from the landing parquet in ChangeLogApplierSpec.)
 */
class IngestSpec extends AnyFunSuite with SparkFixture {
  private def jsonRoot = refData("kinesis/transac/json/oms_owner/offenders")

  private lazy val inserts = withHashesDropTokens(spark.read.json(s"$jsonRoot/inserts"))
  private lazy val deletes = withHashesDropTokens(spark.read.json(s"$jsonRoot/deletes"))
  private lazy val base = withHashesDropTokens(spark.read.json(s"$jsonRoot/base"))

  test("golden murmur3 hash of after image (insert, offender 150)") {
    val got = inserts.filter(col("after.offender_id") === 150)
      .select("after_hash").collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(-1007943897))
  }

  test("golden murmur3 hash of before image (delete, offender 140)") {
    val got = deletes.filter(col("before.offender_id") === 140)
      .select("before_hash").collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(-852450643))
  }

  test("tokens dropped, hash columns added") {
    assert(!inserts.columns.contains("tokens"))
    assert(inserts.columns.contains("after_hash"))
    assert(deletes.columns.contains("before_hash"))
  }

  test("ragged unionByName preserves all rows (base+inserts+deletes)") {
    val u = unionRagged(Seq(inserts, deletes, base))
    assert(u.count() == inserts.count() + deletes.count() + base.count())
    assert(u.count() == 19 + 1942 + 9) // file object counts (updates fixture is absent)
  }

  test("golden part_date derivation from op_ts") {
    val parts = withPartitions(unionRagged(Seq(inserts, deletes)))
    val i150 = parts.filter(col("after.offender_id") === 150 && col("op_type") === "I")
      .select("part_date").collect().head.getDate(0)
    assert(i150 == Date.valueOf("2022-09-07"))
    val d139 = parts.filter(col("before.offender_id") === 139 && col("op_type") === "D")
      .select("part_date").collect().head.getDate(0)
    assert(d139 == Date.valueOf("2022-09-19"))
  }

  test("stage-1 run registers the landed schema in the catalog") {
    import java.nio.file.Files
    import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
    val cat = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, cat)
    val loc = Files.createTempDirectory("graft-landing-reg").toString
    cat.register(TableMeta("idb", "landing", loc, partitionBy = PartitionBy))
    graft.ingest.GgLogsToParquet.run(spark, store, s"$jsonRoot/inserts", "idb", "landing")
    val registered = cat("idb", "landing").schema
    assert(registered.isDefined, "ingest must register the landing schema")
    val names = registered.get.fieldNames.map(_.toLowerCase).toSet
    assert(Set("after_hash", "part_date", "table").subsetOf(names))
    assert(!names.contains("tokens"))
    assert(store.readFlat("idb", "landing").count() == inserts.count())
  }

  test("landing appends register the union of their schemas; readFlat reads with it") {
    import java.nio.file.Files
    import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
    val cat = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, cat)
    val dir = Files.createTempDirectory("graft-landing-union").toString
    cat.register(TableMeta("idb", "union", s"$dir/landing", partitionBy = PartitionBy))
    def land(name: String, json: Seq[String]): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(s"$dir/$name"))
      Files.write(java.nio.file.Paths.get(s"$dir/$name/part.json"),
        json.mkString("\n").getBytes("UTF-8"))
      graft.ingest.GgLogsToParquet.run(spark, store, s"$dir/$name", "idb", "union")
    }
    val ts = "2022-09-26 14:57:13.817732"
    // a delete batch (before images only), then an insert-only batch
    land("d", Seq(s"""{"table":"S.T","op_type":"D","op_ts":"$ts","pos":"1","before":{"ID":1}}"""))
    land("i", Seq(s"""{"table":"S.T","op_type":"I","op_ts":"$ts","pos":"2","after":{"ID":2,"NAME":"n"}}"""))
    val registered = cat("idb", "union").schema.get
    assert(Set("before", "after", "before_hash", "after_hash")
      .subsetOf(registered.fieldNames.toSet), registered)
    val back = store.readFlat("idb", "union")
    assert(back.schema.fieldNames.toSet == registered.fieldNames.toSet)
    assert(back.filter(col("op_type") === "D").select("before.ID").head().getLong(0) == 1L)
    assert(back.filter(col("op_type") === "I").select("after.NAME").head().getString(0) == "n")
    // a batch whose image field changes type cannot be unioned: the
    // registration drops the schema and readers infer it again
    land("x", Seq(s"""{"table":"S.T","op_type":"I","op_ts":"$ts","pos":"3","after":{"ID":"x"}}"""))
    assert(cat("idb", "union").schema.isEmpty)
    // and an unknown schema stays unknown over data already landed
    land("y", Seq(s"""{"table":"S.T","op_type":"I","op_ts":"$ts","pos":"4","after":{"ID":4}}"""))
    assert(cat("idb", "union").schema.isEmpty)
  }

  test("table-partitioned landing: a per-table filter scans only that table's files") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
    import graft.operators.ChangeLogApplier

    val cat = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, cat)
    val loc = Files.createTempDirectory("graft-landing").toString
    cat.register(TableMeta("idb", "raw_events", loc, partitionBy = PartitionBy))
    // two source tables land in one zone
    val twoTables = unionRagged(Seq(inserts, deletes))
      .withColumn("table",
        when(col("op_type") === "I", lit("OMS_OWNER.OFFENDERS"))
          .otherwise(lit("OMS_OWNER.OFFENDER_BOOKINGS")))
    store.appendPartitioned("idb", "raw_events", withPartitions(twoTables))

    val landed = store.readFlat("idb", "raw_events")
    assert(ChangeLogApplier.prunesByTable(landed),
      "table-partitioned landing read should be recognized as prunable")
    assert(!ChangeLogApplier.prunesByTable(twoTables),
      "an in-memory/raw frame is not prunable")

    val one = landed.filter(col("table") === "OMS_OWNER.OFFENDERS")
    assert(one.count() == inserts.count())
    val scans = one.queryExecution.executedPlan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect { case s: FileSourceScanExec => s }
      case s: FileSourceScanExec => Seq(s)
    }.flatten
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val files = s.selectedPartitions.toPartitionArray.map(_.urlEncodedPath).toSeq
      assert(files.nonEmpty && files.forall(_.contains("table=OMS_OWNER.OFFENDERS")),
        s"scan read files outside the filtered table partition: $files")
    }
  }
}
