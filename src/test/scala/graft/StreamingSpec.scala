package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, MergeSnapshotStore, TableMeta}
import graft.ingest.GgLogsToParquet
import graft.operators.{ChangeLogApplier, TextAnalysis}
import graft.streaming.{StreamEvent, StreamingAnalytics, StreamingIngest}

/**
 * Structured-Streaming front-end: micro-batch runs of the unchanged batch
 * operators must produce the batch answers (SURVEY §2.11 design), plus
 * watermarked windowing and custom sessionization state.
 */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  test("streaming ingest lands exactly the batch ingest result") {
    val raw = refData("kinesis/transac/json/oms_owner/offenders")
    val batchRaw = GgLogsToParquet.unionRagged(
      Seq("base", "inserts", "deletes").map(d =>
        GgLogsToParquet.readRaw(spark, s"$raw/$d")))
    val batch = GgLogsToParquet.ingest(batchRaw)

    val out = Files.createTempDirectory("graft-stream-land").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4)
    catalog.register(TableMeta("ldb", "raw_events", s"$out/landing",
      partitionBy = GgLogsToParquet.PartitionBy))
    val stream = StreamingIngest.ingest(
      StreamingIngest.readRawStream(spark, s"$raw/*", batchRaw.schema))
    val q = StreamingIngest.landTo(stream, store, "ldb", "raw_events", s"$out/ckpt")
    q.awaitTermination()

    val landed = store.readFlat("ldb", "raw_events")
    assert(landed.count() == batch.count())
    // identical hash content (partition layout aside)
    def hashSum(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("after_hash").cast("long"))).head.getLong(0)
    assert(hashSum(landed) == hashSum(batch))
    assert(landed.columns.contains("part_date"))
    // catalog parity with batch stage 1: the landed schema is registered
    // after the stream batch, exactly as GgLogsToParquet.run registers it
    val registered = catalog("ldb", "raw_events").schema
    assert(registered.isDefined, "stream landing must register the schema")
    assert(registered.get.fieldNames.sorted.toSeq ==
      batch.schema.fieldNames.sorted.toSeq)
    assert(Set("after_hash", "part_date").subsetOf(
      registered.get.fieldNames.map(_.toLowerCase).toSet))

    // replay idempotence: a fresh checkpoint re-delivers the same batch
    // id; the landing marker must skip it instead of double-appending
    val q2 = StreamingIngest.landTo(stream, store, "ldb", "raw_events",
      s"$out/ckpt-replayed")
    q2.awaitTermination()
    assert(store.readFlat("ldb", "raw_events").count() == batch.count(),
      "replayed batch id must not double-append the landing table")
  }

  test("foreachBatch CDC apply reaches the batch end state") {
    val events = spark.read
      .parquet(refData("kinesis/transac/parquet/oms_owner/offenders"))
    val target = spark.read.parquet(refData("database/oms_owner/offenders"))

    // batch answer
    val expect = ChangeLogApplier.applyTable(target, events, "offender_id")
      .drop(graft.model.CdcModel.AdminEventTs)

    // streaming run over the same files
    val tmp = Files.createTempDirectory("graft-stream-apply").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4)
    catalog.register(TableMeta("sdb", "offenders", s"$tmp/offenders",
      primaryKey = Seq("offender_id")))
    store.overwrite("sdb", "offenders", target)
    val stream = spark.readStream.schema(events.schema)
      .parquet(refData("kinesis/transac/parquet/oms_owner/offenders"))
    val q = StreamingIngest.applyEachBatch(spark, stream, store, "sdb", s"$tmp/ckpt")
    q.awaitTermination()

    val got = store.read("sdb", "offenders").drop(graft.model.CdcModel.AdminEventTs)
    assert(got.count() == expect.count())
    assert(got.exceptAll(expect).count() == 0)
    assert(expect.exceptAll(got).count() == 0)
    // each micro-batch advanced the manifest version via mergeScoped
    assert(store.latestVersion("sdb", "offenders") >= 1)
  }

  test("foreachBatch apply also runs the chain-verified fold path") {
    val events = spark.read
      .parquet(refData("kinesis/transac/parquet/oms_owner/offenders"))
    val target = spark.read.parquet(refData("database/oms_owner/offenders"))
    val expect = ChangeLogApplier
      .applyTable(target, events, "offender_id", chainVerified = true)
      .drop(graft.model.CdcModel.AdminEventTs)
    val tmp = Files.createTempDirectory("graft-stream-chain").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4)
    catalog.register(TableMeta("cdb", "offenders", s"$tmp/offenders",
      primaryKey = Seq("offender_id")))
    store.overwrite("cdb", "offenders", target)
    val stream = spark.readStream.schema(events.schema)
      .parquet(refData("kinesis/transac/parquet/oms_owner/offenders"))
    val q = StreamingIngest.applyEachBatch(spark, stream, store, "cdb",
      s"$tmp/ckpt", chainVerified = true)
    q.awaitTermination()
    val got = store.read("cdb", "offenders").drop(graft.model.CdcModel.AdminEventTs)
    assert(got.count() == expect.count())
    assert(got.exceptAll(expect).count() == 0)
  }

  test("narrow text/PII operators run unchanged on a streaming frame") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // pure column expressions are legal on a streaming DataFrame as-is
    // (the §2.11 batch-operator-under-streaming design); micro-batch
    // output must equal the batch run over the same rows
    val rows = Seq(
      (1L, "mail a@b.io from 10.0.0.1 pay 4111 1111 1111 1111"),
      (2L, "plain words only here"))
    def features(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.withPiiCounts(df, "text")
        .withColumn("redacted", TextAnalysis.redactPii(col("text")))
        .withColumn("n_card", TextAnalysis.luhnCardCount(col("text")))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .select("doc_id", "n_email", "n_ipv4", "n_card", "redacted", "quality")
    val expect = features(rows.toDF("doc_id", "text")).collect().map(_.toSeq).toSet
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = features(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("pii_stream").collect().map(_.toSeq).toSet
      assert(got == expect)
    } finally q.stop()
  }

  test("dedupByPos drops replayed events within the watermark") {
    import spark.implicits._
    val rows = Seq(
      ("p1", "2022-09-26 14:00:00.000000"),
      ("p1", "2022-09-26 14:00:00.000000"), // replay
      ("p2", "2022-09-26 14:01:00.000000"))
      .toDF("pos", "op_ts")
    // batch semantics of the same operator (streaming state adds nothing
    // at one batch): exactly one row per pos survives
    val out = StreamingIngest.dedupByPos(rows)
    assert(out.count() == 2)
    assert(out.select("pos").distinct().count() == 2)
  }

  test("streaming content dedup: state carries across micro-batches") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-stream-dedup").toString
    val srcDir = s"$tmp/src"
    // batch 1: two distinct docs; batch 2: a replay of doc A + a new doc.
    // maxFilesPerTrigger=1 forces two micro-batches, so dropping the
    // replay requires fingerprint state to survive the batch boundary
    Seq((1L, "alpha beta gamma", Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, "delta epsilon", Timestamp.valueOf("2024-01-01 10:00:01")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(srcDir)
    Seq((3L, "alpha  beta gamma ", Timestamp.valueOf("2024-01-01 10:00:02")),
        (4L, "zeta eta", Timestamp.valueOf("2024-01-01 10:00:03")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = StreamingAnalytics.dedupByContent(stream, "text", "ts")
      .writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // doc 3 normalizes to doc 1's content -> dropped across the boundary
    assert(got == Set(1L, 2L, 4L), s"got $got")
  }

  test("text features run unchanged on a stream (stateless narrow ops)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-stream-text").toString
    val batch = Seq((1L, "the quick brown fox"), (2L, "le chat noir et blanc"))
      .toDF("doc_id", "text")
    batch.coalesce(1).write.parquet(s"$tmp/src")
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(s"$tmp/src")
    val q = graft.operators.TextAnalysis.withTextFeatures(stream, "text")
      .writeStream.format("memory").queryName("text_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("text_out")
    val expect = graft.operators.TextAnalysis.withTextFeatures(batch, "text")
    assert(got.count() == 2)
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)
  }

  test("windowed counts: streaming plan equals the plain batch aggregation") {
    import spark.implicits._
    val ev = Seq(
      (1L, "click", Timestamp.valueOf("2024-01-01 10:00:05")),
      (2L, "click", Timestamp.valueOf("2024-01-01 10:00:55")),
      (3L, "view", Timestamp.valueOf("2024-01-01 10:01:10")),
      (4L, "click", Timestamp.valueOf("2024-01-01 10:02:30")))
      .toDF("event_id", "event_type", "ts")
    val got = StreamingAnalytics.windowedEventCounts(ev, "1 minute")
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "click", 2L),
      ("2024-01-01 10:01:00.0", "view", 1L),
      ("2024-01-01 10:02:00.0", "click", 1L)))
  }

  test("stream-static enrichment joins each micro-batch against the dim") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((7L, "gold"), (8L, "silver")).toDF("user_id_d", "tier")
    val ms = MemoryStream[StreamEvent]
    val enriched = StreamingAnalytics.enrich(ms.toDF(), dim, "user_id", "user_id_d")
      .select("user_id", "event_id", "tier")
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      ms.addData(StreamEvent(7L, 1, new Timestamp(1000)),
        StreamEvent(9L, 2, new Timestamp(2000)))
      q.processAllAvailable()
      val got = spark.table("enriched").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
      assert(got == Set((7L, 1L, Some("gold")), (9L, 2L, None)))
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch twin, bounds by tolerance") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(ms0: Long) = new Timestamp(ms0)
    // impressions x clicks: click joins its impression iff within 5s after
    val imps = Seq((7L, 100L, t(1000)), (8L, 101L, t(2000)), (9L, 102L, t(3000)))
    val clicks = Seq(
      (7L, 200L, t(4000)),  // 3s after imp 100 -> joins
      (8L, 201L, t(9000)),  // 7s after imp 101 -> outside tolerance
      (9L, 202L, t(2000)))  // 1s BEFORE imp 102 -> never joins
    val expect = Set((7L, 100L, 200L))

    val batch = StreamingAnalytics.intervalJoin(
        imps.toDF("user_id", "imp_id", "imp_ts"),
        clicks.toDF("user_id", "click_id", "click_ts"),
        "user_id", "imp_ts", "click_ts", toleranceSec = 5)
      .select("user_id", "imp_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == expect)

    val mi = MemoryStream[(Long, Long, Timestamp)]
    val mc = MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamingAnalytics.intervalJoin(
        mi.toDF().toDF("user_id", "imp_id", "imp_ts"),
        mc.toDF().toDF("user_id", "click_id", "click_ts"),
        "user_id", "imp_ts", "click_ts", toleranceSec = 5)
      .select("user_id", "imp_id", "click_id")
    val q = joined.writeStream.format("memory").queryName("ijoin")
      .outputMode("append").start()
    try {
      // impressions arrive a batch before their clicks — the join state
      // carries them across the micro-batch boundary
      mi.addData(imps: _*)
      q.processAllAvailable()
      mc.addData(clicks: _*)
      q.processAllAvailable()
      val got = spark.table("ijoin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect)
    } finally q.stop()
  }

  test("sessionize: gap closes a session in-batch, watermark closes the tail") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamEvent]
    val sessions = StreamingAnalytics.sessionize(ms.toDS(), gapMs = 2000,
      watermark = "5 seconds")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      def t(ms0: Long) = new Timestamp(ms0)
      // user 7: two events 1s apart (one session), then an 8s gap in the
      // same batch -> first session closes by gap immediately
      ms.addData(StreamEvent(7L, 1, t(1000)), StreamEvent(7L, 2, t(2000)),
        StreamEvent(7L, 3, t(10000)))
      q.processAllAvailable()
      // far-future event advances the watermark past 10s + gap...
      ms.addData(StreamEvent(8L, 4, t(100000)))
      q.processAllAvailable()
      // ...and the timeout fires on the following trigger
      ms.addData(StreamEvent(8L, 5, t(101000)))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select("user_id", "session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet
      assert(got.contains((7L, 1000L, 2000L, 2L))) // closed by gap
      assert(got.contains((7L, 10000L, 10000L, 1L))) // closed by watermark timeout
    } finally q.stop()
  }

  test("sessionize: a late out-of-order event closes as its own past session") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamEvent]
    val sessions = StreamingAnalytics.sessionize(ms.toDS(), gapMs = 2000,
      watermark = "1 hour") // wide watermark: the late events are admitted
    val q = sessions.writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    try {
      def t(ms0: Long) = new Timestamp(ms0)
      ms.addData(StreamEvent(9L, 1, t(20000)))
      q.processAllAvailable()
      // two late events 8s before the open session, within gap of each
      // other: they coalesce into one PAST session (not smeared into the
      // open one), and the open session stays (20000, 20000)
      ms.addData(StreamEvent(9L, 2, t(12000)), StreamEvent(9L, 3, t(12500)))
      q.processAllAvailable()
      val got = spark.table("late_sessions")
        .select("user_id", "session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet
      assert(got == Set((9L, 12000L, 12500L, 2L)))
    } finally q.stop()
  }

  test("streaming IVM: changelog batches keep the aggregate == recompute") {
    import spark.implicits._
    import graft.operators.Ivm
    val tmp = Files.createTempDirectory("graft-stream-ivm").toString
    val catalog = new InMemoryCatalog
    // keepVersions = 4: the marker-pinned pre-batch versions must stay
    // readable through the two extra replay commits this spec performs
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4, keepVersions = 4)
    catalog.register(TableMeta("ivmdb", "snap", s"$tmp/snap"))
    catalog.register(TableMeta("ivmdb", "agg", s"$tmp/agg"))
    val init = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "grp_in", "v")
    store.overwrite("ivmdb", "snap", init)
    store.overwrite("ivmdb", "agg",
      Ivm.countSumAgg(init, col("grp_in"), col("v")))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Option[String], Option[Long])]
    val q = StreamingAnalytics.maintainCountSum(
      ms.toDF().toDF("k", "change", "grp_in", "v"), store, "ivmdb",
      "snap", "agg", Seq("k"), col("grp_in"), col("v"), s"$tmp/ckpt")
    try {
      // batch 1: update-in-place + insert into an existing group
      ms.addData((1L, "U", Some("a"), Some(11L)),
        (4L, "I", Some("b"), Some(40L)))
      q.processAllAvailable()
      // batch 2: delete + an update that MOVES key 3 from b to a
      ms.addData((2L, "D", None, None), (3L, "U", Some("a"), Some(30L)))
      q.processAllAvailable()
    } finally q.stop()
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val agg = toMap(store.read("ivmdb", "agg"))
    // hand state: k1(a,11), k3(a,30), k4(b,40)
    assert(agg == Map("a" -> ((2L, 41L)), "b" -> ((1L, 40L))))
    // the maintained aggregate equals the from-scratch recompute over
    // the maintained snapshot — the IVM invariant held across batches
    assert(agg == toMap(Ivm.countSumAgg(store.read("ivmdb", "snap"),
      col("grp_in"), col("v"))))
    // foreachBatch is at-least-once: REPLAYING the last batch must be a
    // no-op (the pinned base versions make the fold idempotent), not a
    // second application of the delta
    val lastBatch = Seq((2L, "D", Option.empty[String], Option.empty[Long]),
      (3L, "U", Some("a"), Some(30L))).toDF("k", "change", "grp_in", "v")
    StreamingAnalytics.applyIvmBatch(lastBatch, 1L, store, "ivmdb",
        "snap", "agg", Seq("k"), s"$tmp/ckpt") { (agg0, old, _, chg) =>
      Ivm.applyCountSumDelta(agg0, old, chg, Seq("k"), col("grp_in"), col("v"))
    }
    assert(toMap(store.read("ivmdb", "agg")) == agg)
    assert(agg == toMap(Ivm.countSumAgg(store.read("ivmdb", "snap"),
      col("grp_in"), col("v"))))
    // a genuine LEGACY marker (single "aggV,snapV" line, no table-names
    // line — the only shape the single-aggregate runner historically
    // wrote) is still accepted for a single-aggregate replay
    val markerPath = new org.apache.hadoop.fs.Path(
      s"$tmp/ckpt/graft-ivm-base/batch-1")
    val mfs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val firstLine = {
      val in = mfs.open(markerPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        .split('\n').head
      finally in.close()
    }
    val out = mfs.create(markerPath, true)
    try out.write(firstLine.getBytes("UTF-8")) finally out.close()
    StreamingAnalytics.applyIvmBatch(lastBatch, 1L, store, "ivmdb",
        "snap", "agg", Seq("k"), s"$tmp/ckpt") { (agg0, old, _, chg) =>
      Ivm.applyCountSumDelta(agg0, old, chg, Seq("k"), col("grp_in"), col("v"))
    }
    assert(toMap(store.read("ivmdb", "agg")) == agg,
      "legacy names-less marker must stay accepted for one aggregate")
  }

  test("streaming min/max IVM: extremum deletes rescan, aggregate == recompute") {
    import spark.implicits._
    import graft.operators.Ivm
    val tmp = Files.createTempDirectory("graft-stream-minmax").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4)
    catalog.register(TableMeta("mmdb", "snap", s"$tmp/snap"))
    catalog.register(TableMeta("mmdb", "agg", s"$tmp/agg"))
    val init = Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 30L))
      .toDF("k", "grp_in", "v")
    store.overwrite("mmdb", "snap", init)
    store.overwrite("mmdb", "agg",
      Ivm.minMaxAgg(init, col("grp_in"), col("v")))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Option[String], Option[Long])]
    val q = StreamingAnalytics.maintainMinMax(
      ms.toDF().toDF("k", "change", "grp_in", "v"), store, "mmdb",
      "snap", "agg", Seq("k"), col("grp_in"), col("v"), s"$tmp/ckpt")
    try {
      // batch 1: DELETE group a's max (key 1, value 10) — the rescan
      // path — and insert a new b member below the max
      ms.addData((1L, "D", None, None), (4L, "I", Some("b"), Some(20L)))
      q.processAllAvailable()
      // batch 2: update moves key 3 (b's max 30) into group a
      ms.addData((3L, "U", Some("a"), Some(30L)))
      q.processAllAvailable()
    } finally q.stop()
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val agg = toMap(store.read("mmdb", "agg"))
    // hand state: k2(a,5), k3(a,30), k4(b,20)
    assert(agg == Map("a" -> ((2L, 5L, 30L)), "b" -> ((1L, 20L, 20L))))
    assert(agg == toMap(Ivm.minMaxAgg(store.read("mmdb", "snap"),
      col("grp_in"), col("v"))))
  }

  test("streaming distinct-count IVM: the multiplicity view stays exact") {
    import spark.implicits._
    import graft.operators.Ivm
    val tmp = Files.createTempDirectory("graft-stream-dc").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4)
    catalog.register(TableMeta("dcdb", "snap", s"$tmp/snap"))
    catalog.register(TableMeta("dcdb", "aux", s"$tmp/aux"))
    // value 5 duplicated in group a — deleting ONE copy must not move
    // the distinct count, deleting the second must
    val init = Seq((1L, "a", 5L), (2L, "a", 5L), (3L, "a", 9L), (4L, "b", 7L))
      .toDF("k", "grp_in", "v")
    store.overwrite("dcdb", "snap", init)
    store.overwrite("dcdb", "aux",
      Ivm.distinctAux(init, col("grp_in"), col("v")))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Option[String], Option[Long])]
    val q = StreamingAnalytics.maintainDistinct(
      ms.toDF().toDF("k", "change", "grp_in", "v"), store, "dcdb",
      "snap", "aux", Seq("k"), col("grp_in"), col("v"), s"$tmp/ckpt")
    try {
      ms.addData((1L, "D", None, None)) // one copy of the dup 5 leaves
      q.processAllAvailable()
      ms.addData((2L, "U", Some("a"), Some(9L))) // last 5 becomes another 9
      q.processAllAvailable()
    } finally q.stop()
    def dc(df: org.apache.spark.sql.DataFrame) =
      Ivm.distinctCount(df).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = dc(store.read("dcdb", "aux"))
    // a holds {9} twice -> 1 distinct; b holds {7}
    assert(got == Map("a" -> 1L, "b" -> 1L))
    assert(got == dc(Ivm.distinctAux(store.read("dcdb", "snap"),
      col("grp_in"), col("v"))))
  }

  test("streaming registry: three dashboards move on one changelog stream") {
    import spark.implicits._
    import graft.operators.Ivm
    val tmp = Files.createTempDirectory("graft-stream-reg").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4)
    catalog.register(TableMeta("rdb", "snap", s"$tmp/snap"))
    val tables = Seq("r_cs", "r_mm", "r_dc")
    tables.foreach(t => catalog.register(TableMeta("rdb", t, s"$tmp/$t")))
    // the BATCH registry's own specs drive the stream — the two runners
    // share delta rules by construction
    val specs = Seq(
      Ivm.countSumSpec("r_cs", col("grp_in"), col("v")),
      Ivm.minMaxSpec("r_mm", col("grp_in"), col("v")),
      Ivm.distinctSpec("r_dc", col("grp_in"), col("v")))
    val init = Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 30L))
      .toDF("k", "grp_in", "v")
    store.overwrite("rdb", "snap", init)
    specs.foreach(a => store.overwrite("rdb", a.table, a.seed(init)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Option[String], Option[Long])]
    val q = StreamingAnalytics.maintainAggregates(
      ms.toDF().toDF("k", "change", "grp_in", "v"), store, "rdb", "snap",
      specs, Seq("k"), s"$tmp/ckpt")
    try {
      // batch 0: delete group a's max (min/max rescan), insert into b
      ms.addData((1L, "D", None, None), (4L, "I", Some("b"), Some(40L)))
      q.processAllAvailable()
      // batch 1: move b's max into a, insert a dup value into a
      ms.addData((3L, "U", Some("a"), Some(30L)),
        (5L, "I", Some("a"), Some(5L)))
      q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val snap = store.read("rdb", "snap")
    assert(canon(store.read("rdb", "r_cs")) ==
      canon(Ivm.countSumAgg(snap, col("grp_in"), col("v"))))
    assert(canon(store.read("rdb", "r_mm")) ==
      canon(Ivm.minMaxAgg(snap, col("grp_in"), col("v"))))
    assert(canon(store.read("rdb", "r_dc")) ==
      canon(Ivm.distinctAux(snap, col("grp_in"), col("v"))))
    // at-least-once: replaying the LAST batch is a no-op for EVERY
    // dashboard (the marker pins every table's pre-batch version)
    val before = tables.map(t => t -> canon(store.read("rdb", t))).toMap
    val lastBatch = Seq((3L, "U", Some("a"), Some(30L)),
      (5L, "I", Some("a"), Some(5L))).toDF("k", "change", "grp_in", "v")
    StreamingAnalytics.applyIvmRegistryBatch(lastBatch, 1L, store, "rdb",
      "snap", specs, Seq("k"), s"$tmp/ckpt")
    tables.foreach(t =>
      assert(canon(store.read("rdb", t)) == before(t), s"replay moved $t"))
    assert(canon(store.read("rdb", "snap")) == canon(snap))
    // a replay under a REORDERED spec list must refuse, not silently
    // pin each aggregate to another table's version (same count, wrong
    // pairing — the corruption the marker's table line exists to catch)
    val e = intercept[IllegalArgumentException] {
      StreamingAnalytics.applyIvmRegistryBatch(lastBatch, 1L, store, "rdb",
        "snap", specs.reverse, Seq("k"), s"$tmp/ckpt")
    }
    assert(e.getMessage.contains("spec ORDER changed"))
    tables.foreach(t =>
      assert(canon(store.read("rdb", t)) == before(t),
        s"refused replay still moved $t"))
    // a NAMES-LESS (single-line) marker under a multi-aggregate spec
    // list must refuse too: only the single-aggregate runner ever wrote
    // that shape, so here it can only be damage — accepting it by count
    // alone re-opens the reordered-spec mispairing
    val markerPath = new org.apache.hadoop.fs.Path(
      s"$tmp/ckpt/graft-ivm-base/batch-1")
    val fs = markerPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val body = {
      val in = fs.open(markerPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val out = fs.create(markerPath, true)
    try out.write(body.split('\n').head.getBytes("UTF-8"))
    finally out.close()
    val e2 = intercept[IllegalArgumentException] {
      StreamingAnalytics.applyIvmRegistryBatch(lastBatch, 1L, store, "rdb",
        "snap", specs, Seq("k"), s"$tmp/ckpt")
    }
    assert(e2.getMessage.contains("no table-names line"))
    tables.foreach(t =>
      assert(canon(store.read("rdb", t)) == before(t),
        s"names-less refusal still moved $t"))
  }

  test("legacy single-aggregate runner repairs after out-of-band DML (real seed)") {
    import spark.implicits._
    import graft.operators.Ivm
    // the drift repair invokes the spec's seed; the single-aggregate
    // wrappers now carry their true seed rules, so an out-of-band
    // overwrite of the base between micro-batches must reseed the
    // aggregate — not hand the next fold a raw-snapshot-shaped table
    val tmp = Files.createTempDirectory("graft-stream-oob").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4, keepVersions = 4)
    catalog.register(TableMeta("odb", "snap", s"$tmp/snap"))
    catalog.register(TableMeta("odb", "agg", s"$tmp/agg"))
    val init = Seq((1L, "a", 10L), (2L, "b", 30L)).toDF("k", "grp_in", "v")
    store.overwrite("odb", "snap", init)
    store.overwrite("odb", "agg",
      Ivm.countSumAgg(init, col("grp_in"), col("v")))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Option[String], Option[Long])]
    val q = StreamingAnalytics.maintainCountSum(
      ms.toDF().toDF("k", "change", "grp_in", "v"), store, "odb",
      "snap", "agg", Seq("k"), col("grp_in"), col("v"), s"$tmp/ckpt")
    try {
      ms.addData((3L, "I", Some("b"), Some(5L)))
      q.processAllAvailable()
      // out-of-band: a direct overwrite drops group a entirely
      store.overwrite("odb", "snap",
        store.read("odb", "snap").filter(col("grp_in") =!= "a"))
      ms.addData((4L, "I", Some("b"), Some(2L)))
      q.processAllAvailable()
    } finally q.stop()
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val agg = toMap(store.read("odb", "agg"))
    assert(agg == toMap(Ivm.countSumAgg(store.read("odb", "snap"),
      col("grp_in"), col("v"))),
      "the legacy runner's drift repair must rebuild through its seed")
    assert(!agg.contains("a"), "the out-of-band drop must reach the dashboard")
  }

  test("mid-BATCH foreign commit: guard refuses, clears its marker, rerun repairs") {
    import spark.implicits._
    import graft.operators.Ivm
    // a takedown landing INSIDE the batch window (pin taken, writes not
    // yet) must refuse — the full snapshot overwrite would resurrect
    // the taken-down rows — and must take its own marker with it: left
    // behind, the instructed rerun would REPLAY through it (skipping
    // both guards) and fold against the stale pin
    val tmp = Files.createTempDirectory("graft-stream-midbatch").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4,
      keepVersions = 3, vacuumRetentionMs = 60000L)
    catalog.register(TableMeta("ydb", "snap", s"$tmp/snap",
      primaryKey = Seq("k")))
    catalog.register(TableMeta("ydb", "y_cs", s"$tmp/y_cs"))
    val specs = Seq(Ivm.countSumSpec("y_cs", col("grp_in"), col("v")))
    val init = Seq((1L, "a", 10L), (2L, "b", 30L)).toDF("k", "grp_in", "v")
    store.overwrite("ydb", "snap", init)
    specs.foreach(a => store.overwrite("ydb", a.table, a.seed(init)))
    // a prior committed batch gives the drift check its baseline marker
    // (the first-ever batch has no history to prove drift against)
    StreamingAnalytics.applyIvmRegistryBatch(
      Seq((3L, "I", Some("b"), Some(1L))).toDF("k", "change", "grp_in", "v"),
      0L, store, "ydb", "snap", specs, Seq("k"), s"$tmp/ckpt")
    val batch = Seq((9L, "I", Some("b"), Some(4L)))
      .toDF("k", "change", "grp_in", "v")
    StreamingAnalytics.beforeBatchWrites = () => {
      store.deleteWhere("ydb", "snap", col("grp_in") === "a",
        MergeSnapshotStore.MergeOnRead)
      ()
    }
    val err = intercept[java.util.ConcurrentModificationException] {
      StreamingAnalytics.applyIvmRegistryBatch(batch, 5L, store, "ydb",
        "snap", specs, Seq("k"), s"$tmp/ckpt")
    }
    assert(err.getMessage.contains("moved to version"))
    val marker = new org.apache.hadoop.fs.Path(
      s"$tmp/ckpt/graft-ivm-base/batch-5")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(marker),
      "the refused batch must take its marker with it")
    // the rerun is a FRESH batch: the drift check repairs the dashboard
    // from the masked snapshot, then the fold lands
    StreamingAnalytics.applyIvmRegistryBatch(batch, 5L, store, "ydb",
      "snap", specs, Seq("k"), s"$tmp/ckpt")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val snap = store.read("ydb", "snap")
    assert(canon(snap.select("k")) == Set("[2]", "[3]", "[9]"),
      s"takedown must stand and the batch row must land: ${canon(snap)}")
    assert(canon(store.read("ydb", "y_cs")) ==
      canon(Ivm.countSumAgg(snap, col("grp_in"), col("v"))))
  }

  test("drift repair is delta-sized: the foreign feed folds through the delta rule, seed never fires") {
    import spark.implicits._
    import graft.operators.Ivm
    // an out-of-band takedown between micro-batches must repair through
    // the missed commits' OWN changelog (diff of the version the
    // registry left vs the version that stands — delta-sized for the
    // common one-takedown case), NOT a snapshot reseed: the seed spy
    // proves the expensive path never ran for a delta-foldable spec,
    // while an APPEND-ONLY spec (sketches cannot subtract the
    // takedown's D rows) still falls back to its seed
    val tmp = Files.createTempDirectory("graft-stream-deltarepair").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4,
      keepVersions = 4, vacuumRetentionMs = 60000L)
    catalog.register(TableMeta("ddb", "snap", s"$tmp/snap",
      primaryKey = Seq("k")))
    catalog.register(TableMeta("ddb", "d_cs", s"$tmp/d_cs"))
    catalog.register(TableMeta("ddb", "d_ao", s"$tmp/d_ao"))
    val csSeeds = new java.util.concurrent.atomic.AtomicInteger
    val aoSeeds = new java.util.concurrent.atomic.AtomicInteger
    val base = Ivm.countSumSpec("d_cs", col("grp_in"), col("v"))
    val specs = Seq(
      base.copy(seed = df => { csSeeds.incrementAndGet(); base.seed(df) }),
      base.copy(table = "d_ao",
        seed = df => { aoSeeds.incrementAndGet(); base.seed(df) },
        appendOnly = true))
    val init = Seq((1L, "a", 10L), (2L, "b", 30L), (3L, "a", 7L))
      .toDF("k", "grp_in", "v")
    store.overwrite("ddb", "snap", init)
    specs.foreach(a => store.overwrite("ddb", a.table, base.seed(init)))
    StreamingAnalytics.applyIvmRegistryBatch(
      Seq((4L, "I", Some("b"), Some(1L))).toDF("k", "change", "grp_in", "v"),
      0L, store, "ddb", "snap", specs, Seq("k"), s"$tmp/ckpt")
    assert(csSeeds.get() == 0 && aoSeeds.get() == 0,
      "normal batches never touch the seeds")
    // out-of-band takedown: one foreign pure-D commit
    assert(store.deleteWhere("ddb", "snap", col("grp_in") === "a",
      MergeSnapshotStore.MergeOnRead) == 2L)
    // next batch detects the drift and repairs before folding
    StreamingAnalytics.applyIvmRegistryBatch(
      Seq((5L, "I", Some("b"), Some(2L))).toDF("k", "change", "grp_in", "v"),
      1L, store, "ddb", "snap", specs, Seq("k"), s"$tmp/ckpt")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val snap = store.read("ddb", "snap")
    val rebuild = toMap(Ivm.countSumAgg(snap, col("grp_in"), col("v")))
    assert(toMap(store.read("ddb", "d_cs")) == rebuild,
      "the delta repair must land exactly on the from-scratch rebuild")
    assert(toMap(store.read("ddb", "d_ao")) == rebuild)
    assert(!rebuild.contains("a"), "the takedown must reach the dashboards")
    assert(csSeeds.get() == 0,
      "a delta-foldable spec must repair through its fold, never its seed")
    assert(aoSeeds.get() == 1,
      "an append-only spec cannot subtract the takedown and must reseed")
  }

  test("replay guards: a done batch's replay skips; a mid-write replay refuses proven foreign commits") {
    import spark.implicits._
    import graft.operators.Ivm
    // two crash shapes a replay must survive WITHOUT un-happening an
    // out-of-band takedown: (a) crash AFTER every write landed (done
    // marker present) — the replay must skip its writes entirely, or a
    // byte-identical-but-stale re-overwrite resurrects the takedown;
    // (b) crash MID-writes (no done marker) — a snapshot more than one
    // version past the pin is provably foreign and the replay refuses.
    val tmp = Files.createTempDirectory("graft-stream-replayguard").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4,
      keepVersions = 4, vacuumRetentionMs = 60000L)
    catalog.register(TableMeta("gdb", "snap", s"$tmp/snap",
      primaryKey = Seq("k")))
    catalog.register(TableMeta("gdb", "g_cs", s"$tmp/g_cs"))
    val specs = Seq(Ivm.countSumSpec("g_cs", col("grp_in"), col("v")))
    val init = Seq((1L, "a", 10L), (2L, "b", 30L)).toDF("k", "grp_in", "v")
    store.overwrite("gdb", "snap", init)
    specs.foreach(a => store.overwrite("gdb", a.table, a.seed(init)))
    val batch0 = Seq((3L, "I", Some("b"), Some(1L)))
      .toDF("k", "change", "grp_in", "v")
    StreamingAnalytics.applyIvmRegistryBatch(batch0, 0L, store, "gdb",
      "snap", specs, Seq("k"), s"$tmp/ckpt")
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$tmp/ckpt/graft-ivm-base/done-0")),
      "a completed batch must commit its done marker")

    // (a) out-of-band takedown AFTER completion, then a replay of the
    // completed batch: every write must be skipped — versions frozen,
    // the takedown still standing
    assert(store.deleteWhere("gdb", "snap", col("grp_in") === "a",
      MergeSnapshotStore.MergeOnRead) == 1L)
    val snapV = store.latestVersion("gdb", "snap")
    val aggV = store.latestVersion("gdb", "g_cs")
    StreamingAnalytics.applyIvmRegistryBatch(batch0, 0L, store, "gdb",
      "snap", specs, Seq("k"), s"$tmp/ckpt")
    assert(store.latestVersion("gdb", "snap") == snapV &&
      store.latestVersion("gdb", "g_cs") == aggV,
      "a done batch's replay must not write anything")
    assert(store.read("gdb", "snap").filter(col("grp_in") === "a").isEmpty,
      "the post-completion takedown must survive the replay")

    // (b) the same replay WITHOUT its done marker (crash mid-writes):
    // the snapshot sits MORE than one version past the pin (its own
    // write + the takedown), which is provably foreign — refuse, and
    // leave the marker so a rerun cannot take the fresh path
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$tmp/ckpt/graft-ivm-base/done-0"), false)
    val err = intercept[java.util.ConcurrentModificationException] {
      StreamingAnalytics.applyIvmRegistryBatch(batch0, 0L, store, "gdb",
        "snap", specs, Seq("k"), s"$tmp/ckpt")
    }
    assert(err.getMessage.contains("foreign commit landed"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$tmp/ckpt/graft-ivm-base/batch-0")),
      "the refusing replay must keep its marker (a fresh rerun would " +
        "double-fold)")
    assert(store.read("gdb", "snap").filter(col("grp_in") === "a").isEmpty,
      "the refused replay must leave the takedown standing")
  }

  test("streaming MoR visibility: a mid-stream takedown folds masked, dashboard repairs") {
    import spark.implicits._
    import graft.operators.Ivm
    val tmp = Files.createTempDirectory("graft-stream-mor").toString
    val catalog = new InMemoryCatalog
    // a REAL retention window: the runner's pinned reads and the
    // takedown's sidecar must outlive each other's vacuums
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4,
      keepVersions = 3, vacuumRetentionMs = 60000L)
    catalog.register(TableMeta("xdb", "snap", s"$tmp/snap",
      primaryKey = Seq("k")))
    catalog.register(TableMeta("xdb", "x_cs", s"$tmp/x_cs"))
    val specs = Seq(Ivm.countSumSpec("x_cs", col("grp_in"), col("v")))
    val init = Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 30L))
      .toDF("k", "grp_in", "v")
    store.overwrite("xdb", "snap", init)
    specs.foreach(a => store.overwrite("xdb", a.table, a.seed(init)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Option[String], Option[Long])]
    val q = StreamingAnalytics.maintainAggregates(
      ms.toDF().toDF("k", "change", "grp_in", "v"), store, "xdb", "snap",
      specs, Seq("k"), s"$tmp/ckpt")
    try {
      ms.addData((4L, "I", Some("b"), Some(40L)))
      q.processAllAvailable()
      // OUT-OF-BAND merge-on-read takedown directly on the base: the
      // sidecar masks group a's rows; no changelog rides the stream
      assert(store.deleteWhere("xdb", "snap", col("grp_in") === "a",
        MergeSnapshotStore.MergeOnRead) == 2L)
      assert(store.manifestDeletes("xdb", "snap",
        store.latestVersion("xdb", "snap")).nonEmpty,
        "the takedown must land as a sidecar, not a rewrite")
      // the next micro-batch must fold against the MASKED snapshot
      // (read funnels apply deletes) and the runner must detect the
      // foreign commit and repair the dashboard before folding
      ms.addData((5L, "I", Some("b"), Some(7L)))
      q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val snap = store.read("xdb", "snap")
    // the masked rows stayed gone through the fold and the new row landed
    assert(canon(snap.select("k")) == Set("[3]", "[4]", "[5]"),
      s"snapshot diverged: ${canon(snap)}")
    // maintained == rebuild-from-scratch on the post-takedown snapshot
    assert(canon(store.read("xdb", "x_cs")) ==
      canon(Ivm.countSumAgg(snap, col("grp_in"), col("v"))),
      "the dashboard must repair to the masked truth")
  }

  test("streaming registry: HLL dashboard on an insert stream; a delete fails the stream") {
    import spark.implicits._
    import graft.operators.Ivm
    val tmp = Files.createTempDirectory("graft-stream-hll").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4)
    catalog.register(TableMeta("hsdb", "snap", s"$tmp/snap"))
    catalog.register(TableMeta("hsdb", "r_hll", s"$tmp/r_hll"))
    val specs = Seq(Ivm.hllDistinctSpec("r_hll", col("grp_in"), col("v")))
    val init = Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 30L))
      .toDF("k", "grp_in", "v")
    store.overwrite("hsdb", "snap", init)
    specs.foreach(a => store.overwrite("hsdb", a.table, a.seed(init)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Option[String], Option[Long])]
    val q = StreamingAnalytics.maintainAggregates(
      ms.toDF().toDF("k", "change", "grp_in", "v"), store, "hsdb", "snap",
      specs, Seq("k"), s"$tmp/ckpt")
    try {
      ms.addData((4L, "I", Some("b"), Some(40L)),
        (5L, "I", Some("a"), Some(5L)))
      q.processAllAvailable()
      ms.addData((6L, "I", Some("c"), Some(1L)))
      q.processAllAvailable()
      val snap = store.read("hsdb", "snap")
      def cn(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(cn(Ivm.hllDistinctCount(store.read("hsdb", "r_hll"))) ==
        cn(snap.groupBy(col("grp_in").as("grp"))
          .agg(countDistinct(col("v")).as("dcnt"))),
        "streamed sketch estimates drifted from the snapshot's exact counts")
      // a delete refuses in the fold and FAILS THE STREAM — the sketch
      // can never silently over-count past a retraction
      ms.addData((4L, "D", None, None))
      val err = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(err).exists(_.contains("APPEND-ONLY")),
        s"expected the fold's refusal to surface: ${messages(err)}")
    } finally q.stop()
  }

  test("streaming registry: KLL quantile dashboard on an insert stream stays exact-regime-correct") {
    import spark.implicits._
    import graft.operators.Ivm
    val tmp = Files.createTempDirectory("graft-stream-kll").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4)
    catalog.register(TableMeta("ksdb", "snap", s"$tmp/snap"))
    catalog.register(TableMeta("ksdb", "r_kll", s"$tmp/r_kll"))
    val specs = Seq(Ivm.kllQuantileSpec("r_kll", col("grp_in"), col("v")))
    val init = Seq((1L, "a", 10.0), (2L, "a", 30.0), (3L, "b", 7.0))
      .toDF("k", "grp_in", "v")
    store.overwrite("ksdb", "snap", init)
    specs.foreach(a => store.overwrite("ksdb", a.table, a.seed(init)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Option[String], Option[Double])]
    val q = StreamingAnalytics.maintainAggregates(
      ms.toDF().toDF("k", "change", "grp_in", "v"), store, "ksdb", "snap",
      specs, Seq("k"), s"$tmp/ckpt")
    try {
      ms.addData((4L, "I", Some("a"), Some(20.0)),
        (5L, "I", Some("b"), Some(9.0)))
      q.processAllAvailable()
      ms.addData((6L, "I", Some("a"), Some(40.0)))
      q.processAllAvailable()
      // a: 10,20,30,40 -> inclusive median 20; b: 7,9 -> 7
      val got = Ivm.kllQuantiles(store.read("ksdb", "r_kll"), Seq(0.5))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == Map("a" -> 20.0, "b" -> 7.0),
        s"streamed exact-regime medians drifted: $got")
      // a streamed delete refuses in the fold and FAILS THE STREAM
      ms.addData((4L, "D", None, None))
      val err = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(err).exists(_.contains("APPEND-ONLY")),
        s"expected the fold's refusal to surface: ${messages(err)}")
    } finally q.stop()
  }

  test("streaming registry: frequent-items dashboard on an insert stream; a delete fails the stream") {
    import spark.implicits._
    import graft.operators.Ivm
    val tmp = Files.createTempDirectory("graft-stream-freq").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4)
    catalog.register(TableMeta("fsdb", "snap", s"$tmp/snap"))
    catalog.register(TableMeta("fsdb", "r_fi", s"$tmp/r_fi"))
    val specs = Seq(Ivm.freqItemsSpec("r_fi", col("grp_in"), col("item"),
      maxMapSize = 64))
    val init = Seq((1L, "a", "x"), (2L, "a", "x"), (3L, "b", "y"))
      .toDF("k", "grp_in", "item")
    store.overwrite("fsdb", "snap", init)
    specs.foreach(a => store.overwrite("fsdb", a.table, a.seed(init)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Option[String], Option[String])]
    val q = StreamingAnalytics.maintainAggregates(
      ms.toDF().toDF("k", "change", "grp_in", "item"), store, "fsdb", "snap",
      specs, Seq("k"), s"$tmp/ckpt")
    try {
      ms.addData((4L, "I", Some("a"), Some("z")),
        (5L, "I", Some("b"), Some("y")))
      q.processAllAvailable()
      ms.addData((6L, "I", Some("a"), Some("x")))
      q.processAllAvailable()
      val got = Ivm.freqTopItems(store.read("fsdb", "r_fi"))
        .select("grp", "item", "est").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == Set(("a", "x", 3L), ("a", "z", 1L), ("b", "y", 2L)),
        s"streamed exact-regime counts drifted: $got")
      ms.addData((4L, "D", None, None))
      val err = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(err).exists(_.contains("APPEND-ONLY")),
        s"expected the fold's refusal to surface: ${messages(err)}")
    } finally q.stop()
  }

  test("streaming BM25: the served index stays rebuild-exact under a doc stream") {
    import spark.implicits._
    // the batch registry's BM25 specs driven by the STREAMING registry —
    // a live retrieval index maintained per micro-batch, only changed
    // docs tokenized, proven equal to a from-scratch rebuild
    val tmp = Files.createTempDirectory("graft-stream-bm25").toString
    val catalog = new InMemoryCatalog
    val store = new MergeSnapshotStore(spark, catalog, nBuckets = 4)
    catalog.register(TableMeta("sbm", "docs", s"$tmp/docs"))
    TextAnalysis.registerBm25Tables(store, "sbm", "bm", tmp)
    val specs = TextAnalysis.bm25IndexSpecs("bm", "doc_id", "text")
    val init = Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    store.overwrite("sbm", "docs", init)
    val seeded = store.read("sbm", "docs")
    specs.foreach(a => store.overwrite("sbm", a.table, a.seed(seeded)))
    graft.operators.Materialize.releaseAll()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Option[String])]
    val q = StreamingAnalytics.maintainAggregates(
      ms.toDF().toDF("doc_id", "change", "text"), store, "sbm", "docs",
      specs, Seq("doc_id"), s"$tmp/ckpt")
    try {
      // re-tokenized update + insert, then delete + insert
      ms.addData((2L, "U", Some("beta beta epsilon")),
        (4L, "I", Some("zeta alpha")))
      q.processAllAvailable()
      ms.addData((1L, "D", None), (5L, "I", Some("alpha alpha")))
      q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val base = store.read("sbm", "docs")
    val scratch = TextAnalysis.buildBm25Index(base, "doc_id", "text")
    assert(canon(store.read("sbm", "bm_postings")) == canon(scratch.postings))
    assert(canon(store.read("sbm", "bm_doclens")) == canon(scratch.docLens))
    assert(canon(store.read("sbm", "bm_docfreq")) == canon(scratch.docFreq))
    val st = store.read("sbm", "bm_stats").select("nd", "avgdl").head()
    val st0 = scratch.stats.head()
    assert(st.getLong(0) == st0.getLong(0) &&
      st.getDouble(1) == st0.getDouble(1))
    // serving from the maintained tables == the one-shot path over the
    // maintained corpus
    val queries = Seq((100L, "alpha beta")).toDF("doc_id", "text")
    val served = TextAnalysis.bm25TopKFromIndex(
        TextAnalysis.readBm25Index(store, "sbm", "bm"), queries,
        "doc_id", "text", k = 5, maxDfFrac = 1.0)
      .collect().map(_.toString).sorted.toSeq
    val oneShot = TextAnalysis.bm25TopK(base, queries, "doc_id", "text",
        k = 5, maxDfFrac = 1.0)
      .collect().map(_.toString).sorted.toSeq
    graft.operators.Materialize.releaseAll()
    assert(served == oneShot && served.nonEmpty)
    // the deleted doc is out of the live index; the streamed-in docs are in
    assert(store.read("sbm", "bm_postings").filter(col("doc") === 1L).count() == 0)
    assert(store.read("sbm", "bm_postings").filter(col("doc") === 5L).count() > 0)
  }
}
