package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The input-schema memo behind the board queries is keyed by what the
 * inferred schema depends on: a file rewritten in place and a session
 * reading TIMESTAMP(NANOS) differently each infer afresh. */
class TableSchemaMemoSpec extends AnyFunSuite with SparkFixture {

  test("a rewrite at the same path and the nanosAsLong setting miss the memo") {
    import spark.implicits._
    SparkEntry.clearTableSchemas()
    val path = Files.createTempDirectory("graft-memo").toString + "/t.parquet"
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    val first = SparkEntry.tableSchema(spark, path)
    assert(first.fieldNames.toSeq == Seq("id", "s"))
    // same path, new content: the directory's mtime moves
    Thread.sleep(20)
    Seq((1L, 2.0)).toDF("id", "d").write.mode("overwrite").parquet(path)
    assert(SparkEntry.tableSchema(spark, path).fieldNames.toSeq == Seq("id", "d"))

    // a TIMESTAMP(NANOS) column infers as long only under nanosAsLong;
    // without it the inference refuses — a memo keyed by path alone
    // would hand the first session's long schema to the second
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val ts = Files.createTempDirectory("graft-memo-ts").toString + "/ts.parquet"
    val pq = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(ts)).withType(pq).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(pq)
      .newGroup().append("ts", 1700000000000000000L))
    finally w.close()
    try {
      spark.conf.set(key, "true")
      assert(SparkEntry.tableSchema(spark, ts)("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      spark.conf.set(key, "false")
      intercept[Exception](SparkEntry.tableSchema(spark, ts))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    SparkEntry.clearTableSchemas()
  }
}
