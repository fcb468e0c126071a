package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Independent oracle. Expected tables come from the generator's model with
 * plain DataFrame operations — never through the applier — and expected
 * query answers from plain filters over the same model. Results compare by
 * row count plus an order-independent row hash that leaves out
 * `admin_event_ts` (stamped with `current_timestamp()` at apply). */
object Oracle {
  val AdminEventTs = "admin_event_ts"

  def sparkType(k: Kind): DataType = k match {
    case IntK => IntegerType
    case StrK => StringType
    case DateK => DateType
    case TsK => TimestampType
  }

  /** Target schema of a structured table: lowercase business columns plus
   * the four admin columns (FIXTURES §3). */
  def targetSchema(t: TableSpec): StructType = StructType(
    t.cols.map(c => StructField(c.name, sparkType(c.kind))) ++ Seq(
      StructField("admin_hash", IntegerType),
      StructField("admin_gg_pos", StringType),
      StructField("admin_gg_op_ts", TimestampType),
      StructField(AdminEventTs, TimestampType)))

  /** The landed image struct as JSON schema inference shapes it: uppercase
   * fields in name order, integers as bigint, everything else string. Its
   * Spark Murmur3 `hash` is the chain hash the pipeline stores. */
  def imageStruct(t: TableSpec): StructType = StructType(
    t.cols.map(c => StructField(c.name.toUpperCase,
      if (c.kind == IntK) LongType else StringType)).sortBy(_.name))

  private def typed(k: Kind, v: Any): Any = (k, v) match {
    case (_, null) => null
    case (IntK, l: Long) => l.toInt
    case (StrK, s: String) => s
    case (DateK, s: String) => java.sql.Date.valueOf(s)
    // the applier keeps the first 26 chars (6-digit micros)
    case (TsK, s: String) => java.sql.Timestamp.valueOf(s.take(26))
    case other => throw new IllegalStateException(s"bad model value $other")
  }

  def opTs(p: Long): java.sql.Timestamp = java.sql.Timestamp.valueOf(Model.opTs(p).take(26))

  /** Expected current snapshot of one table (without `admin_event_ts`).
   * Only per-key state ships to the tasks; they rebuild the rows. */
  def expected(spark: SparkSession, st: TableState, parts: Int): DataFrame = {
    val t = st.spec
    val seed = st.seed
    val order = imageStruct(t).fieldNames.map(n => t.index(n.toLowerCase))
    val state = st.keys.map(k => (k, st.ver(k), st.lastPos(k), st.fk(k))).toVector
    val rows = spark.sparkContext.parallelize(state, parts).map { case (k, v, p, f) =>
      val img = Model.image(seed, t, k, v, f)
      Row.fromSeq(t.cols.indices.map(i => typed(t.cols(i).kind, img(i))) ++
        Seq(Model.pos(p), opTs(p), Row.fromSeq(order.map(img(_)).toSeq)))
    }
    val schema = StructType(t.cols.map(c => StructField(c.name, sparkType(c.kind))) ++
      Seq(StructField("admin_gg_pos", StringType),
        StructField("admin_gg_op_ts", TimestampType),
        StructField("__img", imageStruct(t))))
    spark.createDataFrame(rows, schema)
      .withColumn("admin_hash", hash(col("__img")))
      .drop("__img")
  }

  /** Expected domain table: the definition's join, as plain DataFrame ops. */
  def expectedDomain(off: DataFrame, book: DataFrame, processId: Long): DataFrame =
    off.select("offender_id", "first_name", "last_name")
      .join(book.select("offender_id", "in_out_status", "booking_begin_date",
        "booking_end_date"), "offender_id")
      .select(col("offender_id"),
        concat(col("first_name"), lit(" "), col("last_name")).as("offender_name"),
        col("in_out_status"), col("booking_begin_date"), col("booking_end_date"),
        lit(processId).as("process_id"))

  /** Compares each (name, actual, expected) on the expected frame's columns
   * (by name; `admin_event_ts` never compared): schema first, then row
   * count plus the order-independent sum of per-row xxhash64, all tables in
   * one aggregation. Returns one description per mismatching table. */
  def compareAll(checks: Seq[(String, DataFrame, DataFrame)]): Seq[String] = {
    val (bad, ok) = checks.partitionMap { case (name, actual, expected) =>
      val cols = expected.columns.filterNot(_ == AdminEventTs).sorted.toSeq
      val missing = cols.filterNot(c => actual.columns.contains(c))
      val types = (df: DataFrame) => cols.map(c => df.schema(c).dataType.simpleString)
      if (missing.nonEmpty) Left(s"$name lacks columns ${missing.mkString(",")}")
      else if (types(actual) != types(expected))
        Left(s"$name column types ${types(actual)} != ${types(expected)}")
      else Right((name, actual, expected, cols))
    }
    if (ok.isEmpty) return bad
    val tagged = ok.flatMap { case (name, actual, expected, cols) =>
      def h(df: DataFrame, side: String) = df.select(lit(name).as("t"), lit(side).as("side"),
        xxhash64(cols.map(col): _*).cast(DecimalType(38, 0)).as("h"))
      Seq(h(actual, "actual"), h(expected, "expected"))
    }.reduce(_ union _)
    val fp = tagged.groupBy("t", "side").agg(count(lit(1)).as("n"), sum("h").as("h"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDecimal(3)))
      .toMap
    bad ++ ok.flatMap { case (name, _, _, _) =>
      val a = fp.get((name, "actual"))
      val e = fp.get((name, "expected"))
      if (a == e) None else Some(s"$name: actual (rows, hash) $a != expected $e")
    }
  }

  // ------------------------------------------------------ query answers

  def cell(v: Any): String = v match {
    case null => "null"
    case d: java.sql.Date => d.toString
    case other => other.toString
  }
  def rowKey(r: Row): String = r.toSeq.map(cell).mkString("|")

  /** Expected rows of the live offenders among `keys`, projected to
   * `fields`, as canonical strings. */
  def offenderRows(g: Generator, fields: Seq[String], keys: Iterator[Int]): Vector[String] = {
    val st = g.offenders
    val idx = fields.map(st.spec.index)
    keys.filter(st.isAlive).map { k =>
      val img = st.image(k)
      idx.map(i => cell(img(i))).mkString("|")
    }.toVector.sorted
  }

  /** Offender rows projected to (offender_id, last_name, admin_gg_pos). */
  def lookupRows(g: Generator, keys: Seq[Int]): Vector[String] = {
    val st = g.offenders
    val ln = st.spec.index("last_name")
    keys.distinct.filter(st.isAlive).map { k =>
      s"$k|${cell(st.image(k)(ln))}|${Model.pos(st.lastPos(k))}"
    }.toVector.sorted
  }

  /** Count of alive offenders per caseload_type with age in [lo, hi]. */
  def aggRows(g: Generator, lo: Long, hi: Long): Vector[String] = {
    val st = g.offenders
    val ai = st.spec.index("age")
    val ci = st.spec.index("caseload_type")
    st.keys.map(st.image).filter { img =>
      val a = img(ai).asInstanceOf[Long]; a >= lo && a <= hi
    }.toVector.groupBy(_(ci)).map { case (c, v) => s"${cell(c)}|${v.size}" }
      .toVector.sorted
  }

  /** Domain rows (offender_id, offender_name, in_out_status) for offender
   * ids in [lo, hi]. */
  def domainRows(g: Generator, lo: Int, hi: Int): Vector[String] = {
    val off = g.offenders
    val fi = off.spec.index("first_name")
    val li = off.spec.index("last_name")
    val names = (lo to hi).filter(off.isAlive).map { k =>
      val img = off.image(k)
      val n = if (img(fi) == null || img(li) == null) "null" else s"${img(fi)} ${img(li)}"
      k -> n
    }.toMap
    val bk = g.bookings
    val si = bk.spec.index("in_out_status")
    bk.keys.filter(b => names.contains(bk.fk(b))).map { b =>
      val f = bk.fk(b)
      s"$f|${names(f)}|${cell(bk.image(b)(si))}"
    }.toVector.sorted
  }
}
