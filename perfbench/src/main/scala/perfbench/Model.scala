package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Column kinds of a generated source table. The row image carries them the
 * way GoldenGate JSON does: integers as JSON numbers, everything else as
 * strings (dates `yyyy-MM-dd`, timestamps with GoldenGate's trailing extra
 * digits). */
sealed trait Kind
case object IntK extends Kind
case object StrK extends Kind
case object DateK extends Kind
case object TsK extends Kind

/** One column: lowercase target name, kind, and whether an update changes it.
 * `value(h)` maps a 64-bit hash to the JSON-level value (Long, String or
 * null). */
final case class ColSpec(name: String, kind: Kind, varies: Boolean,
                         value: Long => Any)

final case class TableSpec(id: Int, name: String, source: String,
                           pk: String, cols: Vector[ColSpec]) {
  def index(col: String): Int = cols.indexWhere(_.name == col)
}

/** The seeded data model. Every row image is a pure function of
 * (seed, table, key, version), so the generator keeps only per-key state —
 * current version, position of the last applied event, alive flag — and
 * the oracle recomputes any row from it. */
object Model {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Surnames = Vector("SMITH", "JONES", "TAYLOR", "BROWN", "WILLIAMS",
    "WILSON", "JOHNSON", "DAVIES", "ROBINSON", "WRIGHT", "THOMPSON", "EVANS",
    "WALKER", "WHITE", "ROBERTS", "GREEN", "HALL", "WOOD", "JACKSON", "CLARKE",
    "PATEL", "KHAN", "LEWIS", "JAMES", "PHILLIPS", "MASON", "MITCHELL", "ROSE")
  private val Forenames = Vector("JOHN", "DAVID", "MICHAEL", "PAUL", "ANDREW",
    "MARK", "JAMES", "PETER", "SARAH", "EMMA", "LAURA", "CLAIRE", "JANE",
    "AMY", "DANIEL", "THOMAS", "CHRIS", "KAREN", "SUSAN", "ALI", "OMAR")
  private val Places = Vector("LEEDS", "LONDON", "BRISTOL", "CARDIFF", "YORK",
    "HULL", "BATH", "DERBY", "LEICESTER", "NOTTINGHAM", "SHEFFIELD")
  private val Agencies = Vector("MDI", "LEI", "BXI", "WWI", "PVI", "BMI",
    "HLI", "NMI", "LPI", "WLI")

  private def pick(v: Vector[String], h: Long): String =
    v((h >>> 1).toInt.abs % v.size)
  private def pct(h: Long): Int = ((h >>> 40) % 100).toInt
  /** Zero-padded decimal (generation is on the set-up path: no String.format). */
  def pad(v: Long, width: Int): String = {
    val s = java.lang.Long.toString(v)
    if (s.length >= width) s else "0" * (width - s.length) + s
  }
  private def date(base: Int, span: Int, h: Long): String =
    java.time.LocalDate.ofEpochDay(base + ((h >>> 3) % span).toLong).toString
  private def clock(sec: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
    s"${t.toLocalDate} ${pad(t.getHour, 2)}:${pad(t.getMinute, 2)}:${pad(t.getSecond, 2)}"
  }
  /** GoldenGate timestamp: 6-digit micros plus a trailing extra part the
   * applier truncates away (FIXTURES §1). */
  private def ts(baseSec: Long, spanSec: Long, h: Long): String =
    s"${clock(baseSec + (h >>> 8) % spanSec)}.${pad((h >>> 12) % 1000000L, 6)}.500000"
  private val Sec2020 = 1577836800L
  private val Day1940 = -10957
  private val Day2000 = 10957

  val Offenders: TableSpec = TableSpec(0, "offenders", "OMS_OWNER.OFFENDERS",
    "offender_id", Vector(
      ColSpec("offender_id", IntK, varies = false, _ => null), // the key
      ColSpec("offender_name_seq", IntK, varies = true, h => 1L + (h >>> 7) % 5),
      ColSpec("id_source_code", StrK, varies = false, _ => "SEQ"),
      ColSpec("last_name", StrK, varies = true, h => pick(Surnames, h)),
      ColSpec("name_type", StrK, varies = false,
        h => if (pct(h) < 90) "CURRENT" else "ALIAS"),
      ColSpec("first_name", StrK, varies = false, h => pick(Forenames, h)),
      ColSpec("middle_name", StrK, varies = true,
        h => if (pct(h) < 40) null else pick(Forenames, h >>> 5)),
      ColSpec("birth_date", DateK, varies = false, h => date(Day1940, 25000, h)),
      ColSpec("sex_code", StrK, varies = false, h => if (pct(h) < 85) "M" else "F"),
      ColSpec("last_name_soundex", StrK, varies = true,
        h => "S" + pad((h >>> 9) % 1000, 3)),
      ColSpec("birth_place", StrK, varies = false, h => pick(Places, h)),
      ColSpec("birth_country_code", StrK, varies = false,
        h => if (pct(h) < 80) "ENG" else "WAL"),
      ColSpec("create_date", DateK, varies = false, h => date(Day2000, 8000, h)),
      ColSpec("caseload_type", StrK, varies = true,
        h => if (pct(h) < 70) "INST" else "COMM"),
      ColSpec("modify_user_id", StrK, varies = true,
        h => "USER" + pad((h >>> 11) % 500, 4)),
      ColSpec("modify_datetime", TsK, varies = true,
        h => ts(Sec2020, 150000000L, h)),
      ColSpec("age", IntK, varies = true, h => 18L + (h >>> 13) % 70),
      ColSpec("create_user_id", StrK, varies = false,
        h => "USER" + pad((h >>> 11) % 500, 4)),
      ColSpec("create_datetime", TsK, varies = false,
        h => ts(Sec2020 - 300000000L, 300000000L, h)),
      ColSpec("audit_timestamp", TsK, varies = true,
        h => ts(Sec2020, 150000000L, h)),
      ColSpec("audit_user_id", StrK, varies = true,
        h => "AUDIT" + pad((h >>> 17) % 80, 3)),
      ColSpec("race_code", StrK, varies = false,
        h => "W" + (h >>> 19) % 9)))

  val Bookings: TableSpec = TableSpec(1, "offender_bookings",
    "OMS_OWNER.OFFENDER_BOOKINGS", "offender_book_id", Vector(
      ColSpec("offender_book_id", IntK, varies = false, _ => null), // the key
      ColSpec("offender_id", IntK, varies = false, _ => null), // set per key
      ColSpec("booking_begin_date", DateK, varies = false,
        h => date(Day2000, 9000, h)),
      ColSpec("booking_end_date", DateK, varies = true,
        h => if (pct(h) < 60) null else date(Day2000 + 9000, 900, h)),
      ColSpec("in_out_status", StrK, varies = true,
        h => if (pct(h) < 60) "IN" else "OUT"),
      ColSpec("booking_no", StrK, varies = false, h => "B" + pad((h >>> 5) % 1000000, 6)),
      ColSpec("agy_loc_id", StrK, varies = true, h => pick(Agencies, h)),
      ColSpec("active_flag", StrK, varies = true, h => if (pct(h) < 60) "Y" else "N"),
      ColSpec("create_datetime", TsK, varies = false,
        h => ts(Sec2020 - 300000000L, 300000000L, h)),
      ColSpec("modify_datetime", TsK, varies = true, h => ts(Sec2020, 150000000L, h)),
      ColSpec("audit_user_id", StrK, varies = true,
        h => "AUDIT" + pad((h >>> 17) % 80, 3)),
      ColSpec("root_offender_id", IntK, varies = false, _ => null))) // = offender_id

  val Tables: Vector[TableSpec] = Vector(Offenders, Bookings)

  /** JSON-level row image: Long for IntK, String (or null) otherwise. A
   * column that does not vary keeps its version-0 value. `fk` is the
   * booking's offender (ignored for offenders). */
  def image(seed: Long, t: TableSpec, key: Int, ver: Int, fk: Int): Array[Any] = {
    val out = new Array[Any](t.cols.size)
    var i = 0
    while (i < t.cols.size) {
      val c = t.cols(i)
      val v = if (c.varies) ver else 0
      out(i) = c.name match {
        case n if n == t.pk => key.toLong
        case "offender_id" | "root_offender_id" => fk.toLong
        case _ => c.value(mix(mix(seed * 31 + t.id) ^ (key.toLong << 20) ^ (v.toLong << 6) ^ i))
      }
      i += 1
    }
    out
  }

  /** Position strings: 20-char zero padded, a total order (FIXTURES §1). */
  def pos(p: Long): String = pad(p, 20)
  /** Op timestamp of the event at position `p` (one second apart from
   * 2024-01-01) with GoldenGate's extra 7th fractional digit. */
  def opTs(p: Long): String =
    s"${clock(1704067200L + p)}.${pad((p * 7919) % 1000000, 6)}.5"

  def jsonStr(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def imageJson(t: TableSpec, img: Array[Any]): String = {
    val b = new StringBuilder(512)
    b.append('{')
    var i = 0
    while (i < img.length) {
      if (i > 0) b.append(',')
      b.append(jsonStr(t.cols(i).name.toUpperCase)).append(':')
      img(i) match {
        case null => b.append("null")
        case l: Long => b.append(l)
        case s: String => b.append(jsonStr(s))
        case other => throw new IllegalStateException(s"bad image value $other")
      }
      i += 1
    }
    b.append('}').toString
  }
}

/** One CDC event as generated. `broken` marks a deliberately corrupted
 * `before` image (a broken Murmur3 chain) that chain-verified apply must
 * reject. */
final case class Event(table: TableSpec, op: Char, key: Int, pos: Long,
                       before: Array[Any], after: Array[Any], broken: Boolean)

/** Per-table generator state: alive keys (O(1) random pick and removal),
 * per-key version / last applied position / foreign key, and a ring of
 * recently changed keys for skewed picks. */
final class TableState(val spec: TableSpec, val seed: Long) {
  val ver = mutable.HashMap.empty[Int, Int]
  val lastPos = mutable.HashMap.empty[Int, Long]
  val fk = mutable.HashMap.empty[Int, Int]
  private val alive = mutable.ArrayBuffer.empty[Int]
  private val slot = mutable.HashMap.empty[Int, Int]
  private val recent = new Array[Int](512)
  private var recentN = 0
  var nextKey = 1

  def size: Int = alive.size
  def keys: Iterator[Int] = alive.iterator
  def isAlive(k: Int): Boolean = slot.contains(k)

  def add(k: Int, f: Int, p: Long): Unit = {
    slot(k) = alive.size; alive += k
    ver(k) = 0; lastPos(k) = p; fk(k) = f
    nextKey = math.max(nextKey, k + 1)
  }
  def remove(k: Int): Unit = {
    val i = slot.remove(k).get
    val last = alive.remove(alive.size - 1)
    if (last != k) { alive(i) = last; slot(last) = i }
    ver.remove(k); lastPos.remove(k); fk.remove(k)
  }
  def touch(k: Int): Unit = { recent(recentN % recent.length) = k; recentN += 1 }

  /** A random alive key; with probability `skew` one of the recently changed
   * keys (still alive), else uniform. */
  def pickKey(rnd: java.util.Random, skew: Double, exclude: collection.Set[Int]): Int = {
    var tries = 0
    while (tries < 64) {
      val k =
        if (recentN > 0 && rnd.nextDouble() < skew)
          recent(rnd.nextInt(math.min(recentN, recent.length)))
        else alive(rnd.nextInt(alive.size))
      if (isAlive(k) && !exclude.contains(k)) return k
      tries += 1
    }
    alive.find(k => !exclude.contains(k)).get
  }

  def image(k: Int): Array[Any] = Model.image(seed, spec, k, ver(k), fk(k))
}

/** Batch shape: events per table and the I/U/D mix. `perKey` > 1 chains
 * several updates onto one key within the batch (replay backfill). */
final case class BatchShape(events: Int, insertFrac: Double, deleteFrac: Double,
                            perKey: Int, skew: Double, brokenFrac: Double)

/** Seeded CDC generator over both tables. It advances the model as the
 * pipeline is expected to apply each event: a chain-broken update leaves
 * its key unchanged. */
final class Generator(val seed: Long, nOffenders: Int, nBookings: Int) {
  val rnd = new java.util.Random(seed)
  val offenders = new TableState(Model.Offenders, seed)
  val bookings = new TableState(Model.Bookings, seed)
  val states: Vector[TableState] = Vector(offenders, bookings)
  var nextPos = 1L
  /** Position every bootstrap row carries; all events come after it. */
  val BootPos = 0L

  locally {
    (1 to nOffenders).foreach(k => offenders.add(k, 0, BootPos))
    (1 to nBookings).foreach(k => bookings.add(k, 1 + rnd.nextInt(nOffenders), BootPos))
  }

  def state(t: TableSpec): TableState = if (t.id == 0) offenders else bookings

  /** Events for one table in position order, advancing the model. The op
   * mix is exact per batch (shuffled order), so every batch lands the same
   * set of files. */
  def events(st: TableState, shape: BatchShape): (Vector[Event], Int) = {
    val out = Vector.newBuilder[Event]
    val touched = mutable.HashSet.empty[Int]
    var rejected = 0
    val nI = math.round(shape.events * shape.insertFrac).toInt
    val nD = math.round(shape.events * shape.deleteFrac).toInt
    // update chains of `perKey` events; the last chain may be shorter
    val nU = shape.events - nI - nD
    val chains = Iterator.iterate(nU)(_ - shape.perKey).takeWhile(_ > 0)
      .map(math.min(_, shape.perKey)).toVector
    val ops = new java.util.ArrayList[Int]()
    (0 until nI).foreach(_ => ops.add(-1))
    (0 until nD).foreach(_ => ops.add(-2))
    chains.foreach(c => ops.add(c))
    java.util.Collections.shuffle(ops, rnd)
    ops.forEach { op =>
      val p0 = nextPos
      if (op == -1) {
        val k = st.nextKey
        val f = if (st.spec.id == 1) offenders.pickKey(rnd, 0.0, Set.empty) else 0
        st.add(k, f, p0)
        out += Event(st.spec, 'I', k, p0, null, st.image(k), broken = false)
        nextPos += 1; touched += k; st.touch(k)
      } else if (op == -2) {
        val k = st.pickKey(rnd, 0.0, touched)
        out += Event(st.spec, 'D', k, p0, st.image(k), null, broken = false)
        st.remove(k)
        nextPos += 1; touched += k
      } else {
        val k = st.pickKey(rnd, shape.skew, Set.empty)
        (0 until op).foreach { _ =>
          val p = nextPos
          val before = st.image(k)
          val after = Model.image(seed, st.spec, k, st.ver(k) + 1, st.fk(k))
          if (rnd.nextDouble() < shape.brokenFrac) {
            val b2 = before.clone()
            b2(st.spec.index("audit_user_id")) = "BROKEN"
            out += Event(st.spec, 'U', k, p, b2, after, broken = true)
            rejected += 1
          } else {
            out += Event(st.spec, 'U', k, p, before, after, broken = false)
            st.ver(k) = st.ver(k) + 1
            st.lastPos(k) = p
          }
          nextPos += 1
        }
        touched += k; st.touch(k)
      }
    }
    (out.result(), rejected)
  }

  /** Writes one batch as GoldenGate JSON under `dir`: one file per table
   * and op type, so insert files lack `before` and delete files lack
   * `after` (ragged, as the source emits them). Returns the events. */
  def writeBatch(dir: File, shapes: Map[Int, BatchShape], lastWins: Boolean): BatchInfo = {
    dir.mkdirs()
    var all = Vector.empty[Event]
    var rejected = 0
    Model.Tables.foreach { t =>
      val (evs, rej) = events(state(t), shapes(t.id))
      all ++= evs
      if (!lastWins) rejected += rej
      else require(rej == 0, "last-wins batches carry no broken chains")
    }
    all.groupBy(e => (e.table.name, e.op)).foreach { case ((tn, op), evs) =>
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, s"${tn}_$op.json")), UTF_8), 1 << 16)
      try evs.sortBy(_.pos).foreach { e =>
        w.write(envelope(e)); w.write('\n')
      } finally w.close()
    }
    BatchInfo(all.size, rejected)
  }

  private def envelope(e: Event): String = {
    val b = new StringBuilder(1200)
    b.append("{\"table\":").append(Model.jsonStr(e.table.source))
      .append(",\"op_type\":\"").append(e.op).append('"')
      .append(",\"op_ts\":").append(Model.jsonStr(Model.opTs(e.pos)))
      .append(",\"current_ts\":").append(Model.jsonStr(Model.opTs(e.pos + 3).dropRight(2)))
      .append(",\"pos\":").append(Model.jsonStr(Model.pos(e.pos)))
      .append(",\"tokens\":{\"R\":").append(Model.jsonStr("AAAR" + java.lang.Long.toHexString(e.pos)))
      .append(",\"L\":").append(Model.jsonStr(s"${e.pos % 97}")).append('}')
    if (e.before != null) b.append(",\"before\":").append(Model.imageJson(e.table, e.before))
    if (e.after != null) b.append(",\"after\":").append(Model.imageJson(e.table, e.after))
    b.append('}').toString
  }
}

final case class BatchInfo(events: Int, rejected: Int)
