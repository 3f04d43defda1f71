package graftbench

import scala.collection.mutable.ArrayBuffer

/** Column kinds of the benchmark's own table description. The
  * benchmark keeps its schema apart from the engine's TableMeta so the
  * reference replay shares no code with the program under test.
  */
sealed trait Kind
object Kind {
  case object Str extends Kind
  case object I32 extends Kind
  case object I64 extends Kind
  case object F64 extends Kind
}

final case class Col(name: String, kind: Kind)

/** One destination table: key columns (positional), value columns, the
  * size of the initial load, and the number of source partitions.
  * Key index `i` maps to one key tuple; indices at or above
  * [[keySpace]] are never written.
  */
final case class TableSpec(id: Int, name: String, keys: Seq[Col],
    cols: Seq[Col], initRows: Int, partitions: Int) {
  val keySpace: Long = initRows.toLong * 5 / 4

  /** Raw key texts of key index `i`. A two-column key packs four rows
    * under each leading value.
    */
  def keyOf(i: Long): Seq[String] =
    if (keys.size == 1) Seq(i.toString)
    else Seq((i / 4).toString, (i % 4).toString)

  def partitionOf(i: Long): Int =
    java.lang.Long.remainderUnsigned((i + 1) * 0x9E3779B97F4A7C15L >>> 17,
      partitions.toLong).toInt
}

object Tables {
  import Kind._
  /** Three widths: 3, 5 and 16 value columns; `orders` has a
    * two-column key.
    */
  def specs(scale: Double): Seq[TableSpec] = Seq(
    TableSpec(0, "accounts", Seq(Col("id", I64)),
      Seq(Col("name", Str), Col("tier", I32), Col("balance", F64)),
      (20000 * scale).toInt, 2),
    TableSpec(1, "orders", Seq(Col("account_id", I64), Col("order_no", I32)),
      Seq(Col("status", Str), Col("qty", I32), Col("amount", F64),
        Col("note", Str), Col("updated_us", I64)),
      (40000 * scale).toInt, 2),
    TableSpec(2, "profiles", Seq(Col("id", I64)),
      (0 until 4).flatMap(j => Seq(Col(s"s$j", Str), Col(s"i$j", I32),
        Col(s"l$j", I64), Col(s"d$j", F64))),
      (10000 * scale).toInt, 2))
}

/** One row mutation as generated: raw key texts, the value texts of
  * the columns it sets (absent = untouched), and its virtual
  * timestamp. `createdUs` is its creation time on the generator's
  * schedule.
  */
final case class Change(table: Int, part: Int, key: Seq[String],
    cols: Map[String, String], erase: Boolean, step: Long, tx: Long,
    createdUs: Long)

/** A wire message: the JSON line plus its source coordinates. */
final case class Msg(table: Int, part: Int, offset: Long, json: String)

/** What one generator call produced: the messages in source order, the
  * changes among them, and the newest heartbeat position sent to every
  * partition (the quorum those messages make possible), if any.
  */
final class Frame(val msgs: Array[Msg], val changes: Array[Change],
    val quorum: Option[(Long, Long)])

/** The deterministic change-log generator. Everything comes from
  * `seed`; it starts no threads and keeps no clock of its own — callers
  * pass schedule times.
  *
  * Time is a schedule in microseconds. Transactions fall at a fixed
  * rate; each touches one or two rows (distinct keys) and carries
  * (step = Step0 + time, txId = a global counter from 1). Every
  * `hbEveryUs` all partitions receive a heartbeat (Step0 + tick, 0),
  * sent before any change of that tick, so no change is ever at or
  * below its partition's previous heartbeat.
  *
  * `skew` shapes key choice: index = keySpace * u^skew, so 1 is uniform
  * and larger values concentrate writes on hot keys.
  */
final class Gen(seed: Long, val specs: Seq[TableSpec], skew: Double,
    val hbEveryUs: Long) {
  import Gen._
  private val rnd = new java.util.SplittableRandom(seed)
  private var txCounter = 0L
  private val offsets = specs.map(s => Array.fill(s.partitions)(0L)).toArray
  private var nextTickUs = hbEveryUs
  private var nextTxUs = 0.0
  private var lastTick: Option[(Long, Long)] = None
  private val tableWeights = Array(0.3, 0.5, 0.2)

  def partitions: Seq[(Int, Int)] =
    specs.flatMap(s => (0 until s.partitions).map(p => (s.id, p)))

  private def nextOffset(t: Int, p: Int): Long = {
    val o = offsets(t)(p); offsets(t)(p) = o + 1; o
  }

  private def value(k: Kind): (String, String) = k match {
    case Kind.Str =>
      val n = 4 + rnd.nextInt(20)
      val sb = new StringBuilder(n)
      var i = 0
      while (i < n) { sb.append(Alphabet.charAt(rnd.nextInt(Alphabet.length))); i += 1 }
      val s = sb.toString
      ("\"" + s + "\"", s)
    case Kind.I32 => val s = rnd.nextInt(100000).toString; (s, s)
    case Kind.I64 => val s = (rnd.nextLong() & 0xFFFFFFFFFFL).toString; (s, s)
    case Kind.F64 =>
      val s = ((rnd.nextInt(4000000) - 2000000) / 4.0).toString; (s, s)
  }

  private def changeMsg(spec: TableSpec, idx: Long, full: Boolean,
      step: Long, tx: Long, createdUs: Long,
      msgs: ArrayBuffer[Msg], out: ArrayBuffer[Change]): Unit = {
    val key = spec.keyOf(idx)
    val part = spec.partitionOf(idx)
    val erase = !full && rnd.nextDouble() < EraseP
    val sb = new StringBuilder(64)
    val cols = Map.newBuilder[String, String]
    if (erase) sb.append("{\"erase\":{}")
    else {
      val all = full || rnd.nextDouble() < 0.25
      var chosen = spec.cols.filter(_ => all || rnd.nextDouble() < 0.4)
      if (chosen.isEmpty) chosen = Seq(spec.cols(rnd.nextInt(spec.cols.size)))
      sb.append("{\"update\":{")
      chosen.zipWithIndex.foreach { case (c, i) =>
        val (json, text) = value(c.kind)
        if (i > 0) sb.append(',')
        sb.append('"').append(c.name).append("\":").append(json)
        cols += c.name -> text
      }
      sb.append('}')
    }
    sb.append(",\"key\":[").append(key.mkString(","))
      .append("],\"ts\":[").append(step).append(',').append(tx).append("]}")
    msgs += Msg(spec.id, part, nextOffset(spec.id, part), sb.toString)
    out += Change(spec.id, part, key, cols.result(), erase, step, tx, createdUs)
  }

  private def tick(t: Long, msgs: ArrayBuffer[Msg]): Unit = {
    val step = Step0 + t
    for ((tid, p) <- partitions)
      msgs += Msg(tid, p, nextOffset(tid, p), s"""{"resolved":[$step,0]}""")
    lastTick = Some((step, 0L))
  }

  /** The initial contents: every table's first `initRows` key indices
    * as full-row updates at schedule time 0, then one heartbeat tick.
    */
  def initialLoad(): Frame = {
    val msgs = ArrayBuffer.empty[Msg]
    val out = ArrayBuffer.empty[Change]
    for (s <- specs; i <- 0 until s.initRows) {
      txCounter += 1
      changeMsg(s, i.toLong, full = true, Step0, txCounter, 0L, msgs, out)
    }
    tick(nextTickUs, msgs)
    nextTxUs = nextTickUs.toDouble
    nextTickUs += hbEveryUs
    new Frame(msgs.toArray, out.toArray, lastTick)
  }

  /** Everything scheduled before `untilUs`: heartbeat ticks and
    * transactions at `txPerSec`, in time order (a tick goes before the
    * transactions of its own microsecond).
    */
  def until(untilUs: Long, txPerSec: Double): Frame = {
    val msgs = ArrayBuffer.empty[Msg]
    val out = ArrayBuffer.empty[Change]
    val gap = 1e6 / txPerSec
    while (math.min(nextTickUs.toDouble, nextTxUs) < untilUs) {
      if (nextTickUs.toDouble <= nextTxUs) {
        tick(nextTickUs, msgs)
        nextTickUs += hbEveryUs
      } else {
        val t = nextTxUs.toLong
        txCounter += 1
        val n = if (rnd.nextDouble() < 0.3) 2 else 1
        var used = List.empty[(Int, Long)]
        var j = 0
        while (j < n) {
          val spec = pickTable()
          val idx = (spec.keySpace * math.pow(rnd.nextDouble(), skew)).toLong
          if (!used.contains((spec.id, idx))) {
            used ::= ((spec.id, idx))
            changeMsg(spec, idx, full = false, Step0 + t, txCounter, t, msgs, out)
          }
          j += 1
        }
        nextTxUs += gap
      }
    }
    new Frame(msgs.toArray, out.toArray, lastTick)
  }

  private def pickTable(): TableSpec = {
    var u = rnd.nextDouble()
    var i = 0
    while (i < specs.size - 1 && u >= tableWeights(i)) { u -= tableWeights(i); i += 1 }
    specs(i)
  }

  /** Schedule time of the next heartbeat tick. */
  def nextTick: Long = nextTickUs
}

object Gen {
  /** Base of every step: a microsecond wall-clock-like origin. */
  val Step0: Long = 1700000000000000L
  /** Share of generated changes (after the initial load) that erase. */
  val EraseP = 0.08
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
}
