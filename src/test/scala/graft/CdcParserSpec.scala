package graft

import graft.model.Op
import graft.parse.CdcParser
import org.apache.spark.sql.functions._

/** Envelope parsing rules (reference: internal/util/reader/parse.go):
  * shape dispatch, newImage preference, erase with no columns,
  * ts arity validation, heartbeat extraction.
  */
class CdcParserSpec extends SparkSpec {
  import spark.implicits._

  private def frame(lines: (String, Long, Long)*) =
    lines.toSeq.toDF("value", "partitionId", "offset")
      .withColumn("tableId", lit(0))

  test("update / erase / newImage dispatch") {
    val df = frame(
      ("""{"update":{"a":1,"b":"x"},"key":[7],"ts":[10,1]}""", 0L, 0L),
      ("""{"erase":{},"key":[8],"ts":[10,2]}""", 0L, 1L),
      ("""{"update":{"a":1},"newImage":{"a":2,"c":true},"key":[9],"ts":[10,3]}""", 0L, 2L))
    val parsed = CdcParser.parseEnvelope(df)
    val ch = CdcParser.changes(parsed).orderBy("offset").collect()
    assert(ch.length == 3)
    val up = ch(0)
    assert(up.getAs[Map[String, String]]("columns") == Map("a" -> "1", "b" -> "x"))
    assert(up.getAs[scala.collection.Seq[String]]("keyJson").toSeq == Seq("7"))
    assert(up.getAs[Long]("step") == 10L && up.getAs[Long]("txId") == 1L)
    assert(up.getAs[Int]("op") == Op.Update)
    val er = ch(1)
    assert(er.getAs[Int]("op") == Op.Erase)
    assert(er.getAs[Map[String, String]]("columns").isEmpty)
    val ni = ch(2) // newImage wins over update
    assert(ni.getAs[Map[String, String]]("columns") == Map("a" -> "2", "c" -> "true"))
  }

  test("heartbeats route by resolved shape") {
    val df = frame(
      ("""{"resolved":[42,7]}""", 1L, 0L),
      ("""{"update":{"a":1},"key":[1],"ts":[10,1]}""", 1L, 1L))
    val parsed = CdcParser.parseEnvelope(df)
    val hb = CdcParser.heartbeats(parsed).collect()
    assert(hb.length == 1)
    assert(hb(0).getAs[Long]("step") == 42L && hb(0).getAs[Long]("txId") == 7L)
    assert(CdcParser.changes(parsed).count() == 1)
  }

  test("malformed frames: bad ts arity, both update+erase, no shape, bad json") {
    val df = frame(
      ("""{"update":{"a":1},"key":[1],"ts":[10]}""", 0L, 0L),
      ("""{"update":{"a":1},"erase":{},"key":[1],"ts":[10,1]}""", 0L, 1L),
      ("""{"key":[1],"ts":[10,1]}""", 0L, 2L),
      ("""not json at all""", 0L, 3L),
      ("""{"resolved":[1,2,3]}""", 0L, 4L),
      ("""{"update":{"a":1},"ts":[10,1]}""", 0L, 5L))
    val parsed = CdcParser.parseEnvelope(df)
    assert(CdcParser.malformed(parsed).count() == 6)
    assert(CdcParser.changes(parsed).count() == 0)
    assert(CdcParser.heartbeats(parsed).count() == 0)
  }

  test("raw JSON values preserved as text until destination cast") {
    val df = frame(
      ("""{"update":{"s":"hello","n":3.25,"b":null,"j":{"x":1}},"key":["\"k\""],"ts":[1,1]}""", 0L, 0L))
    val ch = CdcParser.changes(CdcParser.parseEnvelope(df)).collect()(0)
    val cols = ch.getAs[Map[String, String]]("columns")
    assert(cols("s") == "hello")    // from_json string coercion unquotes
    assert(cols("n") == "3.25")
    assert(cols.get("b").contains(null) || cols("b") == null)
    assert(cols("j") == """{"x":1}""")
  }
  test("native envelope parse is from_json-equivalent on adversarial shapes") {
    val lines = Seq(
      // the regular shapes
      """{"update":{"a":1,"b":"x"},"key":[7],"ts":[10,1]}""",
      """{"erase":{},"key":[8],"ts":[10,2]}""",
      """{"update":{"a":1},"newImage":{"a":2,"c":true},"key":[9],"ts":[10,3]}""",
      """{"resolved":[42,7]}""",
      // value-rendering edge cases: floats keep their text, booleans,
      // nulls, nested structures, unicode, escapes
      """{"update":{"f":1.50,"g":-0.25e2,"t":true,"n":null,"o":{"x":[1,"y"]},"u":"\u00e9\"q\""},"key":["a"],"ts":[1,1]}""",
      """{"update":{},"key":[],"ts":[0,0]}""",
      // unknown fields skipped, with subtrees
      """{"whatever":{"deep":[1,{"a":2}]},"update":{"a":"b"},"key":[1],"ts":[2,2]}""",
      // malformed: not json, wrong top-level shape, trailing junk,
      // wrong-typed fields, non-integral ts, overflow
      """this is not json""",
      """[1,2,3]""",
      """42""",
      "\"str\"",
      """{"update":{"a":1},"key":[1],"ts":[1,1]} extra""",
      """{"update":5,"key":[1],"ts":[1,1]}""",
      """{"update":{"a":1},"key":{},"ts":[1,1]}""",
      """{"update":{"a":1},"key":[1],"ts":[1.5,1]}""",
      """{"update":{"a":1},"key":[1],"ts":["1",1]}""",
      """{"update":{"a":1},"key":[1],"ts":[99999999999999999999999,1]}""",
      """{"update":{"a":1},"key":[1],"ts":[1,1]""",
      """{"update":null,"key":[1],"ts":[1,1]}""",
      """{"resolved":[1]}""",
      """{"resolved":[1,2,3]}""",
      """{}""",
      """""")
    val df = frame(lines.zipWithIndex.map { case (l, i) => (l, 0L, i.toLong) }: _*)
    val cols = Seq("offset", "env", "isHeartbeat", "isMalformed").map(col)
    val native = CdcParser.parseEnvelope(df).select(cols: _*)
      .orderBy("offset").collect()
    val builtin = CdcParser.parseEnvelopeBuiltin(df).select(cols: _*)
      .orderBy("offset").collect()
    native.zip(builtin).zipWithIndex.foreach { case ((n, b), i) =>
      assert(n == b, s"row $i diverged for input: ${lines(i)}\n native=$n\n builtin=$b")
    }
  }
  test("native envelope parse is from_json-equivalent on 1500 fuzzed inputs") {
    val rnd = new scala.util.Random(42)
    def rndValue(depth: Int): String = rnd.nextInt(8) match {
      case 0 => rnd.nextInt(1000).toString
      case 1 => s""""v${rnd.nextInt(100)}""""
      case 2 => "true"
      case 3 => "null"
      case 4 => (rnd.nextDouble() * 100).toString
      case 5 if depth < 2 => s"""{"n":${rndValue(depth + 1)}}"""
      case 6 if depth < 2 => s"""[${rndValue(depth + 1)},${rndValue(depth + 1)}]"""
      case _ => rnd.nextLong().toString
    }
    def rndEnvelope(): String = {
      val fields = scala.collection.mutable.ListBuffer[String]()
      if (rnd.nextBoolean())
        fields += s""""update":{${(0 until rnd.nextInt(3))
          .map(i => s""""c$i":${rndValue(0)}""").mkString(",")}}"""
      if (rnd.nextInt(4) == 0) fields += """"erase":{}"""
      if (rnd.nextInt(4) == 0) fields += s""""newImage":${rndValue(0)}"""
      if (rnd.nextBoolean())
        fields += s""""key":[${(0 until rnd.nextInt(3))
          .map(_ => rndValue(0)).mkString(",")}]"""
      if (rnd.nextBoolean()) fields += s""""ts":[${rndValue(0)},${rndValue(0)}]"""
      if (rnd.nextInt(4) == 0)
        fields += s""""resolved":[${rnd.nextLong()},${rnd.nextInt(5)}]"""
      if (rnd.nextInt(5) == 0) fields += s""""x${rnd.nextInt(5)}":${rndValue(0)}"""
      s"{${fields.mkString(",")}}"
    }
    def mutate(s: String): String = rnd.nextInt(6) match {
      case 0 if s.nonEmpty => s.dropRight(1 + rnd.nextInt(math.min(5, s.length)))
      case 1 => s + " trailing"
      case 2 => s.replaceFirst(":", "")
      case 3 => ""
      case 4 if s.nonEmpty => s.patch(rnd.nextInt(s.length), "\"", 0)
      case _ => s
    }
    val lines = (0 until 1500).map { i =>
      val e = rndEnvelope()
      if (i % 3 == 0) mutate(e) else e
    }
    val df = frame(lines.zipWithIndex.map { case (l, i) => (l, 0L, i.toLong) }: _*)
    val cols = Seq("offset", "env", "isHeartbeat", "isMalformed").map(col)
    val native = CdcParser.parseEnvelope(df).select(cols: _*)
      .orderBy("offset").collect()
    val builtin = CdcParser.parseEnvelopeBuiltin(df).select(cols: _*)
      .orderBy("offset").collect()
    native.zip(builtin).zipWithIndex.foreach { case ((n, b), i) =>
      assert(n == b, s"row $i diverged for input: ${lines(i)}\n native=$n\n builtin=$b")
    }
  }

  test("ts and resolved elements in [2^63, 2^64) parse as uint64") {
    val df = frame(
      ("""{"update":{"a":1},"key":[1],"ts":[9223372036854775807,1]}""", 0L, 0L),
      ("""{"update":{"a":1},"key":[2],"ts":[9223372036854775808,1]}""", 0L, 1L),
      ("""{"update":{"a":1},"key":[3],"ts":[18446744073709551615,18446744073709551615]}""", 0L, 2L),
      ("""{"resolved":[18446744073709551615,0]}""", 0L, 3L),
      // beyond 64 bits, or below -2^63: still malformed
      ("""{"update":{"a":1},"key":[4],"ts":[18446744073709551616,1]}""", 0L, 4L),
      ("""{"update":{"a":1},"key":[5],"ts":[-9223372036854775809,1]}""", 0L, 5L),
      ("""{"update":{"a":1},"key":[6],"ts":[99999999999999999999999,1]}""", 0L, 6L))
    val parsed = CdcParser.parseEnvelope(df)
    val steps = CdcParser.changes(parsed).orderBy("offset").collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[Long]("txId"))).toSeq
    // the same bits as the unsigned value: 2^63 is Long.MinValue and
    // 2^64 - 1 is -1, which Position.ux orders above every other step
    assert(steps == Seq((Long.MaxValue, 1L), (Long.MinValue, 1L), (-1L, -1L)))
    assert(CdcParser.malformed(parsed).select("offset").as[Long].collect()
      .sorted.toSeq == Seq(4L, 5L, 6L))
    val hb = CdcParser.heartbeats(parsed).collect()
    assert(hb.map(r => (r.getAs[Long]("step"), r.getAs[Long]("txId"))).toSeq ==
      Seq((-1L, 0L)))
  }

  test("a heartbeat at the top of the uint64 range reaches the tracker") {
    val parsed = CdcParser.parseEnvelope(frame(
      ("""{"resolved":[9223372036854775807,5]}""", 0L, 0L),
      ("""{"resolved":[18446744073709551615,0]}""", 0L, 1L),
      ("""{"resolved":[9223372036854775808,0]}""", 1L, 0L)))
    val tracker = new graft.order.HeartbeatTracker(Set((0, 0L), (0, 1L)))
    graft.order.BatchOrder
      .partitionMaximaWithMalformed(parsed, graft.model.Position(1L, 0L))
      .collect().foreach { r =>
        assert(r.getAs[Long]("nMal") == 0L)
        tracker.add(r.getAs[Int]("tableId"), r.getAs[Long]("partitionId"),
          graft.model.Position(r.getAs[Long]("step"), r.getAs[Long]("txId")))
      }
    assert(tracker.lastHb(0, 0L) == Some(graft.model.Position(-1L, 0L)))
    assert(tracker.maxHb == Some(graft.model.Position(-1L, 0L)))
    // the quorum is the lower partition's heartbeat, 2^63
    assert(tracker.quorum == Some(graft.model.Position(Long.MinValue, 0L)))
  }
}
