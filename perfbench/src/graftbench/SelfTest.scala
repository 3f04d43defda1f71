package graftbench

/** Known-answer tests of the benchmark's own parts: the reference
  * replay, the generator's wire-order guarantee, and the statistics.
  * No Spark, no engine.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  import Kind._
  private val one = TableSpec(0, "t", Seq(Col("id", I64)),
    Seq(Col("a", Str), Col("b", I32), Col("c", F64)), 10, 2)
  private val pair = TableSpec(1, "p", Seq(Col("k1", I64), Col("k2", I32)),
    Seq(Col("v", Str)), 10, 2)

  private def upd(key: Seq[String], step: Long, tx: Long, cols: (String, String)*) =
    Change(0, 0, key, cols.toMap, erase = false, step, tx, 0L)
  private def ers(key: Seq[String], step: Long, tx: Long) =
    Change(0, 0, key, Map.empty, erase = true, step, tx, 0L)
  private def replay(specs: Seq[TableSpec], cs: Seq[Change], upTo: (Long, Long)) = {
    val r = new Reference(specs)
    r.add(cs)
    r.advanceTo(upTo._1, upTo._2)
    r
  }
  private val End = (-1L, -1L) // unsigned maximum: everything applies

  def main(args: Array[String]): Unit = {
    test("partial-column upserts overlay the columns they carry") {
      val r = replay(Seq(one), Seq(
        upd(Seq("1"), 1, 1, "a" -> "x", "b" -> "5"),
        upd(Seq("1"), 2, 1, "b" -> "6"),
        upd(Seq("1"), 3, 1, "c" -> "0.25")), End)
      eq(r.table(0), Map(Seq("1") -> Seq("x", "6", "0.25")))
    }
    test("erase removes the row; erasing an absent key is a no-op") {
      val r = replay(Seq(one), Seq(
        upd(Seq("1"), 1, 1, "a" -> "x"), upd(Seq("2"), 1, 2, "a" -> "y"),
        ers(Seq("1"), 2, 1), ers(Seq("3"), 2, 2)), End)
      eq(r.table(0), Map(Seq("2") -> Seq("y", null, null)))
      eq(r.erasedKeys(0).toSet, Set(Seq("1"), Seq("3")))
    }
    test("erase then partial update starts from an empty row") {
      val r = replay(Seq(one), Seq(
        upd(Seq("1"), 1, 1, "a" -> "x", "b" -> "5", "c" -> "1.5"),
        ers(Seq("1"), 2, 1),
        upd(Seq("1"), 3, 1, "b" -> "7")), End)
      eq(r.table(0), Map(Seq("1") -> Seq(null, "7", null)))
      eq(r.erasedKeys(0).toSet, Set.empty[Seq[String]])
    }
    test("order is unsigned (step, txId), not arrival order") {
      val big = Long.MinValue + 1 // 2^63 + 1 unsigned
      val r = replay(Seq(one), Seq(
        upd(Seq("1"), big, 1, "a" -> "late"),
        upd(Seq("1"), 5, 1, "a" -> "early"),
        upd(Seq("2"), 7, -1L, "a" -> "txmax"), // txId 2^64 - 1
        upd(Seq("2"), 7, 3, "a" -> "tx3")), End)
      eq(r.get(0, Seq("1")), Some(Seq("late", null, null)))
      eq(r.get(0, Seq("2")), Some(Seq("txmax", null, null)))
    }
    test("steps above 2^63 stay pending below a checkpoint under them") {
      val big = Long.MinValue + 10
      val r = replay(Seq(one), Seq(
        upd(Seq("1"), 1, 1, "a" -> "a1"),
        upd(Seq("1"), big, 1, "a" -> "a2"),
        upd(Seq("1"), big + 5, 1, "a" -> "a3")), (big, 2L))
      eq(r.get(0, Seq("1")), Some(Seq("a2", null, null)))
      eq(r.pendingCount, 1)
      eq(r.advanceTo(-1L, 0L).map(_.step), Seq(big + 5))
      eq(r.get(0, Seq("1")), Some(Seq("a3", null, null)))
    }
    test("the checkpoint bound is strict") {
      val r = replay(Seq(one), Seq(upd(Seq("1"), 4, 2, "a" -> "x")), (4L, 2L))
      eq(r.size(0), 0)
      eq(r.advanceTo(4L, 3L).size, 1)
    }
    test("composite keys are distinct rows") {
      val r = new Reference(Seq(one, pair))
      r.add(Seq(
        Change(1, 0, Seq("1", "0"), Map("v" -> "a"), erase = false, 1, 1, 0),
        Change(1, 1, Seq("1", "1"), Map("v" -> "b"), erase = false, 1, 2, 0),
        Change(1, 0, Seq("1", "0"), Map.empty, erase = true, 2, 1, 0)))
      r.advanceTo(-1L, -1L)
      eq(r.table(1), Map(Seq("1", "1") -> Seq("b")))
      eq(pair.keyOf(6), Seq("1", "2"))
    }
    test("the generator never sends a change at or below its partition's heartbeat") {
      for (seed <- 1L to 4L; skew <- Seq(1.0, 3.0)) {
        val specs = Tables.specs(0.02)
        val g = new Gen(seed, specs, skew, hbEveryUs = 5000)
        val frames = g.initialLoad() +: (1 to 20).map(i => g.until(i * 7919L, 3000.0))
        val lastHb = scala.collection.mutable.Map.empty[(Int, Int), (Long, Long)]
        val nextOffset = scala.collection.mutable.Map.empty[(Int, Int), Long]
        val ts = """"ts":\[(-?\d+),(-?\d+)\]""".r.unanchored
        val hb = """\{"resolved":\[(-?\d+),(-?\d+)\]\}""".r
        for (f <- frames; m <- f.msgs) {
          val p = (m.table, m.part)
          eq(m.offset, nextOffset.getOrElse(p, 0L))
          nextOffset(p) = m.offset + 1
          m.json match {
            case hb(s, t) => lastHb(p) = (s.toLong, t.toLong)
            case ts(s, t) => lastHb.get(p).foreach { case (hs, ht) =>
              if (!Reference.lessThan(hs, ht, s.toLong, t.toLong))
                throw new AssertionError(s"seed $seed: ${m.json} at or below ($hs,$ht)")
            }
          }
        }
      }
    }
    test("the generator is a function of its seed") {
      def log(seed: Long) = {
        val g = new Gen(seed, Tables.specs(0.01), 3.0, 10000)
        (g.initialLoad() +: (1 to 5).map(i => g.until(i * 30000L, 2000.0)))
          .flatMap(_.msgs.map(_.json))
      }
      eq(log(7), log(7))
      if (log(7) == log(8)) throw new AssertionError("seeds 7 and 8 agree")
    }
    test("median and linear percentiles") {
      eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
      eq(Stats.percentile(Seq(0.0, 10.0), 0.75), 7.5)
      eq(Stats.percentile((1 to 101).map(_.toDouble), 0.9), 91.0)
    }
    test("a tail needs ten samples beyond it") {
      def own(n: Int) = (1 to n).map(i => (i.toDouble, i.toLong)) // one group each
      eq(Stats.groupedTail(own(20), 0.5), Some(10.5))
      eq(Stats.groupedTail(own(19), 0.5), None)
      eq(Stats.groupedTail(own(100), 0.9).map(v => math.rint(v * 10)), Some(901.0))
      eq(Stats.groupedTail(own(100), 0.95), None)
    }
    test("a freshness tail needs ten batches beyond it") {
      // 200 changes in 5 commits: plenty of samples, too few batches
      val five = (0 until 200).map(i => (i.toDouble, (i / 40).toLong))
      eq(Stats.groupedTail(five, 0.5), None)
      val twenty = (0 until 200).map(i => (i.toDouble, (i / 10).toLong))
      eq(Stats.groupedTail(twenty, 0.5).isDefined, true)
    }
    test("throughput is taken over whole cycles only") {
      val b = Seq((100L, 1.0, false), (100L, 1.0, false), (100L, 1.0, false),
        (100L, 3.0, true), (1000L, 1.0, false))
      eq(Stats.cycleThroughput(b), Some(400.0 / 6.0))
      eq(Stats.cycleThroughput(b.take(3)), None)
    }
    test("an operation that throws or answers wrong counts as failed") {
      val o = new Outcome
      eq(o.attempt("ok")(1)(_ => None), Some(1))
      eq(o.attempt("wrong")(2)(_ => Some("want 3")), Some(2))
      eq(o.attempt("throws")((throw new RuntimeException("x")): Int)(_ => None), None)
      eq((o.attempted, o.failed, o.correct), (3L, 2L, false))
      val t = new Outcome
      t.attempt("throws")((throw new RuntimeException("x")): Int)(_ => None)
      eq((t.attempted, t.failed, t.correct), (1L, 1L, true))
    }
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
