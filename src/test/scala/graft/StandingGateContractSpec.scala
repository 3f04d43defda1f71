package graft

import graft.ops.{ImageCodec, VideoCodec}
import graft.streaming._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The [[StandingGate]] contract, table-driven over all seven gates:
  * an empty micro-batch commits and leaves standing state unchanged, a
  * replayed batchId rewrites identical verdicts and state, and
  * verdicts survive compact + vacuum while the folded base serves the
  * next probe exactly as the unfolded partitions would. Each gate's
  * three batches mix admits with in-batch and cross-batch duplicates,
  * and the last repeats content of the first, so a probe that reads
  * its own partition or loses the base changes a verdict.
  */
class StandingGateContractSpec extends SparkSpec {
  import StandingGateContractSpec.Case
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("gatecontract").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def texts(bs: Seq[(Long, String)]*): Seq[DataFrame] =
    bs.map(_.toDF("doc_id", "text"))

  private def payloads(bs: Seq[(Long, Array[Byte])]*) = bs.map(_.toDS())

  // a 9×8 gray-walk PNG whose dHash is exactly `bits`
  private def img(bits: Long): Array[Byte] = {
    val gray = Array.ofDim[Int](8, 9)
    for (y <- 0 until 8) {
      gray(y)(0) = 100
      for (x <- 0 until 8)
        gray(y)(x + 1) = gray(y)(x) +
          (if (((bits >>> (y * 8 + x)) & 1L) == 1L) 3 else -3)
    }
    ImageCodec.encodePng(9, 8, (x, y) => gray(y)(x) * 0x010101)
  }

  private def clip(frames: Long*): Array[Byte] =
    VideoCodec.encodeAvi("MPNG", 8, 8, 40000L, frames.map(img))

  private val (p0, p1, p2) =
    (0x0f0f0f0f0f0f0f0fL, 0x00ff00ff00ff00ffL, 0xffff0000ffff0000L)
  private val garbage = Array[Byte](1, 2, 3)
  private val base = (1 to 20).map(i => s"t$i").mkString(" ")
  private val other = (1 to 20).map(i => s"a$i").mkString(" ")
  private val third = (1 to 20).map(i => s"b$i").mkString(" ")

  private val noText = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private val noPayload = spark.emptyDataset[(Long, Array[Byte])]

  private val cases: Seq[Case[_]] = Seq(
    Case[org.apache.spark.sql.Row]("UrlGate", new UrlGate(spark, _, 4),
      Seq(Seq((1L, "http://a.com/x"), (2L, "HTTP://A.COM:80/x/"),
          (3L, "/bad")),
        Seq((4L, "http://www.a.com/x?utm_source=z"), (5L, "http://b.org/y")),
        Seq((6L, "http://a.com/x"), (7L, "http://b.org/y/"),
          (8L, "http://c.net/z"))).map(_.toDF("id", "url")),
      Seq.empty[(Long, String)].toDF("id", "url")),
    Case("SpanGate", new SpanGate(spark, _, w = 3, maxDupFrac = 0.6,
        numBuckets = 4),
      texts(Seq((1L, base), (2L, other), (3L, other)),
        Seq((4L, base), (5L, third)),
        Seq((6L, base), (7L, third), (8L, s"$other $third"))),
      noText),
    Case("SentenceGate", new SentenceGate(spark, _, maxDocs = 2L,
        numBuckets = 4),
      texts(Seq((1L, "Alpha body. Footer line."), (2L, "Beta body.")),
        Seq((3L, "Gamma body. Footer line."), (4L, "Alpha body.")),
        Seq((5L, "Footer line. Delta body."), (6L, "Beta body."))),
      noText),
    Case("MediaGate", new MediaGate(spark, _, 4),
      payloads(Seq((1L, img(p0)), (2L, img(p0)), (3L, garbage)),
        Seq((4L, img(p0)), (5L, img(p1))),
        Seq((6L, img(p0)), (7L, img(p1)), (8L, img(p2)))),
      noPayload),
    Case("NearDupMediaGate", new NearDupMediaGate(spark, _, 4),
      payloads(Seq((1L, img(p0)), (2L, img(p0 ^ 0x7L)), (3L, garbage)),
        Seq((4L, img(p0 ^ 0x30L)), (5L, img(p1))),
        Seq((6L, img(p0 ^ 0x100L)), (7L, img(p1 ^ 0x1L)), (8L, img(p2)))),
      noPayload),
    Case("VideoGate", new VideoGate(spark, _, 4),
      payloads(Seq((1L, clip(p0, p1)), (2L, clip(p0 ^ 0x1L, p1 ^ 0x2L)),
          (3L, garbage)),
        Seq((4L, clip(p0 ^ 0x4L, p1)), (5L, clip(p2))),
        Seq((6L, clip(p0, p1 ^ 0x8L)), (7L, clip(p2 ^ 0x1L)),
          (8L, clip(~p0, ~p1)))),
      noPayload),
    Case("IngestGate", new IngestGate(spark, _, numBuckets = 4),
      texts(Seq((1L, base), (2L, other), (3L, other)),
        Seq((4L, base), (5L, third)),
        Seq((6L, base), (7L, third), (8L, s"$other $third"))),
      noText))

  private def contract[T](c: Case[T]): Unit = {
    import c._
    test(s"$name: empty batch, replay and compaction keep the contract") {
      val dir = tmp()
      val g = make(dir)
      g.applyBatch(batches(0), 0L)
      // an empty micro-batch commits empty verdicts and adds no state
      g.applyBatch(empty, 1L)
      assert(rows(g.standing(2L)) == rows(g.standing(1L)), "empty batch")
      assert(g.readVerdicts(1L).filter(col("batch") === 1L).isEmpty)
      // a replayed batchId rewrites identical verdicts and state: the
      // replay must not probe its own first attempt
      g.applyBatch(batches(1), 2L)
      val (v, s) = (rows(g.readVerdicts(2L)), rows(g.standing(3L)))
      g.applyBatch(batches(1), 2L)
      assert(rows(g.readVerdicts(2L)) == v, "replayed verdicts")
      assert(rows(g.standing(3L)) == s, "replayed state")
      // compact + vacuum keep every verdict, and the folded base
      // serves the next probe exactly as the unfolded twin does
      val twinDir = tmp()
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(dir), new java.io.File(twinDir))
      val twin = make(twinDir)
      assert(g.compact(currentBatchId = 2L) == 2L)
      g.vacuum(currentBatchId = 2L)
      assert(g.baseIndex().isDefined)
      assert(rows(g.readVerdicts(2L)) == v, "verdicts across compaction")
      g.applyBatch(batches(2), 3L)
      twin.applyBatch(batches(2), 3L)
      assert(rows(g.readVerdicts(3L)) == rows(twin.readVerdicts(3L)),
        "probe through the base")
    }
  }

  cases.foreach(c => contract(c))
}

object StandingGateContractSpec {
  private final case class Case[T](name: String,
      make: String => StandingGate[T], batches: Seq[Dataset[T]],
      empty: Dataset[T])
}
