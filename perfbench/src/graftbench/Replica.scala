package graftbench

import graft.model.{EngineConfig, StreamConfig}
import graft.sink.{TableMeta, TransactionalStore}
import graft.streaming.CdcEngine
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** One replica under test: a fresh engine root, the engine built on
  * it, and the conversions between the benchmark's texts and the
  * engine's frames and rows. Everything goes through the engine's
  * public calls.
  */
final class Replica(val spark: SparkSession, val specs: Seq[TableSpec],
    val root: String, val buckets: Int, val compactDeltas: Int) {

  val metas: Map[Int, TableMeta] = specs.map(s => s.id -> Replica.meta(s)).toMap

  /** Engine settings: defaults except the bucket count and compaction
    * length the workloads choose, and the initial-scan cap, raised so
    * the initial load commits once (set-up time, not the subject).
    */
  val cfg: EngineConfig = EngineConfig("bench",
    specs.map(s => StreamConfig(s.id, s"$root/src/${s.name}", s.name, s.partitions)),
    s"$root/dst", maxBatchSize = Int.MaxValue, buckets = buckets,
    compactDeltas = compactDeltas)

  val engine = new CdcEngine(spark, cfg, metas)
  engine.bootstrap()

  private var nextBatchId = 0L

  /** The frame's messages as the engine's input frame. */
  def frame(msgs: Array[Msg]): DataFrame =
    spark.createDataFrame(
      msgs.toSeq.map(m => Row(m.json, m.table, m.part.toLong, m.offset)).asJava,
      Replica.FrameSchema)

  /** processBatch on a prepared frame; returns its wall seconds. */
  def process(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    engine.processBatch(df, nextBatchId)
    nextBatchId += 1
    (System.nanoTime() - t0) / 1e9
  }

  def batchesRun: Long = nextBatchId

  def dstRoot: String = cfg.dstRoot

  def keyFrame(spec: TableSpec, keys: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(keys.map(k => Row(spec.keys.zip(k).map {
      case (c, v) => Replica.typed(c.kind, v) }: _*)).asJava,
      StructType(spec.keys.map(c => StructField(c.name, Replica.sqlType(c.kind)))))

  /** Collected engine rows as key texts -> value texts. */
  def texts(spec: TableSpec, rows: Array[Row]): Map[Seq[String], Seq[String]] =
    rows.iterator.map { r =>
      spec.keys.map(c => Replica.text(r.get(r.fieldIndex(c.name)))) ->
        spec.cols.map(c => Replica.text(r.get(r.fieldIndex(c.name))))
    }.toMap

  /** Rows in the engine's pending store, as its committed manifest names
    * them: counted from the Parquet footers, without a Spark job.
    */
  def pendingRows: Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    TransactionalStore.read(cfg.dstRoot).pendingFiles.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** True when the engine's dead-letter store holds no row. */
  def dlqEmpty: Boolean = {
    val p = java.nio.file.Paths.get(cfg.dstRoot, "dlq")
    !java.nio.file.Files.exists(p) || spark.read.parquet(p.toString).isEmpty
  }
}

object Replica {
  val FrameSchema: StructType = StructType(Seq(
    StructField("value", StringType), StructField("tableId", IntegerType),
    StructField("partitionId", LongType), StructField("offset", LongType)))

  def sqlType(k: Kind): DataType = k match {
    case Kind.Str => StringType
    case Kind.I32 => IntegerType
    case Kind.I64 => LongType
    case Kind.F64 => DoubleType
  }

  def typed(k: Kind, s: String): Any = k match {
    case Kind.Str => s
    case Kind.I32 => s.toInt
    case Kind.I64 => s.toLong
    case Kind.F64 => s.toDouble
  }

  def text(v: Any): String = v match {
    case null => null
    case d: Double => d.toString
    case x => x.toString
  }

  def meta(s: TableSpec): TableMeta = TableMeta(s.name,
    StructType((s.keys ++ s.cols).map(c => StructField(c.name, sqlType(c.kind)))),
    s.keys.map(_.name))
}
