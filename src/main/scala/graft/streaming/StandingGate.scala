package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The base of every streaming gate: [[UrlGate]], [[SpanGate]],
  * [[SentenceGate]], [[MediaGate]], [[NearDupMediaGate]],
  * [[VideoGate]] and [[IngestGate]]. A gate admits or rejects each
  * item of a micro-batch against the STANDING state every earlier
  * batch admitted, and gets effectively-once admission from
  * at-least-once micro-batches the foreachBatch way: per-batch-id
  * overwrite plus a replay guard. A gate supplies only its state
  * schema (`stateDdl`), its key (`bucketCol`), its [[fold]] and its
  * verdict rule ([[applyBatch]] through [[commit]]); this class owns
  * the layout, the commit order, compaction and vacuum.
  *
  * State layout under `stateDir`:
  * {{{
  *   <data>/batch=<n>/    the state rows batch n admitted
  *   base/gen=<g>/        compacted state, bucketed by the key
  *   base/META.<g>        "<gen> <upTo>": create-no-overwrite commit
  *   verdicts/batch=<n>/  batch n's per-item verdicts
  * }}}
  *
  *   - per-batch commit ([[commit]]): overwrite `verdicts/batch=<n>`,
  *     read it back with the written schema, derive the state rows,
  *     overwrite `<data>/batch=<n>`. Verdicts first: a crash between
  *     the writes leaves a replayable batch, never a state row without
  *     its verdict. A replayed batch OVERWRITES its own directories,
  *     and every standing-state read filters `batch < n`, so a
  *     half-written previous attempt is neither probed nor
  *     double-counted — effectively-once without a manifest.
  *     [[readVerdicts]] filters `batch <= upTo`, so verdict dirs of a
  *     rolled-back attempt stay invisible until [[vacuum]] removes
  *     them.
  *   - `base/gen=<g>/` + `base/META.<g>`: the compacted base,
  *     BUCKETED by the key and registered in the session catalog so
  *     the big side of every probe join scans with NO Exchange. The
  *     commit point is the CREATE-NO-OVERWRITE of the monotonic
  *     `META.<g>` generation file, resolved on read by max generation
  *     — no delete, no rename, no window in which a crash leaves the
  *     store looking never-compacted (the round-16 delete-then-rename
  *     scheme had exactly that silent-data-loss window). On an object
  *     store the exclusive create IS the conditional-put
  *     ("if-none-match") seam, like the CDC manifest head. Each gen
  *     dir also carries `_UPTO` (written after the fold completes,
  *     before the META commit) so a lost or torn META file is
  *     RECOVERABLE from the newest complete generation instead of
  *     silently resetting to gen 0.
  *   - compaction folds every batch partition strictly below
  *     `min(max id present, currentBatchId)` — the newest partition
  *     never folds (it is the only one a stream restart can replay),
  *     and the caller's committed position keeps an orphaned
  *     future-id dir from inflating the watermark. Idempotent and
  *     crash-safe: a crash before the META commit leaves the old
  *     generation live, a crash after leaves folded dirs the reads
  *     ignore and [[vacuum]] reclaims.
  *   - vacuum removes folded data dirs, data/verdict dirs beyond the
  *     committed high-water mark, and superseded generations (their
  *     catalog entries too).
  *
  * `stateDdl` lists the state columns WITHOUT the `batch` partition
  * column, as a Spark DDL string (`"h BIGINT"`).
  */
abstract class StandingGate[T](spark: SparkSession, stateDir: String,
    dataSubdir: String, tablePrefix: String, stateDdl: String,
    bucketCol: String, numBuckets: Int) {

  private val dataSchema = StructType.fromDDL(stateDdl)

  private[streaming] val dataDir = s"$stateDir/$dataSubdir"
  private val verdictsDir = s"$stateDir/verdicts"
  private val baseDir = s"$stateDir/base"
  // pre-round-17 single-file commit point, still READ for state dirs
  // written by the old scheme (never written again; vacuum retires it
  // once a META.<g> exists)
  private val legacyMetaPath = s"$baseDir/META"
  private def metaGenPath(gen: Long) = s"$baseDir/META.$gen"

  private val dataCols: Seq[String] = dataSchema.fields.map(_.name).toSeq

  private def fs(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def listIds(dir: String, prefix: String): Seq[Long] = {
    val (f, p) = fs(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toLong)
  }

  private def dataBatchIds(): Seq[Long] = listIds(dataDir, "batch=")

  // only well-formed META.<digits> names are generation files — a
  // stray META.tmp from the retired rename scheme must not crash the
  // resolve (it is garbage vacuum retires, not a candidate)
  private def listMetaGens(): Seq[Long] = {
    val (f, p) = fs(baseDir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.matches("META\\.\\d+"))
      .map(_.stripPrefix("META.").toLong)
  }

  private def readSmallFile(path: String): Option[String] = {
    val (f, _) = fs(baseDir)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(p)) None
    else try {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim)
      finally in.close()
    } catch {
      // a torn write on a checksummed FS surfaces as a read-time
      // ChecksumException, not bad content — route it through the
      // same unparseable-META recovery, never an opaque crash
      case e: java.io.IOException => Some(s"<unreadable: ${e.getMessage}>")
    }
  }

  // toLong guarded: a torn/duplicated write can produce an all-digit
  // string LONGER than a Long, which must fail by NAME, not a raw
  // NumberFormatException
  private def parseNonNeg(s: String): Option[Long] =
    scala.util.Try(s.toLong).toOption.filter(_ >= 0L)

  private def parseMetaText(txt: String): Option[(Long, Long)] =
    txt.split(" ") match {
      case Array(g, u) =>
        for (gn <- parseNonNeg(g); un <- parseNonNeg(u)) yield (gn, un)
      case _ => None
    }

  private def corrupt(detail: String) =
    throw new IllegalStateException(
      s"corrupt gate-state META under $baseDir: $detail — the state " +
        "dir needs operator repair (restore META.<g> from the " +
        "newest complete gen=<g> directory: its _UPTO file holds " +
        "the watermark)")

  /** `gen=<g>/_UPTO` — the generation's watermark, written AFTER the
    * fold's saveAsTable completes and BEFORE the META.<g> commit, so
    * its presence certifies a complete fold and its value lets
    * [[readMeta]] recover a generation whose META file was lost or
    * torn. Underscore-prefixed, so parquet scans of the gen dir
    * ignore it.
    */
  private def upToMarkerPath(gen: Long) = s"${genPath(gen)}/_UPTO"

  private def readUpToMarker(gen: Long): Option[Long] =
    readSmallFile(upToMarkerPath(gen)).flatMap(parseNonNeg)

  /** (generation, upTo): the compacted base covers batches < upTo.
    * (0, 0) before the first compaction.
    *
    * Resolution order: max `META.<g>` generation file wins; a torn
    * META.<g> recovers from its gen dir's `_UPTO` marker (write
    * order guarantees the fold completed first). With no generation
    * files, a legacy single `META` file is honored (pre-round-17
    * state dirs). With NO meta file of any kind but `gen=<g>` dirs
    * present, the newest dir with a parseable `_UPTO` recovers
    * (logged loudly); a gen dir that looks COMPLETE (`_SUCCESS`
    * present) yet has no recoverable watermark is named corruption —
    * NOT (0, 0), which would silently orphan the base and let the
    * next vacuum destroy it (the round-16 `weak`). Only gen dirs
    * with neither marker (a fold that crashed mid-write, nothing
    * committed, every batch dir still live) fall through to (0, 0).
    */
  private[streaming] def readMeta(): (Long, Long) = {
    val metaGens = listMetaGens()
    if (metaGens.nonEmpty) {
      val g = metaGens.max
      readSmallFile(metaGenPath(g)).flatMap(parseMetaText) match {
        case Some((gn, un)) =>
          if (gn != g) corrupt(s"META.$g declares generation $gn")
          (gn, un)
        case None =>
          readUpToMarker(g) match {
            case Some(u) =>
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"torn META.$g under $baseDir; recovered gen=$g " +
                  s"upTo=$u from its _UPTO marker")
              (g, u)
            case None => corrupt(s"META.$g unreadable and gen=$g " +
              "has no _UPTO marker")
          }
      }
    } else readSmallFile(legacyMetaPath).map { txt =>
      parseMetaText(txt).getOrElse(corrupt(
        s"legacy META unparseable: '${txt.take(80)}'"))
    }.getOrElse {
      val gens = listIds(baseDir, "gen=").sorted.reverse
      if (gens.isEmpty) (0L, 0L)
      else gens.view.flatMap(g => readUpToMarker(g).map((g, _)))
        .headOption match {
        case Some((g, u)) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"no META file under $baseDir but gen dirs present; " +
              s"recovered gen=$g upTo=$u from its _UPTO marker")
          (g, u)
        case None =>
          val (f, _) = fs(baseDir)
          val complete = gens.filter(g => f.exists(
            new org.apache.hadoop.fs.Path(s"${genPath(g)}/_SUCCESS")))
          if (complete.nonEmpty)
            corrupt(s"gen dirs ${complete.mkString("gen=", ", gen=", "")} " +
              "look complete but no META or _UPTO survives")
          else (0L, 0L) // only half-written fold attempts: benign
      }
    }
  }

  /** Commit a generation: write `gen=<g>/_UPTO`, then CREATE the
    * `META.<g>` generation file with no-overwrite semantics. An
    * existing META.<g> with the same content is an idempotent replay
    * (a restarted stream re-running a committed compaction); with
    * DIFFERENT content it is a fencing violation (two writers, or
    * external tampering) and fails by name with the committed state
    * untouched — the exclusive create is the object-store
    * conditional-put seam.
    */
  private[streaming] def writeMeta(gen: Long, upTo: Long): Unit = {
    val (f, _) = fs(baseDir)
    val payload = s"$gen $upTo"
    val up = new org.apache.hadoop.fs.Path(upToMarkerPath(gen))
    val uo = f.create(up, true)
    try uo.write(upTo.toString.getBytes("UTF-8")) finally uo.close()
    val mp = new org.apache.hadoop.fs.Path(metaGenPath(gen))
    try {
      val out = f.create(mp, false) // create-no-overwrite = commit
      try out.write(payload.getBytes("UTF-8")) finally out.close()
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
          _: java.io.IOException if f.exists(mp) =>
        val existing = readSmallFile(metaGenPath(gen))
        if (!existing.contains(payload))
          corrupt(s"META.$gen already committed with " +
            s"'${existing.getOrElse("<unreadable>").take(80)}', " +
            s"refusing to overwrite with '$payload'")
      // else: a real create failure (permissions, store down) —
      // rethrown below by falling through
    }
    if (!f.exists(mp)) corrupt(s"could not commit META.$gen")
  }

  /** Catalog name of a base generation's bucketed table — derived
    * from the state dir so two gates in one session never collide.
    */
  private def baseTableName(gen: Long): String =
    s"${tablePrefix}_${math.abs(stateDir.hashCode.toLong)}_g$gen"

  private def genPath(gen: Long): String = s"$baseDir/gen=$gen"

  /** The base generation's DataFrame, (re-)registering the external
    * bucketed table if this session's catalog has not seen it (a
    * fresh session reading existing state).
    */
  private def baseTable(gen: Long): DataFrame = {
    val tbl = baseTableName(gen)
    if (!spark.catalog.tableExists(tbl)) {
      spark.sql(
        s"""CREATE TABLE $tbl ($stateDdl, batch BIGINT)
           |USING PARQUET
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
           |  INTO $numBuckets BUCKETS
           |LOCATION '${genPath(gen)}'""".stripMargin)
    }
    spark.table(tbl)
  }

  /** The committed base, if any compaction has committed — the
    * bucketed big side of the probe join.
    */
  def baseIndex(): Option[DataFrame] = {
    val (gen, _) = readMeta()
    if (gen > 0L) Some(baseTable(gen)) else None
  }

  /** The gate's fold over (state ++ batch) rows, applied by
    * [[compact]]. Default: one row per distinct state row, keeping
    * min(batch) so the `batch < n` replay filter stays monotone
    * across folds.
    */
  protected def fold(rows: DataFrame): DataFrame =
    rows.groupBy(dataCols.map(col): _*).agg(min("batch").as("batch"))

  /** Fold every data partition strictly below min(max id present,
    * currentBatchId) into the next bucketed base generation through
    * [[fold]]. Returns the new watermark (exclusive).
    */
  def compact(currentBatchId: Long = Long.MaxValue): Long = {
    val ids = dataBatchIds()
    val (gen, upTo) = readMeta()
    if (ids.isEmpty) return upTo
    val newUpTo = math.min(ids.max, currentBatchId)
    val folded = ids.filter(i => i >= upTo && i < newUpTo).sorted
    if (folded.isEmpty) return upTo
    val foldDf = spark.read.option("basePath", dataDir)
      .parquet(folded.map(i => s"$dataDir/batch=$i"): _*)
      .select((dataCols.map(col) :+
        col("batch").cast("long").as("batch")): _*)
    val all = if (gen > 0L) baseTable(gen).unionByName(foldDf) else foldDf
    val newGen = gen + 1
    val tbl = baseTableName(newGen)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val (f, _) = fs(baseDir)
    f.delete(new org.apache.hadoop.fs.Path(genPath(newGen)), true)
    fold(all).write.format("parquet")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .option("path", genPath(newGen))
      .saveAsTable(tbl)
    writeMeta(newGen, newUpTo)
    newUpTo
  }

  /** Reclaim state no probe can reach: data dirs already folded into
    * the base, data AND verdict dirs beyond the committed high-water
    * mark (crashed attempts of a rolled-back stream), and superseded
    * base generations. Returns the number of directories removed.
    */
  def vacuum(currentBatchId: Long): Int = {
    val (gen, upTo) = readMeta()
    var removed = 0
    def rm(dir: String): Unit = {
      val (f, p) = fs(dir)
      if (f.exists(p)) { f.delete(p, true); removed += 1 }
    }
    dataBatchIds()
      .filter(i => i < upTo || i > currentBatchId)
      .foreach(i => rm(s"$dataDir/batch=$i"))
    listIds(verdictsDir, "batch=")
      .filter(_ > currentBatchId)
      .foreach(i => rm(s"$verdictsDir/batch=$i"))
    listIds(baseDir, "gen=").filter(_ != gen).foreach { g =>
      spark.sql(s"DROP TABLE IF EXISTS ${baseTableName(g)}")
      rm(genPath(g))
    }
    // retire superseded commit files: META.<g'> below the current
    // generation, the legacy single META once a META.<g> supersedes
    // it, and any stray .tmp from the retired rename scheme. Deleting
    // OLD generations here is safe — the max-resolve never reads them
    // — and keeps the baseDir listing O(1), not O(total compactions).
    if (gen > 0L) {
      listMetaGens().filter(_ < gen).foreach(g => rm(metaGenPath(g)))
      val (f, _) = fs(baseDir)
      val legacy = new org.apache.hadoop.fs.Path(legacyMetaPath)
      if (f.exists(legacy) && f.exists(
          new org.apache.hadoop.fs.Path(metaGenPath(gen)))) {
        f.delete(legacy, false); removed += 1
      }
      val tmp = new org.apache.hadoop.fs.Path(s"$legacyMetaPath.tmp")
      if (f.exists(tmp)) { f.delete(tmp, false); removed += 1 }
    }
    removed
  }

  /** Gate one micro-batch: write its verdicts and the state rows it
    * admits under `batch=<batchId>` through [[commit]]. Idempotent per
    * batchId.
    */
  def applyBatch(batch: Dataset[T], batchId: Long): Unit

  /** The per-batch commit every gate shares: persist `cached` (in
    * order), overwrite `verdicts/batch=<batchId>` with `verdicts`, read
    * it back with the written schema (an empty micro-batch writes a
    * directory with no part files, which schema inference rejects but
    * an explicit schema reads as empty), derive the state rows with
    * `state` and overwrite `<data>/batch=<batchId>`; unpersist in
    * `finally`. `verdicts` is evaluated after the persist, so every
    * job it plans reads the caches.
    */
  protected def commit(batchId: Long, cached: DataFrame*)(
      verdicts: => DataFrame)(state: DataFrame => DataFrame): Unit = {
    cached.foreach(_.persist())
    try {
      val v = verdicts
      val dir = s"$verdictsDir/batch=$batchId"
      v.write.mode("overwrite").parquet(dir)
      state(spark.read.schema(v.schema).parquet(dir))
        .write.mode("overwrite").parquet(s"$dataDir/batch=$batchId")
    } finally cached.foreach(_.unpersist())
  }

  /** The standing-state sides batch `batchId` must probe, as
    * SEPARATE frames: the committed base (bucketed — joins against
    * it need no Exchange) filtered to `batch < batchId`, and the
    * not-yet-folded recent batch partitions. Probing them separately
    * keeps the bucketed side's scan-without-shuffle property — a
    * union would erase the bucketing for the whole join. Both frames
    * project exactly the state columns. Empty before the first
    * admitted batch.
    */
  protected def sources(batchId: Long): Seq[DataFrame] = {
    val (gen, upTo) = readMeta()
    val base =
      if (gen > 0L)
        Some(baseTable(gen).filter(col("batch") < batchId)
          .select(dataCols.map(col): _*))
      else None
    val recentIds = dataBatchIds().filter(i => i >= upTo && i < batchId)
    val recent =
      if (recentIds.nonEmpty)
        Some(spark.read.option("basePath", dataDir).parquet(dataDir)
          .filter(col("batch") >= upTo && col("batch") < batchId)
          .select(dataCols.map(col): _*))
      else None
    base.toSeq ++ recent.toSeq
  }

  /** `srcs` as one frame; an empty state frame when there are none. */
  protected def union(srcs: Seq[DataFrame]): DataFrame = srcs match {
    case Nil => spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
    case _ => srcs.reduce(_ unionByName _)
  }

  /** State rows admitted strictly before `batchId`, as one frame —
    * for probes that are semi-joins, where the union still prunes
    * bucket-side scans. May hold several rows per key (one per
    * unfolded batch) when the fold aggregates.
    */
  def standing(batchId: Long): DataFrame = union(sources(batchId))

  /** Verdicts of batches <= upTo: the replay guard. Columns: the
    * verdict key, `batch`, then the gate's other verdict columns.
    */
  def readVerdicts(upTo: Long): DataFrame = {
    val v = spark.read.option("basePath", verdictsDir)
      .parquet(verdictsDir).filter(col("batch") <= upTo)
    val cols = v.columns.toSeq.filter(_ != "batch").map(col)
    v.select((cols.head +: col("batch").cast("long").as("batch") +:
      cols.tail): _*)
  }

  /** Production wiring: run [[applyBatch]] for each micro-batch, then
    * (optionally, every n batches) the maintenance pass AFTER the
    * batch's own writes with `currentBatchId = id` — the newest batch
    * dir always survives for replay, and a restart that re-runs a
    * batch re-runs an idempotent compaction.
    */
  def start(in: Dataset[T], checkpointDir: String,
      compactEvery: Int = 0): StreamingQuery =
    in.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[T], id: Long) =>
        applyBatch(b, id)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0) {
          compact(currentBatchId = id)
          vacuum(currentBatchId = id)
        }
        ()
      }
      .start()
}
