package graft.ops

import graft.functions.GraftFunctions.portableHash
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque binary payloads with
  * typed metadata, processed in distributed batches.
  *
  * The decode seam is REAL where the JDK reaches: header metadata for
  * PNG/JPEG/GIF/WAV/ISO-BMFF ([[ImageCodec]]/[[AudioCodec]]/
  * [[VideoCodec]], pure byte parsing) and FULL pixel decode +
  * nearest-neighbor raster resize for the javax.imageio formats
  * ([[pixelStats]]/[[resizePixels]] — lossless round-trip,
  * oracle-checked as exact integers). Only codecs absent from the
  * JDK (e.g. video FRAME decode) stay stubbed: `fakeDecodeMeta`
  * derives clearly-marked pseudo-metadata from the payload hash.
  * Either way the plumbing — the binary column representation, the
  * schema, the per-partition batch shape (one codec init per
  * partition; on PySpark this is the `mapInPandas` slot, the Scala
  * analog is `mapPartitions`), frame sampling — is what a production
  * pipeline keeps while swapping codecs.
  */
object Multimodal {

  /** Session conf: raster budget (pixels) for full image decode —
    * the decompression-bomb gate of [[pixelStats]]/[[resizePixels]]
    * (and per-frame in [[videoFramePixelStats]]). Default
    * [[ImageCodec.DefaultMaxPixels]]; over-budget payloads route to
    * the corrupt/DLQ branch, never an allocation.
    */
  val MaxPixelsKey = "spark.graft.decode.maxPixels"

  /** Session conf: sample budget for full PCM decode — the oversized
    * -payload gate of [[audioPcmStats]]. Default
    * [[AudioCodec.DefaultMaxSamples]].
    */
  val MaxSamplesKey = "spark.graft.decode.maxSamples"

  /** Resolved at PLAN time on the driver and captured into the task
    * closure — executors never read session conf.
    */
  private def pixelBudget(ds: Dataset[_]): Long =
    ds.sparkSession.conf
      .get(MaxPixelsKey, ImageCodec.DefaultMaxPixels.toString).toLong

  private def sampleBudget(ds: Dataset[_]): Long =
    ds.sparkSession.conf
      .get(MaxSamplesKey, AudioCodec.DefaultMaxSamples.toString).toLong

  final case class MediaMeta(
      doc_id: Long, n_bytes: Long, fake_width: Long, fake_height: Long,
      payload_hash: Long)

  /** Attach the binary payload column (here: utf-8 bytes of the text
    * standing in for real media bytes) + byte length.
    */
  def withPayload(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("payload", col(textCol).cast("binary"))
      .withColumn("n_bytes", octet_length(col(textCol)).cast("long"))

  /** STUB decode: deterministic fake width/height from the payload
    * hash — the clearly-marked placeholder for codecs the JDK lacks
    * (for the formats it has, [[decodeImageMeta]]/[[pixelStats]] are
    * the real paths). Declarative version (codegen'd).
    */
  def fakeDecodeMeta(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("payload_hash", portableHash(col(textCol)))
      .withColumn("fake_width", pmod(col("payload_hash"), lit(1024L)) + 1L)
      .withColumn("fake_height",
        pmod(expr("payload_hash div 1024"), lit(1024L)) + 1L)

  /** The imperative decode slot: batch-iterate payloads per partition.
    * This is where a real codec call goes; the stub computes byte
    * length. Kept as the one sanctioned `mapPartitions` use — codecs
    * are not expressible as Catalyst expressions.
    */
  def decodePartitioned(ds: Dataset[(Long, Array[Byte])]): Dataset[(Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // real impl: initialize codec once per partition, decode each
      it.map { case (id, bytes) => (id, bytes.length.toLong) }
    }
  }

  final case class ResizePlanRow(
      doc_id: Long, format: String, width: Long, height: Long,
      scale_ppm: Long, target_w: Long, target_h: Long,
      resized: Array[Byte])

  /** Aspect-preserving fit-within resize PLANNING through the codec
    * seam — the header-only pass that never touches rasters: the
    * header decode ([[ImageCodec.decodeMeta]]) and the
    * target-dimension plan — exact integer math (scale in parts
    * -per-million = min(10⁶, maxW·10⁶ / w, maxH·10⁶ / h), floor
    * target dims clamped to ≥ 1, never upscale) shared verbatim with
    * the SQL twin. The emitted payload is a structurally valid header
    * of the TARGET size (this op plans; [[resizePixels]] is the REAL
    * raster transform for the javax.imageio formats — same plan
    * math, actual nearest-neighbor pixels). Unrecognized payloads
    * pass through as ("unknown", −1 …, empty) for the malformed
    * sink, like the other decoders.
    */
  def resizeFit(ds: Dataset[(Long, Array[Byte])], maxW: Long,
      maxH: Long): Dataset[ResizePlanRow] = {
    require(maxW > 0 && maxH > 0, "resize box must be positive")
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { case (id, bytes) =>
      ImageCodec.decodeMeta(bytes) match {
        case Some(m) if m.width > 0 && m.height > 0 =>
          val s = math.min(1000000L, math.min(
            maxW * 1000000L / m.width, maxH * 1000000L / m.height))
          val tw = math.max(1L, m.width * s / 1000000L)
          val th = math.max(1L, m.height * s / 1000000L)
          val out = m.format match {
            case "png" => ImageCodec.pngHeader(tw.toInt, th.toInt)
            case "jpeg" => ImageCodec.jpegHeader(tw.toInt, th.toInt)
            case _ => bytes // formats without a header writer: stub no-op
          }
          ResizePlanRow(id, m.format, m.width, m.height, s, tw, th, out)
        case _ =>
          ResizePlanRow(id, "unknown", -1L, -1L, -1L, -1L, -1L,
            Array.emptyByteArray)
      }
    })
  }

  final case class ImageMetaRow(
      doc_id: Long, format: String, width: Long, height: Long)

  /** REAL image metadata decode through the codec seam: format +
    * dimensions parsed from the payload header bytes
    * ([[ImageCodec.decodeMeta]] — PNG IHDR / JPEG SOF / GIF LSD, pure
    * JVM). Unrecognized payloads map to ("unknown", -1, -1) rather
    * than dropping, so the caller can route them to a malformed sink.
    */
  def decodeImageMeta(ds: Dataset[(Long, Array[Byte])]): Dataset[ImageMetaRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { case (id, bytes) =>
      ImageCodec.decodeMeta(bytes) match {
        case Some(m) => ImageMetaRow(id, m.format, m.width.toLong, m.height.toLong)
        case None => ImageMetaRow(id, "unknown", -1L, -1L)
      }
    })
  }

  final case class PixelStatsRow(
      doc_id: Long, status: String, width: Long, height: Long,
      n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL pixel decode through the codec seam
    * ([[ImageCodec.decodePixels]], javax.imageio — in-JDK, no native
    * libraries): decode validity plus exact integer per-channel pixel
    * sums, the raster-level census (mean luminance, over/under
    * -exposure screens, actual-vs-declared dimension audits) a
    * multimodal curation pipeline runs after the header pass.
    * Undecodable payloads become ("corrupt", all −1) rows for the
    * caller's DLQ branch — data, never exceptions. One decoder init
    * per partition, pixels never leave the task: only the O(1) stat
    * row is shuffled.
    */
  def pixelStats(ds: Dataset[(Long, Array[Byte])]): Dataset[PixelStatsRow] = {
    import ds.sparkSession.implicits._
    val budget = pixelBudget(ds)
    ds.mapPartitions(_.map { case (id, bytes) =>
      ImageCodec.decodePixels(bytes, budget) match {
        case Some(p) =>
          var sr = 0L; var sg = 0L; var sb = 0L
          var i = 0
          while (i < p.rgb.length) {
            val v = p.rgb(i)
            sr += (v >>> 16) & 0xff; sg += (v >>> 8) & 0xff; sb += v & 0xff
            i += 1
          }
          PixelStatsRow(id, "ok", p.width.toLong, p.height.toLong,
            p.rgb.length.toLong, sr, sg, sb)
        case None =>
          PixelStatsRow(id, "corrupt", -1L, -1L, -1L, -1L, -1L, -1L)
      }
    })
  }

  /** REAL raster resize through the codec seam: decode
    * ([[ImageCodec.decodePixels]]), the same exact integer
    * fit-within plan as [[resizeFit]] (scale ppm, floor target dims,
    * never upscale), NEAREST-NEIGHBOR sampling
    * (src x = x'·w div tw — exact integer, deterministic across
    * JVMs, unlike interpolating AWT transforms), and a lossless PNG
    * re-encode — so the output payload decodes to exactly the
    * sampled pixels. Undecodable payloads pass through as empty
    * bytes (the DLQ marker [[pixelStats]] downstream reports as
    * corrupt).
    */
  def resizePixels(ds: Dataset[(Long, Array[Byte])], maxW: Long,
      maxH: Long): Dataset[(Long, Array[Byte])] = {
    require(maxW > 0 && maxH > 0, "resize box must be positive")
    import ds.sparkSession.implicits._
    val budget = pixelBudget(ds)
    ds.mapPartitions(_.map { case (id, bytes) =>
      ImageCodec.decodePixels(bytes, budget) match {
        case Some(p) =>
          val s = math.min(1000000L, math.min(
            maxW * 1000000L / p.width, maxH * 1000000L / p.height))
          val tw = math.max(1L, p.width * s / 1000000L).toInt
          val th = math.max(1L, p.height * s / 1000000L).toInt
          val out = ImageCodec.encodePng(tw, th, (x, y) =>
            p.rgb((y.toLong * p.height / th).toInt * p.width +
              (x.toLong * p.width / tw).toInt))
          (id, out)
        case None => (id, Array.emptyByteArray)
      }
    })
  }

  final case class DHashRow(doc_id: Long, status: String,
      hash_hi: Long, hash_lo: Long)

  /** Perceptual difference-hash (dHash) through the codec seam: REAL
    * decode ([[ImageCodec.decodePixels]]), integer grayscale (the
    * 299/587/114 luminance weights, floor /1000 — the lum_e3 rule),
    * nearest-neighbor sample onto a 9×8 grid (the [[resizePixels]]
    * sampling law, src = x'·dim div grid — pure index math, any
    * source size), then 64 horizontal-gradient bits
    * `gray(x+1,y) > gray(x,y)`. The hash is invariant under uniform
    * brightness shifts and any re-encode that preserves pixel
    * ordering — the near-dup signal content-hash dedup cannot see.
    * Packed as TWO 32-bit halves (hash_hi bits 32..63, hash_lo bits
    * 0..31) so both engines build the identical non-negative
    * integers with no 2⁶³ sign trap. Undecodable payloads become
    * ("corrupt", −1, −1) rows — data, never exceptions; pixels never
    * leave the task.
    */
  /** The dHash core over a decoded raster — shared by the image and
    * per-video-frame forms. Returns (hash_hi, hash_lo).
    */
  private def dhashOf(p: ImageCodec.PixelImage): (Long, Long) = {
    def gray(x: Int, y: Int): Long = {
      val sx = (x.toLong * p.width / 9L).toInt
      val sy = (y.toLong * p.height / 8L).toInt
      val v = p.rgb(sy * p.width + sx)
      (299L * ((v >>> 16) & 0xff) + 587L * ((v >>> 8) & 0xff) +
        114L * (v & 0xff)) / 1000L
    }
    var hi = 0L; var lo = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (gray(x + 1, y) > gray(x, y)) {
          val b = y * 8 + x
          if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
        }
        x += 1
      }
      y += 1
    }
    (hi, lo)
  }

  def imageDHash(ds: Dataset[(Long, Array[Byte])]): Dataset[DHashRow] = {
    import ds.sparkSession.implicits._
    val budget = pixelBudget(ds)
    ds.mapPartitions(_.map { case (id, bytes) =>
      ImageCodec.decodePixels(bytes, budget) match {
        case Some(p) =>
          val (hi, lo) = dhashOf(p)
          DHashRow(id, "ok", hi, lo)
        case None => DHashRow(id, "corrupt", -1L, -1L)
      }
    })
  }

  /** The 4×16-bit band layout of a (hash_hi, hash_lo) pair — ONE
    * definition shared by the pair generator below and the
    * [[graft.streaming.NearDupMediaGate]]'s standing-state writer,
    * so the persisted band shape can never drift from the probe
    * that reads it. Emits `extra` columns plus (bi, bv, hash_hi,
    * hash_lo).
    */
  private[graft] def dhashBands(df: DataFrame,
      extra: Seq[String]): DataFrame =
    (0 to 3).map { bi =>
      val src = if (bi < 2) col("hash_lo") else col("hash_hi")
      val v = shiftright(src, (bi % 2) * 16).bitwiseAND(lit(65535L))
      df.select((extra.map(col) ++ Seq(lit(bi).as("bi"), v.as("bv"),
        col("hash_hi"), col("hash_lo"))): _*)
    }.reduce(_ unionByName _)

  /** The 17 radius-1 Hamming-ball XOR masks of a 16-bit band
    * (identity + one flip per bit) — shared with the gate's probe.
    */
  private[graft] def radius1Masks16: Column =
    array((Seq(0L) ++ (0 until 16).map(1L << _)).map(lit(_)): _*)

  /** Candidate pairs for 64-bit Hamming near-dup by MULTI-INDEX
    * probing (Norouzi & Punjani & Fleet, "Fast Search in Hamming
    * Space with Multi-Index Hashing", CVPR 2012): the hash splits
    * into four 16-bit bands, the probe side expands each band by its
    * 17 radius-1 Hamming-ball values (identity + 16 one-bit flips),
    * and candidates equi-join on exact (band_idx, value). The
    * pigeonhole this buys is REAL: d bit errors spread over 4 bands
    * leave the cleanest band with <= floor(d/4) errors, so every
    * pair at Hamming <= 7 has some band within distance 1 of its
    * twin and is guaranteed caught by the radius-1 expansion. (Exact
    * band equality alone — the pre-round-16 form — only guarantees
    * Hamming <= 3; at the <= 6 verify threshold it was a heuristic,
    * not a guarantee.) Candidate generation stays an equi-join —
    * never all-pairs — at 4 x 17 = 68 probe rows per hash; at corpus
    * scale the 16-bit band space keeps bucket sizes n/65536-ish per
    * band, the shape that survives a 100x scale-up.
    *
    * `hs`: (id, hash_hi, hash_lo), 32 significant bits each. Returns
    * distinct (id_a, id_b, ha, la, hb, lb) with id_a < id_b; the
    * caller verifies with the exact popcount and its own threshold
    * (<= 7 stays guaranteed-complete).
    *
    * `bandCap` is the perceptual analog of the lexical tier's
    * band-bucket skew guard (Dedup.bandedPairs): hash spaces narrower
    * than their nominal width turn band values into HUBS — a flat
    * image's all-zero dHash, a test pattern, a sub-grid frame — and a
    * hub bucket of m rows emits m²/2 join rows per band, the
    * quadratic blowup banding alone does not prevent. Buckets at or
    * under the cap keep the exact radius-1 probe; heavier buckets
    * collapse to a STAR around the bucket's min-id hub (every member
    * pairs with the hub only, O(m) rows) and only the hub stays
    * probe-able for cross-bucket radius-1 neighbors — every emitted
    * edge still flows through the caller's exact popcount verifier,
    * so nothing unverified escapes; the pair LIST over a degenerate
    * cluster is intentionally the star (that quadratic list is itself
    * the scale bug) while component labels and canonical picks are
    * preserved through hub connectivity. Default = uncapped, the
    * historical exact plan. [[dhashHeavyBands]] is the census — log
    * or sink it so degenerate hash clusters are SEEN, not silently
    * star-collapsed.
    */
  def dhashBandProbeCandidates(hs: DataFrame,
      bandCap: Int = Int.MaxValue): DataFrame = {
    val bands = dhashBands(hs, Seq("id"))
    val masks = radius1Masks16
    // asymmetric expansion: probing one side by radius 1 against the
    // other side's exact bands catches every band pair at distance
    // <= 1 — expanding both sides would buy radius 2 nobody needs
    // here and square the fan-out
    def probeOf(df: DataFrame) = df.withColumn("__m", explode(masks))
      .select(col("bi"), col("bv").bitwiseXOR(col("__m")).as("bv"),
        col("id").as("id_a"), col("hash_hi").as("ha"),
        col("hash_lo").as("la"))
    def baseOf(df: DataFrame) = df.select(col("bi"), col("bv"),
      col("id").as("id_b"), col("hash_hi").as("hb"),
      col("hash_lo").as("lb"))
    if (bandCap == Int.MaxValue) {
      probeOf(bands).join(baseOf(bands), Seq("bi", "bv"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "ha", "la", "hb", "lb").distinct()
    } else {
      require(bandCap > 1, "bandCap must be > 1")
      // bucket size and hub from ONE window over the (bi, bv)
      // exchange — no second scan, no driver collect
      val w = Window.partitionBy(col("bi"), col("bv"))
      val marked = bands
        .withColumn("__bn", count(lit(1)).over(w))
        .withColumn("__hub", min(struct(col("id"), col("hash_hi"),
          col("hash_lo"))).over(w))
      val light = marked.filter(col("__bn") <= bandCap)
        .select("id", "hash_hi", "hash_lo", "bi", "bv")
      // one surviving row per heavy bucket: its hub — cross-bucket
      // radius-1 neighbors connect to the hub, never the members
      val hubs = marked.filter(col("__bn") > bandCap)
        .select(col("__hub.id").as("id"),
          col("__hub.hash_hi").as("hash_hi"),
          col("__hub.hash_lo").as("hash_lo"), col("bi"), col("bv"))
        .distinct()
      // hub = min id of its bucket, so id_a < id_b by construction
      val star = marked.filter(col("__bn") > bandCap)
        .filter(col("id") =!= col("__hub.id"))
        .select(col("__hub.id").as("id_a"), col("id").as("id_b"),
          col("__hub.hash_hi").as("ha"), col("__hub.hash_lo").as("la"),
          col("hash_hi").as("hb"), col("hash_lo").as("lb"))
      val kept = light.unionByName(hubs)
      // a hub can sit on either side of a probe hit (its id is its
      // bucket's min, not the pair's) — normalize by id with the
      // hashes riding their struct
      val sa = struct(col("id_a").as("id"), col("ha").as("hh"),
        col("la").as("hl"))
      val sb = struct(col("id_b").as("id"), col("hb").as("hh"),
        col("lb").as("hl"))
      probeOf(kept).join(baseOf(kept), Seq("bi", "bv"))
        .filter(col("id_a") =!= col("id_b"))
        .select(least(sa, sb).as("__x"), greatest(sa, sb).as("__y"))
        .select(col("__x.id").as("id_a"), col("__y.id").as("id_b"),
          col("__x.hh").as("ha"), col("__x.hl").as("la"),
          col("__y.hh").as("hb"), col("__y.hl").as("lb"))
        .unionByName(star)
        .select("id_a", "id_b", "ha", "la", "hb", "lb").distinct()
    }
  }

  /** Census side output for [[dhashBandProbeCandidates]]' skew guard:
    * the (bi, bv) band buckets whose size exceeds `cap` — the
    * monitoring view that makes a degenerate perceptual hash cluster
    * (flat images, test patterns, sub-grid frames) LOUD instead of
    * silently star-collapsed. (bi, bv, bucket_n).
    */
  def dhashHeavyBands(hs: DataFrame, cap: Int): DataFrame =
    dhashBands(hs, Seq("id"))
      .groupBy("bi", "bv").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)

  /** [[dhashBandProbeCandidates]] for a single 32-bit fingerprint
    * column (the audio energy-contour fp): four 8-bit bands, probe
    * side expanded by the 9 radius-1 ball values per band, exact
    * equi-join on (band_idx, value) — every pair at Hamming <= 7 is
    * guaranteed caught (d over 4 bands leaves the cleanest band with
    * <= floor(d/4) <= 1 errors). 4 x 9 = 36 probe rows per
    * fingerprint. NOTE the band space: 8-bit bands collapse to
    * n/256-ish buckets — the corpus-scale serving path is
    * [[audioFingerprintWide]] (64 contour bits as hi/lo halves)
    * through [[dhashBandProbeCandidates]]'s 16-bit bands; this
    * 32-bit tier stays as that path's independent oracle twin and
    * the skew-cap discipline of the lexical tier applies above the
    * tested scales.
    * `hs`: (id, fp). Returns distinct (id_a, id_b, fa, fb),
    * id_a < id_b.
    */
  def fp32BandProbeCandidates(hs: DataFrame): DataFrame = {
    val bands = (0 to 3).map { bi =>
      hs.select(col("id"), col("fp"), lit(bi).as("bi"),
        shiftright(col("fp"), bi * 8).bitwiseAND(lit(255L)).as("bv"))
    }.reduce(_ unionByName _)
    val masks = array((Seq(0L) ++ (0 until 8).map(1L << _))
      .map(lit(_)): _*)
    val probe = bands.withColumn("__m", explode(masks))
      .select(col("bi"), col("bv").bitwiseXOR(col("__m")).as("bv"),
        col("id").as("id_a"), col("fp").as("fa"))
    val base = bands.select(col("bi"), col("bv"), col("id").as("id_b"),
      col("fp").as("fb"))
    probe.join(base, Seq("bi", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fa", "fb").distinct()
  }

  /** EXACT Hamming-pair generator by 8x8-bit-band pigeonhole: d <= 7
    * errors over 8 bands force at least one band with ZERO errors,
    * so exact band equality is complete for `maxDist` <= 7 — a
    * genuinely DIFFERENT exact algorithm than the 4x16 multi-probe
    * above, which is what makes it the truth side of the recall
    * oracle (two distinct exact generators agreeing pin each other).
    * 8-bit bands are the wrong production shape (256 values per band
    * collapses to huge buckets at corpus scale) — this is the oracle
    * tool, not the serving path. Returns (id_a, id_b, hamming)
    * pairs, id_a < id_b, hamming <= maxDist.
    */
  def dhashExactPairs(hs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      s"8-band pigeonhole is exact only to Hamming 7, got $maxDist")
    val bands = (0 to 7).map { bi =>
      val src = if (bi < 4) col("hash_lo") else col("hash_hi")
      val v = shiftright(src, (bi % 4) * 8).bitwiseAND(lit(255L))
      hs.select(col("id"), col("hash_hi"), col("hash_lo"),
        lit(bi).as("bi"), v.as("bv"))
    }.reduce(_ unionByName _)
    val a = bands.select(col("bi"), col("bv"), col("id").as("id_a"),
      col("hash_hi").as("ha"), col("hash_lo").as("la"))
    val b = bands.select(col("bi"), col("bv"), col("id").as("id_b"),
      col("hash_hi").as("hb"), col("hash_lo").as("lb"))
    a.join(b, Seq("bi", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "ha", "la", "hb", "lb").distinct()
      .withColumn("hamming", Dedup.hamming128(col("ha"), col("la"),
        col("hb"), col("lb")))
      .filter(col("hamming") <= maxDist.toLong)
      .select("id_a", "id_b", "hamming")
  }

  final case class FrameDHashRow(doc_id: Long, frame_idx: Long,
      status: String, hash_hi: Long, hash_lo: Long)

  /** Per-frame perceptual dHash through the video seam — the
    * [[videoFramePixelStats]] walk with the [[imageDHash]] raster
    * core per frame: the building block of video near-dup (a
    * re-levelled re-encode of a clip keeps every frame's dHash, so
    * the ordered frame-hash sequence is the video's perceptual key).
    * Container corruption → one ("corrupt", −1, −1) row at
    * frame_idx −1; an undecodable single frame → its own
    * ("corrupt_frame", −1, −1) row, the rest of the clip unharmed.
    */
  def videoFrameDHash(
      ds: Dataset[(Long, Array[Byte])]): Dataset[FrameDHashRow] = {
    import ds.sparkSession.implicits._
    val budget = pixelBudget(ds)
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      VideoCodec.decodeAvi(bytes) match {
        case None => Iterator.single(FrameDHashRow(
          id, -1L, "corrupt", -1L, -1L))
        case Some(v) =>
          v.frames.iterator.zipWithIndex.map { case (fb, fi) =>
            ImageCodec.decodePixels(fb, budget) match {
              case Some(p) =>
                val (hi, lo) = dhashOf(p)
                FrameDHashRow(id, fi.toLong, "ok", hi, lo)
              case None => FrameDHashRow(id, fi.toLong,
                "corrupt_frame", -1L, -1L)
            }
          }
      }
    })
  }

  final case class PcmStatsRow(
      doc_id: Long, status: String, channels: Long, sample_rate: Long,
      n_samples: Long, sum_abs: Long, sum_sq: Long, peak: Long,
      n_clipped: Long)

  /** REAL PCM decode through the audio seam
    * ([[AudioCodec.decodePcm]], javax.sound — in-JDK): decode
    * validity plus the exact integer sample census a curation
    * pipeline screens clips with — Σ|s| (loudness), Σs² (energy; RMS
    * is one sqrt away), peak amplitude, and the count of full-scale
    * samples (clipping evidence: |s| at the 16-bit rails).
    * Undecodable payloads become ("corrupt", all −1) rows for the
    * caller's DLQ branch. Samples never leave the task — only the
    * O(1) stat row is shuffled.
    */
  def audioPcmStats(ds: Dataset[(Long, Array[Byte])]): Dataset[PcmStatsRow] = {
    import ds.sparkSession.implicits._
    val budget = sampleBudget(ds)
    ds.mapPartitions(_.map { case (id, bytes) =>
      AudioCodec.decodePcm(bytes, budget) match {
        case Some(p) =>
          var sa = 0L; var sq = 0L; var peak = 0L; var clipped = 0L
          var i = 0
          while (i < p.samples.length) {
            val v = p.samples(i).toLong
            val a = math.abs(v)
            sa += a; sq += v * v
            if (a > peak) peak = a
            if (v == 32767L || v == -32768L) clipped += 1
            i += 1
          }
          PcmStatsRow(id, "ok", p.channels.toLong, p.sampleRate,
            p.samples.length.toLong, sa, sq, peak, clipped)
        case None =>
          PcmStatsRow(id, "corrupt", -1L, -1L, -1L, -1L, -1L, -1L, -1L)
      }
    })
  }

  final case class AudioFpRow(doc_id: Long, status: String, fp: Long)

  /** Gain-invariant audio fingerprint through the PCM seam: REAL
    * decode ([[AudioCodec.decodePcm]]), samples split into `frames`
    * equal spans (sample i → frame i·frames div n — the same pure
    * index law as the pixel grid), exact integer frame energies
    * Σ s², then frames−1 energy-contour bits `E(f+1) > E(f)` packed
    * into one non-negative long (frames ≤ 33 keeps it under 2³²).
    * A uniform gain change scales every energy by k² — the contour,
    * and therefore the fingerprint, is invariant: the near-dup
    * signal for re-levelled/re-encoded copies that byte hashing
    * cannot see. Undecodable payloads route to ("corrupt", −1).
    */
  def audioFingerprint(ds: Dataset[(Long, Array[Byte])],
      frames: Int = 33): Dataset[AudioFpRow] = {
    require(frames >= 2 && frames <= 33, s"need 2..33 frames, got $frames")
    import ds.sparkSession.implicits._
    val budget = sampleBudget(ds)
    ds.mapPartitions(_.map { case (id, bytes) =>
      AudioCodec.decodePcm(bytes, budget) match {
        case Some(p) if p.samples.nonEmpty =>
          val n = p.samples.length
          val e = new Array[Long](frames)
          var i = 0
          while (i < n) {
            val f = (i.toLong * frames / n).toInt
            val s = p.samples(i).toLong
            e(f) += s * s
            i += 1
          }
          var fp = 0L
          var f = 0
          while (f < frames - 1) {
            if (e(f + 1) > e(f)) fp |= 1L << f
            f += 1
          }
          AudioFpRow(id, "ok", fp)
        case Some(_) => AudioFpRow(id, "ok", 0L)
        case None => AudioFpRow(id, "corrupt", -1L)
      }
    })
  }

  final case class AudioFpWideRow(doc_id: Long, status: String,
      hash_hi: Long, hash_lo: Long)

  /** The PRODUCTION-WIDTH audio fingerprint: the [[audioFingerprint]]
    * energy-contour walk over `frames` = 65 equal spans → 64 contour
    * bits packed as two non-negative 32-bit halves — the exact shape
    * [[dhashBandProbeCandidates]] consumes, so audio near-dup blocks
    * on four 16-bit bands (~n/65536 buckets at corpus scale) with the
    * image tier's guaranteed radius-1 recall, instead of the 32-bit
    * tier's four 8-bit bands (~n/256 — fine at tested scales, a hub
    * hazard at corpus scale; that tier stays as the oracle twin).
    * Gain invariance is unchanged: energies scale by k², the contour
    * doesn't move. Undecodable payloads route to ("corrupt", −1, −1).
    */
  def audioFingerprintWide(ds: Dataset[(Long, Array[Byte])],
      frames: Int = 65): Dataset[AudioFpWideRow] = {
    require(frames >= 34 && frames <= 65,
      s"wide tier is 34..65 frames (33..64 bits), got $frames")
    import ds.sparkSession.implicits._
    val budget = sampleBudget(ds)
    ds.mapPartitions(_.map { case (id, bytes) =>
      AudioCodec.decodePcm(bytes, budget) match {
        case Some(p) if p.samples.nonEmpty =>
          val n = p.samples.length
          val e = new Array[Long](frames)
          var i = 0
          while (i < n) {
            val f = (i.toLong * frames / n).toInt
            val s = p.samples(i).toLong
            e(f) += s * s
            i += 1
          }
          var hi = 0L
          var lo = 0L
          var f = 0
          while (f < frames - 1) {
            if (e(f + 1) > e(f)) {
              if (f < 32) lo |= 1L << f else hi |= 1L << (f - 32)
            }
            f += 1
          }
          AudioFpWideRow(id, "ok", hi, lo)
        case Some(_) => AudioFpWideRow(id, "ok", 0L, 0L)
        case None => AudioFpWideRow(id, "corrupt", -1L, -1L)
      }
    })
  }

  final case class AudioMetaRow(
      doc_id: Long, channels: Long, sample_rate: Long, bits: Long,
      n_audio_frames: Long, duration_us: Long)

  /** REAL audio metadata decode through the same codec seam as
    * [[decodeImageMeta]]: channels / rate / depth / frame count /
    * exact integer duration parsed from the WAV header bytes
    * ([[AudioCodec.decodeMeta]], pure JVM). Unrecognized payloads map
    * to all -1 rather than dropping.
    */
  def decodeAudioMeta(ds: Dataset[(Long, Array[Byte])]): Dataset[AudioMetaRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { case (id, bytes) =>
      AudioCodec.decodeMeta(bytes) match {
        case Some(m) => AudioMetaRow(id, m.channels.toLong, m.sampleRate,
          m.bitsPerSample.toLong, m.nFrames, m.durationUs)
        case None => AudioMetaRow(id, -1L, -1L, -1L, -1L, -1L)
      }
    })
  }

  final case class FramePixelStatsRow(
      doc_id: Long, frame_idx: Long, status: String, width: Long,
      height: Long, n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL video FRAME pixel decode — the container walk
    * ([[VideoCodec.decodeAvi]]: MJPEG/PNG-in-AVI, pure RIFF parsing)
    * followed by the same budgeted still-image decode as
    * [[pixelStats]] on every frame payload. One row per frame with
    * the exact integer per-channel census; an undecodable CONTAINER
    * yields one ("corrupt", frame −1) row, an undecodable (or
    * over-budget) individual FRAME yields a ("corrupt_frame", that
    * index) row — both data for the DLQ branch, never exceptions.
    * Rasters never leave the task: only O(1) stat rows per frame are
    * shuffled, and the [[MaxPixelsKey]] budget gates every frame the
    * same way it gates single images.
    */
  def videoFramePixelStats(
      ds: Dataset[(Long, Array[Byte])]): Dataset[FramePixelStatsRow] = {
    import ds.sparkSession.implicits._
    val budget = pixelBudget(ds)
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      VideoCodec.decodeAvi(bytes) match {
        case None => Iterator.single(FramePixelStatsRow(
          id, -1L, "corrupt", -1L, -1L, -1L, -1L, -1L, -1L))
        case Some(v) =>
          v.frames.iterator.zipWithIndex.map { case (fb, fi) =>
            ImageCodec.decodePixels(fb, budget) match {
              case Some(p) =>
                var sr = 0L; var sg = 0L; var sb = 0L
                var i = 0
                while (i < p.rgb.length) {
                  val px = p.rgb(i)
                  sr += (px >>> 16) & 0xff; sg += (px >>> 8) & 0xff
                  sb += px & 0xff
                  i += 1
                }
                FramePixelStatsRow(id, fi.toLong, "ok", p.width.toLong,
                  p.height.toLong, p.rgb.length.toLong, sr, sg, sb)
              case None => FramePixelStatsRow(id, fi.toLong,
                "corrupt_frame", -1L, -1L, -1L, -1L, -1L, -1L)
            }
          }
      }
    })
  }

  final case class VideoMetaRow(
      doc_id: Long, brand: String, timescale: Long, duration_us: Long,
      width: Long, height: Long)

  /** REAL video-container metadata decode through the same codec seam
    * as [[decodeImageMeta]]: brand / timescale / exact integer
    * duration / presentation dimensions parsed from the ISO-BMFF box
    * tree ([[VideoCodec.decodeMeta]], pure JVM — no mdat needed).
    * Unrecognized payloads map to ("unknown", all -1).
    */
  def decodeVideoMeta(ds: Dataset[(Long, Array[Byte])]): Dataset[VideoMetaRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { case (id, bytes) =>
      VideoCodec.decodeMeta(bytes) match {
        case Some(m) => VideoMetaRow(id, m.brand, m.timescale,
          m.durationUs, m.width, m.height)
        case None => VideoMetaRow(id, "unknown", -1L, -1L, -1L, -1L)
      }
    })
  }

  /** Frame sampling plumbing: treat the payload as `frameSize`-byte
    * frames, take every `stride`-th, extract a (stubbed) per-frame
    * feature — the first byte's code point.
    */
  def sampleFrames(df: DataFrame, textCol: String,
      frameSize: Int, stride: Int): DataFrame = {
    val nFrames = floor(length(col(textCol)) / frameSize).cast("long")
    df.withColumn("n_frames", nFrames)
      .withColumn("frame_offsets",
        filter(sequence(lit(0L), greatest(nFrames - 1L, lit(0L))),
          f => f % stride === 0L && nFrames > 0L))
      .withColumn("n_sampled", size(col("frame_offsets")).cast("long"))
      .withColumn("frame_feature_sum",
        aggregate(col("frame_offsets"), lit(0L),
          (acc, f) => acc +
            ascii(substring(col(textCol), (f * frameSize + 1L).cast("int"), lit(1)))))
      .drop("frame_offsets")
  }
}
