package graft.sink

import graft.model.Op
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Destination table metadata — the analog of the reference's cached
  * DescribeTable result (dst_table/dst_table.go:20-24): authoritative
  * schema + positional primary key. Incoming columns that don't exist
  * in this schema are a hard error, mirroring gen_query.go:323-326.
  */
final case class TableMeta(name: String, schema: StructType, primaryKey: Seq[String]) {
  require(primaryKey.forall(k => schema.fieldNames.contains(k)),
    s"primary key $primaryKey not in schema of $name")
  def nonKeyColumns: Seq[String] =
    schema.fieldNames.toSeq.filterNot(primaryKey.contains)
}

/** Bucketed apply of a merged change patch, in one of two write modes.
  *
  * UPSERT semantics follow the reference's generated statements
  * (gen_query.go:342-376): an upsert sets exactly the columns present
  * in the change and preserves the rest; a delete removes the row by
  * key. Rather than generating SQL, we merge declaratively: per-column
  * coalesce guided by the change's present-column mask.
  *
  * '''Copy-on-write''' (the original path, now the compaction
  * primitive): full-outer-join the affected buckets' current contents
  * with the patch and rewrite those buckets. Bytes written per commit
  * ∝ the AFFECTED BUCKETS' size — ruinous at a 100 TB destination
  * under uniformly-keyed small batches, where every batch touches
  * every bucket and each commit approaches a full-table rewrite (the
  * reference never faces this: it delegates steady-state merging to
  * YDB's LSM, dst_table/gen_query.go:342-363 — an LSM is precisely a
  * merge-on-read structure).
  *
  * '''Merge-on-read''' (the scale path, engine default): append the
  * typed patch itself as per-bucket DELTA files — one commit's LWW
  * patch per file — and replay the chain onto the base lazily at read
  * time ([[readCurrent]]). Bytes written per commit ∝ the PATCH size.
  * When a bucket's chain reaches `compactDeltas` files, that bucket
  * alone is folded back into base files via the read-side merge — the
  * same read every query does — bounding read amplification at
  * `compactDeltas` and amortizing the rewrite over the chain length.
  *
  * Only buckets named by the patch are touched; everything else is
  * carried forward by manifest pointer. All shuffles carry affected
  * rows only.
  */
object DstTable {

  val BucketCol = "__bucket"

  /** Delta-file bookkeeping columns (beyond the table schema). The
    * `__`-prefixed names follow the [[BucketCol]] convention; they
    * never surface from [[readCurrent]].
    */
  private val OpCol = "__op"
  private val ErasedCol = "__erased"
  private val PresentCol = "__present"
  private val SeqCol = "__seq"

  def bucketOf(meta: TableMeta, buckets: Int): Column =
    pmod(xxhash64(meta.primaryKey.map(col): _*), lit(buckets)).cast("int")

  /** Size gate for the broadcast read-side merge: delta chains whose
    * files total at most this many bytes merge via broadcast joins
    * (the base NEVER shuffles — see [[readCurrent]]); larger chains
    * fall back to the shuffled full-outer join. Compaction keeps
    * steady-state chains far below this. Mutable only so specs can
    * force the fallback path.
    */
  private[graft] var DeltaBroadcastMaxBytes: Long = 64L << 20

  private def deltaSchema(meta: TableMeta): StructType =
    StructType(meta.schema.fields.toSeq ++ Seq(
      StructField(OpCol, IntegerType),
      StructField(ErasedCol, BooleanType),
      StructField(PresentCol, ArrayType(StringType)),
      StructField(SeqCol, LongType)))

  /** The table's committed rows: base files overlaid by any delta
    * chains, restricted to `onlyBuckets` when given (both base and
    * delta reads prune to those buckets BEFORE the scan is planned —
    * the point-read contract). Delta-free buckets cost exactly the
    * copy-on-write read: the merge plan is added only when a chain
    * exists.
    */
  def readCurrent(spark: SparkSession, meta: TableMeta,
      tv: TransactionalStore.TableVersion,
      onlyBuckets: Option[Set[Int]] = None): DataFrame = {
    def pick(m: Map[Int, Seq[String]]): Seq[String] =
      m.filter { case (b, _) => onlyBuckets.forall(_.contains(b)) }
        .values.flatten.toSeq
    val baseFiles = pick(tv.bucketFiles)
    val base =
      if (baseFiles.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          meta.schema)
      else spark.read.schema(meta.schema).parquet(baseFiles: _*)
    val dFiles = pick(tv.deltaFiles)
    if (dFiles.isEmpty) base
    else {
      val deltaBytes = dFiles.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen
        catch { case _: java.io.IOException => Long.MaxValue / 1024 }
      }.sum
      mergeDeltas(meta, base,
        spark.read.schema(deltaSchema(meta)).parquet(dFiles: _*),
        broadcastable = deltaBytes <= DeltaBroadcastMaxBytes)
    }
  }

  /** Read-side merge: consolidate a key's delta chain into one
    * effective patch with a SINGLE codegen'd aggregate, then overlay
    * it on the base with one full-outer join — the lazy form of the
    * copy-on-write merge, identical semantics (spec-pinned by
    * MergeOnReadSpec's CoW-equivalence property).
    *
    * The consolidation is order-free (max() only, associative under
    * partial aggregation). Let, per key,
    *   E = max seq of any erase delta,
    *   R = max seq of any BARRIER delta (erase, or an update whose
    *       batch saw an erase — the replace case), and
    *   per column c, d_c = (seq, value) of the newest update delta
    *       with c present.
    * Then the row survives iff an update outranks every erase
    * (max update seq > E, or no deltas at all and a base row exists);
    * column c = d_c.value when d_c.seq ≥ R (the newest setter was not
    * buried by a later barrier — ≥ because the barrier update itself
    * sets its present columns), else NULL when any barrier exists
    * (replace semantics: the base value is dead), else the base value.
    * This reproduces replaying the chain commit-by-commit through the
    * CoW join, by the same argument as LwwMerge.MergeBuf — positions
    * across commits are disjoint and increasing, so the fold is the
    * sequential application.
    */
  private def mergeDeltas(meta: TableMeta, base: DataFrame,
      deltas: DataFrame, broadcastable: Boolean): DataFrame = {
    val pk = meta.primaryKey
    val nonKey = meta.nonKeyColumns
    val upd = col(OpCol) === Op.Update
    val ers = col(OpCol) === Op.Erase

    val aggs =
      max(when(ers, col(SeqCol))).as("__e") +:
      max(when(ers || col(ErasedCol), col(SeqCol))).as("__r") +:
      max(when(upd, col(SeqCol))).as("__u") +:
      nonKey.map { c =>
        max(when(upd && array_contains(col(PresentCol), c),
          struct(col(SeqCol).as("s"), col(c).as("v")))).as(s"__d_$c")
      }
    val consolidated = deltas
      .groupBy(pk.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

    val b = base.select(
      (pk.map(k => col(k).as(s"__bk_$k")) ++
        nonKey.map(c => col(c).as(s"__b_$c"))): _*)
    val d = consolidated.select(
      (pk.map(k => col(k).as(s"__dk_$k")) ++
        Seq(col("__e"), col("__r"), col("__u"), lit(true).as("__hasDelta")) ++
        nonKey.map(c => col(s"__d_$c"))): _*)
    val cond = pk.map(k => b(s"__bk_$k") <=> d(s"__dk_$k")).reduce(_ && _)

    val noSeq = lit(Long.MinValue)
    def overlay(joined: DataFrame, hasDeltaAlways: Boolean): DataFrame = {
      val alive =
        (if (hasDeltaAlways) lit(false) else col("__hasDelta").isNull) ||
          coalesce(col("__u"), noSeq) > coalesce(col("__e"), noSeq)
      joined.filter(alive).select(
        (pk.map(k => coalesce(col(s"__bk_$k"), col(s"__dk_$k")).as(k)) ++
          nonKey.map { c =>
            val dt = meta.schema(c).dataType
            val dc = col(s"__d_$c")
            when(dc.isNotNull && dc("s") >= coalesce(col("__r"), noSeq),
              dc("v"))
              .when(col("__r").isNotNull, lit(null).cast(dt))
              .otherwise(col(s"__b_$c")).as(c)
          }): _*)
    }

    if (!broadcastable)
      // big chain (bulk backfill before its compaction): shuffled
      // full-outer merge
      overlay(b.join(d, cond, "full_outer"), hasDeltaAlways = false)
    else {
      // The scale path: the BASE never shuffles. full_outer(base, d)
      // decomposes by key membership in the (broadcastable) chain:
      //   (1) untouched — base ANTI broadcast(delta keys): streamed
      //       scan, emitted as-is;
      //   (2) touched   — base SEMI broadcast(delta keys): streamed
      //       scan yielding ≤ |chain| rows, then a full-outer overlay
      //       against the consolidated chain (both sides chain-sized,
      //       so its exchanges are trivial; the full-outer keeps
      //       brand-new keys as inserts).
      // Result: a 100 TB read with a live chain costs two parallel
      // pruned scans and zero base exchanges, and predicates on the
      // result push into both scans through the union — a plain
      // full-outer join would shuffle the whole base AND block
      // pushdown on both sides.
      val dk1 = d.select(pk.map(k => col(s"__dk_$k")): _*)
      val untouched = b.join(broadcast(dk1),
          pk.map(k => b(s"__bk_$k") <=> dk1(s"__dk_$k")).reduce(_ && _),
          "left_anti")
        .select((pk.map(k => col(s"__bk_$k").as(k)) ++
          nonKey.map(c => col(s"__b_$c").as(c))): _*)
      val dk2 = d.select(pk.map(k => col(s"__dk_$k")): _*)
      val touched = b.join(broadcast(dk2),
        pk.map(k => b(s"__bk_$k") <=> dk2(s"__dk_$k")).reduce(_ && _),
        "left_semi")
      val merged = overlay(touched.join(d, cond, "full_outer"),
        hasDeltaAlways = false)
      untouched.unionByName(merged)
    }
  }

  /** Apply `patch` (merged rows: keyJson, op, columns) to the table
    * under `mergeOnRead` or copy-on-write, writing new files under
    * `root/tables/<name>/{c,d}{commitVersion}/`. Returns the updated
    * per-bucket file pointers plus the patch row count (piggybacked on
    * the metadata aggregation so the caller's modification metric
    * costs no extra job).
    */
  def applyPatch(spark: SparkSession, root: String, meta: TableMeta,
      buckets: Int, current: TransactionalStore.TableVersion,
      patch: DataFrame, commitVersion: Long,
      mergeOnRead: Boolean = false,
      compactDeltas: Int = 8): (TransactionalStore.TableVersion, Long) = {

    // Typed projection of the patch + present-column mask + bucket.
    val typedPatch = patch.select(
      (TypeConversion.project(meta.schema, meta.primaryKey,
        col("columns"), col("keyJson")) ++ Seq(
        col("op"),
        coalesce(col("erased"), lit(false)).as(ErasedCol),
        TypeConversion.presentColumns(meta.schema, meta.primaryKey,
          col("columns")).as(PresentCol),
        // columns the destination schema doesn't know — hard error
        filter(map_keys(col("columns")),
          c => !c.isin(meta.schema.fieldNames.toSeq.map(lit): _*))
          .as("__unknown"))): _*)
      .withColumn(BucketCol, bucketOf(meta, buckets))

    // The per-commit metadata — affected buckets, any unknown
    // columns, the patch cardinality — in ONE pass. The CoW routes
    // need it BEFORE their write (the affected set prunes the
    // old-contents read), so they pay a dedicated aggregation job;
    // the steady-state merge-on-read append needs it only AFTER, so
    // there it rides an Observation ON the delta-write job itself —
    // zero dedicated jobs per table per commit (r17: the agg job was
    // ~30% of a RUN batch's emit phase).
    val metaAggs = Seq(
      collect_set(col(BucketCol)).as("buckets"),
      array_distinct(flatten(collect_list(col("__unknown")))).as("bad"),
      count(lit(1)).as("n"))
    def requireKnown(bad: scala.collection.Seq[String]): Unit =
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"unknown destination columns for table ${meta.name}: ${bad.mkString(",")}")

    // Copy-on-write — also taken, under merge-on-read, for the FIRST
    // commit into an empty table: a bulk load onto nothing writes
    // exactly patch-sized base files (zero amplification), and the
    // table starts with a real base instead of a base-less chain.
    val tableEmpty = current.bucketFiles.isEmpty && current.deltaFiles.isEmpty
    if (!mergeOnRead || tableEmpty) {
      val metaRow = typedPatch.agg(metaAggs.head, metaAggs.tail: _*).head()
      requireKnown(metaRow.getAs[scala.collection.Seq[String]]("bad"))
      val affected = metaRow.getAs[scala.collection.Seq[Int]]("buckets").toSet
      val nRows = metaRow.getAs[Long]("n")
      if (affected.isEmpty) return (current, nRows)
      return (rewriteBuckets(spark, root, meta, buckets, current,
        Some(typedPatch), affected, commitVersion), nRows)
    }

    // ---- merge-on-read: append the typed patch as delta files ----
    val deltaOut = s"$root/tables/${meta.name}/d$commitVersion"
    val obs = org.apache.spark.sql.Observation()
    typedPatch.observe(obs, metaAggs.head, metaAggs.tail: _*)
      .drop("__unknown")
      .withColumnRenamed("op", OpCol)
      // a parameter, not a literal: the delta write's generated code
      // stays the same from commit to commit and compiles once
      .withColumn(SeqCol,
        graft.functions.NativeExpressions.paramLong(commitVersion))
      // co-locate each bucket so a bucket's chain grows ONE file per
      // commit (the chain length bounds both read amplification and
      // the compaction trigger below)
      .repartition(col(BucketCol))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(deltaOut)
    // the write IS the observed action; metrics are complete here.
    // An unknown column aborts before the manifest ever references
    // the just-written dir — and the dir itself is DELETED on the
    // abort (and on a provably-empty patch), so neither case leaves
    // an orphan d<commit> behind for a retry to maybe overwrite
    // (r17 advice: the abort/empty paths used to rely on same-version
    // retry semantics to clean up).
    def dropDeltaDir(): Unit = {
      val p = new org.apache.hadoop.fs.Path(deltaOut)
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      catch { case _: java.io.IOException => () } // best effort
    }
    val m = obs.get
    val bad = m("bad").asInstanceOf[scala.collection.Seq[String]]
    if (bad.nonEmpty) { dropDeltaDir(); requireKnown(bad) }
    val affected =
      m("buckets").asInstanceOf[scala.collection.Seq[Int]].toSet
    val nRows = m("n").asInstanceOf[Long]
    if (affected.isEmpty) { dropDeltaDir(); return (current, nRows) }
    val newDeltas = affected.map { bkt =>
      bkt -> (current.deltaFiles.getOrElse(bkt, Nil) ++
        TransactionalStore.partFiles(s"$deltaOut/$BucketCol=$bkt"))
    }.toMap
    var tv = TransactionalStore.TableVersion(
      current.bucketFiles, current.deltaFiles ++ newDeltas)

    // per-bucket compaction threshold: fold chains of compactDeltas+
    // files back into base — the CoW primitive over those buckets only
    val toCompact = tv.deltaFiles
      .collect { case (bkt, fs) if fs.size >= compactDeltas => bkt }.toSet
    if (toCompact.nonEmpty)
      tv = rewriteBuckets(spark, root, meta, buckets, tv,
        None, toCompact, commitVersion)
    (tv, nRows)
  }

  /** Copy-on-write rewrite of `affected` buckets: current contents
    * (base + any delta chains, via [[readCurrent]]) merged with
    * `patch` when given, written as the buckets' new base files;
    * their delta chains are consumed. With `patch = None` this is
    * pure compaction.
    */
  private def rewriteBuckets(spark: SparkSession, root: String,
      meta: TableMeta, buckets: Int,
      current: TransactionalStore.TableVersion,
      patch: Option[DataFrame], affected: Set[Int],
      commitVersion: Long): TransactionalStore.TableVersion = {
    val old = readCurrent(spark, meta, current, Some(affected))
      .withColumn(BucketCol, bucketOf(meta, buckets))
    val pk = meta.primaryKey

    val merged = patch match {
      case None => old
      case Some(typedPatch) =>
        val oldK = old.select(
          (pk.map(k => col(k).as(s"__k_$k")) ++
            meta.nonKeyColumns.map(c => col(c).as(s"__o_$c")) :+
            col(BucketCol).as("__ob")): _*)
        val patK = typedPatch.drop("__unknown").select(
          (pk.map(k => col(k).as(s"__pk_$k")) ++
            meta.nonKeyColumns.map(c => col(c).as(s"__p_$c")) :+
            col("op") :+ col(ErasedCol) :+ col(PresentCol) :+
            col(BucketCol).as("__pb")): _*)

        val joined = oldK.join(patK,
          pk.map(k => oldK(s"__k_$k") <=> patK(s"__pk_$k")).reduce(_ && _),
          "full_outer")

        joined
          // delete drops matched rows; unmatched deletes are no-ops
          .filter(col("op").isNull || col("op") =!= Op.Erase)
          .select(
            (pk.map(k => coalesce(col(s"__k_$k"), col(s"__pk_$k")).as(k)) ++
              meta.nonKeyColumns.map { c =>
                val dt = meta.schema(c).dataType
                val present =
                  array_contains(coalesce(col(PresentCol), array()), c)
                // an in-batch erase kills the pre-batch row: the
                // surviving update REPLACES (absent columns become
                // NULL, not the old values) — log-replay semantics,
                // checked by the incremental-vs-one-shot oracle
                when(col("op").isNotNull && col(ErasedCol),
                  when(present, col(s"__p_$c")).otherwise(lit(null).cast(dt)))
                  .when(col("op").isNotNull && present, col(s"__p_$c"))
                  .otherwise(col(s"__o_$c")).as(c)
              } :+
              coalesce(col("__ob"), col("__pb")).as(BucketCol)): _*)
    }

    val outDir = s"$root/tables/${meta.name}/c$commitVersion"
    // co-locate each bucket before the write: without this every
    // merge-partitioned task writes into every touched bucket dir
    // (tasks × buckets files per commit — file-open overhead locally,
    // manifest and read fan-out at scale); after it, a bucket's rows
    // land in ~one file
    merged.repartition(col(BucketCol))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(outDir)

    val newFiles = affected.map { b =>
      b -> TransactionalStore.partFiles(s"$outDir/$BucketCol=$b")
    }.toMap
    TransactionalStore.TableVersion(
      current.bucketFiles ++ newFiles,
      current.deltaFiles -- affected)
  }
}
