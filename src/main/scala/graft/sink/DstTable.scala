package graft.sink

import graft.model.Op
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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

/** Bucketed, merge-on-read apply of a merged change patch.
  *
  * UPSERT semantics follow the reference's generated statements
  * (gen_query.go:342-376): an upsert sets exactly the columns present
  * in the change and preserves the rest; a delete removes the row by
  * key. Rather than generating SQL, every read and every rewrite goes
  * through ONE declarative consolidation, [[fold]]: a max-seq
  * aggregate over change rows in which a base row is simply the
  * oldest update.
  *
  * A commit appends each table's typed LWW patch as per-bucket DELTA
  * files (one commit's patch per file), so bytes written per commit
  * ∝ the PATCH, and reads fold the chain onto the base lazily
  * ([[readCurrent]]). The reference never rewrites either: it hands
  * merging to YDB's LSM (dst_table/gen_query.go:342-363), and an LSM
  * is a merge-on-read structure. A bucket whose chain already holds
  * `compactDeltas − 1` files is DUE: the commit folds its base, its
  * chain and its own patch rows into new base files in one job (one
  * exchange on the bucket, one aggregate, one partitioned write)
  * instead of appending another delta. When the due base dwarfs its
  * chain, only the base rows the chain or patch names enter the fold
  * and the rest stream past it ([[foldTouched]], the read's split
  * too), at the cost of one small broadcast job. A chain therefore
  * never outgrows `compactDeltas − 1` files, and the rewrite
  * amortizes over the chain. Copy-on-write (`compactDeltas` ≤ 1) is
  * the same fold with every touched bucket due; the first load into
  * an empty table is the fold of the patch alone.
  *
  * Only due and touched buckets are written; everything else is
  * carried forward by manifest pointer.
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
    * fall back to folding the whole base. Compaction keeps
    * steady-state chains far below this. Mutable only so specs can
    * force the fallback path.
    */
  private[graft] var DeltaBroadcastMaxBytes: Long = 64L << 20

  /** A compacting commit streams the base past the fold (see
    * [[foldTouched]]) only when the due buckets' base files hold at
    * least this many times their chain's bytes: the split scans the
    * base twice and broadcasts the chain and patch keys (one more
    * job), which pays only when it keeps most of the base out of the
    * fold's sort. Measured (local[4], 8 buckets, 4 columns, a
    * 3-commit chain folded whole vs split): ratio 1.8 0.59 vs 0.96 s,
    * 9.3 0.59 vs 0.71 s, 23 even at about 1 s, 35 (2M base rows)
    * 2.29 vs 1.63 s, 182 (4M) 4.15 vs 2.73 s. Mutable only so specs
    * can force either path.
    */
  private[graft] var CompactSplitRatio: Double = 32.0

  private def bytesOf(spark: SparkSession, files: Seq[String]): Long =
    files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getLen
      catch { case _: java.io.IOException => Long.MaxValue / 1024 }
    }.sum

  private def deltaSchema(meta: TableMeta): StructType =
    StructType(meta.schema.fields.toSeq ++ Seq(
      StructField(OpCol, IntegerType),
      StructField(ErasedCol, BooleanType),
      StructField(PresentCol, ArrayType(StringType)),
      StructField(SeqCol, LongType)))

  private def scan(spark: SparkSession, schema: StructType,
      files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(files: _*)

  private def filesOf(m: Map[Int, Seq[String]],
      only: Option[Set[Int]]): Seq[String] =
    m.filter { case (b, _) => only.forall(_.contains(b)) }.values.flatten.toSeq

  /** The table's committed rows: base files overlaid by any delta
    * chains, restricted to `onlyBuckets` when given (both base and
    * delta reads prune to those buckets BEFORE the scan is planned —
    * the point-read contract). Delta-free buckets cost a plain scan:
    * the fold is added only when a chain exists.
    */
  def readCurrent(spark: SparkSession, meta: TableMeta,
      tv: TransactionalStore.TableVersion,
      onlyBuckets: Option[Set[Int]] = None): DataFrame = {
    val base = scan(spark, meta.schema, filesOf(tv.bucketFiles, onlyBuckets))
    val dFiles = filesOf(tv.deltaFiles, onlyBuckets)
    if (dFiles.isEmpty) return base
    val deltas = scan(spark, deltaSchema(meta), dFiles)
    if (bytesOf(spark, dFiles) > DeltaBroadcastMaxBytes)
      // big chain (bulk backfill before its compaction): fold it all
      return fold(meta, baseRows(meta, base).unionByName(changeRows(meta, deltas)))
    // The scale path: the BASE never shuffles. A live-chain read costs
    // two parallel pruned scans, and predicates on the result push
    // into both through the union.
    foldTouched(meta, base, changeRows(meta, deltas), deltas)
  }

  /** `base` consolidated with fold input `changes`, where `keys`
    * holds every key the changes name. The base is split by key
    * membership in the (broadcast) keys:
    *   untouched — base ANTI keys: a streamed scan, emitted as-is;
    *   touched   — base SEMI keys: a streamed scan yielding ≤ |keys|
    *     rows, folded with the changes (the fold's exchange and sort
    *     carry change-sized input; change-only keys are inserts).
    */
  private def foldTouched(meta: TableMeta, base: DataFrame,
      changes: DataFrame, keys: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val pk = meta.primaryKey
    val bk = broadcast(keys.select(pk.map(k => col(k).as(s"__dk_$k")): _*))
    def byKeys(how: String): DataFrame =
      base.join(bk, pk.map(k => base(k) <=> bk(s"__dk_$k")).reduce(_ && _), how)
    byKeys("left_anti").unionByName(fold(meta,
      baseRows(meta, byKeys("left_semi"), keep).unionByName(changes), keep))
  }

  /** Delta-shaped rows (`deltaSchema`) as fold input: per key, the
    * erase seq `__e`, the BARRIER seq `__r` (an erase, or an update
    * whose batch saw an erase — the replace case), the update seq
    * `__u`, and per column c the (seq, value) `__d_c` when the update
    * sets c. `keep` columns ride along.
    */
  private def changeRows(meta: TableMeta, deltas: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val upd = col(OpCol) === Op.Update
    val ers = col(OpCol) === Op.Erase
    val seq = col(SeqCol)
    deltas.select((meta.primaryKey.map(col) ++ Seq(
      when(ers, seq).as("__e"),
      when(ers || col(ErasedCol), seq).as("__r"),
      when(upd, seq).as("__u")) ++
      meta.nonKeyColumns.map { c =>
        when(upd && array_contains(col(PresentCol), c),
          struct(seq.as("s"), col(c).as("v"))).as(s"__d_$c")
      } ++ keep.map(col)): _*)
  }

  /** Base rows as fold input: the oldest update (seq 0 — every commit
    * is ≥ 1), with every column present and no erase.
    */
  private def baseRows(meta: TableMeta, base: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val none = lit(null).cast(LongType)
    base.select((meta.primaryKey.map(col) ++
      Seq(none.as("__e"), none.as("__r"), lit(0L).as("__u")) ++
      meta.nonKeyColumns.map(c =>
        struct(lit(0L).as("s"), col(c).as("v")).as(s"__d_$c")) ++
      keep.map(col)): _*)
  }

  /** The consolidation: one codegen'd, order-free aggregate (max()
    * only, associative under partial aggregation) over fold input
    * grouped by `keep` and the key. A row survives iff an update
    * outranks every erase (`__u > __e`); column c is `d_c.v` when
    * `d_c.s ≥ __r` (the newest setter was not buried by a later
    * barrier — ≥ because the barrier update itself sets its present
    * columns), else NULL (replace semantics: older values are dead).
    * A base row (seq 0) thus survives when no erase follows it and
    * keeps every column no delta overwrote. This reproduces replaying
    * the chain commit-by-commit, by the same argument as
    * LwwMerge.MergeBuf — positions across commits are disjoint and
    * increasing, so the fold is the sequential application
    * (spec-pinned by MergeOnReadSpec's CoW-equivalence property).
    */
  private def fold(meta: TableMeta, rows: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val nonKey = meta.nonKeyColumns
    val noSeq = lit(Long.MinValue)
    val barrier = coalesce(col("__r"), noSeq)
    rows.groupBy((keep ++ meta.primaryKey).map(col): _*)
      .agg(max("__e").as("__e"), (Seq(max("__r").as("__r"), max("__u").as("__u")) ++
        nonKey.map(c => max(s"__d_$c").as(s"__d_$c"))): _*)
      .filter(coalesce(col("__u"), noSeq) > coalesce(col("__e"), noSeq))
      .select((meta.schema.fieldNames.toSeq.map { c =>
        if (!nonKey.contains(c)) col(c)
        else {
          val d = col(s"__d_$c")
          when(d("s") >= barrier, d("v")).as(c)
        }
      } ++ keep.map(col)): _*)
  }

  /** Apply `patch` (merged rows: keyJson, op, columns) to the table,
    * writing new files under `root/tables/<name>/{c,d}{commitVersion}/`:
    * due buckets fold into `c<commit>` base files, the patch rows of
    * the other touched buckets append to `d<commit>` delta files.
    * Returns the updated per-bucket file pointers, the patch row count
    * (observed on the writes, so the caller's modification metric
    * costs no extra job) and the fold job's wall nanoseconds.
    * `mergeOnRead` has no effect (copy-on-write is `compactDeltas` ≤
    * 1); it stays only for callers that still pass it by name.
    */
  def applyPatch(spark: SparkSession, root: String, meta: TableMeta,
      buckets: Int, current: TransactionalStore.TableVersion,
      patch: DataFrame, commitVersion: Long,
      mergeOnRead: Boolean = true,
      compactDeltas: Int = 8): (TransactionalStore.TableVersion, Long, Long) = {

    // Typed projection of the patch in the delta shape + bucket.
    val changes = patch.select(
      (TypeConversion.project(meta.schema, meta.primaryKey,
        col("columns"), col("keyJson")) ++ Seq(
        col("op").as(OpCol),
        coalesce(col("erased"), lit(false)).as(ErasedCol),
        TypeConversion.presentColumns(meta.schema, meta.primaryKey,
          col("columns")).as(PresentCol),
        // a parameter, not a literal: the generated code stays the
        // same from commit to commit and compiles once
        graft.functions.NativeExpressions.paramLong(commitVersion).as(SeqCol),
        // columns the destination schema doesn't know — hard error
        filter(map_keys(col("columns")),
          c => !c.isin(meta.schema.fieldNames.toSeq.map(lit): _*))
          .as("__unknown"))): _*)
      .withColumn(BucketCol, bucketOf(meta, buckets))

    // Which buckets fold at this commit. Copy-on-write needs the
    // touched set BEFORE its write (it prunes the base read), so it
    // pays one small job for it; merge-on-read knows its due set from
    // the manifest alone.
    val tableEmpty = current.bucketFiles.isEmpty && current.deltaFiles.isEmpty
    val cow = compactDeltas <= 1
    val touched =
      if (tableEmpty || !cow) Set.empty[Int]
      else changes.select(BucketCol).distinct().collect().map(_.getInt(0)).toSet
    val due =
      if (tableEmpty) (0 until buckets).toSet
      else touched ++ current.deltaFiles.collect {
        case (b, fs) if fs.size >= compactDeltas - 1 => b }
    // every patch row lands in a due bucket: no filter, no delta write
    val patchFolded = tableEmpty || cow || due.size >= buckets
    val inDue = udf((b: Int) => due.contains(b)).apply(col(BucketCol))

    val dir = s"$root/tables/${meta.name}"
    val foldOut = s"$dir/c$commitVersion"
    val deltaOut = s"$dir/d$commitVersion"
    def drop(out: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(out)
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      catch { case _: java.io.IOException => () } // best effort
    }
    // Each write observes the patch rows it carries: buckets, unknown
    // columns, row count, with no job of its own. An unknown column
    // aborts before the manifest ever references this commit's dirs,
    // and the dirs are DELETED, so no orphan is left for a retry to
    // maybe overwrite.
    def observed(rows: DataFrame)(write: DataFrame => Unit): (Set[Int], Long) = {
      val obs = org.apache.spark.sql.Observation()
      write(rows.observe(obs,
        collect_set(col(BucketCol)).as("buckets"),
        array_distinct(flatten(collect_list(col("__unknown")))).as("bad"),
        count(lit(1)).as("n")).drop("__unknown"))
      val m = obs.get
      val bad = m("bad").asInstanceOf[scala.collection.Seq[String]]
      if (bad.nonEmpty) {
        drop(foldOut); drop(deltaOut)
        throw new IllegalArgumentException(
          s"unknown destination columns for table ${meta.name}: ${bad.mkString(",")}")
      }
      (m("buckets").asInstanceOf[scala.collection.Seq[Int]].toSet,
        m("n").asInstanceOf[Long])
    }

    val tf = System.nanoTime()
    val nFolded =
      if (due.isEmpty) 0L
      else {
        val patchDue = if (patchFolded) changes else changes.filter(inDue)
        val baseFiles = filesOf(current.bucketFiles, Some(due))
        val chainFiles = filesOf(current.deltaFiles, Some(due))
        // split the base (see foldTouched) when it dwarfs the chain;
        // the patch is assumed chain-sized (a due chain holds
        // compactDeltas - 1 earlier patches)
        val chainBytes = bytesOf(spark, chainFiles)
        val split = chainBytes > 0 && chainBytes <= DeltaBroadcastMaxBytes &&
          bytesOf(spark, baseFiles) >= CompactSplitRatio * chainBytes
        observed(patchDue) { p =>
          val bucket = Seq(BucketCol)
          def bucketed(df: DataFrame) = df.withColumn(BucketCol, bucketOf(meta, buckets))
          val base = bucketed(scan(spark, meta.schema, baseFiles))
          val chain = bucketed(scan(spark, deltaSchema(meta), chainFiles))
          val folding = changeRows(meta, chain, bucket)
            .unionByName(changeRows(meta, p, bucket))
          val out =
            if (split) {
              val pk = meta.primaryKey.map(col)
              foldTouched(meta, base, folding,
                chain.select(pk: _*).unionByName(patchDue.select(pk: _*)), bucket)
                .repartition(col(BucketCol))
            } else
              // one exchange: hashing on the bucket also clusters the
              // (bucket, key) groups
              fold(meta, baseRows(meta, base, bucket).unionByName(folding)
                .repartition(col(BucketCol)), bucket)
          // each bucket lands in ~one file
          out.write.mode("overwrite").partitionBy(BucketCol).parquet(foldOut)
        }._2
      }
    val foldNs = if (due.isEmpty) 0L else System.nanoTime() - tf

    val (appended, nAppended) =
      if (patchFolded) (Set.empty[Int], 0L)
      else observed(if (due.isEmpty) changes else changes.filter(!inDue)) { p =>
        // co-locate each bucket so a bucket's chain grows ONE file per
        // commit (the chain length bounds read amplification and sets
        // the due rule)
        p.repartition(col(BucketCol))
          .write.mode("overwrite").partitionBy(BucketCol).parquet(deltaOut)
      }
    if (appended.isEmpty) drop(deltaOut)

    val folded = due.toSeq.map(b =>
      b -> TransactionalStore.partFiles(s"$foldOut/$BucketCol=$b"))
    if (folded.forall(_._2.isEmpty)) drop(foldOut)
    val tv = TransactionalStore.TableVersion(
      current.bucketFiles -- due ++ folded.filter(_._2.nonEmpty),
      current.deltaFiles -- due ++ appended.map(b => b ->
        (current.deltaFiles.getOrElse(b, Nil) ++
          TransactionalStore.partFiles(s"$deltaOut/$BucketCol=$b"))))
    (tv, nFolded + nAppended, foldNs)
  }
}
