package graft.sink

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.model.{ReplicationState, Stage, EngineState}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Atomic multi-table commit — the reference's core invariant ("apply
  * to all destination tables plus the replication checkpoint in a
  * single destination transaction", README.md:171-175) re-expressed as
  * a tiny versioned table layout:
  *
  *   root/MANIFEST                 — text: the committed manifest version N
  *   root/manifest/v{N}.json       — checkpoint position + stage/state +
  *                                   per-table per-bucket data paths +
  *                                   the pending-buffer file list
  *   root/tables/<t>/<files>       — immutable parquet, referenced by manifests
  *   root/pending/<files>          — immutable parquet buffer of gated changes
  *
  * A commit writes new immutable data files and a new manifest, then
  * atomically replaces MANIFEST. Readers resolve MANIFEST → manifest →
  * file lists, so they always observe a complete transaction. Crash
  * anywhere before the rename leaves the previous commit intact;
  * orphaned files are ignored (and cleanable). On a distributed file
  * system the same protocol works with a conditional-put on MANIFEST.
  *
  * Buckets: each table's rows are hash-bucketed by primary key
  * (pmod(xxhash64(key), B)); a commit rewrites ONLY the buckets touched
  * by the batch and carries forward the untouched buckets' file
  * pointers — copy-on-write at bucket granularity, which is what keeps
  * the apply path sublinear in table size at 100 TB.
  */
object TransactionalStore {

  /** A table's committed file state: per-bucket BASE files (full rows)
    * plus, under merge-on-read, per-bucket DELTA files — each delta
    * file is one commit's typed LWW patch for that bucket, replayed
    * onto the base at read time in commit order. A bucket's effective
    * contents = base overlaid by its delta chain; compaction folds the
    * chain back into base (DstTable.applyPatch).
    */
  final case class TableVersion(bucketFiles: Map[Int, Seq[String]],
      deltaFiles: Map[Int, Seq[String]] = Map.empty)
  final case class Manifest(
      version: Long,
      state: ReplicationState,
      tables: Map[String, TableVersion],
      pendingFiles: Seq[String],
      // fencing token of the lease under which this manifest was
      // committed; commits with a lower token than the stored head are
      // stale leaseholders and refused
      fencingToken: Long = 0L,
      // highest source batch id already applied; lets the engine skip
      // the pending-dedup shuffle for strictly fresh batches (replay
      // of an already-seen id re-enables it)
      lastBatchId: Long = -1L)

  private val om = new ObjectMapper()

  private def render(m: Manifest): String = {
    val root = om.createObjectNode()
    root.put("version", m.version)
    root.put("fencingToken", m.fencingToken)
    root.put("lastBatchId", m.lastBatchId)
    root.put("id", m.state.id)
    root.put("stepId", m.state.stepId)
    root.put("txId", m.state.txId)
    root.put("state", m.state.state)
    root.put("stage", m.state.stage)
    root.put("lastMsg", m.state.lastMsg)
    val tables = root.putObject("tables")
    m.tables.toSeq.sortBy(_._1).foreach { case (name, tv) =>
      val t = tables.putObject(name)
      val bk = t.putObject("buckets")
      tv.bucketFiles.toSeq.sortBy(_._1).foreach { case (b, files) =>
        val arr = bk.putArray(b.toString)
        files.foreach(arr.add)
      }
      val dl = t.putObject("deltas")
      tv.deltaFiles.toSeq.sortBy(_._1).foreach { case (b, files) =>
        val arr = dl.putArray(b.toString)
        files.foreach(arr.add)
      }
    }
    val pend = root.putArray("pending")
    m.pendingFiles.foreach(pend.add)
    om.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private def parse(s: String): Manifest = {
    val n = om.readTree(s)
    def bucketMap(node: com.fasterxml.jackson.databind.JsonNode)
        : Map[Int, Seq[String]] =
      node.properties().asScala.map { b =>
        b.getKey.toInt -> b.getValue.elements().asScala.map(_.asText).toSeq
      }.toMap
    val tables = n.get("tables").properties().asScala.map { e =>
      val v = e.getValue
      // legacy manifests (pre merge-on-read) put the bucket map
      // directly under the table node
      val tv =
        if (v.has("buckets"))
          TableVersion(bucketMap(v.get("buckets")), bucketMap(v.get("deltas")))
        else TableVersion(bucketMap(v))
      e.getKey -> tv
    }.toMap
    val pending = n.get("pending").elements().asScala.map(_.asText).toSeq
    Manifest(
      n.get("version").asLong(),
      ReplicationState(n.get("id").asText(), n.get("stepId").asLong(),
        n.get("txId").asLong(), n.get("state").asText(),
        n.get("stage").asText(), n.get("lastMsg").asText()),
      tables, pending,
      if (n.has("fencingToken")) n.get("fencingToken").asLong() else 0L,
      if (n.has("lastBatchId")) n.get("lastBatchId").asLong() else -1L)
  }

  def initIfAbsent(root: String, instanceId: String,
      tableNames: Seq[String]): Unit = {
    val head = Paths.get(root, "MANIFEST")
    if (!Files.exists(head)) {
      Files.createDirectories(Paths.get(root, "manifest"))
      Files.createDirectories(Paths.get(root, "tables"))
      Files.createDirectories(Paths.get(root, "pending"))
      val m = Manifest(0L,
        ReplicationState(instanceId, 0L, 0L, EngineState.Ok, Stage.InitialScan, ""),
        tableNames.map(_ -> TableVersion(Map.empty)).toMap, Nil)
      Files.writeString(Paths.get(root, "manifest", "v0.json"), render(m))
      atomicWrite(head, "0")
    }
  }

  def read(root: String): Manifest = {
    val v = Files.readString(Paths.get(root, "MANIFEST")).trim.toLong
    parse(Files.readString(Paths.get(root, "manifest", s"v$v.json")))
  }

  /** Time travel: a PAST committed manifest. Immutable data files +
    * versioned manifests make any retained commit a consistent
    * snapshot for free (the Delta/Iceberg contract); resolvable while
    * the version is within [[vacuum]]'s retention window.
    */
  def readAt(root: String, version: Long): Manifest = {
    val p = Paths.get(root, "manifest", s"v$version.json")
    if (!Files.exists(p))
      throw new IllegalArgumentException(
        s"manifest v$version not found under $root " +
          "(never committed, or vacuumed past retention)")
    parse(Files.readString(p))
  }

  /** Publish a new manifest: the single atomic transaction point.
    * Refuses fencing tokens below the stored head's — a stale
    * leaseholder that lost the lock cannot clobber the new owner
    * (on a real object store the final rename is a conditional put,
    * closing the read-check window too).
    */
  def commit(root: String, m: Manifest): Unit = {
    val cur = read(root)
    if (m.fencingToken < cur.fencingToken)
      throw new IllegalStateException(
        s"stale fencing token ${m.fencingToken} < ${cur.fencingToken}: " +
          "another instance acquired the lease; refusing commit")
    Files.writeString(Paths.get(root, "manifest", s"v${m.version}.json"), render(m))
    atomicWrite(Paths.get(root, "MANIFEST"), m.version.toString)
  }

  private def atomicWrite(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Garbage-collect files no retained commit can reach: data and
    * pending files referenced by none of the manifests vacuum keeps
    * (the head and the `keepManifests` versions before it), and the
    * manifests older than that. Every retained version stays readable
    * through [[readAt]] — a fold rewrites a bucket's base into a new
    * dir, so the head alone does not name the files an older retained
    * version reads. Safe w.r.t. concurrent readers that resolve
    * MANIFEST first, as long as they finish within the retention
    * window — the same contract as Delta/Iceberg vacuum. Returns the
    * number of files deleted.
    */
  def vacuum(root: String, keepManifests: Int = 10): Int = {
    val head = read(root).version
    val manifests = Files.list(Paths.get(root, "manifest")).iterator().asScala
      .map(f => f -> f.getFileName.toString)
      .collect { case (f, n) if n.startsWith("v") && n.endsWith(".json") =>
        f -> n.stripPrefix("v").stripSuffix(".json").toLong }
      .toSeq
    val expired = manifests.filter(_._2 < head - keepManifests)
    // a manifest above the head is a torn commit: never visible, and
    // its files are not live
    val live: Set[Path] = manifests.filter { case (_, v) =>
      v >= head - keepManifests && v <= head
    }.flatMap { case (_, v) =>
      val m = readAt(root, v)
      m.tables.values.flatMap(tv =>
        tv.bucketFiles.values.flatten ++ tv.deltaFiles.values.flatten) ++
        m.pendingFiles
    }.map(f => Paths.get(f).toAbsolutePath.normalize).toSet
    var deleted = 0
    def sweep(dir: Path): Unit =
      if (Files.isDirectory(dir))
        Files.walk(dir).iterator().asScala.toSeq.reverseIterator.foreach { f =>
          if (Files.isRegularFile(f) &&
              !live.contains(f.toAbsolutePath.normalize) &&
              !f.getFileName.toString.startsWith("_")) {
            Files.delete(f); deleted += 1
          } else if (Files.isDirectory(f) &&
              !Files.list(f).iterator().hasNext) {
            Files.delete(f)
          }
        }
    sweep(Paths.get(root, "tables"))
    sweep(Paths.get(root, "pending"))
    expired.foreach { case (f, _) => Files.delete(f); deleted += 1 }
    deleted
  }

  /** Collect the parquet part-files of a freshly written staging dir. */
  def partFiles(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
      .map(_.toString).toSeq.sorted
  }
}
