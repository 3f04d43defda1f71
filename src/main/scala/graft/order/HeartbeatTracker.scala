package graft.order

import graft.model.Position
import scala.collection.mutable

/** Watermark ("heartbeat quorum") tracker.
  *
  * Semantics re-expressed from the reference tracker
  * (internal/hb_tracker/hb_tracker.go:128-250):
  *  - one slot per elementary stream (tableId, partitionId);
  *  - a newer heartbeat replaces an older one (regressions ignored);
  *  - the quorum exists only when EVERY expected partition has
  *    reported; its value is the minimum of the per-partition maxima;
  *  - committing a quorum evicts the slots at/below it, so a fresh full
  *    set is required before the next quorum (newer slots survive);
  *  - maxHb is the maximum over currently-present slots (initial-scan
  *    sync target); quorumAfter gates on strictly-greater.
  *
  * This is intentionally driver-side state: its size is the number of
  * source partitions (thousands at most at 100 TB scale), not the data.
  * The per-partition maxima that feed it are computed distributed, by a
  * groupBy(partition).max aggregation on the heartbeat frame.
  */
final class HeartbeatTracker(expected: Set[(Int, Long)]) {
  require(expected.nonEmpty, "tracker needs at least one expected partition")

  private val slots = mutable.Map.empty[(Int, Long), Position]

  /** Number of expected elementary streams. */
  def expectedCount: Int = expected.size

  /** Offer a heartbeat; keeps the per-partition maximum.
    * Returns true if the slot advanced (i.e. the hb was news).
    */
  def add(tableId: Int, partitionId: Long, pos: Position): Boolean = {
    val k = (tableId, partitionId)
    if (!expected.contains(k)) false
    else slots.get(k) match {
      case Some(old) if !old.lessThan(pos) => false
      case _ => slots.update(k, pos); true
    }
  }

  /** The quorum: min over per-partition maxima, defined only when all
    * expected partitions have reported.
    */
  def quorum: Option[Position] =
    if (slots.size < expected.size) None
    else Some(slots.values.min(Position.ordering))

  /** Quorum strictly greater than `after` (initial-scan sync gate). */
  def quorumAfter(after: Position): Option[Position] =
    quorum.filter(q => after.lessThan(q))

  /** Max over currently-present slots (None when empty). */
  def maxHb: Option[Position] =
    if (slots.isEmpty) None else Some(slots.values.max(Position.ordering))

  /** True when every expected partition has reported at least once. */
  def fullSet: Boolean = slots.size == expected.size

  /** Evict slots at/below the committed quorum; newer slots survive.
    *
    * Soundness of also using the surviving slots for out-of-order
    * detection (the reference keeps a separate reader-local lastHb,
    * reader.go:150-207): an evicted slot is ≤ the committed quorum,
    * which becomes the checkpoint — and any change at/below the
    * checkpoint is dropped by the ingest filter before order
    * verification would ever see it. So only slots ABOVE the quorum
    * can matter for late detection, and exactly those survive
    * eviction. (Locked in by the carried-heartbeat spec.)
    */
  def commit(q: Position): Unit =
    slots.filterInPlace { case (_, p) => q.lessThan(p) }

  /** Last seen position for one partition (out-of-order checks). */
  def lastHb(tableId: Int, partitionId: Long): Option[Position] =
    slots.get((tableId, partitionId))

  /** Snapshot for logging/metrics, and for [[restore]]. */
  def snapshot: Map[(Int, Long), Position] = slots.toMap

  /** Put every slot back to a [[snapshot]]: a batch that fails before
    * its commit undoes the heartbeats it added and the quorum it
    * evicted. O(#partitions).
    */
  def restore(s: Map[(Int, Long), Position]): Unit = {
    slots.clear()
    slots ++= s
  }
}
