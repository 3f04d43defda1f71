package graftbench

import scala.collection.mutable

/** The benchmark's own replay of a change log: the answer the replica
  * must hold, computed without any engine code.
  *
  * Changes are applied in unsigned (step, txId) order, arrival order
  * breaking ties, and only those strictly below the position passed to
  * [[advanceTo]] (the engine's checkpoint). An update sets exactly the
  * columns it carries and creates the row when absent (so an update
  * after an erase starts from an empty row); an erase removes the row.
  * Rows are kept as value texts, NULL as null.
  */
final class Reference(val specs: Seq[TableSpec]) {
  private val rows: Array[mutable.HashMap[Seq[String], Array[String]]] =
    Array.fill(specs.size)(mutable.HashMap.empty)
  private val erased: Array[mutable.HashSet[Seq[String]]] =
    Array.fill(specs.size)(mutable.HashSet.empty)
  private val colIndex: Array[Map[String, Int]] =
    specs.map(_.cols.map(_.name).zipWithIndex.toMap).toArray
  private var pending = mutable.ArrayBuffer.empty[Change]
  private var applied = 0L

  def add(cs: Iterable[Change]): Unit = pending ++= cs

  /** Number of changes applied so far. */
  def appliedCount: Long = applied

  /** Number of added changes not yet applied. */
  def pendingCount: Int = pending.size

  /** Apply every pending change strictly below (step, tx); returns
    * those changes in the order applied.
    */
  def advanceTo(step: Long, tx: Long): Seq[Change] = {
    val (due, rest) = pending.partition(c => Reference.lessThan(c.step, c.tx, step, tx))
    pending = rest
    val ordered = due.sortWith((a, b) => Reference.lessThan(a.step, a.tx, b.step, b.tx))
    ordered.foreach(apply)
    applied += ordered.size
    ordered.toSeq
  }

  private def apply(c: Change): Unit = {
    val t = c.table
    if (c.erase) {
      rows(t).remove(c.key)
      erased(t) += c.key
    } else {
      val r = rows(t).getOrElseUpdate(c.key, new Array[String](specs(t).cols.size))
      c.cols.foreach { case (k, v) => r(colIndex(t)(k)) = v }
      erased(t) -= c.key
    }
  }

  /** Table contents: key texts -> value texts in column order. */
  def table(t: Int): Map[Seq[String], Seq[String]] =
    rows(t).iterator.map { case (k, v) => k -> v.toSeq }.toMap

  def get(t: Int, key: Seq[String]): Option[Seq[String]] =
    rows(t).get(key).map(_.toSeq)

  def size(t: Int): Int = rows(t).size

  /** Keys whose newest applied change is an erase. */
  def erasedKeys(t: Int): Iterator[Seq[String]] = erased(t).iterator

  def presentKeys(t: Int): Iterator[Seq[String]] = rows(t).keysIterator
}

object Reference {
  /** Unsigned lexicographic (step, tx) < (s2, t2). */
  def lessThan(s1: Long, t1: Long, s2: Long, t2: Long): Boolean = {
    val c = java.lang.Long.compareUnsigned(s1, s2)
    c < 0 || (c == 0 && java.lang.Long.compareUnsigned(t1, t2) < 0)
  }
}
