package graftbench

import scala.collection.mutable.ArrayBuffer

/** An aggregate the model can maintain under row inserts and removals. */
trait Agg[R, A] {
  def zero: A
  def add(a: A, r: R): A
  def remove(a: A, r: R): A
}

/** Client-side model of a versioned table under concurrent writers.
  *
  * The table starts as `base` at `baseVersion`. Every acknowledged
  * write is recorded with the commit version the service returned, the
  * key it wrote (a `None` row is a delete) and when it was sent and
  * acknowledged. A read is correct when what it saw equals the model's
  * state at some version in its window: from the newest version
  * acknowledged before the read was sent, to the newest version of any
  * write sent before the read's reply arrived.
  */
final class VersionModel[R](base: Map[Long, R], baseVersion: Int) {

  import VersionModel.Write

  private val writes = ArrayBuffer.empty[Write[R]]

  def ack(version: Int, key: Long, row: Option[R], sentMs: Double, ackMs: Double): Unit =
    synchronized { writes += Write(version, key, row, sentMs, ackMs) }

  private def sorted: Seq[Write[R]] = synchronized(writes.toSeq).sortBy(_.version)

  /** The version window a read sent at `sentMs` and answered at `replyMs` may observe. */
  def window(sentMs: Double, replyMs: Double): (Int, Int) = {
    val ws = synchronized(writes.toSeq)
    val lo = (baseVersion +: ws.filter(_.ackMs <= sentMs).map(_.version)).max
    val hi = (lo +: ws.filter(_.sentMs <= replyMs).map(_.version)).max
    (lo, hi)
  }

  /** The key's row as of version `v`. */
  def stateAt(key: Long, v: Int): Option[R] =
    sorted.filter(w => w.key == key && w.version <= v).lastOption
      .map(_.row).getOrElse(base.get(key))

  /** Rows the key had at any version in [lo, hi]. */
  def statesIn(key: Long, lo: Int, hi: Int): Seq[Option[R]] =
    stateAt(key, lo) +: sorted.filter(w => w.key == key && w.version > lo && w.version <= hi)
      .map(_.row)

  /** A point read of `key` saw `observed`: correct when some version in its window had it. */
  def checkPoint(key: Long, observed: Option[R], sentMs: Double, replyMs: Double): Boolean = {
    val (lo, hi) = window(sentMs, replyMs)
    statesIn(key, lo, hi).contains(observed)
  }

  /** The aggregate over the whole table at every version in [lo, hi]. */
  def aggsIn[A](agg: Agg[R, A], lo: Int, hi: Int): Seq[A] = {
    var a = base.values.foldLeft(agg.zero)(agg.add)
    val current = scala.collection.mutable.Map.empty[Long, Option[R]]
    var atLo = a
    val later = ArrayBuffer.empty[A]
    sorted.foreach { w =>
      current.getOrElse(w.key, base.get(w.key)).foreach(r => a = agg.remove(a, r))
      w.row.foreach(r => a = agg.add(a, r))
      current(w.key) = w.row
      if (w.version <= lo) atLo = a
      else if (w.version <= hi) later += a
    }
    atLo +: later.toSeq
  }

  /** A whole-table aggregate read saw `observed`: correct when it
    * matches the aggregate at some version in its window.
    */
  def checkAgg[A](agg: Agg[R, A], observed: A, sentMs: Double, replyMs: Double)(
      same: (A, A) => Boolean): Boolean = {
    val (lo, hi) = window(sentMs, replyMs)
    aggsIn(agg, lo, hi).exists(same(_, observed))
  }

  /** Every row after all acknowledged writes, by key. */
  def finalState: Map[Long, R] =
    sorted.foldLeft(base) { (m, w) =>
      w.row.fold(m - w.key)(r => m.updated(w.key, r))
    }

  /** The row each acknowledged write carried; for a delete, the row it removed. */
  def writtenRows: Seq[R] =
    sorted.flatMap(w => w.row.orElse(stateAt(w.key, w.version - 1)))
}

object VersionModel {
  private final case class Write[R](version: Int, key: Long, row: Option[R],
      sentMs: Double, ackMs: Double)
}
