package graftbench

import java.util.concurrent.atomic.AtomicLong

/** One finished operation; `ok` tells whether its output was right. */
final case class Done(id: Long, kind: String, sentMs: Double, replyMs: Double,
    attrs: Map[String, Double], ok: Boolean) {
  def ms: Double = replyMs - sentMs
}

object Done {
  def failed(id: Long, kind: String, sentMs: Double, e: Throwable): Done = {
    System.err.println(s"[perfbench] op $id ($kind) failed: $e")
    Done(id, kind, sentMs, Clock.nowMs, Map("status" -> 599.0), ok = false)
  }
}

object Loop {
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  /** A closed loop: `clients` threads, each sending its next operation
    * only after the previous one was answered, until `untilMs`. The
    * operation in flight at the deadline finishes and is returned too.
    */
  def closed(clients: Int, untilMs: Double)(client: Int => (Long => Done)): Seq[Done] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val threads = (0 until clients).map { c =>
      val next = client(c)
      val t = new Thread(() => {
        while (Clock.nowMs < untilMs) out.add(next(nextId()))
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq.sortBy(_.sentMs)
  }
}
