package graftbench

import org.scalatest.funsuite.AnyFunSuite

class VersionModelSpec extends AnyFunSuite {

  /** Row count and value total. */
  private object Sum extends Agg[Int, (Int, Int)] {
    val zero = (0, 0)
    def add(a: (Int, Int), r: Int) = (a._1 + 1, a._2 + r)
    def remove(a: (Int, Int), r: Int) = (a._1 - 1, a._2 - r)
  }

  private def model = new VersionModel[Int](Map(1L -> 10, 2L -> 20), baseVersion = 1)

  test("a read sent after an acknowledged write must see it") {
    val m = model
    m.ack(2, 1L, Some(11), sentMs = 0, ackMs = 10)
    assert(m.checkPoint(1L, Some(11), sentMs = 20, replyMs = 30))
    assert(!m.checkPoint(1L, Some(10), sentMs = 20, replyMs = 30))
  }

  test("a read concurrent with a write may see either side of it") {
    val m = model
    m.ack(2, 1L, Some(11), sentMs = 15, ackMs = 40)
    assert(m.checkPoint(1L, Some(10), sentMs = 10, replyMs = 30))
    assert(m.checkPoint(1L, Some(11), sentMs = 10, replyMs = 30))
    assert(!m.checkPoint(1L, Some(12), sentMs = 10, replyMs = 30))
    // a write sent after the reply cannot be visible to it
    m.ack(3, 1L, Some(12), sentMs = 50, ackMs = 60)
    assert(!m.checkPoint(1L, Some(12), sentMs = 10, replyMs = 30))
  }

  test("deletes and inserts are states like any other") {
    val m = model
    m.ack(2, 2L, None, 0, 10)
    m.ack(3, 3L, Some(30), 0, 10)
    assert(m.checkPoint(2L, None, 20, 30))
    assert(!m.checkPoint(2L, Some(20), 20, 30))
    assert(m.checkPoint(3L, Some(30), 20, 30))
    assert(m.finalState == Map(1L -> 10, 3L -> 30))
    assert(m.writtenRows == Seq(20, 30))
  }

  test("acknowledgements may arrive out of version order") {
    val m = model
    m.ack(3, 2L, Some(21), 0, 10)
    m.ack(2, 1L, Some(11), 0, 20)
    assert(m.stateAt(1L, 2) == Some(11))
    assert(m.stateAt(2L, 2) == Some(20))
    assert(m.finalState == Map(1L -> 11, 2L -> 21))
  }

  test("an aggregate must equal the table at some version in the read's window") {
    val m = model
    m.ack(2, 1L, Some(15), sentMs = 0, ackMs = 10)
    m.ack(3, 3L, Some(5), sentMs = 25, ackMs = 50)
    m.ack(4, 2L, None, sentMs = 100, ackMs = 110)
    val same = (a: (Int, Int), b: (Int, Int)) => a == b
    // the window of a read sent at 20 and answered at 40 spans versions 2..3
    assert(m.aggsIn(Sum, 2, 3) == Seq((2, 35), (3, 40)))
    assert(m.checkAgg(Sum, (2, 35), 20, 40)(same))
    assert(m.checkAgg(Sum, (3, 40), 20, 40)(same))
    assert(!m.checkAgg(Sum, (2, 30), 20, 40)(same), "the base is older than an acknowledged write")
    assert(!m.checkAgg(Sum, (2, 20), 20, 40)(same), "version 4 was sent after the reply")
    assert(m.checkAgg(Sum, (2, 20), 120, 130)(same))
  }
}
