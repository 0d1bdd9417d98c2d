package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Set-up, warm-up, measurement and checks shared by the workloads. */
object Phases {
  val WarmSeconds = 3.0
  val WarmSalt = 0x5eedL

  /** The percentile `read_p75_ms` reports. It is the highest tail the
    * tail rule ([[Stats.tailPercentile]]) supports on both workloads:
    * pipeline_batch measures at least [[TailSamples]] queries per
    * window, serve_read about 130 requests.
    */
  val TailP = 75.0
  val TailSamples: Int = Stats.samplesFor(TailP)

  /** The seed of a measured phase (see [[measure]]). */
  def phaseSeed(seed: Long, phase: Int): Long = if (phase == 0) seed else seed ^ (0xba5eL * phase)

  /** Runs `build` [[Main.Setups]] times, each in a fresh session,
    * keeping the last; the median time is the run's `setup_s`. The
    * first set-up of a JVM is several times slower than the rest
    * (class loading, JIT); the median of three keeps it out.
    */
  def setUp[A](build: Int => A, release: A => Unit): (A, Seq[Double]) = {
    val times = ArrayBuffer.empty[Double]
    var kept = Option.empty[A]
    (0 until Main.Setups).foreach { i =>
      kept.foreach(release)
      val t0 = System.nanoTime()
      kept = Some(build(i))
      times += (System.nanoTime() - t0) / 1e9
    }
    (kept.get, times.toSeq)
  }

  /** The measured part of a run. */
  final case class Measured(window: Seq[Done], windowS: Double, all: Seq[Done],
      spans: Seq[Span], overheadPct: Double)

  /** Untraced: one window of `seconds`. Traced: an untraced half, then
    * a traced half whose spans become the per-layer metrics; the
    * difference in median operation latency is the tracing overhead.
    * `run(phase, untilMs)` executes the workload until `untilMs`: phase
    * 0 sends the requests the seed defines (the traced half sends the
    * same ones as an untraced run), phase 1 a different draw, so the
    * untraced half does not leave the traced half's answers cached. A
    * closed loop counts the operations answered by the deadline over
    * the window; a batch (`wholeRun`) counts every operation it ran
    * over the time they took, since it only stops between passes.
    */
  def measure(spark: SparkSession, o: Main.Opts, wholeRun: Boolean = false)(
      run: (Int, Double) => Seq[Done]): Measured = {
    def window(ops: Seq[Done], until: Double, seconds: Double) =
      if (!wholeRun) (ops.filter(_.replyMs <= until), seconds)
      else (ops, (ops.map(_.replyMs).max - ops.map(_.sentMs).min) / 1000)
    if (!o.trace) {
      val until = Clock.nowMs + o.seconds * 1000
      val ops = run(0, until)
      val (w, s) = window(ops, until, o.seconds)
      Measured(w, s, ops, Nil, 0.0)
    } else {
      val half = o.seconds / 2
      val untilA = Clock.nowMs + half * 1000
      val a = run(1, untilA)
      val tracer = new Tracer(spark)
      tracer.attach()
      val untilB = Clock.nowMs + half * 1000
      val b = try run(0, untilB) finally { tracer.drain(); tracer.detach() }
      b.foreach { d =>
        tracer.recordOp(d.id, d.kind, d.sentMs, d.replyMs, d.attrs)
        d.attrs.get("construct_ms").foreach(c =>
          tracer.recordChild(d.id, "construct", "sources", d.sentMs, d.sentMs + c))
      }
      val ((wa, _), (wb, sb)) = (window(a, untilA, half), window(b, untilB, half))
      val overhead = 100.0 * (Stats.median(wb.map(_.ms)) / Stats.median(wa.map(_.ms)) - 1.0)
      Measured(wb, sb, a ++ b, tracer.spans(), overhead)
    }
  }

  def endToEnd(m: Measured, setups: Seq[Double]): Map[String, Double] = {
    val reads = m.window.map(_.ms)
    if (reads.size < TailSamples)
      System.err.println(s"[perfbench] warning: ${reads.size} reads in the window, fewer than " +
        s"the $TailSamples the tail rule needs for p${TailP.toInt}")
    Map("setup_s" -> Stats.median(setups),
      "read_p50_ms" -> Stats.median(reads),
      "read_p75_ms" -> Stats.percentile(reads, TailP),
      "throughput_ops_s" -> m.window.size / m.windowS)
  }

  /** Sample count, the highest tail it supports with that tail's value,
    * and per-kind medians, for the log.
    */
  def notes(m: Measured, setups: Seq[Double]): String = {
    val reads = m.window.map(_.ms)
    val tail = Stats.tailPercentile(reads.size)
      .map(p => f"p$p%s=${Stats.percentile(reads, p)}%.1fms").getOrElse("none")
    val kinds = m.window.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ds) =>
      f"$k=${Stats.median(ds.map(_.ms))}%.0fms/${ds.size}"
    }.mkString(" ")
    f"reads=${reads.size} tail_by_rule=$tail " +
      s"setups_s=${setups.map(s => f"$s%.2f").mkString("[", ",", "]")} $kinds"
  }

  def rmTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** Runs `f`, logging how long it took. */
  def timed[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally System.err.println(f"[perfbench] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }
}
