package graftbench

import org.apache.spark.sql.SparkSession

object ServeRun {
  import Phases._

  private def layers(m: Measured): Map[String, Double] =
    PerLayer.complete(Layers.common(Layers.group(m.spans), served = true) +
      ("trace.overhead_pct" -> m.overheadPct))

  def read(spark: SparkSession, o: Main.Opts, clients: Int): RunResult = {
    val (textIdx, annIdx) = timed("indexes")(ServeIndexes.ensure(spark, o.corpus, o.indexes))
    val (sut, setups) = setUp(_ => new ServiceUnderTest(spark, o.corpus),
      (s: ServiceUnderTest) => s.stop())
    try {
      val exp = timed("expected answers")(new ReadExpected(spark, o.corpus, sut, textIdx, annIdx))
      def loop(seed: Long, until: Double) =
        Loop.closed(clients, until)(c => ServeRead.client(sut, exp, seed, c))
      val warm = timed("warm-up")(ServeRead.prime(sut, exp) ++
        loop(o.seed ^ WarmSalt, Clock.nowMs + WarmSeconds * 1000))
      val m = timed("measure")(measure(spark, o)((phase, until) =>
        loop(phaseSeed(o.seed, phase), until)))
      val checked = warm ++ m.all
      RunResult(checked.size, checked.count(!_.ok), endToEnd(m, setups),
        layers(m), m.spans, notes(m, setups))
    } finally sut.stop()
  }
}
