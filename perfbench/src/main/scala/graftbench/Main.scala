package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The graft benchmark's entry point: runs one workload for a fixed time and
  * prints one JSON result line.
  *
  *   graftbench.Main --workload <serve_read|pipeline_batch>
  *     --seed <n> --seconds <s> --trace <0|1> --corpus <sf0.1 dir>
  *     --small-corpus <sf0.01 dir> --expected <digests.json> --work <run dir>
  *     --indexes <serve_read's index dir, kept between runs> [--out <span dump>]
  *   graftbench.Main --emit-expected <corpus dir> <out dir>
  *
  * With `--trace 0` the result carries the end-to-end metrics; with
  * `--trace 1` the measured time is split into an untraced half and a
  * traced half, and the result carries the per-layer metrics of the
  * traced half plus the tracing overhead between the two.
  */
object Main {
  val Workloads = Seq("serve_read", "pipeline_batch")
  val Setups = 3
  /** Spark runs `local[Cores]` (fewer on a smaller host). */
  val Cores = 4

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      corpus: String, smallCorpus: String, expected: String, work: String, indexes: String,
      out: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w'; expected one of ${Workloads.mkString(", ")}")
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got '$trace'")
    val seconds = need("seconds").toDouble
    require(seconds > 0, "--seconds must be positive")
    Opts(w, need("seed").toLong, seconds, trace == "1", need("corpus"), need("small-corpus"),
      need("expected"), need("work"), need("indexes"), m.get("out"))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  def hostFacts(spark: SparkSession): String = {
    val load = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3)
    s"""{"nproc":${Runtime.getRuntime.availableProcessors},"loadavg":[${load.mkString(",")}],""" +
      s""""spark":${Json.str(spark.version)},"jdk":${Json.str(System.getProperty("java.version"))}}"""
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--emit-expected")) {
      val spark = graft.engine.GraftSession.builder(master = s"local[$Cores]",
        appName = "graft-perfbench", shufflePartitions = Cores).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try PipelineRun.emitExpected(spark, args(1), args(2)) finally spark.stop()
      return
    }
    val o = parse(args)
    val cores = math.min(Cores, Runtime.getRuntime.availableProcessors)
    Files.createDirectories(Paths.get(o.work))
    val spark = graft.engine.GraftSession.builder(master = s"local[$cores]",
      appName = "graft-perfbench", shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val host = hostFacts(spark)
    System.err.println(s"[perfbench] host $host")
    val result =
      try o.workload match {
        case "serve_read" => ServeRun.read(spark, o, ServeRead.Clients)
        case "pipeline_batch" => PipelineRun.run(spark, o)
      } finally spark.stop()
    val metrics = if (o.trace) result.layers else result.endToEnd + ("rss_peak_mb" -> rssPeakMb())
    o.out.foreach(f => SpanDump.write(Paths.get(f), o, host, result))
    System.err.println(f"[perfbench] ${o.workload} seed=${o.seed} attempted=${result.attempted} " +
      f"failed=${result.failed} error_share=${result.failed.toDouble / math.max(1, result.attempted)}%.4f " +
      result.notes)
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${Json.str(k)}:{\"value\":${fmt(v)},\"unit\":${Json.str(Units.of(k))}}"
    }.mkString(",")
    println(s"""{"correct":${result.failed == 0},"attempted":${result.attempted},""" +
      s""""failed":${result.failed},"metrics":{$ms}}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric value $v") else v.toString
}

/** What one run measured. */
final case class RunResult(attempted: Int, failed: Int, endToEnd: Map[String, Double],
    layers: Map[String, Double], spans: Seq[Span], notes: String)

object Units {
  def of(metric: String): String =
    if (metric.endsWith("_ms")) "ms"
    else if (metric.endsWith("_ops_s")) "1/s"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_kb")) "KB"
    else if (metric.endsWith("_pct")) "%"
    else if (metric.endsWith("ratio") || metric.endsWith("amplification") ||
      metric.contains("_per_")) "ratio"
    else "count"
}

/** Writes a traced run's spans as JSON lines: one host line, then one line per span. */
object SpanDump {
  def write(path: Path, o: Main.Opts, host: String, r: RunResult): Unit = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    val lines = s"""{"workload":${Json.str(o.workload)},"seed":${o.seed},"host":$host}""" +:
      r.spans.sortBy(s => (s.op, s.start)).map { s =>
        val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
          s""""layer":${Json.str(s.layer)},"start":${s.start},"end":${s.end},"attrs":{$attrs}}"""
      }
    Files.write(path, lines.asJava)
  }
}
