package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}

/** pipeline_batch: graft's library path, one thread, no HTTP. Each
  * pass runs a fixed list of contract queries (`graft.SparkEntry.queries`)
  * in a seed-shuffled order and materializes every result through
  * Spark's `noop` sink, so every output column is computed. Passes
  * start until the window has ended and at least
  * [[Phases.TailSamples]] queries have run, enough for the reported
  * tail. The
  * serving indexes and table fixtures those queries read are built in
  * set-up (`graft.SparkEntry.indexWarmups`), so every pass sees the
  * same memo state.
  */
object PipelineRun {
  /** The queries of one pass, covering relational, window, dedup,
    * text, similarity, versioned-table and floor-only shapes.
    */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier", "q18_large_orders",
    "q_window_topn",
    "q_minhash_lsh", "q_line_dedup",
    "q_tfidf", "q_token_count",
    "q_cosine_pairs",
    "q_vtable_dfp", "q_vtable_in",
    "q_union", "q_topk_orders")

  /** The index and fixture builds the queries above read. */
  val Fixtures: Seq[String] = Seq("tskip_fixture")

  /** Row count and an order-insensitive digest of a result: the sum,
    * as an exact decimal, of a 64-bit hash of each row's JSON with its
    * columns in name order.
    */
  def digest(df: DataFrame): (Long, String) = {
    val row = struct(df.columns.sorted.map(col).toSeq: _*)
    val r = df.select(xxhash64(to_json(row)).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")).cast("string")).head()
    (r.getLong(0), Option(r.getString(1)).getOrElse("0"))
  }

  final case class Expected(rows: Long, digest: String)

  def loadExpected(path: String): Map[String, Expected] = {
    val j = Json.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    j.get("queries").properties().asScala.map { e =>
      e.getKey -> Expected(e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalStateException(s"$name is not a graft contract query"))

  def run(spark: SparkSession, o: Main.Opts): RunResult = {
    val expected = loadExpected(o.expected)
    val (session, setups) = Phases.setUp(_ => {
      val s = spark.newSession()
      Fixtures.foreach(f => graft.SparkEntry.indexWarmups(f)(s, o.smallCorpus))
      s
    }, (_: SparkSession) => ())
    // one untimed pass checks every result and warms the JIT
    val checks = Phases.timed("checked pass")(Queries.map { q =>
      val ok = try {
        val (n, d) = digest(query(q)(session, o.smallCorpus))
        val want = expected.get(q)
        if (!want.contains(Expected(n, d)))
          System.err.println(s"[perfbench] $q: rows=$n digest=$d, expected $want")
        want.contains(Expected(n, d))
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e"); false
      }
      Done(Loop.nextId(), q, 0, 0, Map.empty, ok)
    })
    val sc = session.sparkContext
    def pass(rng: Random): Seq[Done] = rng.shuffle(Queries).map { q =>
      val id = Loop.nextId()
      val t0 = Clock.nowMs
      sc.setJobGroup(Tracer.group(id), q)
      try {
        val df = query(q)(session, o.smallCorpus)
        val t1 = Clock.nowMs
        df.write.format("noop").mode("overwrite").save()
        Done(id, q, t0, Clock.nowMs,
          Map("construct_ms" -> (t1 - t0), "rows" -> expected.get(q).fold(0.0)(_.rows.toDouble)),
          ok = true)
      } catch { case e: Exception => Done.failed(id, q, t0, e) }
      finally sc.clearJobGroup()
    }
    def passes(rng: Random, until: Double): Seq[Done] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Done]
      while (Clock.nowMs < until || out.size < Phases.TailSamples) out ++= pass(rng)
      out.toSeq
    }
    // the checked pass runs the queries through a digest, not the noop
    // sink; one noop pass more keeps JIT warm-up out of the first timed one
    val warm = Phases.timed("warm-up pass")(pass(new Random(o.seed ^ Phases.WarmSalt)))
    val m = Phases.timed("measure")(Phases.measure(spark, o, wholeRun = true)((phase, until) =>
      passes(new Random(Phases.phaseSeed(o.seed, phase)), until)))
    System.err.println(m.all.map(d => f"${d.kind}=${d.ms}%.0f").mkString("[perfbench] ", " ", ""))
    val ops = Layers.group(m.spans)
    val perQuery = Queries.flatMap { q =>
      val mine = ops.filter(_.op.name == q)
      Seq(s"operators.$q.wall_s" -> Stats.median(mine.map(_.wall / 1000.0)),
        s"operators.$q.jobs" -> Stats.mean(mine.map(_.jobs.size.toDouble)))
    }.map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
    val checked = checks ++ warm ++ m.all
    RunResult(checked.size, checked.count(!_.ok), Phases.endToEnd(m, setups),
      PerLayer.complete(Layers.common(ops, served = false) ++ perQuery +
        ("trace.overhead_pct" -> m.overheadPct)),
      m.spans, Phases.notes(m, setups))
  }

  /** Writes each query's row count and digest, and its rows as
    * parquet for the DuckDB cross-check (see oracle_check.py).
    */
  def emitExpected(spark: SparkSession, corpus: String, out: String): Unit = {
    Files.createDirectories(Paths.get(out))
    // the oracle replays of graft's non-SQL steps read these exports
    graft.util.OracleExports.enabled = true
    val s = spark.newSession()
    Fixtures.foreach(f => graft.SparkEntry.indexWarmups(f)(s, corpus))
    val entries = Queries.map { q =>
      val df = query(q)(s, corpus)
      df.write.mode("overwrite").parquet(s"$out/rows/$q")
      val (n, d) = digest(df)
      val again = digest(query(q)(s, corpus))
      require(again == (n, d), s"$q: digest differs between two runs: ${(n, d)} vs $again")
      s"    ${Json.str(q)}: {\"rows\": $n, \"digest\": ${Json.str(d)}}"
    }
    val oracle = Queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(sql =>
      s"    ${Json.str(q)}: ${Json.str(sql)}"))
    Files.write(Paths.get(out, "expected.json"),
      ("{\n  \"queries\": {\n" + entries.mkString(",\n") + "\n  }\n}\n").getBytes("UTF-8"))
    Files.write(Paths.get(out, "oracle_sql.json"),
      ("{\n" + oracle.mkString(",\n") + "\n}\n").getBytes("UTF-8"))
  }
}
