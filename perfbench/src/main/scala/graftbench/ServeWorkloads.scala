package graftbench

import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** What serve_read's replies are checked against, computed untimed in
  * set-up: the `orders` table collected from the corpus, the
  * dashboards' answers from `QueryService.sqlJson`, keyword matches
  * computed from the collected documents, and the vector probes'
  * answers from `QueryService.sqlJson`.
  */
final class ReadExpected(root: SparkSession, corpus: String, sut: ServiceUnderTest,
    val textIdx: String, val annIdx: String) {
  val orders: Map[Long, OrderRow] =
    root.read.parquet(s"$corpus/orders.parquet").collect().map(OrderRow.of).map(r => r.key -> r).toMap
  val maxKey: Long = orders.keys.max
  val byCust: Map[Long, IndexedSeq[OrderRow]] =
    orders.values.toIndexedSeq.groupBy(_.cust).map { case (c, rs) => c -> rs.sortBy(_.key) }
  val custs: IndexedSeq[Long] = byCust.keys.toIndexedSeq.sorted

  private def answers(queries: IndexedSeq[String]): IndexedSeq[(String, Seq[JsonNode])] =
    ServeRead.inParallel(queries)(q => q -> sut.svc.sqlJson(q, 1000).map(Json.parse))

  private val docs: Seq[(Long, Map[String, Int])] =
    root.read.parquet(s"$corpus/documents.parquet").select("doc_id", "text").collect().toSeq
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").groupBy(identity).map {
        case (w, ws) => w -> ws.length
      })

  /** doc_id, n_matched, total_tf of the first `limit` documents holding both terms. */
  def textMatches(a: String, b: String, limit: Int): Seq[(Long, Long, Long)] =
    docs.filter { case (_, tf) => tf.contains(a) && tf.contains(b) }.sortBy(_._1)
      .take(limit).map { case (id, tf) => (id, 2L, (tf(a) + tf(b)).toLong) }

  /** The probe vectors are the first few embeddings, whatever the
    * seed: a probe's cost depends on how full the cells it visits are.
    */
  private val probeSql: IndexedSeq[String] =
    root.read.parquet(s"$corpus/embeddings.parquet")
      .where(s"vec_id < ${ServeRead.AnnProbes}").orderBy("vec_id").collect()
      .map(r => ServeRead.annSql(annIdx, r.getSeq[Float](1).mkString(","))).toIndexedSeq

  private val answered = answers(ServeRead.Dashboards ++ probeSql)
  val dashboards: IndexedSeq[(String, Seq[JsonNode])] = answered.take(ServeRead.Dashboards.size)
  val probes: IndexedSeq[(String, Seq[JsonNode])] = answered.drop(ServeRead.Dashboards.size)
}

/** serve_read: a closed loop of clients over HTTP /sql against the
  * registered corpus. Point lookups draw from every `orders` key, far
  * more than the result cache holds; dashboards are a handful of
  * aggregates the cache does hold; paged lists follow `next_offset`;
  * index probes go through the text_search and ann_search TVFs.
  */
object ServeRead {
  /** Two clients keep the four cores short of saturation, where every
    * disturbance of the host would queue up into request latency.
    */
  val Clients = 2
  val PageSize = 4
  val TextLimit = 50
  val AnnProbes = 3
  val TermPairs: IndexedSeq[(String, String)] = IndexedSeq(
    "spark" -> "merge", "window" -> "table", "column" -> "vector", "stream" -> "value",
    "data" -> "join", "filter" -> "group", "hash" -> "customer", "sort" -> "order",
    "slow" -> "line", "part" -> "fast", "query" -> "scan", "batch" -> "index")

  val Dashboards: IndexedSeq[String] = IndexedSeq(
    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
      "round(sum(l_extendedprice), 2) AS sum_price, round(avg(l_discount), 4) AS avg_disc, " +
      "count(*) AS n FROM lineitem WHERE l_shipdate <= DATE'2001-09-01' " +
      "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total " +
      "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS revenue " +
      "FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment",
    "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
      "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey " +
      "GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 10",
    "SELECT year(o_orderdate) AS y, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price " +
      "FROM orders GROUP BY year(o_orderdate) ORDER BY y",
    "SELECT p_type, count(*) AS n, round(avg(p_retailprice), 2) AS avg_price " +
      "FROM part GROUP BY p_type ORDER BY p_type",
    "SELECT r_name, count(*) AS n, round(sum(s_acctbal), 2) AS balance FROM supplier " +
      "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
      "GROUP BY r_name ORDER BY r_name",
    "SELECT o_orderstatus, count(*) AS orders, sum(l_quantity) AS qty FROM orders " +
      "JOIN lineitem ON o_orderkey = l_orderkey WHERE o_orderdate >= DATE'2000-01-01' " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")

  def annSql(dir: String, csv: String): String =
    s"SELECT vec_id, cos, rk FROM ann_search('$dir', '$csv', 10) ORDER BY rk"

  /** One round of a client's operation kinds: 12 point lookups, 7
    * pages, 5 dashboards and one index probe, a keyword probe in even
    * rounds and a vector probe in odd ones. Each client cycles through
    * its own seed-shuffled round, so every run sends the mix in the
    * same proportions and only the keys, pages and probes vary with
    * the seed. The proportions are an assumption, not observed
    * traffic: keyed reads and paging dominate an interactive front
    * end, dashboards are fewer, searches rarer. Keeping the slow probes
    * to one request in 25 was also chosen so that they stay above the
    * reported percentiles (see README.md).
    */
  val Round: Seq[String] = Seq.fill(12)("point") ++ Seq.fill(7)("page") ++
    Seq.fill(5)("dashboard") ++ Seq("probe")

  /** `f` over `xs` on four threads. */
  def inParallel[A, B](xs: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    finally pool.shutdown()
  }

  /** Sends every dashboard once with `"cache": true`, so the measured
    * window starts with the cached set in the cache.
    */
  def prime(sut: ServiceUnderTest, exp: ReadExpected): Seq[Done] = {
    val http = new SqlClient(sut.url)
    inParallel(exp.dashboards) { case (q, want) =>
      val id = Loop.nextId()
      val sent = Clock.nowMs
      val r = http.post(Json.sqlBody(q, s"op$id", cache = true))
      val good = r.status == 200 && Json.sameRows(r.rows, want)
      Done(id, "dashboard", sent, Clock.nowMs, Map.empty, good)
    }
  }

  /** Client `c`'s operation generator. */
  def client(sut: ServiceUnderTest, exp: ReadExpected, seed: Long, c: Int): Long => Done = {
    val rng = new Random(seed * 1000003L + c)
    val round = rng.shuffle(Round).toIndexedSeq
    var n = 0
    val http = new SqlClient(sut.url)
    var cursor: Option[(Long, Int)] = None

    def run(id: Long, kind: String, body: String, cacheOpt: Boolean)(
        ok: Reply => Boolean): Done = {
      val sent = Clock.nowMs
      try {
        val r = http.post(body)
        val reply = Clock.nowMs
        val good = r.status == 200 && ok(r)
        if (!good) System.err.println(s"[perfbench] op $id ($kind) wrong: ${r.status} ${r.body.take(300)}")
        Done(id, kind, sent, reply, Map(
          "status" -> r.status.toDouble, "bytes" -> r.body.length.toDouble,
          "rows" -> r.rows.size.toDouble, "cache_opt" -> (if (cacheOpt) 1.0 else 0.0),
          "cache_hit" -> (if (r.cached) 1.0 else 0.0)), good)
      } catch { case e: Exception => Done.failed(id, kind, sent, e) }
    }

    id => {
      val tag = s"op$id"
      val kind = round(n % round.size) match {
        case "probe" => if ((n / round.size) % 2 == 0) "text_search" else "ann_search"
        case k => k
      }
      n += 1
      if (kind == "point") {
        val k = rng.nextLong(exp.maxKey + 1)
        run(id, "point", Json.sqlBody(s"SELECT * FROM orders WHERE o_orderkey = $k", tag,
          cache = true), cacheOpt = true) { r =>
          r.rows.map(OrderRow.of) == exp.orders.get(k).toSeq
        }
      } else if (kind == "page") {
        val (cust, off) = cursor.getOrElse(exp.custs(rng.nextInt(exp.custs.size)) -> 0)
        val want = exp.byCust(cust).slice(off, off + PageSize)
        val d = run(id, "page", Json.sqlBody(
          s"SELECT * FROM orders WHERE o_custkey = $cust ORDER BY o_orderkey", tag,
          limit = PageSize, offset = off), cacheOpt = false) { r =>
          r.rows.map(OrderRow.of) == want &&
            r.long("next_offset") == (if (want.size == PageSize) Some(off + PageSize) else None)
        }
        cursor = if (want.size == PageSize) Some(cust -> (off + PageSize)) else None
        d
      } else if (kind == "dashboard") {
        val (q, want) = exp.dashboards(rng.nextInt(exp.dashboards.size))
        run(id, "dashboard", Json.sqlBody(q, tag, cache = true), cacheOpt = true) { r =>
          Json.sameRows(r.rows, want)
        }
      } else if (kind == "text_search") {
        val (a, b) = TermPairs(rng.nextInt(TermPairs.size))
        run(id, "text_search", Json.sqlBody(
          s"SELECT doc_id, n_matched, total_tf FROM text_search('${exp.textIdx}', '$a,$b') " +
            "ORDER BY doc_id", tag, limit = TextLimit), cacheOpt = false) { r =>
          r.rows.map(j => (j.get("doc_id").asLong, j.get("n_matched").asLong,
            j.get("total_tf").asLong)) == exp.textMatches(a, b, TextLimit)
        }
      } else {
        val (q, want) = exp.probes(rng.nextInt(exp.probes.size))
        run(id, "ann_search", Json.sqlBody(q, tag), cacheOpt = false) { r =>
          Json.sameRows(r.rows, want)
        }
      }
    }
  }
}
