package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

import graft.service.{HttpQueryService, QueryService}
import graft.sources.Tables

/** One `orders` row as the service returns it. */
final case class OrderRow(key: Long, cust: Long, status: String, price: Double,
    date: LocalDateTime, prio: String)

object OrderRow {
  def of(r: Row): OrderRow = OrderRow(r.getLong(0), r.getLong(1), r.getString(2),
    r.getDouble(3), r.getAs[LocalDateTime](4), r.getString(5))
  def of(j: JsonNode): OrderRow = OrderRow(j.get("o_orderkey").asLong, j.get("o_custkey").asLong,
    j.get("o_orderstatus").asText, j.get("o_totalprice").asDouble,
    LocalDateTime.parse(j.get("o_orderdate").asText), j.get("o_orderpriority").asText)
}

/** A reply from POST /sql. */
final case class Reply(status: Int, body: String, json: Option[JsonNode]) {
  def rows: Seq[JsonNode] =
    json.flatMap(j => Option(j.get("rows"))).map(_.elements().asScala.toSeq).getOrElse(Nil)
  /** Whether the result cache answered the request. */
  def cached: Boolean = json.exists(j => j.has("cached") && j.get("cached").asBoolean)
  def long(field: String): Option[Long] = json.flatMap(j => Option(j.get(field))).map(_.asLong)
}

/** The graft service as one set-up builds it: a fresh session over the
  * shared SparkContext, the corpus registered in a QueryService, and an
  * HttpQueryService on a loopback port.
  */
final class ServiceUnderTest(root: SparkSession, corpus: String) {
  val spark: SparkSession = root.newSession()
  graft.functions.GraftFunctions.register(spark)
  val svc = new QueryService(spark)
  Tables.names.foreach(n => svc.registerSource(n, "parquet", s"$corpus/$n.parquet"))
  val http: HttpQueryService = new HttpQueryService(svc, 0).start()
  val url: URI = URI.create(s"http://127.0.0.1:${http.boundPort}/sql")

  private var stopped = false
  def stop(): Unit = synchronized { if (!stopped) { stopped = true; http.stop() } }
}

/** The text and vector indexes serve_read probes. They are built by
  * the program under test into `dir` when it holds no finished build,
  * and reused by later runs: rebuilding them in every run's set-up
  * would cost more than the run measures. run.py names `dir` after the
  * hash of the program's sources and the corpus generator, so a
  * changed program never reads another program's indexes.
  */
object ServeIndexes {
  def ensure(spark: SparkSession, corpus: String, indexes: String): (String, String) = {
    val dir = java.nio.file.Paths.get(indexes)
    val (text, ann) = (dir.resolve("text_idx").toString, dir.resolve("ann_idx").toString)
    if (!java.nio.file.Files.exists(dir.resolve("_built"))) {
      Phases.rmTree(dir)
      java.nio.file.Files.createDirectories(dir)
      graft.operators.TextIndex.build(
        spark.read.parquet(s"$corpus/documents.parquet").select("doc_id", "text"), text)
      val ivf = graft.operators.IvfIndex.build(spark.read.parquet(s"$corpus/embeddings.parquet"))
      ivf.save(ann)
      ivf.unpersist()
      java.nio.file.Files.createFile(dir.resolve("_built"))
    }
    (text, ann)
  }
}

/** HTTP client shared by the benchmark's client threads. */
final class SqlClient(url: URI) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()

  def post(body: String): Reply = {
    val r = client.send(HttpRequest.newBuilder(url)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    Reply(r.statusCode, r.body,
      if (r.statusCode == 200) Some(mapper.readTree(r.body)) else None)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** The body of one POST /sql request. */
  def sqlBody(query: String, tag: String, cache: Boolean = false, limit: Int = 1000,
      offset: Int = 0): String =
    s"""{"query":${str(query)},"tag":${str(tag)},"limit":$limit,"offset":$offset""" +
      (if (cache) ""","cache":true}""" else "}")

  private val mapper = new ObjectMapper()
  def parse(s: String): JsonNode = mapper.readTree(s)

  /** Same JSON value; numbers compare within a relative 1e-9, so a
    * double sum whose addition order changed still matches.
    */
  def same(a: JsonNode, b: JsonNode): Boolean =
    if (a.isNumber && b.isNumber) {
      val (x, y) = (a.asDouble, b.asDouble)
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    } else if (a.isObject && b.isObject) {
      val ka = a.fieldNames().asScala.toSet
      ka == b.fieldNames().asScala.toSet && ka.forall(k => same(a.get(k), b.get(k)))
    } else if (a.isArray && b.isArray)
      a.size == b.size && (0 until a.size).forall(i => same(a.get(i), b.get(i)))
    else a == b

  def sameRows(a: Seq[JsonNode], b: Seq[JsonNode]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => same(x, y) }
}
