package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.plans.GraftPlanner

/** The HTTP query endpoint driven over a real loopback socket (the same
  * no-egress discipline as IngestSpec): SQL text in, JSONL out, capped
  * results, custom functions reachable, and errors as 400 JSON — the
  * pkg2 ad-hoc web-query shape end-to-end.
  */
class ServeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private def post(url: String, body: String): HttpResponse[String] = {
    val client = HttpClient.newHttpClient()
    client.send(
      HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  test("POSTed SQL with custom functions returns the same rows as a direct spark.sql") {
    GraftFunctions.ensureRegistered(spark)
    Tables.packages(spark, SparkTestHarness.Sf0001).createOrReplaceTempView("v_serve_pkg")
    val sql =
      """SELECT name, max_by(version, version_sort_key(version)) AS latest
        |FROM v_serve_pkg GROUP BY name ORDER BY name""".stripMargin
    val running = Serve.start(spark)
    try {
      val resp = post(running.url, sql)
      assert(resp.statusCode() == 200)
      val gotLines = resp.body().trim.split("\n").toSeq
      val direct = spark.sql(sql).toJSON.collect().toSeq
      assert(gotLines == direct)
      assert(gotLines.size == 60 && gotLines.head.contains("\"name\""))
    } finally running.stop()
  }

  test("8 concurrent POSTs (mixed cheap/expensive) all complete with isolated, correct results") {
    GraftFunctions.ensureRegistered(spark)
    Tables.packages(spark, SparkTestHarness.Sf0001).createOrReplaceTempView("v_serve_pkg")
    Tables.lineitem(spark, SparkTestHarness.Sf0001).createOrReplaceTempView("v_serve_li")
    assert(spark.sparkContext.getConf.get("spark.scheduler.mode", "FIFO") == "FAIR")
    val running = Serve.start(spark, workers = 8)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(java.util.concurrent.Executors.newFixedThreadPool(8))
      // 4 expensive aggregations interleaved with 4 cheap probes carrying
      // distinct marker values — isolation means every response matches
      // ITS request, completion means nobody starves behind the big scans
      val futures = (0 until 8).map { i =>
        Future {
          val sql =
            if (i % 2 == 0)
              s"""SELECT l_returnflag, count(*) AS n, $i AS tag,
                 |  sum(cast(floor(l_extendedprice * 100) as bigint)) AS s
                 |FROM v_serve_li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
            else s"SELECT $i AS marker, count(*) AS n FROM v_serve_pkg"
          (i, post(running.url, sql))
        }
      }
      val results = Await.result(Future.sequence(futures), 120.seconds)
      results.foreach { case (i, resp) =>
        assert(resp.statusCode() == 200, s"request $i failed: ${resp.body()}")
        if (i % 2 == 0) assert(resp.body().contains(s""""tag":$i"""), s"cross-talk on $i")
        else assert(resp.body().contains(s""""marker":$i"""), s"cross-talk on $i")
      }
    } finally running.stop()
  }

  test("/diag serves the session's optimizer diagnostics over the loopback socket") {
    // VERDICT r16 item 8: the operator asking "why didn't my join flip" is
    // talking to Serve — enable → query → read, all over HTTP. The serving
    // session has the rules but NO stats dir, so the planned join must
    // surface the no-stats-dir bail through GET /diag.
    val s = GraftPlanner.session(spark, GraftPlanner.Sketch)
    graft.plans.RuleDiag.clear(s)
    s.conf.set(graft.plans.RuleDiag.EnabledKey, "true")
    Tables.orders(s, SparkTestHarness.Sf0001).createOrReplaceTempView("v_diag_o")
    val running = Serve.start(s)
    try {
      val q = post(running.url,
        """SELECT count(*) AS n FROM v_diag_o a
          |JOIN v_diag_o b ON a.o_orderkey = b.o_orderkey""".stripMargin)
      assert(q.statusCode() == 200, s"query failed: ${q.body()}")
      val client = HttpClient.newHttpClient()
      val diag = client.send(
        HttpRequest.newBuilder(URI.create(running.diagUrl)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(diag.statusCode() == 200)
      assert(diag.headers().firstValue("Content-Type").orElse("")
        .contains("ndjson"))
      val lines = diag.body().trim.split("\n").toSeq
      assert(lines.exists(l => l.contains("\"rule\":\"broadcast-flip\"") &&
        l.contains("\"reason\":\"no-stats-dir\"")),
        s"/diag missing the no-stats-dir bail: ${lines.mkString(" | ")}")
      assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")),
        s"/diag body is not JSONL: ${lines.take(3)}")
    } finally { running.stop(); graft.plans.RuleDiag.clear(s) }
  }

  test("the maxRows cap limits in the plan, and bad SQL returns 400 with a JSON error") {
    Tables.packages(spark, SparkTestHarness.Sf0001).createOrReplaceTempView("v_serve_pkg")
    val running = Serve.start(spark, maxRows = 5)
    try {
      val capped = post(running.url, "SELECT pkg_id FROM v_serve_pkg ORDER BY pkg_id")
      assert(capped.statusCode() == 200)
      assert(capped.body().trim.split("\n").length == 5)

      val bad = post(running.url, "SELECT definitely_not_a_column FROM v_serve_pkg")
      assert(bad.statusCode() == 400)
      assert(bad.body().startsWith("{\"error\":"))
    } finally running.stop()
  }

  test("a POST to /diag answers 405 with a JSON error, never a silent close (ADVICE r17)") {
    // the read-only surface rejects non-GET methods with the same JSON
    // error envelope /query uses — a POST here is a caller confusing the
    // two endpoints, and the old handler served it as if it were a GET
    val running = Serve.start(spark)
    try {
      val r = post(running.diagUrl, "SELECT 1")
      assert(r.statusCode() == 405, s"expected 405, got ${r.statusCode()}")
      assert(r.body().startsWith("{\"error\":"), s"missing the JSON envelope: ${r.body()}")
      assert(r.headers().firstValue("Allow").orElse("") == "GET")
    } finally running.stop()
  }
}
