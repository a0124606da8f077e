package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.BlockScope
import graft.queries.TpchWorld
import graft.querydsl._
import graft.service.{HttpApi, QueryService}

/** The REST facade served over a real socket: route mapping, query-JSON
  * POST, and parity with the direct DSL dispatch.
  */
class HttpApiSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("http-test")
  val dir = "/root/testdata/sf0.001"
  lazy val ro = TpchWorld.readonly(spark, dir)
  lazy val curationDir =
    java.nio.file.Files.createTempDirectory("curations").toString
  lazy val server = HttpApi.start(ro, TpchWorld.types,
    curationDir = Some(curationDir), curatorSalt = "pepper",
    curationsApiKey = Some("GET_CURATIONS"))
  lazy val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  lazy val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(path: String, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("health endpoint") {
    assert(get("/health") == (200, """{"status":"ok"}"""))
  }

  test("block manager returns to baseline after N statement requests") {
    // round-12 verdict item 4: every statements request creates a
    // checkpointed hash selection; BlockScope must unpersist it when the
    // response is written, or a long-lived service leaks one per request.
    // Warm BOTH routes once (the readonly cache and lazily-persisted
    // shared tables — e.g. agentInteractions on the agents route — count
    // as baseline, not leak), then measure N requests.
    assert(get("/statements/from_agents?agent=P5&medscan=true&limit=3")._1
      == 200)
    assert(get("/agents/from_agents?agent=P5&medscan=true&limit=3")._1
      == 200)
    val baseline = spark.sparkContext.getPersistentRDDs.size
    (1 to 5).foreach { _ =>
      val (code, _) =
        get("/statements/from_agents?agent=P5&medscan=true&limit=3")
      assert(code == 200)
      val (code2, _) =
        get("/agents/from_agents?agent=P5&medscan=true&limit=3")
      assert(code2 == 200)
    }
    assert(spark.sparkContext.getPersistentRDDs.size <= baseline,
      s"checkpoint blocks leaked: baseline $baseline, now " +
        s"${spark.sparkContext.getPersistentRDDs.size}: " +
        spark.sparkContext.getPersistentRDDs.values
          .map(_.toString).mkString(" | "))
  }

  test("reliable boundaries leave no blocks and no checkpoint files") {
    // same N requests with spark.graft.checkpoint.reliable on: each
    // request's boundaries are reliable checkpoints, and closing the
    // request's scope must unpersist them AND delete their files
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    spark.conf.set(BlockScope.RELIABLE_CONF, "true")
    try {
      assert(get("/statements/from_agents?agent=P5&medscan=true&limit=3")._1
        == 200)
      assert(get("/agents/from_agents?agent=P5&medscan=true&limit=3")._1
        == 200)
      val baseline = sc.getPersistentRDDs.size
      (1 to 5).foreach { _ =>
        assert(get("/statements/from_agents?agent=P5&medscan=true&limit=3")
          ._1 == 200)
        assert(get("/agents/from_agents?agent=P5&medscan=true&limit=3")
          ._1 == 200)
      }
      assert(sc.getPersistentRDDs.size <= baseline,
        s"blocks leaked: baseline $baseline, now ${sc.getPersistentRDDs.size}")
      val ckDir = sc.getCheckpointDir
      assert(ckDir.isDefined, "no reliable boundary was created")
      val left = java.nio.file.Files.walk(java.nio.file.Paths.get(
          new java.net.URI(ckDir.get).getPath))
        .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .toList
      assert(left.isEmpty, s"checkpoint files leaked: ${left.take(5)}")
    } finally spark.conf.unset(BlockScope.RELIABLE_CONF)
  }

  test("from_agents GET matches the direct service dispatch") {
    val (code, body) = get("/hashes/from_agents?agent=P5&medscan=true&limit=5")
    assert(code == 200)
    val direct = QueryService.run(
      QueryService.Request(agents = Seq("P5"), allowMedscan = true, limit = 5),
      "hashes", ro, TpchWorld.types).toJSON.collect().mkString("[", ",", "]")
    assert(body == direct)
  }

  test("query-JSON POST round-trips the DSL wire format") {
    val q = HasAgent("P5") & ~HasOnlySource("medscan")
    val (code, body) = post("/query/hashes?limit=5", QueryJson.toJson(q))
    assert(code == 200)
    val direct = graft.querydsl.Results
      .hashes(q, ro, TpchWorld.types, "ev_count", limit = 5)
      .toJSON.collect().mkString("[", ",", "]")
    assert(body == direct)
  }

  test("from_hash GET returns that statement's envelope") {
    val h = QueryService.run(
      QueryService.Request(agents = Seq("P5"), allowMedscan = true, limit = 1),
      "hashes", ro, TpchWorld.types)
      .collect().head.getLong(0)
    val (code, body) = get(s"/statements/from_hash/$h")
    assert(code == 200)
    // result_json is a nested JSON string, so inner quotes arrive escaped
    assert(body.contains("\"mk_hash\":" + h))
    assert(body.contains("matches_hash\\\":" + h))
    assert(body.contains("english"))
  }

  test("limit/offset page the non-hash result types deterministically") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    def agentStrs(body: String): List[String] =
      JsonMethods.parse(body).children
        .map(v => (v \ "agent_str").extract[String])
    val (c1, page1) = get(
      "/agents/from_agents?agent=P5&medscan=true&limit=3")
    val (c2, page2) = get(
      "/agents/from_agents?agent=P5&medscan=true&limit=3&offset=3")
    val (c3, all) = get(
      "/agents/from_agents?agent=P5&medscan=true&limit=6")
    assert(c1 == 200 && c2 == 200 && c3 == 200)
    assert(agentStrs(page1).size == 3)
    // consecutive pages tile the deterministically-sorted prefix
    assert(agentStrs(page1) ++ agentStrs(page2) == agentStrs(all))
  }

  test("format=html renders the nested statements page") {
    import graft.service.HtmlAssembly
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base +
        "/statements/from_agents?agent=P5&medscan=true&format=html"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
    assert(r.headers().firstValue("Content-Type").orElse("") == "text/html")
    val html = r.body()
    assert(html.startsWith("<!doctype html>"))
    // the page mirrors the columnar view model exactly: one statement <li>
    // per row, one header per distinct group key, every English surface
    // present, groups in descending-evidence order
    val q = QueryService.buildQuery(
      QueryService.Request(agents = Seq("P5"), allowMedscan = true))
    val vm = HtmlAssembly.viewModel(q, ro, TpchWorld.types).collect()
    assert(vm.nonEmpty)
    def count(needle: String) =
      html.sliding(needle.length).count(_ == needle)
    assert(count("<li class=\"statement\"") == vm.length)
    assert(count("<details class=\"agent-pair\"") ==
      vm.map(_.getAs[String]("pair_key")).distinct.length)
    assert(count("<details class=\"relation\"") ==
      vm.map(r => (r.getAs[String]("pair_key"), r.getAs[String]("rel_key")))
        .distinct.length)
    vm.foreach { row =>
      assert(html.contains(row.getAs[String]("english")))
      assert(html.contains(s"""data-hash="${row.getAs[Long]("mk_hash")}""""))
    }
    // view-model ordering: pair totals never increase down the page
    val pairEvs = vm.map(r =>
      (r.getAs[String]("pair_key"), r.getAs[Long]("pair_ev")))
      .distinct.map(_._2)
    assert(pairEvs.sameElements(pairEvs.sorted(Ordering[Long].reverse)))
    assert(html.contains(s"statements_returned: ${vm.length}"))
    assert(html.contains("end_of_statements: true"))
    // limit caps like MAX_STMTS and reports the truncation
    val (c2, html2) = get(
      "/statements/from_agents?agent=P5&medscan=true&format=html&limit=2")
    assert(c2 == 200 && html2.contains("statements_returned: 2"))
    if (vm.length > 2) assert(html2.contains("end_of_statements: false"))
    // data-derived text is escaped before markup wraps it
    val titled = HtmlAssembly.render(
      HtmlAssembly.viewModel(q, ro, TpchWorld.types), 1,
      title = "<script>alert(1)</script>")
    assert(!titled.contains("<script>") &&
      titled.contains("&lt;script&gt;"))
  }

  test("unknown routes 404, bad requests 400") {
    assert(get("/nope/from_agents")._1 == 404)
    assert(post("/query/hashes", "{not json")._1 == 400)
  }

  test("curation submit/list round trip; bad hash rejected") {
    val h = QueryService.run(
      QueryService.Request(agents = Seq("P5"), allowMedscan = true, limit = 1),
      "hashes", ro, TpchWorld.types).collect().head.getLong(0)
    val (code, body) = post(s"/curation/submit/$h",
      """{"tag":"grounding","email":"kim@lab.org","text":"wrong agent",
         "pa_json":{"type":"Activation"}}""")
    assert(code == 200 && body.contains("\"result\":\"success\""))
    val (lc, listed) = get(s"/curation/list/$h")
    assert(lc == 200)
    assert(listed.contains("\"tag\":\"grounding\"") &&
      listed.contains("\"curator\":\"kim@lab.org\""))
    // the curated statement JSON rides along, as in the reference
    assert(listed.contains("Activation"))
    assert(post("/curation/submit/999999999", """{"tag":"t","email":"e@x"}""")
      ._1 == 400)
  }

  test("statement results carry per-hash curation counts once curated") {
    // the submit test above curated exactly one statement
    val h = QueryService.run(
      QueryService.Request(agents = Seq("P5"), allowMedscan = true, limit = 1),
      "hashes", ro, TpchWorld.types).collect().head.getLong(0)
    val (code, body) = get(s"/statements/from_hash/$h")
    assert(code == 200)
    assert(body.contains("\"n_curations\":1"), body.take(200))
  }

  test("all-curations listing anonymizes without the permission") {
    // the previous test has submitted at least one curation
    get("/curation/list") match { case (code, body) =>
      assert(code == 200)
      assert(!body.contains("kim@lab.org"))
    }
    get("/curation/list?api_key=GET_CURATIONS") match { case (code, body) =>
      assert(code == 200)
      assert(body.contains("kim@lab.org"))
    }
  }

  test("ground endpoint returns gilda-shaped scored candidates") {
    val (code, body) = get("/ground?agent=tp53")
    assert(code == 200)
    // case-insensitive tier: both HGNC and UP entries, HGNC prior first
    assert(body.contains(""""db":"HGNC""""))
    assert(body.contains(""""entry_name":"TP53""""))
    assert(body.indexOf("HGNC") < body.indexOf("UP"))
    val (c2, b2) = get("/ground?agent=zzz-nothing")
    assert(c2 == 200 && b2 == "[]")
  }

  test("compile endpoint normalizes simple and full query JSON") {
    val simple =
      """{"class":"Or","constraint":{"queries":[
        {"class":"HasAgent","constraint":{"agent_id":"P5"},"inverted":false},
        {"class":"HasAgent","constraint":{"agent_id":"P7"},"inverted":false}
      ]}}"""
    val (code, body) = post("/compile/json", simple)
    assert(code == 200)
    assert(QueryJson.fromJson(body) ==
      (HasAgent("P5") | HasAgent("P7")))
    // full (non-simple) JSON passes through the regular parser
    val q = HasAgent("P5") & ~HasOnlySource("medscan")
    val (c2, b2) = post("/compile/json?simple=false", QueryJson.toJson(q))
    assert(c2 == 200 && QueryJson.fromJson(b2) == q)
    val (c3, _) = post("/compile/tsv", simple)
    assert(c3 == 400)
    val (c4, b4) = post("/compile/string", simple)
    // raw text body, like the reference's api.py:535 — no JSON quoting
    assert(c4 == 200 && b4.contains("HasAgent") && !b4.startsWith("\""))
  }

  test("metadata/ prefix aliases every result-type route") {
    val (code, body) = get("/metadata/hashes/from_agents?agent=P5&medscan=true")
    val (c2, direct) = get("/hashes/from_agents?agent=P5&medscan=true")
    assert(code == 200 && c2 == 200 && body == direct)
  }

  test("medscan policy holds over HTTP: only-medscan hashes need the flag") {
    val (_, without) = get("/hashes/from_agents?agent=P5")
    val (_, withFlag) = get("/hashes/from_agents?agent=P5&medscan=true")
    // the flagless response must be a subset (policy injects ~HasOnlySource)
    def hashes(s: String) =
      "\"mk_hash\":(-?\\d+)".r.findAllMatchIn(s).map(_.group(1)).toSet
    assert(hashes(without).subsetOf(hashes(withFlag)))
  }
}
