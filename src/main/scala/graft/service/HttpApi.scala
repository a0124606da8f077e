package graft.service

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods
import graft.core.TypeRegistry
import graft.querydsl._

/** The REST surface of the reference's service (indra_db_service/api.py:
  * 359-418 route shape `/<result_type>/<method>`, plus the query-JSON POST
  * and the expander endpoint, api.py:421-513) served over the JDK's
  * built-in HttpServer — no framework dependency; the DSL stays the real
  * API and each route is a thin parameter mapping onto
  * [[QueryService]] / [[Results]] / [[QueryJson]].
  *
  * Routes:
  *   - GET  /health
  *   - GET  /{result_type}/from_agents?subject=&object=&agent=a,b&type=&
  *            mesh_ids=&paper_ids=pmid:1,doi:10.x/y&limit=&offset=&
  *            ev_limit=&medscan=true
  *   - GET  /{result_type}/from_hash/{hash}
  *   - POST /{result_type}/from_hashes   body {"hashes": [..]}
  *   - POST /{result_type}/from_papers   body {"ids": [["pmid","123"], ..]}
  *   - POST /query/{result_type}         body = Query wire JSON (QueryJson)
  *   - GET  /expand?agents=0:A;1:B[&type=T]
  *   - POST /curation/submit/{hash}      body {"tag","email","text",...}
  *   - GET  /curation/list/{hash}[/{src_hash}]
  *   - GET  /curation/list[?api_key=...]  (anonymized without permission)
  *
  * result_type in {hashes, statements, interactions, relations, agents}.
  * Responses are JSON arrays of row objects (df.toJSON), capped at
  * `maxRows` like the reference's MAX_STMTS guard.
  */
object HttpApi {

  def start(
      ro: ReadonlyTables,
      types: TypeRegistry,
      port: Int = 0,
      maxRows: Int = 1000,
      curationDir: Option[String] = None,
      curatorSalt: String = "",
      curationsApiKey: Option[String] = None,
      grounder: graft.core.ScoredGrounder =
        graft.core.Grounder.scoredDefault): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) =>
      handle(ex, ro, types, maxRows, curationDir, curatorSalt,
        curationsApiKey, grounder))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    server
  }

  private def params(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
    }.toMap
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def respond(ex: HttpExchange, code: Int, payload: String,
      contentType: String = "application/json"): Unit = {
    val bytes = payload.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def rows(df: DataFrame, maxRows: Int): String =
    df.limit(maxRows).toJSON.collect().mkString("[", ",", "]")

  /** from_agents parameter mapping (FromAgentsApiCall,
    * call_handlers.py:472-620 param names). */
  private def requestOf(p: Map[String, String]): QueryService.Request =
    QueryService.Request(
      subject = p.get("subject"),
      obj = p.get("object"),
      agents = p.get("agent").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      namespace = p.getOrElse("namespace", "NAME"),
      stmtTypes = p.get("type").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      meshIds = p.get("mesh_ids").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      paperIds = p.get("paper_ids").toSeq.flatMap(_.split(","))
        .filter(_.contains(":"))
        .map { s => val Array(t, i) = s.split(":", 2); (t, i) },
      allowMedscan = p.get("medscan").contains("true"),
      limit = p.get("limit").map(_.toInt).getOrElse(0),
      offset = p.get("offset").map(_.toInt).getOrElse(0),
      evLimit = p.get("ev_limit").map(_.toInt).getOrElse(10))

  private val resultTypes =
    Set("hashes", "statements", "interactions", "relations", "agents")

  private def handle(
      ex: HttpExchange,
      ro: ReadonlyTables,
      types: TypeRegistry,
      maxRows: Int,
      curationDir: Option[String],
      curatorSalt: String,
      curationsApiKey: Option[String],
      grounder: graft.core.ScoredGrounder): Unit =
    // scoped: every materialization boundary a request's query evaluation
    // creates is released (blocks unpersisted, reliable checkpoint files
    // deleted) once the response has been written, so a long-lived service
    // returns to baseline instead of leaking one selection per request.
    // Thread-local, so the 4-thread pool's concurrent requests never
    // release each other's boundaries.
    graft.core.BlockScope.scoped {
    try {
      val path = ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/")
      // /metadata/<rt>/<method> is an alias of /<rt>/<method>
      // (api.py:359-360 registers both routes on one handler)
      val parts = path.split("/").toList match {
        case "metadata" :: rt :: rest if resultTypes(rt) => rt :: rest
        case other => other
      }
      val p = params(ex)
      (ex.getRequestMethod, parts) match {
        case ("GET", List("health")) =>
          respond(ex, 200, """{"status":"ok"}""")

        // gilda-style agent grounding (api.py:199-204); the scored
        // dictionary grounder stands in for the gilda model, same
        // response shape: [{"term": {...}, "score": ...}, ...]
        case ("GET", List("ground")) =>
          val ag = p.getOrElse("agent", sys.error("agent parameter required"))
          val out = grounder.candidates(ag).map { case (score, e) =>
            ("term" -> (("db" -> e.ns) ~ ("id" -> e.id) ~
              ("entry_name" -> e.text))) ~ ("score" -> score)
          }
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(out)))

        // query-compilation echo (api.py:527-540; the indra_db_rest
        // client posts simplified JSON and reads back the normal wire
        // form). fmt=string returns the algebra's normalized rendering.
        case ("POST", List("compile", fmt)) =>
          if (fmt != "json" && fmt != "string")
            // validate the format BEFORE touching the body (the reference
            // 400s on the format alone), and escape it — it is a raw path
            // segment
            respond(ex, 400, JsonMethods.compact(JsonMethods.render(
              ("error" -> s"invalid format name: $fmt") : JObject)))
          else {
            val simple = p.get("simple").forall(_.toBoolean)
            val b = body(ex)
            val q = if (simple) QueryJson.fromSimpleJson(b)
              else QueryJson.fromJson(b)
            // string format returns the RAW rendered query as the body —
            // the reference (api.py:535) sends plain text, and a client
            // reading it must not see JSON quoting/escapes
            if (fmt == "json") respond(ex, 200, QueryJson.toJson(q))
            else respond(ex, 200, q.toString, "text/plain")
          }

        // --- curation endpoints (api.py:542-639) -------------------------
        case ("POST", List("curation", "submit", h)) =>
          val dir = curationDir.getOrElse(sys.error("no curation store"))
          implicit val fmts: Formats = DefaultFormats
          val j = JsonMethods.parse(body(ex))
          val curator = (j \ "email").extractOpt[String]
            .getOrElse(sys.error("POST requires a user email"))
          val id = graft.assembly.Curation.submit(
            ro.sourceMeta.sparkSession, dir,
            graft.assembly.Curation.Submission(
              paHash = h.toLong,
              tag = (j \ "tag").extractOpt[String].getOrElse(""),
              curator = curator,
              ip = ex.getRemoteAddress.getAddress.getHostAddress,
              text = (j \ "text").extractOpt[String],
              sourceHash = (j \ "ev_hash").extractOpt[Long],
              source = (j \ "source").extractOpt[String]
                .getOrElse("DB REST API"),
              paJson = (j \ "pa_json").toOption.map(JsonMethods.compact),
              evJson = (j \ "ev_json").toOption.map(JsonMethods.compact)),
            knownHashes = ro.fastRawPaLink)
          respond(ex, 200, s"""{"result":"success","ref":{"id":$id}}""")

        case ("GET", "curation" :: "list" :: rest) =>
          val dir = curationDir.getOrElse(sys.error("no curation store"))
          val all = graft.assembly.Curation.store(
            ro.sourceMeta.sparkSession, dir)
          val listed = rest match {
            case stmtHash :: more =>
              // public per-statement listing: curator names visible
              graft.assembly.Curation.query(all,
                paHash = Some(stmtHash.toLong),
                sourceHash = more.headOption.map(_.toLong))
            case Nil =>
              // all-curations listing: anonymized without the
              // get_curations permission (api.py:616-639). The permission
              // key is OPERATOR-CONFIGURED — a source-literal key would
              // make the anonymization bypassable by anyone reading the
              // code (the reference gates on a JWT role).
              val permitted = curationsApiKey.exists(k =>
                p.get("api_key").contains(k))
              if (permitted) all
              else graft.assembly.Curation.anonymized(all, curatorSalt)
          }
          respond(ex, 200, rows(listed.orderBy(col("id")), maxRows))

        case ("POST", List("query", rt)) if resultTypes(rt) =>
          val q = QueryJson.fromJson(body(ex))
          respondResult(ex, q, rt, ro, types, p, maxRows, curationDir)

        case ("GET", List("expand")) =>
          val agents = p.getOrElse("agents", "")
            .split(";").filter(_.contains(":"))
            .map { s => val Array(n, id) = s.split(":", 2); n.toInt -> id }
            .toMap
          respond(ex, 200,
            rows(Results.expand(agents, p.get("type"), ro, types), maxRows))

        case (m, List(rt, method @ _*)) if resultTypes(rt) =>
          val q: StmtQuery = (m, method.toList) match {
            case ("GET", List("from_agents")) =>
              QueryService.buildQuery(requestOf(p))
            case ("GET", List("from_hash", h)) => HasHash(Set(h.toLong))
            case ("POST", List("from_hashes")) =>
              implicit val fmts: Formats = DefaultFormats
              HasHash((JsonMethods.parse(body(ex)) \ "hashes")
                .extract[Seq[Long]].toSet)
            case ("POST", List("from_papers")) =>
              implicit val fmts: Formats = DefaultFormats
              FromPapers((JsonMethods.parse(body(ex)) \ "ids")
                .extract[Seq[Seq[String]]].map { case Seq(t, i) => (t, i) })
            case other => sys.error(s"unknown method: $other")
          }
          respondResult(ex, q, rt, ro, types, p, maxRows, curationDir)

        case other => respond(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      case e: Throwable =>
        respond(ex, 400,
          s"""{"error":${JsonMethods.compact(JString(e.getMessage))}}""")
    }
    }

  /** limit/offset over a deterministic total order — the reference pages
    * every result type (api.py:359-418 passes limit/offset through each
    * ResultSQL's run); a no-op when neither param was given so unpaged
    * requests keep the cheaper unsorted plan. */
  private def page(
      df: DataFrame,
      order: Seq[org.apache.spark.sql.Column],
      limit: Int,
      offset: Int): DataFrame =
    if (limit <= 0 && offset <= 0) df
    else {
      val sorted = df.orderBy(order: _*)
      val off = if (offset > 0) sorted.offset(offset) else sorted
      if (limit > 0) off.limit(limit) else off
    }

  /** Per-hash curation counts on statement-family results — the reference
    * decorates its statements pipeline with num_curations (api.py:479-499,
    * call_handlers.py:337-362); hash lists stay bare there too. A no-op
    * without a store. */
  private def withCurations(
      df: DataFrame,
      ro: ReadonlyTables,
      curationDir: Option[String]): DataFrame = curationDir match {
    case Some(dir) => graft.assembly.Curation.attach(df,
      graft.assembly.Curation.store(ro.sourceMeta.sparkSession, dir))
    case None => df
  }

  /** Statement-family egress: `format=html` on a statements request takes
    * the reference's HtmlAssembler branch (call_handlers.py:370-402) —
    * text/html, nested page, capped like MAX_STMTS; every other format
    * value falls through to the JSON rows, matching the reference's
    * "JSON for all other values of the format argument". */
  private def respondResult(
      ex: HttpExchange,
      q: StmtQuery,
      resultType: String,
      ro: ReadonlyTables,
      types: TypeRegistry,
      p: Map[String, String],
      maxRows: Int,
      curationDir: Option[String]): Unit =
    if (resultType == "statements" && p.get("format").contains("html")) {
      val evLimit = p.get("ev_limit").map(_.toInt).getOrElse(10)
      val lim = p.get("limit").map(_.toInt).filter(_ > 0)
        .map(math.min(_, maxRows)).getOrElse(maxRows)
      respond(ex, 200,
        HtmlAssembly.page(q, ro, types, evLimit, lim), "text/html")
    } else respond(ex, 200,
      rows(dispatch(q, resultType, ro, types, p, curationDir), maxRows))

  private def dispatch(
      q: StmtQuery,
      resultType: String,
      ro: ReadonlyTables,
      types: TypeRegistry,
      p: Map[String, String],
      curationDir: Option[String] = None): DataFrame = {
    val limit = p.get("limit").map(_.toInt).getOrElse(0)
    val offset = p.get("offset").map(_.toInt).getOrElse(0)
    val evLimit = p.get("ev_limit").map(_.toInt).getOrElse(10)
    val sortBy = p.getOrElse("sort_by", "ev_count")
    resultType match {
      case "hashes" => Results.hashes(q, ro, types, sortBy, limit, offset)
      case "statements" => withCurations(page(
        Results.statementJsonResult(q, ro, types, evLimit),
        Seq(col("mk_hash").asc), limit, offset), ro, curationDir)
      case "interactions" => withCurations(page(
        Results.interactions(q, ro, types),
        Seq(col("ev_count").desc, col("mk_hash").asc, col("agent_str").asc),
        limit, offset), ro, curationDir)
      case "relations" => page(
        Results.relations(q, ro, types),
        Seq(col("total_ev").desc, col("agent_str").asc, col("type_num").asc),
        limit, offset)
      case "agents" => page(
        Results.agents(q, ro, types),
        Seq(col("total_ev").desc, col("agent_str").asc), limit, offset)
    }
  }
}
