package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.querydsl._
import graft.service.{HttpApi, QueryService}
import scala.collection.mutable

/** Interactive serving: a closed loop of HTTP clients against
  * HttpApi.start over a persisted readonly layer built at set-up. */
object Serve {
  val clients = 2
  val maxRows = 1000
  val warmup = 20

  /** One HTTP request's outcome; `rowValues` (traced runs only) holds its
    * parsed result rows, for comparison with the direct call. */
  final case class Sample(req: Req, status: Int, rows: Int, ms: Double, ok: Boolean,
      rowValues: List[JValue] = Nil)

  /** A traced HTTP request and the same request as a direct call: its
    * latency, executed plan and JSON rows. They are compared after the
    * loop, so the comparison's cost falls outside the spans. */
  final case class Direct(http: Sample, directMs: Double, plan: SparkPlan,
      rows: Array[String]) {
    def read: Long = leafRows(plan)
    /** The direct call returned the HTTP response's rows. */
    def same: Boolean = {
      def canon(xs: Seq[JValue]) = xs.map(x => JsonMethods.compact(JsonMethods.render(x))).sorted
      canon(rows.toSeq.map(JsonMethods.parse(_))) == canon(http.rowValues)
    }
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val params = DumpParams.at(c.o.scale * 0.5)
    // one set-up: it is a full Pipeline.run
    val ((dump, ro, server), setupMs) = Stats.timeMs {
      val dump = Dump.generate(c.o.seed, params)
      val pd = Assemble.frames(spark, dump)
      val ro = graft.assembly.Pipeline.run(spark, pd, Assemble.types, Dump.readers, Dump.dbs)
        .materializeAll()
      Assemble.unpersist(pd)
      (dump, ro, HttpApi.start(ro, Assemble.types, maxRows = maxRows))
    }
    val layerMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val (layerChecks, _, hashOf) = Assemble.verify(dump, ro)
    c.checks.op("serve readonly layer", layerChecks)
    val port = server.getAddress.getPort
    val reqs = Requests.generate(c.o.seed * 7919 + 17, 4000, dump, hashOf, maxRows)
    try {
      val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val warm = reqs.take(warmup).map(r => call(http, port, r))
      warm.foreach(s => c.checks.op(s"warm-up ${s.req.method} ${s.req.path}", verdict(s)))
      val digest = Stats.sha(warm.zipWithIndex.map { case (s, i) => s"$i,${s.status},${s.rows}" })
      val next = new AtomicInteger(warmup)
      val phaseMs = if (c.o.trace) c.o.seconds * 500 else c.o.seconds * 1000
      val (samples, elapsed, _, _) = loop(c, ro, reqs, port, next, phaseMs, traced = false)
      samples.foreach(s => c.checks.op(s"${s.req.method} ${s.req.path}", verdict(s)))
      val lat = samples.map(_.ms)
      val p50 = Stats.median(lat)
      val layers = if (!c.o.trace) Map.empty[String, Double] else {
        val (ts, wall, extra) = tracedPhase(c, ro, reqs, port, next, phaseMs)
        Layers.summarize(c, wall, p50, Stats.median(ts.map(_.ms)), extra)
      }
      Outcome(c.checks.attempted, c.checks.failed,
        e2e = Seq(
          ("setup_s", setupMs / 1000, "s"),
          ("op_p50_ms", p50, "ms"),
          ("throughput_per_s", samples.size / (elapsed / 1000), "1/s")),
        named = Seq(
          ("serve_p50_ms", p50, "ms"),
          ("serve_p95_ms", Stats.quantile(lat, 0.95), "ms"),
          ("serve_rps", samples.size / (elapsed / 1000), "1/s"),
          ("serve_requests", samples.size.toDouble, "count"),
          ("serve_layer_mb", layerMb, "MB")),
        layers = layers, digest = digest,
        sizes = params.toMap ++ Map("raw_statements" -> dump.rows.size,
          "unique_statements" -> dump.uniqueCount, "clients" -> clients,
          "request_pool" -> reqs.size, "warmup_requests" -> warmup,
          "layer_mb" -> layerMb),
        failures = c.checks.failures.toSeq)
    } finally server.stop(0)
  }

  /** `clients` threads in a closed loop over `reqs` for `phaseMs`. Traced,
    * each HTTP call is a `service.http` span followed by the same request
    * as a direct call. Returns the samples, the loop's wall time, the
    * client-summed time each thread spent in the loop, and the direct
    * calls. */
  def loop(c: Ctx, ro: ReadonlyTables, reqs: Seq[Req], port: Int, next: AtomicInteger,
      phaseMs: Double, traced: Boolean): (Seq[Sample], Double, Double, Seq[Direct]) = {
    val samples = mutable.ArrayBuffer[Sample]()
    val direct = mutable.ArrayBuffer[Direct]()
    val busyNs = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        val cl = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        while ((System.nanoTime() - t0) / 1e6 < phaseMs) {
          val r = reqs(next.getAndIncrement() % reqs.size)
          val s = if (traced)
            c.tracer.span("service.http", adopts = true)(call(cl, port, r, keepRows = true))
            else call(cl, port, r)
          val d = if (traced) Some(directCall(c, r, ro, s)) else None
          samples.synchronized {
            samples += s
            direct ++= d
          }
        }
        busyNs.addAndGet(System.nanoTime() - t0)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (samples.toSeq, (System.nanoTime() - t0) / 1e6, busyNs.get / 1e6, direct.toSeq)
  }

  /** A traced loop; checks every sample, and that the direct call, the
    * benchmark's copy of HttpApi's request mapping, returned the same rows
    * as the HTTP request. Returns the samples, the client-summed wall time,
    * and the serving layers' own ratios. */
  def tracedPhase(c: Ctx, ro: ReadonlyTables, reqs: Seq[Req], port: Int,
      next: AtomicInteger, phaseMs: Double): (Seq[Sample], Double, Map[String, Double]) = {
    val (ts, _, busy, direct) = loop(c, ro, reqs, port, next, phaseMs, traced = true)
    ts.foreach(s => c.checks.op(s"traced ${s.req.method} ${s.req.path}", verdict(s)))
    c.checks.op("direct calls return the HTTP rows", Seq(
      s"${direct.count(!_.same)} of ${direct.size} differ" -> direct.forall(_.same)))
    val routes = Layers.routes.map { rt =>
      val xs = ts.filter(_.req.resultType == rt).map(_.ms)
      s"service.route.$rt.p50_ms" -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
    }.toMap
    val read = direct.map(_.read).sum.toDouble
    val returned = math.max(1L, direct.map(_.rows.length.toLong).sum).toDouble
    (ts, busy, routes ++ Map(
      "querydsl.execute.rows_read_per_row" -> read / returned,
      // HTTP time beyond what the same request costs as a direct call
      "service.http.self_ms" -> direct.map(x => x.http.ms - x.directMs).sum /
        math.max(1, direct.size)))
  }

  def verdict(s: Sample): Seq[(String, Boolean)] = Seq(
    s"status ${s.status}, ${s.rows} rows (planted ${s.req.rows.getOrElse("-")}" +
      s"${s.req.hashEv.map(h => s", ev ${h._2}").getOrElse("")}) ${s.req.body.getOrElse("")}" -> s.ok)

  /** One HTTP request; checks status 200, a JSON array body, and the
    * planted answer when the request has one. */
  def call(http: HttpClient, port: Int, r: Req, keepRows: Boolean = false): Sample = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
    val req = r.body match {
      case Some(body) => b.POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build()
      case None => b.GET().build()
    }
    val t0 = System.nanoTime()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    val ms = (System.nanoTime() - t0) / 1e6
    val parsed = scala.util.Try(JsonMethods.parse(resp.body())).toOption
    val rows = parsed match {
      case Some(JArray(xs)) => xs
      case _ => Nil
    }
    val isArray = parsed.exists(_.isInstanceOf[JArray])
    def num(j: JValue): Option[Long] = j match {
      case JInt(v) => Some(v.toLong)
      case JLong(v) => Some(v)
      case JString(s) => s.toLongOption
      case _ => None
    }
    val answer = r.rows.forall(_ == rows.size) && r.hashEv.forall { case (h, ev) =>
      rows.size == 1 && num(rows.head \ "mk_hash").contains(h) &&
        num(rows.head \ "ev_count").contains(ev)
    }
    Sample(r, resp.statusCode(), rows.size, ms, resp.statusCode() == 200 && isArray && answer,
      if (keepRows) rows else Nil)
  }

  /** The request as a direct engine call (the same mapping HttpApi applies),
    * planned inside `querydsl.plan` and collected inside
    * `querydsl.execute`, paired with the HTTP sample `http`. */
  def directCall(c: Ctx, r: Req, ro: ReadonlyTables, http: Sample): Direct = {
    val t0 = System.nanoTime()
    val js = c.tracer.span("querydsl.plan") {
      val js = toDataFrame(r, ro).toJSON
      js.queryExecution.executedPlan
      js
    }
    val rows = c.tracer.span("querydsl.execute")(js.collect())
    Direct(http, (System.nanoTime() - t0) / 1e6, js.queryExecution.executedPlan, rows)
  }

  /** Rows produced by the plan's leaf scans. */
  def leafRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => leafRows(a.executedPlan)
    case s: QueryStageExec => leafRows(s.plan)
    case _: ReusedExchangeExec => 0L
    case l if l.children.isEmpty => l.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(leafRows).sum
  }

  private def params(raw: String): Map[String, String] =
    Option(raw).getOrElse("").split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap

  def toDataFrame(r: Req, ro: ReadonlyTables): DataFrame = {
    implicit val fmts: Formats = DefaultFormats
    val uri = URI.create(r.path)
    val p = params(uri.getRawQuery)
    def list(k: String) = p.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val (rt, q) = uri.getPath.stripPrefix("/").split("/").toList match {
      case List("query", rt) => rt -> QueryJson.fromJson(r.body.get)
      case List(rt, "from_agents") => rt -> QueryService.buildQuery(QueryService.Request(
        subject = p.get("subject"), obj = p.get("object"), agents = list("agent"),
        stmtTypes = list("type"), meshIds = list("mesh_ids"),
        limit = p.get("limit").map(_.toInt).getOrElse(0),
        offset = p.get("offset").map(_.toInt).getOrElse(0),
        evLimit = p.get("ev_limit").map(_.toInt).getOrElse(10)))
      case List(rt, "from_hash", h) => rt -> HasHash(Set(h.toLong))
      case List(rt, "from_hashes") =>
        rt -> HasHash((JsonMethods.parse(r.body.get) \ "hashes").extract[Seq[Long]].toSet)
      case List(rt, "from_papers") =>
        rt -> FromPapers((JsonMethods.parse(r.body.get) \ "ids")
          .extract[Seq[Seq[String]]].map { case Seq(t, i) => (t, i) })
      case other => sys.error(s"unknown route $other")
    }
    val limit = p.get("limit").map(_.toInt).getOrElse(0)
    val offset = p.get("offset").map(_.toInt).getOrElse(0)
    val evLimit = p.get("ev_limit").map(_.toInt).getOrElse(10)
    def page(df: DataFrame, order: Seq[Column]): DataFrame =
      if (limit <= 0 && offset <= 0) df
      else {
        val sorted = df.orderBy(order: _*)
        val off = if (offset > 0) sorted.offset(offset) else sorted
        if (limit > 0) off.limit(limit) else off
      }
    val t = Assemble.types
    val df = rt match {
      case "hashes" => Results.hashes(q, ro, t, "ev_count", limit, offset)
      case "statements" => page(Results.statementJsonResult(q, ro, t, evLimit),
        Seq(col("mk_hash").asc))
      case "interactions" => page(Results.interactions(q, ro, t),
        Seq(col("ev_count").desc, col("mk_hash").asc, col("agent_str").asc))
      case "relations" => page(Results.relations(q, ro, t),
        Seq(col("total_ev").desc, col("agent_str").asc, col("type_num").asc))
      case "agents" => page(Results.agents(q, ro, t),
        Seq(col("total_ev").desc, col("agent_str").asc))
    }
    df.limit(maxRows)
  }
}
