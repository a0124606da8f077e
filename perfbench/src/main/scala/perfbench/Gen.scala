package perfbench

import scala.util.Random

/** Zipf(s) over ranks 0..n-1 by inverse CDF: rank 0 is the hottest. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => math.pow(k.toDouble, -s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(rng: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Statement JSON in the principal dump's raw_json shape. Agent `a` is
  * named `G<a>` and has no database grounding, so it lands in the NAME
  * namespace that name queries and agent-string results read. */
object StmtJson {
  def agent(a: Int): String = s"""{"name":"G$a","db_refs":{}}"""

  def apply(stype: String, agents: Seq[Int]): String = stype match {
    case "Phosphorylation" =>
      s"""{"type":"Phosphorylation","enz":${agent(agents(0))},"sub":${agent(agents(1))}}"""
    case "Complex" =>
      s"""{"type":"Complex","members":[${agents.sorted.map(agent).mkString(",")}]}"""
    case t =>
      s"""{"type":"$t","subj":${agent(agents(0))},"obj":${agent(agents(1))}}"""
  }
}

/** One planted unique statement: its type and agents (subject first). */
final case class Spec(id: Int, stype: String, agents: Vector[Int]) {
  def json: String = StmtJson(stype, agents)
  def key: (String, Seq[Int]) =
    (stype, if (stype == "Complex") agents.sorted else agents)
}

/** One raw statement row of the principal dump, with its planted truth:
  * the spec it instantiates, the paper it was read from (-1 for knowledge
  * base rows) and whether its reading is a stale version distill drops. */
final case class RawRow(
    sid: Long, readingId: Option[Long], dbInfoId: Option[Long], src: String,
    spec: Int, paper: Int, stale: Boolean)

final case class Reading(rid: Long, trid: Long, reader: String, version: Double)

final case class DumpParams(
    specs: Int, agents: Int, zipfS: Double, papers: Int, meanDup: Double,
    staleSlotFrac: Double, staleRowFrac: Double, kbFrac: Double,
    chainFrac: Double, meshPool: Int) {
  def toMap: Map[String, Any] = Map(
    "specs" -> specs, "agents" -> agents, "zipf_s" -> zipfS, "papers" -> papers,
    "mean_dup" -> meanDup, "stale_slot_frac" -> staleSlotFrac,
    "stale_row_frac" -> staleRowFrac, "kb_frac" -> kbFrac,
    "chain_frac" -> chainFrac, "mesh_pool" -> meshPool)
}

object DumpParams {
  /** Share of raw statements the reference's distillation drops: ~77.3M
    * raw statements (7,727 batches of 10k) against 60,405,451 processed
    * ones (BASELINE.md; export_assembly.py:406-408 and :588). */
  val distillDropFrac: Double = 1.0 - 60405451.0 / 77.27e6

  /** Agent popularity: Zipf(s) over `agents` names. No published figure
    * fixes it; this is an assumption, chosen so that the hottest agent is
    * in about 4% of the unique statements and the next two in 2-3% each
    * (a few hubs carrying a few % of statements). The refinement hot-key
    * path of Pipeline.refinementEdges starts at blocks of 100,000
    * statements, far above any block at this size, so the exponent does
    * not decide whether that path runs. */
  val zipfS = 0.6

  /** The assemble and serve dump at scale 1. Apart from the stale share,
    * which is derived from [[distillDropFrac]], the values are
    * assumptions, unverified against the reference corpus: 3 reader rows
    * per unique statement on average, 10% of statements also from a
    * knowledge base, half the rows of a stale (paper, reader) slot from
    * the older version, 10% of Complexes with a refining superset, 750
    * papers and 200 MeSH terms. */
  def at(scale: Double): DumpParams = {
    val meanDup = 3.0
    val kbFrac = 0.1
    val staleRowFrac = 0.5
    // only reader rows can be stale: flag enough (paper, reader) slots that
    // stale rows are distillDropFrac of all raw rows
    val readerShare = meanDup / (meanDup + kbFrac)
    DumpParams(
      specs = math.max(200, (3000 * scale).toInt),
      agents = math.max(100, (2000 * scale).toInt), zipfS = zipfS,
      papers = math.max(40, (750 * scale).toInt), meanDup = meanDup,
      staleSlotFrac = distillDropFrac / (staleRowFrac * readerShare),
      staleRowFrac = staleRowFrac, kbFrac = kbFrac, chainFrac = 0.1,
      meshPool = 200)
  }
}

/** A seeded principal dump plus the truth planted in it. */
final case class Dump(
    params: DumpParams, specs: Vector[Spec], rows: Vector[RawRow],
    readings: Vector[Reading], mesh: Vector[(Long, Long, Int)]) {

  def pmid(paper: Int): Long = 1000000L + paper
  def trid(paper: Int): Long = paper + 1L

  /** Surviving raw ids per spec (stale-reading rows excluded). */
  lazy val survivors: Map[Int, Vector[Long]] =
    rows.filterNot(_.stale).groupBy(_.spec).map { case (k, v) => k -> v.map(_.sid) }
  lazy val staleSids: Set[Long] = rows.filter(_.stale).map(_.sid).toSet
  lazy val liveSpecs: Vector[Spec] = specs.filter(s => survivors.contains(s.id))
  def uniqueCount: Int = survivors.size
  lazy val specsByAgent: Map[Int, Vector[Spec]] =
    liveSpecs.flatMap(s => s.agents.distinct.map(_ -> s)).groupMap(_._1)(_._2)
  /** Share of the unique statements that name agent `a`. */
  def stmtShare(a: Int): Double =
    specsByAgent.get(a).map(_.size).getOrElse(0).toDouble / liveSpecs.size
  lazy val specsByPaper: Map[Int, Set[Int]] =
    rows.filter(r => !r.stale && r.paper >= 0).groupBy(_.paper)
      .map { case (p, rs) => p -> rs.map(_.spec).toSet }
}

object Dump {
  val readers: Seq[String] = Seq("reach", "sparser")
  val dbs: Seq[String] = Seq("signor", "biogrid")
  val types: Seq[(String, Double)] = Seq(
    "Phosphorylation" -> 0.3, "Activation" -> 0.3, "Inhibition" -> 0.2,
    "Complex" -> 0.2)

  private def pickType(rng: Random): String = {
    val u = rng.nextDouble()
    types.scanLeft(("", 0.0)) { case ((_, acc), (t, w)) => (t, acc + w) }
      .tail.find(_._2 >= u).map(_._1).getOrElse(types.last._1)
  }

  def generate(seed: Long, p: DumpParams): Dump = {
    val rng = new Random(seed)
    val zipf = new Zipf(p.agents, p.zipfS)
    val seen = scala.collection.mutable.HashSet[(String, Seq[Int])]()
    val specs = Vector.newBuilder[Spec]
    var n = 0
    def add(t: String, ag: Vector[Int]): Boolean = {
      val s = Spec(n, t, ag)
      if (ag.distinct.size == ag.size && seen.add(s.key)) {
        specs += s; n += 1; true
      } else false
    }
    while (n < p.specs) {
      val t = pickType(rng)
      val ag = Vector(zipf.sample(rng), zipf.sample(rng))
      // refinement chain: a Complex and a strict agent superset of it
      if (add(t, ag) && t == "Complex" && rng.nextDouble() < p.chainFrac)
        add("Complex", ag :+ rng.nextInt(p.agents))
    }
    val specV = specs.result()

    // readings: one current version per (paper, reader); a share of the
    // slots also carries an older version that distill must drop
    def slot(paper: Int, r: Int) = paper * readers.size + r
    val staleSlot = Array.fill(p.papers * readers.size)(rng.nextDouble() < p.staleSlotFrac)
    val readings = (0 until p.papers).flatMap { paper =>
      readers.indices.flatMap { r =>
        val cur = Reading(2L * slot(paper, r) + 1, paper + 1L, readers(r), 2.0)
        if (staleSlot(slot(paper, r)))
          Seq(cur, Reading(2L * slot(paper, r) + 2, paper + 1L, readers(r), 1.0))
        else Seq(cur)
      }
    }.toVector

    var sid = 0L
    val rows = Vector.newBuilder[RawRow]
    specV.foreach { s =>
      if (rng.nextDouble() < p.kbFrac) {
        sid += 1
        rows += RawRow(sid, None, Some(1L + s.id % 7), dbs(s.id % 2),
          s.id, -1, stale = false)
      }
      // duplicate group: 1 + geometric(meanDup - 1) reader rows
      var k = 1
      while (rng.nextDouble() < 1.0 - 1.0 / p.meanDup && k < 40) k += 1
      (0 until k).foreach { _ =>
        sid += 1
        val paper = rng.nextInt(p.papers)
        val r = if (rng.nextDouble() < 0.7) 0 else 1
        val stale = staleSlot(slot(paper, r)) && rng.nextDouble() < p.staleRowFrac
        val rid = 2L * slot(paper, r) + (if (stale) 2 else 1)
        rows += RawRow(sid, Some(rid), None, readers(r), s.id, paper, stale)
      }
    }
    val mesh = (0 until p.papers).flatMap { paper =>
      val terms = (0 until 1 + rng.nextInt(3)).map(_ => 1L + rng.nextInt(p.meshPool)).distinct
      terms.map(t => (1000000L + paper, t, rng.nextInt(2)))
    }.toVector
    Dump(p, specV, rows.result(), readings, mesh)
  }
}

/** One HTTP request of the serve mix, with its planted answer when it has
  * one: the exact number of result rows, or the ev_count of one hash. */
final case class Req(
    resultType: String, method: String, path: String,
    body: Option[String], rows: Option[Int] = None,
    hashEv: Option[(Long, Long)] = None)

object Requests {
  import graft.querydsl._

  // The mix of result types and query shapes is an assumption: the
  // reference's benchmarker stores per-route latencies but no traffic mix.
  val resultTypes: Seq[(String, Double)] = Seq(
    "hashes" -> 0.4, "statements" -> 0.2, "interactions" -> 0.15,
    "relations" -> 0.1, "agents" -> 0.15)

  private def pick[T](rng: Random, xs: Seq[(T, Double)]): T = {
    val u = rng.nextDouble() * xs.map(_._2).sum
    xs.scanLeft((xs.head._1, 0.0)) { case ((_, acc), (t, w)) => (t, acc + w) }
      .tail.find(_._2 >= u).map(_._1).getOrElse(xs.last._1)
  }

  /** `n` requests from `seed`. `hashOf` maps a spec id to the mk_hash the
    * engine assigned it (read once at set-up from fast_raw_pa_link); ev
    * counts come from the planted survivors. `maxRows` is the service's
    * row cap. */
  def generate(seed: Long, n: Int, dump: Dump, hashOf: Map[Int, Long],
      maxRows: Int): Vector[Req] = {
    val rng = new Random(seed)
    val zipf = new Zipf(dump.params.agents, dump.params.zipfS)
    val live = dump.liveSpecs
    def ev(s: Spec) = dump.survivors(s.id).size.toLong
    def agentWithStmts(): Int = {
      var a = zipf.sample(rng)
      while (!dump.specsByAgent.contains(a)) a = zipf.sample(rng)
      a
    }
    def capped(k: Int) = math.min(k, maxRows)
    def paging(rt: String): (String, Boolean) = rng.nextInt(4) match {
      case 0 => (s"&limit=${5 + rng.nextInt(20)}&offset=${rng.nextInt(10)}", true)
      case 1 if rt == "statements" => (s"&ev_limit=${1 + rng.nextInt(5)}", false)
      case _ => ("", false)
    }
    (0 until n).map { _ =>
      val rt = pick(rng, resultTypes)
      val planted = rt == "hashes"
      pick(rng, Seq("agent" -> 0.3, "roles" -> 0.1, "hash" -> 0.1,
          "hashes" -> 0.1, "papers" -> 0.1, "query" -> 0.3)) match {
        case "agent" =>
          val a = agentWithStmts()
          val (pg, paged) = paging(rt)
          Req(rt, "GET", s"/$rt/from_agents?agent=G$a$pg", None,
            rows = Option.when(planted && !paged)(capped(dump.specsByAgent(a).size)))
        case "roles" =>
          val s = live(rng.nextInt(live.size))
          val q = (if (s.stype == "Complex") s"agent=G${s.agents(0)},G${s.agents(1)}"
            else s"subject=G${s.agents(0)}&object=G${s.agents(1)}") + s"&type=${s.stype}"
          val expect = live.count(o => o.stype == s.stype && (
            if (s.stype == "Complex") Seq(s.agents(0), s.agents(1)).forall(o.agents.contains)
            else o.agents(0) == s.agents(0) && o.agents(1) == s.agents(1)))
          val (pg, paged) = paging(rt)
          Req(rt, "GET", s"/$rt/from_agents?$q$pg", None,
            rows = Option.when(planted && !paged)(capped(expect)))
        case "hash" =>
          val s = live(rng.nextInt(live.size))
          val (pg, paged) = paging(rt)
          Req(rt, "GET", s"/$rt/from_hash/${hashOf(s.id)}?x=1$pg", None,
            hashEv = Option.when(planted && !paged)((hashOf(s.id), ev(s))))
        case "hashes" =>
          val ss = Seq.fill(2 + rng.nextInt(8))(live(rng.nextInt(live.size))).distinct
          Req(rt, "POST", s"/$rt/from_hashes",
            Some(ss.map(s => hashOf(s.id)).mkString("""{"hashes":[""", ",", "]}")),
            rows = Option.when(planted)(ss.size))
        case "papers" =>
          val papers = dump.specsByPaper.keys.toVector.sorted
          val ps = Seq.fill(1 + rng.nextInt(3))(papers(rng.nextInt(papers.size))).distinct
          val expect = ps.flatMap(dump.specsByPaper).distinct.size
          Req(rt, "POST", s"/$rt/from_papers",
            Some(ps.map(p => s"""["pmid","${dump.pmid(p)}"]""")
              .mkString("""{"ids":[""", ",", "]}")),
            rows = Option.when(planted)(capped(expect)))
        case _ =>
          val a = agentWithStmts()
          val b = agentWithStmts()
          val withA = dump.specsByAgent(a)
          val (q, expect) = rng.nextInt(4) match {
            case 0 =>
              val t = Dump.types(rng.nextInt(Dump.types.size))._1
              (HasAgent(s"G$a") & HasType(Seq(t)), withA.count(_.stype == t))
            case 1 =>
              (HasAgent(s"G$a") & HasType(Seq("RegulateActivity"), includeSubclasses = true),
                withA.count(s => s.stype == "Activation" || s.stype == "Inhibition"))
            case 2 =>
              val both = (withA ++ dump.specsByAgent(b)).distinct
              ((HasAgent(s"G$a") | HasAgent(s"G$b")) & ~HasType(Seq("Complex")) &
                HasEvidenceBound(Seq(EvBound(">", 1L))),
                both.count(s => s.stype != "Complex" && ev(s) > 1))
            case _ =>
              (HasAgent(s"G$a") & FromMeshIds(Seq(s"D${1 + rng.nextInt(20)}")) &
                ~HasOnlySource("biogrid"), -1)
          }
          val (pg, paged) = paging(rt)
          Req(rt, "POST", s"/query/$rt?x=1$pg", Some(QueryJson.toJson(q)),
            rows = Option.when(planted && !paged && expect >= 0)(capped(expect)))
      }
    }.toVector
  }
}

/** Delta batches for the supplement workload: raw statement rows
  * (raw_stmt_id, src, raw_json) with read-your-writes truth per batch. */
final case class Delta(
    batch: Int, rows: Vector[(Long, String, String)],
    newAgent: Int, newAgentSpecs: Int)

final case class SupplementPlan(
    base: Vector[(Long, String, String)], deltas: Vector[Delta],
    hub: (Int, Int), hubBaseEv: Int, hubEvPerBatch: Int,
    ancestor: (Int, Int), hubAgentSpecsAfter: Vector[Int],
    params: Map[String, Any])

object Supplement {
  /** Base store of `baseSpecs` statements over Zipf agents (the assemble
    * dump's exponent), then `batches` deltas. Each delta carries fresh
    * statements (some on a new agent unique to the batch), new evidence
    * for the hub statement Activation(G0, G1), and a new Complex that
    * refines the planted ancestor Complex(G2, G3), so the ancestor's belief
    * rises. Sizes (2000 base statements, 150 new ones and 5 hub evidence
    * rows per batch) are assumptions: the reference publishes no update
    * rate. */
  def plan(seed: Long, scale: Double, batches: Int): SupplementPlan = {
    val rng = new Random(seed)
    val agents = math.max(100, (2000 * scale).toInt)
    val baseSpecs = math.max(100, (2000 * scale).toInt)
    val newPerBatch = math.max(20, (150 * scale).toInt)
    val hubEv = 5
    val hubBaseEv = 3
    val zipf = new Zipf(agents, DumpParams.zipfS)
    val seen = scala.collection.mutable.HashSet[(String, Seq[Int])]()
    var sid = 0L
    def rows(s: Spec, k: Int, srcs: Seq[String]) =
      (0 until k).map { i => sid += 1; (sid, srcs(i % srcs.size), s.json) }
    def fresh(t: String, ag: Vector[Int]): Option[Spec] = {
      val s = Spec(0, t, ag)
      Option.when(ag.distinct.size == ag.size && seen.add(s.key))(s)
    }
    val hub = Spec(0, "Activation", Vector(0, 1))
    val anc = Spec(0, "Complex", Vector(2, 3))
    seen += hub.key; seen += anc.key
    val base = Vector.newBuilder[(Long, String, String)]
    base ++= rows(hub, hubBaseEv, Seq("reach"))
    base ++= rows(anc, 1, Seq("reach"))
    var hubSpecs = 1 // specs with agent 0
    var made = 0
    while (made < baseSpecs) {
      val t = Dump.types(rng.nextInt(Dump.types.size))._1
      fresh(t, Vector(zipf.sample(rng), zipf.sample(rng))).foreach { s =>
        made += 1
        if (s.agents.contains(0)) hubSpecs += 1
        base ++= rows(s, 1 + rng.nextInt(3), Seq("reach", "signor"))
      }
    }
    val hubAfter = Vector.newBuilder[Int]
    val deltas = (1 to batches).map { b =>
      val out = Vector.newBuilder[(Long, String, String)]
      val newAgent = 100000 + b
      var onNew = 0
      var k = 0
      while (k < newPerBatch) {
        val t = Dump.types(rng.nextInt(Dump.types.size))._1
        val partner = zipf.sample(rng)
        val ag = if (k % 3 == 0) Vector(newAgent, partner)
          else Vector(zipf.sample(rng), partner)
        fresh(t, ag).foreach { s =>
          k += 1
          if (ag.contains(newAgent)) onNew += 1
          if (ag.contains(0)) hubSpecs += 1
          out ++= rows(s, 1 + rng.nextInt(2), Seq("reach", "signor"))
        }
      }
      out ++= rows(hub, hubEv, Seq("reach"))
      // a new refiner of the ancestor: Complex(G2, G3, N<b>)
      out ++= rows(Spec(0, "Complex", Vector(2, 3, newAgent)), 1, Seq("signor"))
      hubAfter += hubSpecs
      Delta(b, out.result(), newAgent, onNew + 1) // + the refiner
    }.toVector
    SupplementPlan(base.result(), deltas, (0, 1), hubBaseEv, hubEv, (2, 3),
      hubAfter.result(),
      Map("agents" -> agents, "base_specs" -> baseSpecs,
        "new_specs_per_batch" -> newPerBatch, "hub_ev_per_batch" -> hubEv,
        "zipf_s" -> DumpParams.zipfS, "batches" -> batches))
  }
}

/** Seeded crawl pages: WARC response records (gzip members) wrapping HTTP
  * responses with gzip-encoded HTML, plus the planted truth. */
final case class Page(id: Long, url: String, html: String)

final case class Crawl(
    pages: Vector[Page], bench: Vector[(Long, String)],
    exactClusters: Vector[Vector[Long]], trackingVariants: Vector[Vector[Long]],
    noindex: Set[Long], nonEnglish: Set[Long], contaminated: Set[Long],
    soft404: Set[Long], params: Map[String, Any])

object CrawlGen {
  private val words: Vector[String] = (
    "protein kinase cell signal pathway receptor binding domain growth " +
    "factor membrane nucleus expression regulation tumor immune response " +
    "enzyme substrate complex activity inhibitor mutation phenotype tissue " +
    "sample study result analysis model network structure function gene " +
    "transcript sequence variant cohort patient clinical trial dose effect " +
    "measure method data level change increase decrease control treatment " +
    "observed reported shown found reveals suggests indicates provides " +
    "novel important major significant specific common distinct several " +
    "during between within across through under before after because").split(" ").toVector
  private val english = Vector("the", "a", "of", "and", "is")
  private val german = Vector("der", "die", "das", "und", "ist", "mit", "auf",
    "nicht", "eine", "zelle", "protein", "wurde", "sind", "werden")

  private def sentence(rng: Random, n: Int): String =
    (0 until n).map { i =>
      if (i % 3 == 1) english(rng.nextInt(english.size))
      else if (i % 6 == 5) s"v${rng.nextInt(5000)}"
      else words(rng.nextInt(words.size))
    }.mkString(" ")

  private def body(rng: Random, paras: Int): String =
    (0 until paras).map(_ => s"<p>${sentence(rng, 30 + rng.nextInt(20))}. " +
      s"${sentence(rng, 20 + rng.nextInt(20))}.</p>").mkString

  def html(title: String, main: String, robots: Option[String] = None): String =
    "<!DOCTYPE html><html><head><meta charset=\"utf-8\">" +
      robots.map(r => s"""<meta name="robots" content="$r">""").getOrElse("") +
      s"<title>$title</title></head><body><nav>Home | About | Contact</nav>" +
      s"<main><h1>$title</h1>$main</main>" +
      "<footer>All rights reserved</footer></body></html>"

  /** `n` distinct base documents, then planted variants appended. */
  def generate(seed: Long, n: Int): Crawl = {
    val rng = new Random(seed)
    var id = 0L
    val pages = Vector.newBuilder[Page]
    def page(url: String, h: String): Long = { id += 1; pages += Page(id, url, h); id }
    def host(i: Int) = s"site${i % 97}.example.org"
    val docs = (0 until n).map { i =>
      val t = s"Report ${seed % 1000}-$i on ${words(rng.nextInt(words.size))} " +
        s"${words(rng.nextInt(words.size))}"
      (i, t, body(rng, 2 + rng.nextInt(2)))
    }.toVector
    val ids = docs.map { case (i, t, b) => page(s"https://${host(i)}/a/$i", html(t, b)) }
    val exact = Vector.newBuilder[Vector[Long]]
    val tracking = Vector.newBuilder[Vector[Long]]
    val noindex = Set.newBuilder[Long]
    val nonEn = Set.newBuilder[Long]
    val contam = Set.newBuilder[Long]
    val soft = Set.newBuilder[Long]
    val bench = Vector.newBuilder[(Long, String)]
    docs.foreach { case (i, t, b) =>
      rng.nextInt(20) match {
        case 0 => // exact duplicates of doc i on other hosts
          exact += (ids(i) +: (1 to 1 + rng.nextInt(3)).map(c =>
            page(s"https://mirror$c.example.net/copy/$i", html(t, b))).toVector)
        case 1 => // near duplicate: one sentence changed
          page(s"https://near.example.net/n/$i",
            html(t, b.replaceFirst("<p>", s"<p>${sentence(rng, 6)} ")))
        case 2 => // tracking-parameter variants of the same URL
          tracking += (ids(i) +: Vector(
            page(s"https://${host(i)}/a/$i?utm_source=feed&utm_medium=rss", html(t, b)),
            page(s"HTTPS://${host(i).toUpperCase}:443/a/$i?utm_campaign=x", html(t, b))))
        case _ =>
      }
    }
    (0 until math.max(3, n / 25)).foreach { k =>
      noindex += page(s"https://private.example.com/p/$k",
        html(s"Private note $k", body(rng, 3), Some("noindex, nofollow")))
      nonEn += page(s"https://de.example.de/seite/$k", html(s"Bericht $k",
        (0 until 4).map(_ => "<p>" + (0 until 45).map(_ =>
          german(rng.nextInt(german.size))).mkString(" ") + ".</p>").mkString))
    }
    // soft-404 template: the same not-found page served under many URLs of
    // one domain
    (0 until math.max(4, n / 40)).foreach { k =>
      soft += page(s"https://gone.example.com/missing/$k", html("Page not found",
        "<p>Sorry, the page you are looking for could not be found. It may " +
          "have been moved or deleted. Please check the address and try again " +
          "or return to the home page of the site.</p>"))
    }
    // benchmark contamination: pages quoting a benchmark document verbatim
    (0 until math.max(3, n / 50)).foreach { k =>
      val text = (0 until 4).map(_ => sentence(rng, 40)).mkString(". ")
      bench += ((900000L + k, text))
      contam += page(s"https://leak.example.com/q/$k", html(s"Answers $k",
        s"<p>$text.</p>"))
    }
    Crawl(pages.result(), bench.result(), exact.result(), tracking.result(),
      noindex.result(), nonEn.result(), contam.result(), soft.result(),
      Map("base_docs" -> n, "hosts" -> 97))
  }

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  /** One WARC response record, as its own gzip member. */
  def warc(p: Page): Array[Byte] = {
    val entity = gzip(p.html.getBytes("UTF-8"))
    val head = s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: ${p.url}\r\n\r\n" +
      "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      s"Content-Encoding: gzip\r\nContent-Length: ${entity.length}\r\n\r\n"
    gzip(head.getBytes("UTF-8") ++ entity)
  }
}
