package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.assembly.{Pipeline, PrincipalDump, ReadonlyBuilder}
import graft.core.{BlockScope, TypeRegistry}
import graft.querydsl._

/** End-to-end lifecycle: principal dumps -> distill -> preassemble ->
  * refinement -> belief -> readonly layer -> DSL queries on top. The
  * fixture plants known dedup groups, a dropped stale reading, a
  * refinement chain, and mesh annotations, then checks each effect at the
  * query surface (the reference's §3.3 pipeline + §3.1 query path in one).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("pipeline-test")

  val types = TypeRegistry(Seq("Phosphorylation", "Activation", "Inhibition"))

  def dump: PrincipalDump = {
    import spark.implicits._
    def phos(s: String, o: String) =
      s"""{"type":"Phosphorylation","enz":{"name":"$s","db_refs":{"FPLX":"$s"}},"sub":{"name":"$o","db_refs":{"FPLX":"$o"}}}"""
    def act(agents: (String, String)*) = {
      val Seq(s, o) = agents.take(2).toSeq
      s"""{"type":"Activation","subj":{"name":"${s._1}","db_refs":{${s._2}}},"obj":{"name":"${o._1}","db_refs":{${o._2}}}}"""
    }
    // readings: trid 1 has a stale v1 (rid 11) superseded by v2 (rid 12);
    // trid 2 has one reading (rid 21)
    val readings = Seq(
      (11L, 1L, "reach", 1.0, "pubmed", "abstract"),
      (12L, 1L, "reach", 2.0, "pubmed", "abstract"),
      (21L, 2L, "reach", 1.0, "pubmed", "abstract"),
    ).toDF("rid", "trid", "reader", "reader_version", "source", "text_type")
    val textRefs = Seq((1L, 101L), (2L, 102L)).toDF("trid", "pmid")
    // raw statements: sid 1 (stale reading, MUST be dropped), sids 2,3 the
    // same Phosphorylation from different readings (dedup to one), sid 4 a
    // KB row (no reading), sids 5,6 an Activation refinement chain:
    // (A,B) refines (A... actually (A,B) has strictly more agents than (A,B)?
    // use Activation(A,B) vs Activation(A,B) with an extra agent via members
    val raw = Seq(
      (1L, Some(11L), None: Option[Long], "reach", phos("MEK", "ERK")),
      (2L, Some(12L), None: Option[Long], "reach", phos("MEK", "ERK")),
      (3L, Some(21L), None: Option[Long], "reach", phos("MEK", "ERK")),
      (4L, None: Option[Long], Some(7L), "signor", phos("BRAF", "MEK")),
      (5L, Some(12L), None: Option[Long], "reach",
        act("A" -> "\"HGNC\":\"1\"", "B" -> "\"HGNC\":\"2\"")),
      (6L, Some(21L), None: Option[Long], "reach",
        """{"type":"Activation","subj":{"name":"A","db_refs":{"HGNC":"1"}},"obj":{"name":"B","db_refs":{"HGNC":"2","FPLX":"BF"}}}"""),
    ).toDF("raw_stmt_id", "reading_id", "db_info_id", "src", "raw_json")
    val mesh = Seq((101L, 8L, 0), (102L, 9L, 1)).toDF("pmid", "mesh_num", "is_concept")
    PrincipalDump(raw, readings, textRefs, mesh)
  }

  lazy val ro: ReadonlyTables = Pipeline.run(
    spark, dump, types, Seq("reach"), Seq("signor"),
    checkpointDir = Some(
      java.nio.file.Files.createTempDirectory("graft-pipe").toString))

  def hashes(q: StmtQuery): Set[Long] =
    QueryCompiler.compile(q, ro, types).select("mk_hash")
      .collect().map(_.getLong(0)).toSet

  test("distill drops the stale reading; dedup collapses the duplicates") {
    // Phosphorylation(MEK,ERK): sids 2,3 merge; sid 1 (stale) is dropped,
    // so its evidence does NOT count
    val phos = ro.sourceMeta.filter(col("type_num") === types.num("Phosphorylation"))
    val rows = phos.select("mk_hash", "ev_count").collect()
    assert(rows.length == 2) // MEK->ERK and BRAF->MEK
    val evCounts = rows.map(_.getLong(1)).sorted.toSeq
    assert(evCounts == Seq(1L, 2L), s"got $evCounts")
  }

  test("KB statements (no reading id) survive and set has_db") {
    val kb = hashes(HasDatabases())
    assert(kb.size == 1)
    assert(hashes(HasOnlySource("signor")) == kb)
  }

  test("refinement chain boosts the general statement's belief") {
    // stmt 6 has agents {A, B(+FPLX:BF)} => refines stmt 5's {A, B}? No:
    // 6 has MORE keys (FPLX:BF wins priority for B) - so 6 refines 5 only
    // if 5's keys are a subset. 5: {HGNC:1, HGNC:2}; 6: {HGNC:1, FPLX:BF}.
    // FPLX outranks HGNC for B, so keys differ and NO edge exists; both
    // statements stand alone with 1 evidence each.
    val acts = ro.sourceMeta.filter(col("type_num") === types.num("Activation"))
      .select("mk_hash", "belief").collect()
    assert(acts.length == 2)
    // baseline belief for 1 reach evidence: 1 - (0.05 + 0.3) = 0.65
    assert(acts.forall(r => math.abs(r.getDouble(1) - 0.65) < 1e-9))
  }

  test("mesh annotations reach the mesh meta tables via the paper link") {
    // pmid 101 (mesh term 8) annotates evidence from trid 1 readings
    val byMesh = hashes(FromMeshIds(Seq("D8")))
    assert(byMesh.nonEmpty)
    val byPaper = hashes(FromPapers(Seq("pmid" -> "101")))
    assert(byMesh == byPaper)
  }

  test("agent grounding lands in the right meta table with priority") {
    // FPLX outranks HGNC: MEK grounds as FPLX -> other_meta(db_name=FPLX)
    val mek = hashes(HasAgent("MEK", namespace = "FPLX"))
    assert(mek.size == 2) // Phosphorylation(MEK,ERK) + KB BRAF->MEK
    val sub = hashes(HasAgent("MEK", namespace = "FPLX", role = Some("SUBJECT")))
    assert(sub.size == 1)
  }

  test("statement JSON envelope: payload carried, evidence spliced, ev_limit applied") {
    import spark.implicits._
    val out = Results.statementJsonResult(
      HasAgent("MEK", namespace = "FPLX"), ro, types, evLimit = 1)
      .collect()
    assert(out.length == 2)
    out.foreach { r =>
      val json = r.getString(2)
      assert(r.getLong(1) == 1L) // ev_limit
      assert(json.contains("\"matches_hash\""))
      assert(json.contains("Phosphorylation")) // pa_json payload spliced
      assert(json.contains("\"evidence\":[{"))
      assert(json.contains("\"source_counts\""))
    }
    // ev_total reflects ALL evidence even when the page is capped at 1
    val mekErk = out.map(_.getString(2)).find(_.contains("ERK")).get
    assert(mekErk.contains("\"ev_total\":2"))
  }

  test("refinement blocking pairs subset statements whose FIRST sorted keys differ") {
    import spark.implicits._
    // A = {HGNC:7, HGNC:8} sorts to first key HGNC:7; B = {HGNC:8} to
    // HGNC:8 — a strict subset pair that first-key-only blocking never
    // pairs (round-1 bug). The all-keys blocking must emit exactly A -> B.
    val uniq = Seq((1L, "Inhibition"), (2L, "Inhibition"))
      .toDF("mk_hash", "stype")
    val agents = Seq(
      (1L, "HGNC", "7"), (1L, "HGNC", "8"),
      (2L, "HGNC", "8"),
    ).toDF("mk_hash", "db_name", "db_id")
    val edges = Pipeline.refinementEdges(uniq, agents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((1L, 2L)), s"got $edges")
  }

  test("belief with refinement: planted subset chain accumulates evidence") {
    import spark.implicits._
    // direct unit check of the pipeline's refinement edge builder through
    // run(): add a third Activation whose agent keys are a strict subset
    val extra = Seq(
      (7L, Some(21L), None: Option[Long], "reach",
        """{"type":"Inhibition","subj":{"name":"X","db_refs":{"HGNC":"7"}},"obj":{"name":"Y","db_refs":{"HGNC":"8"}}}"""),
      (8L, Some(21L), None: Option[Long], "reach",
        """{"type":"Inhibition","members":[{"name":"X","db_refs":{"HGNC":"7"}},{"name":"Y","db_refs":{"HGNC":"8"}},{"name":"Z","db_refs":{"HGNC":"9"}}]}"""),
    ).toDF("raw_stmt_id", "reading_id", "db_info_id", "src", "raw_json")
    val d2 = dump.copy(rawStatements = dump.rawStatements.unionByName(extra))
    // run once with local and once with reliable boundaries: every table
    // of the readonly layer must come out row-for-row the same (the scope
    // releases each run's blocks and checkpoint files once collected)
    def run(reliable: Boolean): (Array[Row], Seq[Seq[String]]) = {
      spark.conf.set(BlockScope.RELIABLE_CONF, reliable.toString)
      try BlockScope.scoped {
        val ro2 = Pipeline.run(spark, d2, types, Seq("reach"), Seq("signor"))
        val inh = ro2.sourceMeta
          .filter(col("type_num") === types.num("Inhibition"))
          .select("mk_hash", "belief", "agent_count").collect()
        val tables = ro2.productIterator.collect { case df: Dataset[_] =>
          df.toDF().collect().map(_.toString).sorted.toSeq
        }.toSeq
        (inh, tables)
      } finally spark.conf.unset(BlockScope.RELIABLE_CONF)
    }
    val (inh, localTables) = run(reliable = false)
    val (_, reliableTables) = run(reliable = true)
    assert(reliableTables == localTables,
      "reliable boundaries changed the readonly rows")
    assert(inh.length == 2)
    val byAgents = inh.map(r => r.getLong(2) -> r.getDouble(1)).toMap
    // the 3-agent Complex-like statement refines the 2-agent one (same
    // type, same block key HGNC:7, strict key superset) -> the general
    // statement's evidence = own + refiner = 2 reach => 1-(0.05+0.09)=0.86
    assert(math.abs(byAgents(3L) - 0.65) < 1e-9)
    assert(math.abs(byAgents(2L) - 0.86) < 1e-9)
  }

  test("the readonly build computes the per-statement columns once for six tables") {
    def plan(df: DataFrame) = df.queryExecution.optimizedPlan
    def scans(df: DataFrame): Set[Int] =
      plan(df).collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    // source_meta reads nothing but the per-statement frame
    val shared = scans(ro.sourceMeta)
    assert(shared.size == 1, s"source_meta scans $shared")
    val readers = Seq("name_meta" -> ro.nameMeta, "text_meta" -> ro.textMeta,
      "other_meta" -> ro.otherMeta, "source_meta" -> ro.sourceMeta,
      "mesh_term_meta" -> ro.meshTermMeta,
      "mesh_concept_meta" -> ro.meshConceptMeta)
    readers.foreach { case (name, df) =>
      assert(shared.subsetOf(scans(df)), s"$name does not scan $shared")
      val evAggs = plan(df).collect {
        case a: Aggregate if a.aggregateExpressions.exists(_.name == "ev_count") => a
      }
      assert(evAggs.isEmpty, s"$name recomputes ev_count")
    }
  }

  test("the readonly build gives the same rows with its boundaries inlined") {
    def rows(ro: ReadonlyTables): Seq[(String, Map[Row, Int])] =
      ro.productElementNames.zip(ro.productIterator).collect {
        case (name, df: Dataset[_]) =>
          name -> df.toDF().collect().groupBy(identity).map { case (r, rs) => r -> rs.length }
      }.toSeq
    def build() = ReadonlyBuilder.build(spark, Fixture.world(spark), Fixture.types,
      Fixture.readers, Fixture.dbs, complexTypeNum = Fixture.types.toNum.get("Complex"))
    val bounded = rows(build())
    val inlined = rows(BlockScope.inlined(build()))
    assert(bounded.size == 11)
    bounded.zip(inlined).foreach { case ((name, b), (_, i)) =>
      assert(b.nonEmpty, s"$name is empty")
      assert(b == i, s"$name differs with the boundaries inlined")
    }
  }

  test("Pipeline.run's concurrent branches register their boundaries with the caller's scope") {
    // (the inlined flag's hand-over is checked on BlockScope.fork itself:
    // an inlined Pipeline.run re-plans the transitive closure's growing
    // self-join every round and runs out of heap)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val rows = BlockScope.scoped(
      Pipeline.run(spark, dump, types, Seq("reach"), Seq("signor")).sourceMeta.count())
    assert(rows > 0)
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"blocks left after the scope: ${left.values.map(_.name)}")
  }
}
