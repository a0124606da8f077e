package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.assembly.{Belief, Distill, Pipeline, Preassembly, Refinement}
import graft.core.StatementModel
import graft.sources.Tables

/** Assembly-pipeline semantics: statement JSON parse -> canonical
  * matches-key -> golden hashes, distillation priority (the reference's
  * DistillationTestSet spirit), belief golden values
  * (tests/test_readonly_pipeline.py:34), refinement-aware belief
  * (FIXTURES.md §4 chain), and TSV.gz ingest with \N nulls.
  */
class AssemblySpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("assembly-test")

  test("statement JSON -> matches-key -> golden mk_hash") {
    import spark.implicits._
    val raws = Seq(
      ("""{"type":"Phosphorylation","enz":{"name":"MEK","db_refs":{"FPLX":"MEK"}},"sub":{"name":"ERK","db_refs":{"FPLX":"ERK"}}}""",
        "Phosphorylation(FPLX:MEK, FPLX:ERK, None, None)", -3784610915937386739L),
      ("""{"type":"Complex","members":[{"name":"B"},{"name":"A"}]}""",
        "Complex(A|B)", -4393732411530184406L),
      ("""{"type":"Activation","subj":{"name":"X","db_refs":{"HGNC":"1234","TEXT":"x"}},"obj":{"name":"ERK","db_refs":{}}}""",
        "Activation(HGNC:1234, ERK, None)", -253750291659972812L),
      // agent-state slots (INDRA Agent.matches_key content): a sub-side
      // ModCondition changes the key — the round-3 fidelity gap
      ("""{"type":"Phosphorylation","enz":{"name":"MEK","db_refs":{"FPLX":"MEK"}},"sub":{"name":"ERK","db_refs":{"FPLX":"ERK"},"mods":[{"mod_type":"phosphorylation","residue":"T","position":"185","is_modified":true}]}}""",
        "Phosphorylation(FPLX:MEK, FPLX:ERK{mods=[phosphorylation,T,185,true]}, None, None)",
        4389228799212550531L),
      // statement-level residue/position slots (Modification family)
      ("""{"type":"Phosphorylation","enz":{"name":"MEK","db_refs":{"FPLX":"MEK"}},"sub":{"name":"ERK","db_refs":{"FPLX":"ERK"}},"residue":"S","position":"222"}""",
        "Phosphorylation(FPLX:MEK, FPLX:ERK, S, 222)", -9030718966316113971L),
      // ActiveForm: agent mutation + statement (activity, is_active)
      ("""{"type":"ActiveForm","agent":{"name":"BRAF","db_refs":{"HGNC":"6840"},"mutations":[{"position":"600","residue_from":"V","residue_to":"E"}]},"activity":"kinase","is_active":true}""",
        "ActiveForm(HGNC:6840{muts=[600,V,E]}, kinase, true)",
        5363797019567464081L),
      // Translocation from/to slots
      ("""{"type":"Translocation","agent":{"name":"ERK","db_refs":{"FPLX":"ERK"}},"from_location":"cytoplasm","to_location":"nucleus"}""",
        "Translocation(FPLX:ERK, cytoplasm, nucleus)", 5281179068955987769L),
      // SelfModification (enz only) + agent activity/location state
      ("""{"type":"Autophosphorylation","enz":{"name":"MEK","db_refs":{"FPLX":"MEK"},"activity":{"activity_type":"kinase","is_active":true},"location":"nucleus"}}""",
        "Autophosphorylation(FPLX:MEK{act=kinase,true}{loc=nucleus}, None, None)",
        -6406735808976515262L),
      // bound condition on a complex member, sorted member keys
      ("""{"type":"Complex","members":[{"name":"X","db_refs":{"HGNC":"6840"}},{"name":"ERK","db_refs":{"FPLX":"ERK"},"bound_conditions":[{"agent":{"name":"MEK","db_refs":{"FPLX":"MEK"}},"is_bound":true}]}]}""",
        "Complex(FPLX:ERK{bc=[FPLX:MEK,true]}|HGNC:6840)",
        -5163836106752274781L),
      // Gef/Gap catalyst pairs and Conversion's ORDER-PRESERVED from/to
      // lists (the reference's agent-field enumeration carries these
      // slots, util/content_scripts.py:477)
      ("""{"type":"Gef","gef":{"name":"SOS1","db_refs":{"HGNC":"11187"}},"ras":{"name":"KRAS","db_refs":{"HGNC":"6407"}}}""",
        "Gef(HGNC:11187, HGNC:6407)", -3253147780506931265L),
      ("""{"type":"Gap","gap":{"name":"RASA1","db_refs":{"HGNC":"9871"}},"ras":{"name":"KRAS","db_refs":{"HGNC":"6407"}}}""",
        "Gap(HGNC:9871, HGNC:6407)", 705486445317419568L),
      ("""{"type":"Conversion","subj":{"name":"HK1","db_refs":{"HGNC":"4922"}},"obj_from":[{"name":"glucose","db_refs":{"CHEBI":"17234"}}],"obj_to":[{"name":"g6p","db_refs":{"CHEBI":"4170"}}]}""",
        "Conversion(HGNC:4922, [CHEBI:17234], [CHEBI:4170])",
        -4997962917935916235L),
    )
    val got = Preassembly.parse(
        raws.map(r => (1L, r._1)).toDF("raw_stmt_id", "raw_json"))
      .select("matches_key", "mk_hash").collect()
    got.zip(raws).foreach { case (row, (_, key, hash)) =>
      assert(row.getString(0) == key, s"expected $key")
      assert(row.getLong(1) == hash)
    }
    // statements differing ONLY in a mod must not share mk_hash
    assert(got(0).getLong(1) != got(3).getLong(1))
  }

  test("pa_mods / pa_muts / pa_activity attribute tables") {
    import spark.implicits._
    val raw = Seq(
      (1L, """{"type":"Phosphorylation","enz":{"name":"MEK","db_refs":{"FPLX":"MEK"}},"sub":{"name":"ERK","db_refs":{"FPLX":"ERK"},"mods":[{"mod_type":"phosphorylation","residue":"T","position":"185","is_modified":true},{"mod_type":"ubiquitination","is_modified":false}]}}"""),
      (2L, """{"type":"ActiveForm","agent":{"name":"BRAF","db_refs":{"HGNC":"6840"},"mutations":[{"position":"600","residue_from":"V","residue_to":"E"}]},"activity":"kinase","is_active":true}"""),
    ).toDF("raw_stmt_id", "raw_json")
    val parsed = Preassembly.parse(raw)
    val mods = Preassembly.modRows(parsed).collect()
      .map(r => (r.getInt(1), r.getString(2), r.getString(3), r.getString(4),
        r.getBoolean(5))).toSet
    assert(mods == Set(
      (1, "phosphorylation", "T", "185", true),
      (1, "ubiquitination", null, null, false)))
    val muts = Preassembly.mutRows(parsed).collect()
      .map(r => (r.getInt(1), r.getString(2), r.getString(3), r.getString(4)))
      .toSet
    assert(muts == Set((0, "600", "V", "E")))
    val act = Preassembly.activityRows(parsed).collect()
      .map(r => (r.getString(1), r.getBoolean(2))).toSet
    assert(act == Set(("kinase", true)))
  }

  test("conversion/gef/gap agents enumerate with INDRA's positions") {
    import spark.implicits._
    val raw = Seq(
      (1L, """{"type":"Conversion","subj":{"name":"HK1","db_refs":{"HGNC":"4922"}},"obj_from":[{"name":"glucose","db_refs":{"CHEBI":"17234"}}],"obj_to":[{"name":"g6p","db_refs":{"CHEBI":"4170"}}]}"""),
      (2L, """{"type":"Gef","gef":{"name":"SOS1","db_refs":{"HGNC":"11187"}},"ras":{"name":"KRAS","db_refs":{"HGNC":"6407"}}}"""),
    ).toDF("raw_stmt_id", "raw_json")
    val rows = Preassembly.agentRows(Preassembly.parse(raw))
      .collect().map(r => (r.getInt(1), r.getString(2), r.getString(3))).toSet
    // Conversion: [subj]=0 ++ obj_from=1 ++ obj_to=2; Gef: gef=0, ras=1
    assert(rows == Set(
      (0, "HGNC", "4922"), (1, "CHEBI", "17234"), (2, "CHEBI", "4170"),
      (0, "HGNC", "11187"), (1, "HGNC", "6407")))
  }

  test("dedup keeps lowest raw id; source counts aggregate") {
    import spark.implicits._
    val raw = Seq(
      (10L, "reach", """{"type":"Complex","members":[{"name":"A"},{"name":"B"}]}"""),
      (7L, "medscan", """{"type":"Complex","members":[{"name":"B"},{"name":"A"}]}"""),
      (5L, "reach", """{"type":"Activation","subj":{"name":"X","db_refs":{}},"obj":{"name":"Y","db_refs":{}}}"""),
    ).toDF("raw_stmt_id", "src", "raw_json")
    val parsed = Preassembly.parse(raw)
    val uniq = Preassembly.dedup(parsed)
    assert(uniq.count() == 2)
    val complexRow = uniq.filter(col("matches_key") === "Complex(A|B)").collect().head
    assert(complexRow.getAs[Long]("raw_stmt_id") == 7L) // lowest id wins
    val counts = Preassembly.sourceCounts(parsed)
      .filter(col("ev_count") === 2).collect()
    assert(counts.length == 1)
    assert(counts.head.getAs[Map[String, Long]]("src_json") ==
      Map("reach" -> 1L, "medscan" -> 1L))
  }

  test("validation rejects malformed JSON and agent-less statements") {
    import spark.implicits._
    val raw = Seq(
      (1L, """{"type":"Activation","subj":{"name":"A","db_refs":{}},"obj":{"name":"B","db_refs":{}}}"""),
      (2L, """not json at all"""),
      (3L, """{"type":"Activation"}"""), // no agents
      (4L, """{"subj":{"name":"A","db_refs":{}}}"""), // no type
    ).toDF("raw_stmt_id", "raw_json")
    val (valid, rejected) = Preassembly.partitionValid(Preassembly.parse(raw))
    assert(valid.select("raw_stmt_id").collect().map(_.getLong(0)).toSet == Set(1L))
    assert(rejected.select("raw_stmt_id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L, 4L))
  }

  test("distill: newest version per slot, then fulltext beats abstract") {
    import spark.implicits._
    val readings = Seq(
      (1L, 1L, "reach", 1.0, "pubmed", "abstract"),
      (2L, 1L, "reach", 2.0, "pubmed", "abstract"), // newer version of rid 1
      (3L, 1L, "reach", 1.0, "pmc_oa", "fulltext"), // fulltext wins the reader
      (4L, 2L, "sparser", 1.0, "pubmed", "abstract"),
    ).toDF("rid", "trid", "reader", "reader_version", "source", "text_type")
    val kept = Distill.distill(readings).select("rid")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L))
    val dropped = Distill.dropReadings(readings)
      .collect().map(_.getLong(0)).toSet
    assert(dropped == Set(1L, 2L))
  }

  test("belief golden: 3x reach = 0.923") {
    import spark.implicits._
    val df = Seq((1L, Map("reach" -> 3L))).toDF("mk_hash", "src_json")
    val b = Belief.score(df).select("belief").collect().head.getDouble(0)
    assert(math.abs(b - 0.923) < 1e-9)
  }

  test("refinement-aware belief increases toward the general statement") {
    import spark.implicits._
    // A3 refines A2 refines A1 (FIXTURES §4); each has 1 reach evidence
    val counts = Seq(
      (1L, Map("reach" -> 1L)), (2L, Map("reach" -> 1L)), (3L, Map("reach" -> 1L)),
    ).toDF("mk_hash", "src_json")
    val edges = Seq((3L, 2L), (2L, 1L)).toDF("desc", "anc")
    val closure = Refinement.transitiveClosure(edges)
    assert(closure.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((3L, 2L), (2L, 1L), (3L, 1L)))
    val scored = Belief.scoreWithRefinements(counts, closure)
      .select("mk_hash", "belief").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(scored(3L) - 0.65) < 1e-9)  // 1 - (0.05 + 0.3)
    assert(math.abs(scored(2L) - 0.86) < 1e-9)  // 1 - (0.05 + 0.09)
    assert(math.abs(scored(1L) - 0.923) < 1e-9) // 1 - (0.05 + 0.027)
    assert(scored(3L) < scored(2L) && scored(2L) < scored(1L))
  }

  test("refinement candidates: blocked self-join + agent-subset predicate") {
    import spark.implicits._
    // blocking on statement type confines the quadratic pair space
    // (export_assembly.py:90-106); the refinement predicate then marks
    // (a refines b) when b's agent set is contained in a's
    val stmts = Seq(
      (1L, "Activation", Seq("A", "B")),
      (2L, "Activation", Seq("A")),
      (3L, "Activation", Seq("C")),
      (4L, "Phosphorylation", Seq("A", "B")), // different block
    ).toDF("mk_hash", "stype", "agents")
    val pairs = Refinement.candidatePairs(stmts, Seq("stype"))
    // all same-type ordered pairs: 3*2 = 6 for Activation, 0 for Phos
    assert(pairs.count() == 6)
    val refines = pairs.filter(
      size(array_except(col("b_agents"), col("a_agents"))) === 0)
      .select("a_mk_hash", "b_mk_hash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refines == Set((1L, 2L))) // {A,B} refines {A}; C unrelated
  }

  test("clean_json_loads decision table: rescue, fallback, NUL scrub") {
    import spark.implicits._
    val rows = Seq(
      // case 1: clean row, both parses agree
      1L -> """{"type":"Activation","subj":{"name":"A"},"obj":{"name":"B"}}""",
      // case 3: raw contains \\\ (broken escape) -> raw parse fails,
      // backslash collapse rescues; name parses to C3\y
      2L -> """{"type":"Activation","subj":{"name":"C3\\\y"},"obj":{"name":"B"}}""",
      // case 4: raw \\ is a valid escape the cleanup would break ->
      // cleaned parse fails, raw fallback keeps the row; name C4\x
      3L -> """{"type":"Activation","subj":{"name":"C4\\x"},"obj":{"name":"B"}}""",
      // NUL byte inside the payload: stripped before parsing
      4L -> "{\"type\":\"Activation\",\"subj\":{\"name\":\"N\u0000UL\"},\"obj\":{\"name\":\"B\"}}",
      // both parses fail -> rejected
      5L -> """{"type":"Activation","subj":{"name":"D""",
    ).toDF("raw_stmt_id", "raw_json")
    val (valid, rejected) = Preassembly.partitionValid(Preassembly.parse(rows))
    val keys = valid.select("raw_stmt_id", "matches_key").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keys(1L) == "Activation(A, B, None)")
    assert(keys(2L) == """Activation(C3\y, B, None)""")
    assert(keys(3L) == """Activation(C4\x, B, None)""")
    assert(keys(4L) == "Activation(NUL, B, None)")
    assert(rejected.select("raw_stmt_id").collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("hot-key blocking: planted hub key, capped == uncapped edges") {
    import spark.implicits._
    // a promiscuous hub grounding H carried by every statement: the (stype,
    // H) block is quadratic on its own. With the threshold forcing H hot,
    // the secondary pair-blocks + hot-singleton join must recover EXACTLY
    // the naive result — the threshold picks a join strategy, never drops.
    val uniq = ((1 to 40).map(i => (i.toLong, "Activation")) :+
      (100L, "Activation")).toDF("mk_hash", "stype")
    val agents =
      // 100 is the hub-only anc; odd ids carry {H, Ki}; even ids {H, Ki, J}
      ((1 to 40).flatMap { i =>
        val base = Seq((i.toLong, "NAME", "H"), (i.toLong, "NAME", s"K${i % 5}"))
        if (i % 2 == 0) base :+ ((i.toLong, "NAME", "J")) else base
      } :+ ((100L, "NAME", "H")))
        .toDF("mk_hash", "db_name", "db_id")
        .withColumn("ag_num", lit(0)).withColumn("role_num", lit(0))
    def edgeSet(threshold: Int) =
      graft.assembly.Pipeline.refinementEdges(uniq, agents, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = edgeSet(Int.MaxValue)
    // H df=41, J df=20, K* df≤9: threshold 10 makes H and J hot
    assert(edgeSet(10) == naive)
    assert(naive.contains((1L, 100L))) // hot-singleton path
    assert(naive.contains((2L, 100L)))
    assert(naive.exists { case (d, _) => d % 2 == 0 }) // pair-block path
  }

  test("key-subset edges are exactly the strict-subset relation, and closed") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // skewed alphabet: A and B sit in most statements (hot blocks at a low
    // threshold), C-F in few (cold blocks)
    val key = Gen.frequency(6 -> "A", 4 -> "B", 1 -> "C", 1 -> "D", 1 -> "E", 1 -> "F")
    val stmt = for {
      stype <- Gen.oneOf("t1", "t2")
      n <- Gen.choose(1, 4)
      keys <- Gen.containerOfN[Set, String](n, key)
    } yield (stype, keys)
    val threshold = 3
    val paths = Seq(1L, 2L, 3L).map { seed =>
      val world = Gen.listOfN(40, stmt).pureApply(Gen.Parameters.default, Seed(seed))
        .zipWithIndex.map { case ((t, ks), i) => (i.toLong + 1, t, ks) }
      val uniq = world.map { case (h, t, _) => (h, t) }.toDF("mk_hash", "stype")
      val agents = world.flatMap { case (h, _, ks) => ks.map(k => (h, "NAME", k)) }
        .toDF("mk_hash", "db_name", "db_id")
      val brute = (for {
        (d, td, kd) <- world; (a, ta, ka) <- world
        if td == ta && ka.size < kd.size && ka.subsetOf(kd)
      } yield (d, a)).toSet
      def edgeSet(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Seq(Int.MaxValue, threshold, 1).foreach { t =>
        assert(edgeSet(Pipeline.refinementEdges(uniq, agents, t)) == brute,
          s"seed $seed threshold $t")
      }
      assert(edgeSet(Refinement.transitiveClosure(
        Pipeline.refinementEdges(uniq, agents))) == brute, s"seed $seed closure")
      // which blocking path can find each edge at `threshold`: an anc with
      // a cold key (cold blocks), with >= 2 keys all hot (hot-pair blocks),
      // with its only key hot (hot-singleton join)
      val df = world.flatMap { case (_, t, ks) => ks.map(t -> _) }
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val byHash = world.map { case (h, t, ks) => h -> (t, ks) }.toMap
      brute.map { case (_, a) =>
        val (t, ks) = byHash(a)
        val hot = ks.filter(k => df(t -> k) > threshold)
        if (hot.size < ks.size) "cold" else if (ks.size == 1) "hot-singleton" else "hot-pair"
      }
    }.reduce(_ ++ _)
    assert(paths == Set("cold", "hot-pair", "hot-singleton"), s"paths fired: $paths")
  }

  test("ontology refinement: isa edge yields pair key-subset cannot see") {
    import spark.implicits._
    // MEK1 isa MEK (FPLX-style): Phos(MEK1, ERK) refines Phos(MEK, ERK)
    // though the two share NO agent key; identical-agent pairs are NOT
    // edges (no strictly generalized position).
    val uniq = Seq((1L, "Phosphorylation"), (2L, "Phosphorylation"),
      (3L, "Phosphorylation"), (4L, "Activation"))
      .toDF("mk_hash", "stype")
    val agents = Seq(
      (1L, 0, "HGNC", "MEK1"), (1L, 1, "FPLX", "ERK"),
      (2L, 0, "FPLX", "MEK"), (2L, 1, "FPLX", "ERK"),
      (3L, 0, "HGNC", "MEK1"), (3L, 1, "FPLX", "ERK"), // same agents as 1
      (4L, 0, "HGNC", "MEK1"), (4L, 1, "FPLX", "ERK"), // wrong type
    ).toDF("mk_hash", "ag_num", "db_name", "db_id")
    val ontology = Seq(("HGNC:MEK1", "FPLX:MEK")).toDF("desc", "anc")
    val edges = Refinement.ontologyRefinementEdges(uniq, agents, ontology)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((1L, 2L), (3L, 2L)))
  }

  test("cycle detection fails the closure") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("desc", "anc")
    val e = intercept[RuntimeException](Refinement.transitiveClosure(edges))
    assert(e.getMessage.contains("cycle"))
  }

  test("PubMed XML mesh extraction") {
    import spark.implicits._
    val xml = """<PubmedArticle><PMID Version="1">123456</PMID>
      <MeshHeadingList>
        <MeshHeading><DescriptorName UI="D000818" MajorTopicYN="N">Animals</DescriptorName></MeshHeading>
        <MeshHeading><DescriptorName UI="D002352" MajorTopicYN="Y">Carrier Proteins</DescriptorName></MeshHeading>
        <MeshHeading><DescriptorName UI="C0001243" MajorTopicYN="N">Some Concept</DescriptorName></MeshHeading>
      </MeshHeadingList></PubmedArticle>"""
    val rows = graft.sources.PubmedXml.meshAnnotations(Seq(xml).toDF("xml"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
      .toSet
    assert(rows == Set(
      (123456L, 818L, 0, false),
      (123456L, 2352L, 0, true),
      (123456L, 1243L, 1, false)))
  }

  test("TSV.gz ingest with \\N nulls (principal dump format)") {
    import spark.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-tsv").toFile
    val f = new java.io.File(dir, "raw.tsv.gz")
    val out = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(f)))
    out.println("1\t\\N\t42\tsome json")
    out.println("2\t7\t\\N\tother json")
    out.close()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("raw_stmt_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("db_info_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("reading_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("raw_json", org.apache.spark.sql.types.StringType)))
    val df = Tables.tsv(spark, f.getAbsolutePath, schema)
    val rows = df.orderBy("raw_stmt_id").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(1) && rows(0).getLong(2) == 42L)
    assert(rows(1).getLong(1) == 7L && rows(1).isNullAt(2))
  }
}
