package graft.assembly

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.TypeRegistry
import graft.core.BlockScope.Boundary
import graft.querydsl.ReadonlyTables

/** Normalized inputs to the readonly build — the Spark analog of the
  * reference's principal-schema exports (FIXTURES.md §3):
  *
  *   - statements: mk_hash L, stype S, belief D        (pa_statements)
  *   - evidence:   sid L, mk_hash L, src S, rid L, pmid L
  *     (raw_statements ⨝ raw_unique_links ⨝ raw_stmt_src)
  *   - agents:     mk_hash L, ag_num I, db_name S, db_id S, role_num I
  *     (pa_agents, principal_schema.py:897-912)
  *   - mesh:       sid L, mesh_num L, is_concept I     (raw_stmt_mesh_*)
  *   - refs:       rid L, pmid L [, trid, tcid]        (reading_ref_link)
  */
final case class StatementWorld(
    statements: DataFrame,
    evidence: DataFrame,
    agents: DataFrame,
    mesh: DataFrame,
    refs: DataFrame,
)

/** Builds the denormalized readonly layer from a [[StatementWorld]] — the
  * Spark-first re-expression of the reference's readonly build DAG
  * (readonly_dumping.py RUN_ORDER :64-82 / readonly_schema.py meta tables).
  *
  * Scale design:
  *   - one shuffle per aggregation key (mk_hash); the per-(hash,src) counts
  *     and the per-hash map roll up in a single chain with map-side partial
  *     aggregation;
  *   - src_json is a MapType column, not the reference's dynamic pivot —
  *     stable schema, no second pass to discover source columns
  *     (SURVEY.md §1.4);
  *   - the type dictionary joins as a broadcast dimension (the reference
  *     inlines it as a VALUES clause, readonly_schema.py:61-66);
  *   - like the reference's CREATE_ORDER, which builds every meta table
  *     from per-statement columns computed once, each shared frame sits
  *     behind one lazy `boundary()` at its fan-out point, so no consumer
  *     re-runs its subtree:
  *       - `stmtMeta` (type, belief, evidence count and source map, agent
  *         count per hash) feeds source_meta, the name/text/other meta
  *         split and both mesh meta tables, and agent_interactions through
  *         source_meta;
  *       - `meshCounts` (distinct PMIDs per hash, mesh id and concept
  *         flag) feeds mesh_term_meta and mesh_concept_meta, which filter
  *         it on the flag;
  *       - [[Pipeline.run]] hands in its evidence and mesh rows behind
  *         boundaries of its own: evidence feeds the evidence aggregation,
  *         the mesh counts, fast_raw_pa_link, reading_ref_link and the mesh
  *         rows; the mesh rows feed the mesh counts and raw_stmt_mesh;
  *   - at deployment the outputs are written bucketed by mk_hash so the DSL
  *     compiler's semi/anti joins co-locate.
  */
object ReadonlyBuilder {

  /** Complex pair expansion (readonly_schema.py:1344-1377): for each
    * statement with >= 2 agent rows, emit one row per ORDERED agent pair,
    * flagged `is_complex_dup` — the flatMap/UDTF shape as a double explode
    * over the per-statement agent array (no self-join shuffle: the
    * quadratic expansion happens inside each already-grouped row). */
  def complexPairs(agents: DataFrame): DataFrame = {
    val arr = agents.groupBy("mk_hash")
      .agg(collect_list(struct(col("ag_num"), col("db_id"))).as("ags"))
    arr.filter(size(col("ags")) >= 2)
      .withColumn("a", explode(col("ags")))
      .withColumn("b", explode(col("ags")))
      .filter(col("a.ag_num") =!= col("b.ag_num"))
      .select(col("mk_hash"),
        col("a.ag_num").cast("long").as("subj_num"),
        col("a.db_id").as("subj_id"),
        col("b.ag_num").cast("long").as("obj_num"),
        col("b.db_id").as("obj_id"),
        lit(true).as("is_complex_dup"))
  }

  /** Source-name classification (reference discovers these from db_info /
    * reader registries; raw_stmt_src UNION, readonly_schema.py:400-408).
    *
    * `complexTypeNum` names the statement type whose agent sets expand into
    * materialized pair rows inside agent_interactions (the reference expands
    * Complex statements in AgentInteractions.create,
    * readonly_schema.py:1344-1377); None skips the expansion.
    */
  def build(
      spark: SparkSession,
      world: StatementWorld,
      types: TypeRegistry,
      readerSources: Seq[String],
      dbSources: Seq[String],
      complexTypeNum: Option[Int] = None): ReadonlyTables = {

    // --- per-statement evidence aggregation -------------------------------
    // groupBy (mk_hash, src) then (mk_hash): two stages, same key prefix, so
    // the second agg reuses the first shuffle's partitioning.
    val srcCounts = world.evidence
      .groupBy("mk_hash", "src")
      .agg(count(lit(1)).as("cnt"))
    val evAgg = srcCounts
      .groupBy("mk_hash")
      .agg(
        map_from_entries(collect_list(struct(col("src"), col("cnt"))))
          .as("src_json"),
        sum("cnt").as("ev_count"))

    val agentAgg = world.agents
      .groupBy("mk_hash")
      .agg(countDistinct("ag_num").as("agent_count"))

    val typeDim = types.toDF(spark)

    // ActiveForm attribute columns ride on every meta row in the reference
    // (readonly_schema.py:139-157); pass them through when the statement
    // world supplies them, else null
    val stmts =
      if (world.statements.columns.contains("activity")) world.statements
      else world.statements
        .withColumn("activity", lit(null).cast("string"))
        .withColumn("is_active", lit(null).cast("boolean"))

    // one row per hash with every sorting/grouping column the meta tables
    // denormalize onto their rows (readonly_schema.py:139-157); six tables
    // read it, so it is computed once
    val stmtMeta = stmts
      .join(broadcast(typeDim), "stype")
      .join(evAgg, "mk_hash")
      .join(agentAgg, "mk_hash")
      .select(
        col("mk_hash"), col("type_num"), col("belief"), col("ev_count"),
        col("agent_count"), col("src_json"), col("activity"), col("is_active"))
      .boundary()

    // --- source_meta ------------------------------------------------------
    // flags derived from the source map (readonly_schema.py:902-954):
    // num_srcs, only_src, has_rd/has_db via key-overlap with the
    // reader/db source lists.
    val sourceMeta = stmtMeta
      .withColumn("num_srcs", size(map_keys(col("src_json"))))
      .withColumn("only_src",
        when(col("num_srcs") === 1, element_at(map_keys(col("src_json")), 1)))
      .withColumn("has_rd",
        arrays_overlap(map_keys(col("src_json")),
          lit(readerSources.toArray)))
      .withColumn("has_db",
        arrays_overlap(map_keys(col("src_json")),
          lit(dbSources.toArray)))

    // --- agent meta tables (name/text/other split) ------------------------
    val stmtCols = stmtMeta.select("mk_hash", "type_num", "belief", "ev_count",
      "agent_count", "activity", "is_active")
    val agentMeta = world.agents.join(stmtCols, "mk_hash")
    def split(pred: org.apache.spark.sql.Column, keepDbName: Boolean) = {
      val f = agentMeta.filter(pred)
      val cols = Seq("mk_hash", "ag_num", "db_id", "role_num", "type_num",
        "ev_count", "belief", "agent_count", "activity", "is_active")
      if (keepDbName) f.select(("db_name" +: cols).map(col): _*)
      else f.select(cols.map(col): _*)
    }
    val nameMeta = split(col("db_name") === "NAME", keepDbName = false)
    val textMeta = split(col("db_name") === "TEXT", keepDbName = false)
    val otherMeta = split(col("db_name") =!= "NAME" && col("db_name") =!= "TEXT",
      keepDbName = true)

    // --- mesh meta --------------------------------------------------------
    // raw (sid, mesh) ⨝ evidence -> per (hash, mesh) distinct-PMID counts
    // (mesh_*_ref_counts, readonly_schema.py:615-679) with the statement
    // sorting columns attached (mesh_*_meta :1158-1255). One aggregation
    // keyed by the concept flag too serves both tables.
    val meshCounts = world.mesh
      .join(world.evidence.select("sid", "mk_hash", "pmid"), "sid")
      .groupBy("mk_hash", "mesh_num", "is_concept")
      .agg(countDistinct("pmid").as("ref_count"))
      .boundary()
    def meshMeta(concept: Int) =
      meshCounts.filter(col("is_concept") === concept).drop("is_concept")
        .join(stmtCols, "mk_hash")

    // --- fast_raw_pa_link / reading_ref_link ------------------------------
    // When the statement payload is available, denormalize it onto every
    // evidence row — the reference's byte-blob carriage (pa_json BYTEA on
    // fast_raw_pa_link, readonly_schema.py:349-353): the JSON rides through
    // joins untouched and parses only at egress.
    val frpl0 = world.evidence.select("sid", "mk_hash", "src", "rid")
    val frpl =
      if (world.statements.columns.contains("pa_json"))
        frpl0.join(world.statements.select("mk_hash", "pa_json"),
          Seq("mk_hash"), "left")
      else frpl0

    // --- agent_interactions ----------------------------------------------
    // canonical sorted agent list per hash from NAME-namespace rows
    // (reference builds agent_json from name_meta,
    // readonly_schema.py:1286-1336)
    val baseInteractions = world.agents
      .filter(col("db_name") === "NAME")
      .groupBy("mk_hash")
      .agg(
        array_join(
          sort_array(collect_list(
            concat(col("ag_num").cast("string"), lit(":"), col("db_id")))),
          ";").as("agent_str"))
      .join(sourceMeta.select("mk_hash", "type_num", "ev_count", "belief",
        "agent_count", "src_json"), "mk_hash")
      .withColumn("is_complex_dup", lit(false))

    // Complex statements additionally materialize one row per ORDERED agent
    // pair, renumbered to positions (0, 1) and flagged is_complex_dup — the
    // reference's AgentInteractions.create second pass
    // (readonly_schema.py:1344-1377). The identity pair of a two-agent
    // complex is skipped (it restates the base row, the reference's
    // `pair == ('0','1')` guard). Renumbered pairs that collide (repeated
    // groundings inside one complex) dedup to one row per (hash, agent_str)
    // — an INTENTIONAL deviation from the reference, which inserts every
    // permutation row including duplicates (readonly_schema.py:1360-1377):
    // duplicate rows would double-count ev_count in dup-including sums, and
    // the reference's own run()-time `ev totals add up` asserts
    // (query.py:335-343) fail on such data, so the deduped form is the one
    // that satisfies the reference's own invariants. These rows let
    // pair-shaped FromAgentJson drill-downs reach complexes; the plain
    // interaction/relation/agent views filter them out.
    val agentInteractions = complexTypeNum match {
      case None => baseInteractions
      case Some(ct) =>
        val payload = sourceMeta
          .filter(col("type_num") === ct)
          .select("mk_hash", "type_num", "ev_count", "belief", "agent_count",
            "src_json")
        val dupRows = complexPairs(world.agents.filter(col("db_name") === "NAME"))
          .join(payload, "mk_hash")
          .filter(!(col("agent_count") === 2 && col("subj_num") < col("obj_num")))
          .select(col("mk_hash"),
            concat(lit("0:"), col("subj_id"), lit(";1:"), col("obj_id"))
              .as("agent_str"),
            col("type_num"), col("ev_count"), col("belief"),
            lit(2L).as("agent_count"), col("src_json"),
            lit(true).as("is_complex_dup"))
          .dropDuplicates("mk_hash", "agent_str")
        baseInteractions.unionByName(dupRows)
    }

    ReadonlyTables(
      nameMeta = nameMeta,
      textMeta = textMeta,
      otherMeta = otherMeta,
      sourceMeta = sourceMeta,
      meshTermMeta = meshMeta(concept = 0),
      meshConceptMeta = meshMeta(concept = 1),
      fastRawPaLink = frpl,
      rawStmtMesh = world.mesh,
      readingRefLink = world.refs,
      agentInteractions = agentInteractions,
      paAgents = world.agents,
    )
  }
}
