package graft.querydsl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.TypeRegistry
import graft.core.BlockScope.Boundary

/** Result envelopes over a compiled hash query — the Spark analog of the
  * reference's StatementQueryResult / QueryResult family
  * (query.py:421-628, :630-711) and the interactions/relations/agents
  * two-phase plans (`_run_meta_sql`, query.py:845-856).
  */
object Results {

  /** Sorted/paged hash list (`_apply_limits`, query.py:858-868). ORDER BY +
    * LIMIT compiles to TakeOrderedAndProject — a distributed top-k, never a
    * global sort materialization. */
  def hashes(
      q: StmtQuery,
      ro: ReadonlyTables,
      types: TypeRegistry,
      sortBy: String = "ev_count",
      limit: Int = 0,
      offset: Int = 0): DataFrame = {
    val sel = QueryCompiler.compile(q, ro, types)
      .orderBy(col(sortBy).desc, col("mk_hash").asc)
    val off = if (offset > 0) sel.offset(offset) else sel
    if (limit > 0) off.limit(limit) else off
  }

  /** Evidence rows for the selected statements, capped at `evLimit` per
    * statement. The reference uses a LATERAL join (query.py:486-495); the
    * canonical Spark rewrite is a row_number window partitioned by the hash.
    * Text-ref metadata attaches via an outer join on the reading id
    * (content join, query.py:492-517).
    */
  def statements(
      q: StmtQuery,
      ro: ReadonlyTables,
      types: TypeRegistry,
      evLimit: Int = 10,
      evFilter: Option[EvFilter] = None,
      withRefs: Boolean = false): DataFrame =
    statementsFromSel(QueryCompiler.compile(q, ro, types).select("mk_hash"),
      ro, evLimit, evFilter, withRefs)

  /** [[statements]] over an already-compiled hash selection — the shared
    * leg for callers that reuse `sel` across several subplans (the result
    * envelope pre-filters its payload and agent legs with the same
    * selection, guide §3.2: reduce the big side before it aggregates). */
  private def statementsFromSel(
      sel: DataFrame,
      ro: ReadonlyTables,
      evLimit: Int,
      evFilter: Option[EvFilter],
      withRefs: Boolean): DataFrame = {
    val w = Window.partitionBy("mk_hash").orderBy(col("sid").asc)
    val evRows = ro.fastRawPaLink.join(sel, Seq("mk_hash"), "left_semi")
    // evidence filters run BEFORE the ev_limit window (query.py:476-490)
    val joined = evFilter.map(f => EvFilter(evRows, ro, f)).getOrElse(evRows)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= evLimit)
      .join(ro.readingRefLink, Seq("rid"), "left")
    val base = Seq(col("mk_hash"), col("sid"), col("src"), col("pmid"),
      col("rn").cast("long").as("rn"))
    if (!withRefs) joined.select(base: _*)
    else {
      // every text-ref id type the link table carries (the ref_link_keys
      // splice, query.py:571-620); absent columns surface as typed nulls
      def opt(c: String, t: String) =
        if (joined.columns.contains(c)) col(c) else lit(null).cast(t).as(c)
      joined.select(base ++ Seq(
        opt("trid", "long"), opt("tcid", "long"), opt("pmcid_num", "long"),
        opt("doi_ns", "long"), opt("doi_id", "string")): _*)
    }
  }

  /** Per-hash agent display-name and raw-text arrays in ag_num order, from
    * the normalized agent rows — feeds the `english` rendering and the
    * reference's annotations.agents.raw_text splice (`_get_raw_texts`,
    * query.py:3106-3118: one entry per agent position, TEXT ref or null).
    */
  private def agentArrays(ro: ReadonlyTables, sel: DataFrame): DataFrame =
    ro.paAgents
      .join(sel, Seq("mk_hash"), "left_semi")
      .groupBy("mk_hash", "ag_num")
      .agg(min(col("db_id")).as("name"),
        min(when(col("db_name") === "TEXT", col("db_id"))).as("raw_text"))
      .groupBy("mk_hash")
      .agg(array_sort(collect_list(
        struct(col("ag_num"), col("name"), col("raw_text")))).as("ags"))
      .select(col("mk_hash"),
        transform(col("ags"), a => a.getField("name")).as("agent_names"),
        transform(col("ags"), a => a.getField("raw_text")).as("raw_texts"))

  /** Statement type name from type_num (the registry inverted as a
    * when-chain — a handful of types, codegen'd). */
  private def typeName(types: TypeRegistry): org.apache.spark.sql.Column =
    types.fromNum.foldLeft(lit(null).cast("string")) {
      case (acc, (n, name)) => when(col("type_num") === n, name).otherwise(acc)
    }

  /** Full statement result envelope — the StatementQueryResult analog
    * (query.py:551-628): per selected statement one JSON document with the
    * statement payload (pa_json carried through the joins, parsed only
    * here at egress), the spliced evidence rows (ev_limit applied), total
    * evidence count, belief, and source counts. All splicing is columnar —
    * no driver-side row loops.
    */
  def statementJsonResult(
      q: StmtQuery,
      ro: ReadonlyTables,
      types: TypeRegistry,
      evLimit: Int = 10,
      evFilter: Option[EvFilter] = None): DataFrame =
    statementStructResult(q, ro, types, evLimit, evFilter)
      .select(col("mk_hash"), col("n_returned"),
        to_json(struct(
          col("mk_hash").as("matches_hash"),
          col("belief"),
          col("ev_count").as("ev_total"),
          col("src_json").as("source_counts"),
          col("pa_json").as("statement"),
          col("english"),
          col("evidence"),
        )).as("result_json"))

  /** The same envelope with the columns still structured — the shared
    * substrate for the JSON egress above and the HTML rendering
    * ([[graft.service.HtmlAssembly]]), which needs the fields
    * individually rather than one serialized document. */
  def statementStructResult(
      q: StmtQuery,
      ro: ReadonlyTables,
      types: TypeRegistry,
      evLimit: Int = 10,
      evFilter: Option[EvFilter] = None): DataFrame = {
    // compile the hash selection ONCE and materialize it (it is the
    // query's small result set): it feeds the evidence semi-join AND
    // pre-filters the payload dedup and the agent-array aggregation,
    // which otherwise dedup/aggregate the ENTIRE link and agent tables
    // before meeting a handful of selected hashes (guide §3.2 — drop
    // non-matching big-side rows before the exchange).
    val sel = QueryCompiler.compile(q, ro, types).select("mk_hash").boundary()
    val ev = statementsFromSel(sel, ro, evLimit, evFilter, withRefs = true)
    val collected = ev.groupBy("mk_hash").agg(
      array_sort(collect_list(struct(
        col("rn"), col("sid"), col("src"), col("pmid"), col("trid"),
        col("tcid"), col("pmcid_num"), col("doi_ns"), col("doi_id"))))
        .as("evs"),
      count(lit(1)).as("n_returned"))
    val payload =
      if (ro.fastRawPaLink.columns.contains("pa_json"))
        ro.fastRawPaLink.join(sel, Seq("mk_hash"), "left_semi")
          .select("mk_hash", "pa_json").dropDuplicates("mk_hash")
      else ro.fastRawPaLink.join(sel, Seq("mk_hash"), "left_semi")
        .select(col("mk_hash"),
          lit(null).cast("string").as("pa_json")).dropDuplicates("mk_hash")
    // per-evidence splice (query.py:594-625): text_refs under UPPER keys
    // (DOI reassembled from its stored decomposition, functions/Ids), the
    // raw-text agent annotations, the prior raw-statement id, and the
    // source tag (the reader/db src here — the content-manager source
    // column has no analog in this world)
    def evidenceJson(e: org.apache.spark.sql.Column) = struct(
      e.getField("sid").as("sid"), e.getField("src").as("source_api"),
      e.getField("pmid").as("pmid"),
      struct(
        e.getField("pmid").as("PMID"), e.getField("trid").as("TRID"),
        e.getField("tcid").as("TCID"), e.getField("pmcid_num").as("PMCID"),
        when(e.getField("doi_ns").isNotNull,
          concat(lit("10."), e.getField("doi_ns").cast("string"), lit("/"),
            e.getField("doi_id"))).as("DOI")).as("text_refs"),
      struct(
        struct(col("raw_texts").as("raw_text")).as("agents"),
        array(e.getField("sid")).as("prior_uuids"),
        e.getField("src").as("content_source")).as("annotations"))
    collected
      .join(ro.sourceMeta.select(
        "mk_hash", "ev_count", "belief", "src_json", "type_num"), "mk_hash")
      .join(payload, Seq("mk_hash"), "left")
      .join(agentArrays(ro, sel), Seq("mk_hash"), "left")
      .select(col("mk_hash"), col("n_returned"),
        col("belief"), col("ev_count"), col("src_json"), col("pa_json"),
        typeName(types).as("stype"),
        col("agent_names"),
        graft.functions.English
          .statementEnglish(typeName(types), col("agent_names"))
          .as("english"),
        transform(col("evs"), evidenceJson _).as("evidence"))
  }

  /** Per-hash mesh annotation summary — the mesh_ref_counts service shape
    * (client/readonly/mesh_ref_counts.py:38-59): for each selected hash,
    * the matched mesh ids with their distinct-paper counts; `requireAll`
    * keeps only hashes annotated with EVERY requested id. */
  def meshRefCounts(
      q: StmtQuery,
      ro: ReadonlyTables,
      types: TypeRegistry,
      meshNums: Seq[Long],
      concept: Boolean = false,
      requireAll: Boolean = false): DataFrame = {
    val sel = QueryCompiler.compile(q, ro, types).select("mk_hash")
    val tbl = if (concept) ro.meshConceptMeta else ro.meshTermMeta
    val matched = tbl
      .filter(col("mesh_num").isin(meshNums: _*))
      .join(sel, Seq("mk_hash"), "left_semi")
      .groupBy("mk_hash")
      .agg(
        array_join(array_sort(collect_list(
          concat(col("mesh_num").cast("string"), lit(":"),
            col("ref_count").cast("string")))), ";").as("mesh_counts"),
        countDistinct("mesh_num").as("n_mesh"))
    if (requireAll) matched.filter(col("n_mesh") === meshNums.distinct.size)
    else matched
  }

  /** Per-hash interaction rows (InteractionSQL, query.py:92-127).
    * `withComplexDups` keeps the materialized complex pair rows
    * (with_complex_dups=True, query.py:70-90); the default excludes them, as
    * every reference view except the expander does. */
  def interactions(
      q: StmtQuery,
      ro: ReadonlyTables,
      types: TypeRegistry,
      withComplexDups: Boolean = false): DataFrame = {
    val sel = QueryCompiler.compile(q, ro, types).select("mk_hash")
    val rows =
      if (withComplexDups) ro.agentInteractions
      else ro.agentInteractions.filter(!col("is_complex_dup"))
    rows.join(sel, Seq("mk_hash"), "left_semi")
  }

  /** Grouped by (agent set, type): summed evidence, max belief, hash
    * count, and the pointwise-merged per-source count map (RelationSQL
    * agg + the Python src-dict merge, query.py:130-203 — here a single
    * MapSum aggregation, with a canonical sorted string rendering for
    * engine-portable comparison). */
  def relations(
      q: StmtQuery,
      ro: ReadonlyTables,
      types: TypeRegistry,
      withComplexDups: Boolean = false): DataFrame =
    relationsAgg(interactions(q, ro, types, withComplexDups))

  /** Agent display names out of the canonical "ag_num:db_id;..." string. */
  private def agentStrNames(c: org.apache.spark.sql.Column) =
    transform(split(c, ";"), s => substring_index(s, ":", -1))

  /** The RelationSQL aggregation over already-selected interaction rows.
    * `english` is the reference's meta-row sentence (call_handlers.py:268:
    * typeless rows go through `_make_english_from_meta`). */
  private def relationsAgg(rows: DataFrame): DataFrame =
    rows
      .groupBy("agent_str", "type_num")
      .agg(
        sum("ev_count").as("total_ev"),
        max("belief").as("max_belief"),
        count(lit(1)).as("n_hashes"),
        graft.functions.MapSum.map_sum(col("src_json")).as("src_merged"))
      .withColumn("src_str",
        array_join(
          transform(array_sort(map_entries(col("src_merged"))),
            e => concat(e.getField("key"), lit(":"),
              e.getField("value").cast("string"))),
          ";"))
      .withColumn("english",
        graft.functions.English.metaEnglish(agentStrNames(col("agent_str"))))
      .drop("src_merged")

  /** AgentJsonExpander.expand (query.py:1123-1137): drill down on one exact
    * agent set. The constraints apply as ROW filters on agent_interactions
    * (`_apply_constraints`, query.py:1106-1120) — agent_json equality plus
    * the optional type_num / hash-list — over the with_complex_dups=True
    * scan, so a pair-shaped agent set ("0:A;1:B") reaches the complexes
    * containing the pair through the materialized dup rows. There is NO
    * hash-level join back to other agent sets: only the requested set's own
    * rows aggregate — one relations group per statement type without a type
    * constraint, the per-hash interaction rows with one — the two shapes
    * the reference's /expand endpoint serves (api.py:421-513). */
  def expand(
      agentJson: Map[Int, String],
      stmtType: Option[String],
      ro: ReadonlyTables,
      types: TypeRegistry,
      hashes: Option[Set[Long]] = None): DataFrame = {
    val fa = FromAgentJson(agentJson, stmtType, hashes)
    val preds = Seq(col("agent_str") === fa.agentStr) ++
      stmtType.map(t => col("type_num") === types.num(t)) ++
      hashes.map(hs => col("mk_hash").isin(hs.toSeq: _*))
    // base + dup rows of one hash with the same agent_str collapse, like the
    // reference's row-tuple DISTINCT (is_complex_dup isn't in its select
    // list, query.py:46-58)
    val rows = preds.foldLeft(ro.agentInteractions)(_ filter _)
      .dropDuplicates("mk_hash", "agent_str")
    stmtType match {
      case None => relationsAgg(rows)
      case Some(_) => rows
    }
  }

  /** Grouped by agent set only (AgentSQL agg, query.py:224-344), complex
    * duplicates excluded. */
  def agents(q: StmtQuery, ro: ReadonlyTables, types: TypeRegistry): DataFrame =
    interactions(q, ro, types)
      .groupBy("agent_str")
      .agg(
        countDistinct("type_num").as("n_types"),
        sum("ev_count").as("total_ev"),
        max("belief").as("max_belief"),
        count(lit(1)).as("n_hashes"))
      .withColumn("english",
        graft.functions.English.metaEnglish(agentStrNames(col("agent_str"))))

  /** Agents view INCLUDING complex pair rows, with the reference's
    * complexes-covered dedup (AgentSQL.run, query.py:282-344):
    *
    *   - the scan takes ALL rows — base rows of every type, complexes
    *     included, plus the materialized pair dups (with_complex_dups=True,
    *     query.py:46-58);
    *   - groups are (agent_json, agent_count) (AgentSQL.agg :244-259);
    *   - walking groups by (ev_count desc, agent_json), a group is SKIPPED
    *     only when every one of its hashes is a Complex already covered by
    *     an earlier group; a kept group keeps its FULL evidence totals
    *     (:299-303 — the skip is group-granular; rows of already-covered
    *     complexes still count inside kept groups).
    *
    * Set-wise re-expression of that sequential walk: a complex hash's
    * covering group is its best-ranked containing group under the same
    * total order — which is always kept (its first-containing group finds
    * the hash uncovered, by induction down the rank order) — so an
    * all-complex group survives iff it is the covering group of at least
    * one of its hashes. min_by over the sortable struct picks covering
    * groups with an ordinary aggregation; no global rank window at any
    * scale (the round-2 lesson, guarded by PlanSpec).
    *
    * `complexTypeNum` selects which statement type expands into pairs (the
    * reference expands Complex statements).
    */
  def agentsWithComplexes(
      q: StmtQuery,
      ro: ReadonlyTables,
      types: TypeRegistry,
      complexTypeNum: Int): DataFrame = {
    val sel = QueryCompiler.compile(q, ro, types).select("mk_hash")
    // base + dup rows of one hash with the same (agent_str, agent_count)
    // collapse, like the reference's row-tuple DISTINCT (query.py:46-58)
    // rows feeds the group agg AND the complex-coverage join, and groups
    // feeds three consumers — materialize each once (lazily) instead of
    // re-running the compile + semi-join + dedup shuffles per consumer.
    val rows = ro.agentInteractions
      .join(sel, Seq("mk_hash"), "left_semi")
      .select("mk_hash", "agent_str", "agent_count", "type_num", "ev_count",
        "belief")
      .dropDuplicates("mk_hash", "agent_str", "agent_count")
      .boundary()
    val groups = rows.groupBy("agent_str", "agent_count")
      .agg(sum("ev_count").as("total_ev"), max("belief").as("max_belief"),
        count(lit(1)).as("n_hashes"),
        max(when(col("type_num") =!= complexTypeNum, 1).otherwise(0))
          .as("has_other"))
      .boundary()
    val cjoin = rows.filter(col("type_num") === complexTypeNum)
      .join(groups.select("agent_str", "agent_count", "total_ev"),
        Seq("agent_str", "agent_count"))
    val covering = cjoin.groupBy("mk_hash")
      .agg(min_by(struct(col("agent_str"), col("agent_count")),
        struct(negate(col("total_ev")).as("neg_ev"), col("agent_str"),
          col("agent_count"))).as("g"))
      .select(col("g.agent_str").as("agent_str"),
        col("g.agent_count").as("agent_count"))
      .distinct()
    groups.filter(col("has_other") === 1)
      .unionByName(groups.filter(col("has_other") === 0)
        .join(covering, Seq("agent_str", "agent_count"), "left_semi"))
      .select("agent_str", "agent_count", "total_ev", "max_belief", "n_hashes")
  }
}
