package graft.assembly

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.StatementModel
import graft.functions.exprs.stable_hash64

/** Preassembly: raw statements -> unique statements keyed by content hash.
  *
  * The reference streams 77M raw statements through a single Python process
  * in 10k batches accumulating seen-hash sets and source-count dicts
  * (export_assembly.py:368-601, ~2.5-3h). Here it's three shuffle-free-or-
  * single-shuffle columnar stages:
  *
  *   1. parse + canonicalize + hash (pure codegen'd map work, no shuffle);
  *   2. dedup: one row per mk_hash keeping the lowest raw id's payload
  *      (window row_number on the hash — the "first JSON wins" rule of
  *      `deduplicate`, export_assembly.py:576-601);
  *   3. source counts: groupBy (mk_hash, src) with map-side partial
  *      aggregation, rolled into a MapType column.
  */
object Preassembly {

  /** clean_json_loads analog (readonly_dumping/util.py:86-153): principal
    * dumps carry doubly-escaped backslashes and stray NUL bytes. The
    * reference collapses `\\` to `\`, parses that, and falls back to the
    * raw bytes when collapsing broke a valid escape; only rows failing
    * BOTH parses are rejected. NUL bytes are stripped first (they are
    * invalid inside JSON strings and reject the whole row otherwise).
    * The backslash collapse is a literal (non-regex) replace, like the
    * reference's str.replace — StringReplace skips the regex engine on
    * this every-row path. */
  def cleanRawJson(c: Column): Column =
    replace(translate(c, "\u0000", ""), lit("\\\\"), lit("\\"))

  /** Parse raw statement rows: adds `stmt` struct, `matches_key`, `mk_hash`.
    * Input needs a `raw_json` string column. Applies the clean_json_loads
    * decision table as a two-way from_json + pick — the cleaned parse wins
    * whenever it succeeds, matching the reference's precedence; `when`
    * short-circuits, so the fallback parse only runs on the rare rows the
    * cleanup actually broke. */
  def parse(raw: DataFrame): DataFrame = {
    val cleanedStr = cleanRawJson(col("raw_json"))
    // Plain PERMISSIVE from_json PARTIALLY fills the struct up to the
    // first error, so it cannot tell "parsed" from "broke halfway" — the
    // reference's json.loads is all-or-nothing; try_parse_json is the
    // strict whole-document check (null on ANY malformed byte). But the
    // variant parse costs several times the struct parse, so it runs ONLY
    // on SUSPECT rows — those carrying a backslash or NUL, which by
    // construction is every row the cleanup can change (both rescue and
    // break cases need a backslash to exist). Clean-byte rows take one
    // plain parse; their malformed instances partial-fill at most a
    // prefix, which the downstream validity gate (no type / no agents)
    // rejects just as the reference would.
    val suspect =
      col("raw_json").contains("\\") || col("raw_json").contains("\u0000")
    val chosen = when(!suspect, col("raw_json"))
      .when(try_parse_json(cleanedStr).isNotNull, cleanedStr)
      .when(try_parse_json(col("raw_json")).isNotNull, col("raw_json"))
    // The nondeterministic Pinned wrapper pins the parse in ITS OWN
    // projection: downstream validity filters reference stmt's fields many
    // times, and both predicate pushdown and project collapse substitute a
    // deterministic alias PER REFERENCE — measured 28 inlined from_json
    // copies (a 30× slowdown once the generated method outgrows codegen).
    // Alias substitution is illegal for nondeterministic expressions, so
    // every consumer reads the once-per-row attribute instead. Nothing
    // useful is pushable below a raw-statement parse anyway. (Pinned is an
    // identity — unlike the earlier monotonically_increasing_id guard it
    // is also legal in streaming plans, which streamingPreassembly needs.)
    val stmt = graft.functions.exprs.pinned(StatementModel.parse(chosen))
    raw.withColumn("stmt", stmt)
      .withColumn("matches_key", StatementModel.matchesKey(col("stmt")))
      .withColumn("mk_hash", stable_hash64(col("matches_key")))
  }

  /** Split parsed rows into (valid, rejected) — the semantic-validation
    * gate (validate_statement_semantics, readonly_dumping/util.py:154-174,
    * used at export_assembly.py:591, with rejects recorded like the
    * rejected_statements table). A row is rejected when its JSON failed to
    * parse (from_json yields a null struct — the clean_json_loads analog),
    * it has no statement type, or it has no agent in any position.
    */
  def partitionValid(parsed: DataFrame): (DataFrame, DataFrame) = {
    val stmt = col("stmt")
    val hasAgent = stmt.getField("subj").isNotNull ||
      stmt.getField("obj").isNotNull || stmt.getField("enz").isNotNull ||
      stmt.getField("sub").isNotNull || stmt.getField("agent").isNotNull ||
      stmt.getField("gef").isNotNull || stmt.getField("gap").isNotNull ||
      stmt.getField("ras").isNotNull ||
      (stmt.getField("members").isNotNull &&
        size(stmt.getField("members")) > 0) ||
      (stmt.getField("obj_from").isNotNull &&
        size(stmt.getField("obj_from")) > 0) ||
      (stmt.getField("obj_to").isNotNull &&
        size(stmt.getField("obj_to")) > 0)
    val ok = stmt.isNotNull && stmt.getField("type").isNotNull && hasAgent
    (parsed.filter(ok), parsed.filter(!ok || ok.isNull))
  }

  /** One row per unique statement: lowest-raw-id payload wins.
    * Input needs (raw_stmt_id, mk_hash) plus payload columns.
    *
    * row_number window, restored after two measured alternatives lost
    * (round-12/13): min_by(struct(payload)) carries the payload struct in
    * its aggregation buffer — plans as a SortAggregate pair (payloads
    * sorted per map partition AND after the exchange) with no partial
    * reduction on near-unique hashes (q_pa_mods 1.40s -> 2.1s); the
    * narrow groupBy(mk_hash).agg(min(raw_stmt_id)) + left-semi join back
    * is hash-aggregable but RE-EXECUTES the parse subtree for the probe
    * side — the upstream window + to_json + from_json dominate, so two
    * passes cost more than one payload sort (measured 3.0s). The window
    * parses once and shuffles each payload once; its sort is the price. */
  def dedup(parsed: DataFrame): DataFrame = {
    val w = Window.partitionBy("mk_hash").orderBy("raw_stmt_id")
    parsed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .select(parsed.columns.map(col): _*)
  }

  /** Per-statement agent enumeration shared by the pa_agents / pa_mods /
    * pa_muts extractions: one (ag_num, role_num, agent) entry per agent
    * position — subj/enz/agent -> SUBJECT-side at position 0, obj/sub ->
    * OBJECT at 1, members -> OTHER at their index. */
  def agentEntries(stmt: Column): Column = {
    def entry(agent: Column, agNum: Column, roleNum: Column) =
      struct(agNum.cast("int").as("ag_num"), roleNum.cast("int").as("role_num"),
        agent.as("agent"))
    val binary = filter(
      array(
        entry(stmt.getField("subj"), lit(0), lit(-1)),
        entry(stmt.getField("enz"), lit(0), lit(-1)),
        entry(stmt.getField("agent"), lit(0), lit(0)),
        entry(stmt.getField("gef"), lit(0), lit(-1)),
        entry(stmt.getField("gap"), lit(0), lit(-1)),
        entry(stmt.getField("obj"), lit(1), lit(1)),
        entry(stmt.getField("sub"), lit(1), lit(1)),
        entry(stmt.getField("ras"), lit(1), lit(1))),
      e => e.getField("agent").isNotNull)
    val members = coalesce(
      transform(stmt.getField("members"),
        (m, i) => entry(m, i, lit(0))),
      array())
    // Conversion positions follow INDRA's agent_list order:
    // [subj] ++ obj_from ++ obj_to
    val nFrom = when(stmt.getField("obj_from").isNotNull,
      size(stmt.getField("obj_from"))).otherwise(lit(0))
    val objFrom = coalesce(
      transform(stmt.getField("obj_from"),
        (m, i) => entry(m, i + lit(1), lit(1))),
      array())
    val objTo = coalesce(
      transform(stmt.getField("obj_to"),
        (m, i) => entry(m, i + lit(1) + nFrom, lit(1))),
      array())
    concat(binary, members, objFrom, objTo)
  }

  /** Normalized agent rows from parsed statements — the pa_agents
    * extraction (principal_schema.py:897-912): explode each statement's
    * agents with position and role, grounded to the priority namespace with
    * NAME fallback.
    */
  def agentRows(parsed: DataFrame): DataFrame = {
    val stmt = col("stmt")
    val refs = col("ag.agent").getField("db_refs")
    val nsPairs = graft.core.StatementModel.groundingPriority.map(ns =>
      when(element_at(refs, ns).isNotNull,
        struct(lit(ns).as("db_name"), element_at(refs, ns).as("db_id"))))
    val grounding = coalesce(nsPairs :+
      struct(lit("NAME").as("db_name"),
        col("ag.agent").getField("name").as("db_id")): _*)
    parsed
      .withColumn("ag", explode(agentEntries(stmt)))
      .withColumn("g", grounding)
      .select(col("mk_hash"), col("ag.ag_num").as("ag_num"),
        col("g.db_name").as("db_name"), col("g.db_id").as("db_id"),
        col("ag.role_num").as("role_num"))
      .distinct()
  }

  /** Modification rows per agent position — the pa_mods attribute table
    * (principal_schema.py:915-933): (mk_hash, ag_num, mod_type, residue,
    * position, is_modified), one row per agent ModCondition. Run over the
    * UNIQUE statements (the kept payload per hash), like the reference
    * extracts from pa_statements. */
  def modRows(uniq: DataFrame): DataFrame =
    uniq
      .withColumn("ag", explode(agentEntries(col("stmt"))))
      .withColumn("mod", explode(col("ag.agent.mods")))
      .select(col("mk_hash"), col("ag.ag_num").as("ag_num"),
        col("mod.mod_type").as("mod_type"), col("mod.residue").as("residue"),
        col("mod.position").as("position"),
        col("mod.is_modified").as("is_modified"))

  /** Mutation rows per agent position — the pa_muts attribute table
    * (principal_schema.py:935-947). */
  def mutRows(uniq: DataFrame): DataFrame =
    uniq
      .withColumn("ag", explode(agentEntries(col("stmt"))))
      .withColumn("mut", explode(col("ag.agent.mutations")))
      .select(col("mk_hash"), col("ag.ag_num").as("ag_num"),
        col("mut.position").as("position"),
        col("mut.residue_from").as("residue_from"),
        col("mut.residue_to").as("residue_to"))

  /** Statement activity rows — the pa_activity attribute table
    * (principal_schema.py:883-895): ActiveForm-style statements carry a
    * statement-level (activity, is_active). */
  def activityRows(uniq: DataFrame): DataFrame =
    uniq
      .filter(col("stmt.activity").isNotNull)
      .select(col("mk_hash"), col("stmt.activity").as("activity"),
        col("stmt.is_active").as("is_active"))

  /** Fused dedup + evidence count: one shuffle on mk_hash producing the
    * unique-statement table (min raw id as the kept payload pointer,
    * matches_key functional in the hash, total evidence count). Prefer this
    * over dedup-then-join when the full parsed payload isn't needed — the
    * parse subtree evaluates once instead of twice.
    *
    * matches_key rides in the GROUP KEY, not a min() buffer: mk_hash is
    * stable_hash64(matches_key), so the two group-by forms are identical
    * (the key is functionally determined by its hash — the reference's own
    * matches-hash identity). A min(string) aggregation buffer is not
    * fixed-width, which forces the whole aggregate to a SortAggregate
    * pair — every parsed row sorted per map partition and again after the
    * exchange; with the string in the key the plan is a HashAggregate
    * pair whose partial stage reduces |raw rows| to |distinct hashes|
    * before the shuffle (guide §2.3).
    *
    * Collision behaviour: if two distinct matches_key values ever share a
    * 64-bit mk_hash, this emits TWO rows with that mk_hash (one per key),
    * where a min(matches_key) aggregation would have emitted one; every
    * mk_hash-keyed join downstream would then see the hash twice. The
    * engine treats mk_hash as the statement identity throughout, so such
    * a collision is outside its model, not handled here. */
  def uniqueStatements(parsed: DataFrame): DataFrame =
    parsed.groupBy("mk_hash", "matches_key").agg(
      min("raw_stmt_id").as("raw_stmt_id"),
      count(lit(1)).as("ev_count"))
      .select("mk_hash", "raw_stmt_id", "matches_key", "ev_count")

  /** raw -> pa links (the raw_unique_links table,
    * principal_schema.py:762-779). */
  def links(parsed: DataFrame): DataFrame =
    parsed.select(col("raw_stmt_id"), col("mk_hash"))

  /** Per-hash source-count map + total evidence count. Input needs
    * (mk_hash, src). */
  def sourceCounts(parsed: DataFrame): DataFrame =
    parsed
      .groupBy("mk_hash", "src")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("mk_hash")
      .agg(
        map_from_entries(collect_list(struct(col("src"), col("cnt"))))
          .as("src_json"),
        sum("cnt").as("ev_count"))
}
