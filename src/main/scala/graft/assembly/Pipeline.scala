package graft.assembly

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BlockScope, TypeRegistry}
import graft.querydsl.ReadonlyTables
import graft.core.BlockScope.Boundary

/** The end-to-end assembly DAG — the reference's batch lifecycle (SURVEY
  * §3.3: dump -> distill -> preassemble -> refine -> belief -> readonly
  * build) as one composition of DataFrame stages with optional parquet
  * checkpoints at the same artifact boundaries the reference uses.
  *
  * Inputs are the principal dumps (FIXTURES.md §3):
  *   - rawStatements: raw_stmt_id L, reading_id L?, db_info_id L?, src S,
  *     raw_json S (one evidence per row)
  *   - readings: rid L, trid L, reader S, reader_version (orderable),
  *     source S, text_type S
  *   - textRefs: trid L, pmid L
  *   - meshAnnotations: pmid L, mesh_num L, is_concept I
  */
final case class PrincipalDump(
    rawStatements: DataFrame,
    readings: DataFrame,
    textRefs: DataFrame,
    meshAnnotations: DataFrame,
)

object Pipeline {

  /** Statement A refines B when same type, strictly more agent keys, and
    * B's keys all appear in A's (the ontology-free core of the reference's
    * refinement predicate; `Refinement.ontologyRefinementEdges` adds the
    * isa/partof walk).
    *
    * Blocking: each statement enters one block per (type, agent key) —
    * every key, not just the first sorted one. A refining pair shares ALL
    * of B's keys, so it is guaranteed to co-occur in at least one block;
    * blocking only on the first sorted key silently dropped pairs whose
    * first keys differ (e.g. A={K1,K2} blocked at K1, B={K2} at K2). The
    * pair space stays bounded — quadratic only within same-(type,key)
    * groups, the standard inverted-index bound.
    *
    * Hot-key guard: a promiscuous grounding (a TP53-class hub with 10⁵+
    * same-type statements) makes one block quadratic on its own — the
    * blocking key IS the skew axis at scale. Blocks whose df exceeds
    * `hotKeyThreshold` are excluded from the plain self-join and their
    * pairs recovered EXACTLY by two output-bounded paths:
    *
    *   - an anc-side statement with ≥2 hot keys co-occurs with every
    *     refining desc in a secondary block keyed by a PAIR of hot keys
    *     (the desc carries all the anc's keys, so every hot pair of the
    *     anc is a hot pair of the desc) — pair-df is the co-occurrence
    *     count, which skew-free corpora keep small;
    *   - an anc-side statement whose ONLY key is hot is refined by every
    *     same-type statement carrying that key plus any other — a direct
    *     asymmetric join in which every emitted row is a true edge
    *     (output-linear, nothing quadratic to filter away).
    *
    * An anc with any cold key is already caught by that cold block, so the
    * three paths cover all pairs; the final distinct collapses overlap. No
    * candidates are dropped at any threshold — the threshold only picks
    * the join strategy per block.
    */
  def refinementEdges(
      uniq: DataFrame, agents: DataFrame,
      hotKeyThreshold: Int = 100000): DataFrame = {
    val keySets = agents
      .groupBy("mk_hash")
      .agg(array_sort(collect_set(concat(col("db_name"), lit(":"), col("db_id"))))
        .as("keys"))
    val stmts = uniq.select(col("mk_hash"), col("stype"))
      .join(keySets, "mk_hash")
    val exploded = stmts.withColumn("block_key", explode(col("keys")))
    val dfs = exploded.groupBy("stype", "block_key")
      .agg(count(lit(1)).as("block_df"))
    // four consumers below (cold, hot pairs, hot singletons twice) — the
    // boundary stops each from re-running the keyset agg + explode + df
    // join chain
    val marked = exploded.join(dfs, Seq("stype", "block_key"))
      .boundary()

    val cold = marked.filter(col("block_df") <= hotKeyThreshold).drop("block_df")
    // secondary blocks: every sorted pair of a statement's hot keys
    // (separator \u0001 keeps the pair space disjoint from single keys)
    val hotKeysPerStmt = marked.filter(col("block_df") > hotKeyThreshold)
      .groupBy("mk_hash", "stype", "keys")
      .agg(sort_array(collect_set(col("block_key"))).as("hot_keys"))
    val hotPairs = hotKeysPerStmt
      .filter(size(col("hot_keys")) >= 2)
      .withColumn("block_key", explode(flatten(transform(col("hot_keys"),
        (x, i) => transform(
          slice(col("hot_keys"), i + lit(2),
            size(col("hot_keys")) - i - lit(1)),
          y => concat(x, lit("\u0001"), y))))))
      .select("mk_hash", "stype", "keys", "block_key")
    val blocked = Refinement.candidatePairs(
      cold.select("mk_hash", "stype", "keys", "block_key")
        .unionByName(hotPairs),
      Seq("stype", "block_key"))
      .select(col("a_mk_hash"), col("a_keys"), col("b_mk_hash"), col("b_keys"))

    // hot singletons: anc's only key is hot -> join against every carrier
    val hotSingle = marked.filter(
        col("block_df") > hotKeyThreshold && size(col("keys")) === 1)
      .select(col("stype"), col("block_key"),
        col("mk_hash").as("b_mk_hash"), col("keys").as("b_keys"))
    val singletonPairs = marked.filter(col("block_df") > hotKeyThreshold)
      .select(col("stype"), col("block_key"),
        col("mk_hash").as("a_mk_hash"), col("keys").as("a_keys"))
      .join(hotSingle, Seq("stype", "block_key"))
      .select(col("a_mk_hash"), col("a_keys"), col("b_mk_hash"), col("b_keys"))

    blocked.unionByName(singletonPairs)
      .filter(size(col("a_keys")) > size(col("b_keys")) &&
        size(array_except(col("b_keys"), col("a_keys"))) === 0)
      .select(col("a_mk_hash").as("desc"), col("b_mk_hash").as("anc"))
      .distinct()
  }

  private def checkpoint(df: DataFrame, dir: Option[String], name: String): DataFrame =
    dir match {
      case Some(d) =>
        df.write.mode("overwrite").parquet(s"$d/$name")
        df.sparkSession.read.parquet(s"$d/$name")
      case None =>
        // no artifact dir: still truncate the plan at the same boundary —
        // downstream stages consume parsed/unique/agents subtrees many
        // times each, and re-inlining the (wide-schema) parse per consumer
        // makes analysis memory quadratic in pipeline depth. The lazy
        // boundary replaces the logical plan with an RDD scan immediately;
        // under AQE its creation also runs the subtree's shuffle-map
        // stages, and only the final stage waits for the first use.
        df.boundary()
    }

  /** Run the full DAG; returns the queryable readonly layer. */
  def run(
      spark: SparkSession,
      dump: PrincipalDump,
      types: TypeRegistry,
      readerSources: Seq[String],
      dbSources: Seq[String],
      checkpointDir: Option[String] = None,
      ontology: Option[DataFrame] = None,
      runId: Long = 0L): ReadonlyTables = {

    // 1. distill: authoritative reading per (paper, reader); raw statements
    //    from dropped readings are discarded, KB rows (no reading) kept
    val dropped = Distill.dropReadings(dump.readings)
    val raw = dump.rawStatements.join(
      dropped.withColumnRenamed("rid", "reading_id"),
      Seq("reading_id"), "left_anti")

    // 2. preassemble: parse -> validate (malformed/agent-less rows drop
    //    out, recorded to the rejected_statements log when checkpointing)
    //    -> canonical key -> hash
    val (valid, rejected) = Preassembly.partitionValid(Preassembly.parse(raw))
    checkpointDir.foreach(d => Bookkeeping.recordRejected(rejected, d, runId))
    val parsed = checkpoint(
      valid.withColumn("stype", col("stmt.type")),
      checkpointDir, "parsed")

    // 3-6 run as three concurrent branches (BlockScope.fork), each
    // creating its boundaries; the three are independent once parsed is
    // cut, and joined before belief:
    //   - uniq -> agents -> refinement edges -> transitive closure;
    //   - srcCounts;
    //   - evidence -> mesh.
    val ((uniq, agents, closure), srcCounts, (evidence, mesh)) =
      BlockScope.fork(spark)({
        val uniq = checkpoint(
          Preassembly.dedup(parsed).select("mk_hash", "raw_stmt_id", "stype", "stmt"),
          checkpointDir, "unique_statements")

        // 3. agents (pa_agents), from the kept payload of each unique statement
        val agents = checkpoint(
          Preassembly.agentRows(uniq), checkpointDir, "pa_agents")

        // 4. refinement DAG; with an ontology dimension the
        //    isa/partof-generalized edges join the key-subset ones (the
        //    reference's single Preassembler predicate covers both shapes,
        //    export_assembly.py:739-745)
        val edges = ontology match {
          case Some(ont) => refinementEdges(uniq, agents)
            .union(Refinement.ontologyRefinementEdges(
              uniq.select("mk_hash", "stype"), agents, ont))
            .distinct()
          case None => refinementEdges(uniq, agents)
        }
        (uniq, agents, Refinement.transitiveClosure(edges))
      },
      checkpoint(Preassembly.sourceCounts(parsed), checkpointDir, "source_counts"),
      {
        // 5. evidence rows with paper links: rid -> trid -> pmid
        val readingRefs = dump.readings.select("rid", "trid")
          .join(dump.textRefs, "trid")
        val evidence = parsed.select(
          col("raw_stmt_id").as("sid"), col("mk_hash"), col("src"),
          coalesce(col("reading_id"), -col("raw_stmt_id")).as("rid"))
          .join(readingRefs.withColumnRenamed("rid", "reading_id")
            .select(col("reading_id").as("rid_join"), col("pmid")),
            col("rid") === col("rid_join"), "left")
          .select(col("sid"), col("mk_hash"), col("src"), col("rid"),
            coalesce(col("pmid"), lit(-1L)).as("pmid"))
          .boundary() // read by the mesh rows, the refs and three build frames

        // 6. mesh annotations attach per evidence via the paper id
        val mesh = evidence.select("sid", "pmid")
          .join(dump.meshAnnotations, "pmid")
          .select("sid", "mesh_num", "is_concept")
          .boundary() // read by the build's mesh counts and raw_stmt_mesh
        (evidence, mesh)
      })

    // belief: ancestor-summed evidence over the closure
    val belief = Belief.scoreWithRefinements(
      srcCounts.select("mk_hash", "src_json"), closure)
      .select(col("mk_hash"), col("belief"))

    // 7. statements with computed belief + serialized payload (pa_json
    //    rides on fast_raw_pa_link for egress) -> readonly build. The
    //    pa_activity columns (ActiveForm state, principal_schema.py:883-895)
    //    ride along so every meta row carries them, as in the reference
    //    (readonly_schema.py:139-157).
    val statements = uniq
      .select(col("mk_hash"), col("stype"), to_json(col("stmt")).as("pa_json"),
        col("stmt.activity").as("activity"), col("stmt.is_active").as("is_active"))
      .join(belief, "mk_hash")
    val world = StatementWorld(
      statements = statements,
      evidence = evidence,
      agents = agents,
      mesh = mesh,
      refs = evidence.select(col("rid"), col("pmid")).distinct()
        .join(dump.readings.select(col("rid"), col("trid")), Seq("rid"), "left")
        .select(col("rid"), col("pmid"), col("trid"),
          lit(null).cast("long").as("tcid"),
          lit(null).cast("long").as("pmcid_num"),
          lit(null).cast("long").as("doi_ns"),
          lit(null).cast("string").as("doi_id")),
    )
    val ro = ReadonlyBuilder.build(spark, world, types, readerSources, dbSources,
      complexTypeNum = types.toNum.get("Complex"))

    // append the completed-run watermark the supplement path reads
    // (Bookkeeping.lastCompleted ≡ the reference's last preassembly_updates
    // row, preassemble_db.py:481-543). Counts come off the checkpointed
    // parquet, so no stage is recomputed for the stats.
    checkpointDir.foreach { d =>
      Bookkeeping.recordUpdate(spark, d, "preassembly", runId, Map(
        "raw_parsed" -> parsed.count(),
        "unique_statements" -> uniq.count()))
    }
    ro
  }
}
