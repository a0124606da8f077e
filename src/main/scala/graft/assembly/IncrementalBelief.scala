package graft.assembly

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.BlockScope.Boundary

/** Incremental refinement + belief maintenance — the score-bearing half of
  * the supplement story. [[IncrementalReadonly]] keeps the SERVING tables
  * current under delta batches, but belief is not per-hash-decomposable:
  * a statement's score sums evidence over every statement refining it
  * (calculate_belief, reference export_assembly.py:680-702), so one new
  * statement shifts the belief of all its refinement ancestors. The
  * reference answers this with a full rebuild (preassemble_db.py:481-615
  * re-runs refinement + belief over the whole corpus); here the
  * refinement graph, its transitive closure, and the per-hash aggregated
  * source counts are MAINTAINED, and each batch recomputes belief for
  * exactly the affected set.
  *
  * Store layout (`db`; all tables partitioned by a pmod shard column):
  *   - principal, append-only, per-table idempotency guards (the
  *     [[graft.operators.Dedup.appendIndex]] convention — each guard reads
  *     only ITS table, pruned to the delta's own shards):
  *     s_keysets (mk_hash -> sorted agent keys; first-wins per hash),
  *     s_keys — the INVERTED index (stype, key) -> mk_hash, partitioned by
  *     key shard: the probe table that makes delta edge discovery
  *     partition-pruned, exactly the band_sigs shape of the dedup index;
  *     s_counts — per-batch own source counts, partitioned by
  *     (batch_id, shard), guarded by batch-partition presence;
  *     c_by_anc / c_by_desc — the closure pairs TWICE, partitioned by
  *     each endpoint's shard: belief recompute probes by anc, affected-set
  *     and closure extension probe by desc, and a partition column only
  *     prunes its own table (the relational form of forward + reverse
  *     adjacency).
  *   - derived: s_agg (mk_hash, src, cnt summed over the hash's closure
  *     descendants + itself) — a PURE FUNCTION of the principal tables,
  *     recomputed per batch for the affected hashes only and written by
  *     dynamic shard overwrite. Purity is the crash-safety argument (as
  *     in [[IncrementalReadonly]]): a replay after a crash between any
  *     two writes re-appends what its guards say is missing and
  *     re-derives the same s_agg rows. A delta-ADD scheme (propagate
  *     count deltas up the stored closure, never touching a hub ancestor's
  *     descendant mass) would be cheaper per batch but loses exactly that
  *     healing property — a replayed batch cannot tell which part of the
  *     addition already landed; rejected deliberately.
  *
  * Delta edge discovery: a statement can only refine / be refined by
  * statements sharing one of ITS keys (anc keys ⊆ desc keys means every
  * anc key is a desc key), so candidates come from probing s_keys with the
  * batch's (stype, key) pairs — partition-pruned by key shard, and pairs
  * are generated delta-anchored (delta × probed block, both orientations
  * by swapping), never block × block: candidate volume is
  * Σ_k delta_df(k)·corpus_df(k), linear in probed block size, which is why
  * the delta path needs no hot-key guard where the batch path
  * ([[Pipeline.refinementEdges]]) does.
  *
  * Closure maintenance handles ARBITRARY inserted edges (the key-subset
  * predicate alone is transitively closed — keys(a) ⊃ keys(b) ⊃ keys(c)
  * implies a direct a -> c edge — but mixed predicates, e.g. ontology
  * walks via `extraEdges`, compose into genuinely new multi-hop paths):
  * every path through ≥1 new edge normalizes to C? ∘ e₁ ∘ C? ∘ e₂ ∘ … —
  * old-closure bridges alternating with new edges, with C?∘C? = C?
  * because the stored closure C is itself closed — so the one-segment
  * pairs C?∘E'∘C? seed from two endpoint-pruned joins against the stored
  * pair tables, and [[Refinement.transitiveClosure]] over those
  * batch-sized segments closes the multi-new-edge paths. Its cycle check
  * fails the batch before any closure pair is written.
  */
object IncrementalBelief {

  import ShardedStore.{Shard, exists, inShards, refreshed, shardOf, shardsOf}

  private def keyShard(stype: Column, key: Column, shards: Int): Column =
    pmod(xxhash64(stype, key), lit(shards)).cast("int")

  /** A closure pair table that may not exist yet: a crash between the
    * FIRST-ever c_by_anc append (which created that table) and the
    * c_by_desc append that would have created ITS table leaves the store
    * with one of the pair copies missing — the replay must read it as
    * empty and heal, not fail on TABLE_NOT_FOUND. (The soak spec found
    * exactly this window.) */
  private def pairsOrEmpty(
      spark: SparkSession, db: String, name: String): DataFrame =
    if (exists(spark, db, name)) refreshed(spark, db, name)
    else spark.range(0).select(col("id").as("desc"), col("id").as("anc"),
      col("id").cast("int").as(Shard))

  /** Initialize the store from a base world (= the first upsert). */
  def init(
      spark: SparkSession, stmts: DataFrame, agents: DataFrame,
      counts: DataFrame, db: String, shards: Int): DataFrame =
    upsert(spark, stmts, agents, counts, db, shards, batchId = 0L)

  /** Apply one delta batch and return the refreshed (mk_hash, belief)
    * rows for every AFFECTED hash — new statements plus all ancestors
    * whose aggregated counts changed; feed them to
    * [[IncrementalReadonly.upsert]]'s `beliefUpdates` for scored serving.
    *
    * Inputs: `stmts` (mk_hash, stype) distinct delta statements; `agents`
    * (mk_hash, db_name, db_id) their grounded agent rows
    * ([[Preassembly.agentRows]] shape); `counts` (mk_hash, src, cnt) the
    * batch's OWN evidence counts (new evidence on an existing hash is a
    * counts-only delta — its statement need not reappear); `extraEdges`
    * optional (desc, anc) refinement edges from non-key predicates (the
    * ontology walk) computed by the caller for the delta. `batchId` must
    * be unique per logical batch and stable across replays.
    */
  def upsert(
      spark: SparkSession, stmts: DataFrame, agents: DataFrame,
      counts: DataFrame, db: String, shards: Int, batchId: Long,
      extraEdges: Option[DataFrame] = None): DataFrame = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

    // delta keysets from the RAW batch (not the guarded remainder): edge
    // discovery and the affected set must re-derive on a replay whose
    // crash fell between the appends and the closure/agg writes
    val deltaKs = Refinement.keysets(stmts, agents)
      .withColumn(Shard, shardOf(col("mk_hash"), shards))
      .boundary()
    val countsLc = counts.select("mk_hash", "src", "cnt").boundary()
    val probe = deltaKs
      .select(col("stype"), explode(col("keys")).as("key"))
      .distinct()
      .withColumn(Shard, keyShard(col("stype"), col("key"), shards))
      .boundary()
    val probeShards = shardsOf(probe)

    // --- principal appends, own-key pruned guards ------------------------
    val newKs =
      (if (!exists(spark, db, "s_keysets")) deltaKs
       else deltaKs.join(
         refreshed(spark, db, "s_keysets")
           .filter(inShards(col(Shard), shardsOf(deltaKs)))
           .select("mk_hash"),
         Seq("mk_hash"), "left_anti")).boundary()
    ShardedStore.append(spark, db, "s_keysets", newKs, Seq(Shard))
    // a hash's s_keys rows live in the key shards its OWN keys map to, so
    // the presence guard reads just the probed slice — never a full scan
    val deltaKeys = deltaKs
      .select(col("mk_hash"), col("stype"), explode(col("keys")).as("key"))
      .withColumn(Shard, keyShard(col("stype"), col("key"), shards))
    val newKeys =
      if (!exists(spark, db, "s_keys")) deltaKeys
      else deltaKeys.join(
        refreshed(spark, db, "s_keys")
          .filter(inShards(col(Shard), probeShards))
          .join(probe.select("stype", "key"), Seq("stype", "key"), "left_semi")
          .select("mk_hash").distinct(),
        Seq("mk_hash"), "left_anti")
    ShardedStore.append(spark, db, "s_keys", newKeys, Seq(Shard))
    val batchSeen = exists(spark, db, "s_counts") &&
      !refreshed(spark, db, "s_counts")
        .filter(col("batch_id") === batchId).isEmpty
    if (!batchSeen)
      ShardedStore.append(spark, db, "s_counts",
        countsLc.withColumn("batch_id", lit(batchId))
          .withColumn(Shard, shardOf(col("mk_hash"), shards)),
        Seq("batch_id", Shard))

    // --- delta refinement edges via the inverted index -------------------
    val hits = refreshed(spark, db, "s_keys")
      .filter(inShards(col(Shard), probeShards))
      .join(probe.select("stype", "key"), Seq("stype", "key"), "left_semi")
      .select(col("mk_hash"))
      .distinct()
      .withColumn(Shard, shardOf(col("mk_hash"), shards))
      .boundary()
    // candidate universe: every statement sharing a (stype, key) with the
    // batch — includes the batch itself (its keys were appended above)
    val univ = refreshed(spark, db, "s_keysets")
      .filter(inShards(col(Shard), shardsOf(hits)))
      .join(hits.select("mk_hash"), Seq("mk_hash"), "left_semi")
      .drop(Shard)
      .boundary()
    // pairs (delta, univ): one delta-anchored join, then both orientations
    // by swapping — NEVER univ × univ, which would re-pair old hot blocks
    val dSide = deltaKs
      .select(col("mk_hash").as("d_mk_hash"), col("stype"),
        col("keys").as("d_keys"), explode(col("keys")).as("key"))
    val uSide = univ
      .select(col("mk_hash").as("u_mk_hash"), col("stype"),
        col("keys").as("u_keys"), explode(col("keys")).as("key"))
    val cands = dSide.join(uSide, Seq("stype", "key"))
      .filter(col("d_mk_hash") =!= col("u_mk_hash"))
      .select(col("d_mk_hash"), col("d_keys"), col("u_mk_hash"), col("u_keys"))
      .distinct()
    val keyEdges = cands
      .filter(Refinement.refines(col("d_keys"), col("u_keys")))
      .select(col("d_mk_hash").as("desc"), col("u_mk_hash").as("anc"))
      .unionByName(cands
        .filter(Refinement.refines(col("u_keys"), col("d_keys")))
        .select(col("u_mk_hash").as("desc"), col("d_mk_hash").as("anc")))
    val edges = extraEdges
      .fold(keyEdges)(e => keyEdges.unionByName(e.select("desc", "anc")))
      .distinct()
      .boundary(eager = true)

    // --- closure extension: paths through ≥1 new edge --------------------
    val haveClosure = exists(spark, db, "c_by_anc")
    val seg = if (!haveClosure) edges else {
      // one-segment pairs C?∘E'∘C?: extend each new edge left with stored
      // pairs ENDING at its desc, then right with pairs STARTING at any
      // reached anc — both probes pruned to the endpoint sets' shards
      val eDesc = edges.select(col("desc")).distinct()
        .withColumn(Shard, shardOf(col("desc"), shards))
      val cA = refreshed(spark, db, "c_by_anc")
      val left = cA.filter(inShards(col(Shard), shardsOf(eDesc)))
        .join(eDesc.select(col("desc").as("e_desc")),
          col("anc") === col("e_desc"), "left_semi")
        .select("desc", "anc")
      val extendedLeft = edges.unionByName(
        left.as("c").join(edges.as("e"), col("c.anc") === col("e.desc"))
          .select(col("c.desc").as("desc"), col("e.anc").as("anc")))
        .boundary(eager = true)
      val elAnc = extendedLeft.select(col("anc")).distinct()
        .withColumn(Shard, shardOf(col("anc"), shards))
      val cD = pairsOrEmpty(spark, db, "c_by_desc")
      val right = cD.filter(inShards(col(Shard), shardsOf(elAnc)))
        .join(elAnc.select(col("anc").as("l_anc")),
          col("desc") === col("l_anc"), "left_semi")
        .select("desc", "anc")
      extendedLeft.unionByName(
        extendedLeft.as("l").join(right.as("r"),
            col("l.anc") === col("r.desc"))
          .select(col("l.desc").as("desc"), col("r.anc").as("anc")))
    }
    // multi-new-edge paths; fails on a cycle before any pair is written
    val accSharded = Refinement.transitiveClosure(seg)
      .withColumn("anc_shard", shardOf(col("anc"), shards))
      .withColumn("desc_shard", shardOf(col("desc"), shards))
      .boundary()
    def pairShards(c: String): Seq[Int] =
      shardsOf(accSharded.select(col(c).as(Shard)))
    val deltaClosure =
      (if (!haveClosure) accSharded
       else accSharded.join(
         refreshed(spark, db, "c_by_anc")
           .filter(inShards(col(Shard), pairShards("anc_shard")))
           .select("desc", "anc"),
         Seq("desc", "anc"), "left_anti")).boundary(eager = true)
    ShardedStore.append(spark, db, "c_by_anc",
      deltaClosure.select(col("desc"), col("anc"),
        col("anc_shard").as(Shard)), Seq(Shard))
    // second copy guarded by ITS OWN pairs — derived from the UNGUARDED
    // accumulated closure, never from the c_by_anc-guarded delta: a crash
    // between the two appends replays with an empty deltaClosure (the
    // pairs already sit in c_by_anc), and a guard derived from it would
    // leave c_by_desc permanently short. Probing c_by_desc itself makes
    // the replay re-discover exactly the missing pairs (the s_keysets /
    // s_keys / appendIndex convention: each guard reads only its table).
    val deltaForDesc =
      if (!exists(spark, db, "c_by_desc")) accSharded
      else accSharded.join(
        refreshed(spark, db, "c_by_desc")
          .filter(inShards(col(Shard), pairShards("desc_shard")))
          .select("desc", "anc"),
        Seq("desc", "anc"), "left_anti")
    ShardedStore.append(spark, db, "c_by_desc",
      deltaForDesc.select(col("desc"), col("anc"),
        col("desc_shard").as(Shard)), Seq(Shard))

    // --- affected set ----------------------------------------------------
    // a counts delta lifts the hash and every ancestor; a new closure pair
    // lifts its anc side; new statements are affected by definition
    val deltaH = countsLc.select("mk_hash")
      .unionByName(stmts.select("mk_hash"))
      .distinct()
      .withColumn(Shard, shardOf(col("mk_hash"), shards))
      .boundary()
    val ancOfDelta = pairsOrEmpty(spark, db, "c_by_desc")
      .filter(inShards(col(Shard), shardsOf(deltaH)))
      .join(deltaH.select(col("mk_hash").as("d_h")),
        col("desc") === col("d_h"), "left_semi")
      .select(col("anc").as("mk_hash"))
    // anc side from the UNGUARDED accumulated closure, not deltaClosure:
    // a replay whose crash fell after the pair appends but before the agg
    // overwrite sees an empty deltaClosure, and an old->old extra edge
    // (neither endpoint in deltaH) would otherwise leave its ancestors'
    // s_agg permanently stale. accSharded re-derives identically on every
    // replay; extra hashes only widen the pure rewrite, never corrupt it.
    val affected = deltaH.select("mk_hash")
      .unionByName(ancOfDelta)
      .unionByName(accSharded.select(col("anc").as("mk_hash")))
      .distinct()
      .withColumn(Shard, shardOf(col("mk_hash"), shards))
      .boundary()
    val affectedShards = shardsOf(affected)

    // --- derived rewrite: agg counts for the affected hashes, pure -------
    val descPairs = refreshed(spark, db, "c_by_anc")
      .filter(inShards(col(Shard), affectedShards))
      .join(affected.select(col("mk_hash").as("a_h")),
        col("anc") === col("a_h"), "left_semi")
      .select(col("anc"), col("desc"))
      .unionByName(affected.select(col("mk_hash").as("anc"),
        col("mk_hash").as("desc")))
      .boundary()
    val contributorShards = shardsOf(
      descPairs.select(shardOf(col("desc"), shards).as(Shard)))
    val own = refreshed(spark, db, "s_counts")
      .filter(inShards(col(Shard), contributorShards))
      .join(descPairs.select(col("desc").as("mk_hash")).distinct(),
        Seq("mk_hash"), "left_semi")
      .groupBy("mk_hash", "src")
      .agg(sum("cnt").as("cnt"))
    val freshAgg = descPairs
      .join(own.withColumnRenamed("mk_hash", "desc"), Seq("desc"))
      .groupBy(col("anc").as("mk_hash"), col("src"))
      .agg(sum("cnt").as("cnt"))
      .withColumn(Shard, shardOf(col("mk_hash"), shards))
      .boundary()
    val mergedAgg =
      (if (!exists(spark, db, "s_agg")) freshAgg
       else refreshed(spark, db, "s_agg")
         .filter(inShards(col(Shard), affectedShards))
         .join(affected.select("mk_hash"), Seq("mk_hash"), "left_anti")
         .unionByName(freshAgg)).boundary(eager = true)
    ShardedStore.overwriteShards(spark, db, "s_agg", mergedAgg, Shard)

    // refreshed belief for the affected hashes (pure function of s_agg)
    scoreAgg(freshAgg)
  }

  private def scoreAgg(agg: DataFrame): DataFrame =
    agg.groupBy("mk_hash")
      .agg(map_from_entries(collect_list(struct(col("src"), col("cnt"))))
        .as("src_json"))
      .withColumn("belief", Belief.beliefFromSrcJson(col("src_json")))
      .select("mk_hash", "belief")

  /** Current (mk_hash, belief) for every statement in the store. */
  def belief(spark: SparkSession, db: String): DataFrame =
    scoreAgg(refreshed(spark, db, "s_agg"))

  /** Current closure pairs (desc, anc). */
  def closure(spark: SparkSession, db: String): DataFrame =
    refreshed(spark, db, "c_by_anc").select("desc", "anc")

  def reset(spark: SparkSession, db: String): Unit =
    ShardedStore.reset(spark, db)
}
