package graft.assembly

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.BlockScope.Boundary

/** Persisted ontology-signature index — the delta-shaped form of
  * [[Refinement.ontologyRefinementEdges]]. The batch build joins every
  * statement's generalized signatures against every actual signature; at
  * 100 TB that is a corpus × corpus signature join per run. Here both
  * signature sides persist once, partitioned by signature hash (the probe
  * key, the [[graft.operators.Dedup]] band-index shape):
  *
  *   - o_sigs    (stype, sig, mk_hash): actual positional signatures;
  *   - o_gensigs (stype, gsig, mk_hash): each statement's generalized
  *     combinations, own-combo removed (the strictness/acyclicity rule of
  *     the batch build).
  *
  * A delta batch appends its rows behind first-wins-per-hash guards (each
  * guard reads only the shards the batch's OWN signatures map to, so a
  * replay heals without a full scan) and discovers new edges with two
  * pruned probes:
  *
  *   - batch gensigs vs stored actuals — the batch as DESC side;
  *   - batch actuals vs stored gensigs — the batch as ANC side;
  *
  * appending before probing makes batch-internal pairs fall out of either
  * probe. Probe volume is Σ over the batch's signatures of that
  * signature's corpus frequency — output-linear like the batch build
  * (every joined row IS an edge), but restricted to the delta.
  *
  * The returned edges feed [[IncrementalBelief.upsert]]'s `extraEdges`,
  * whose closure maintenance composes them with stored key-subset pairs
  * (ontology edges are where multi-hop composition genuinely arises).
  *
  * ONTOLOGY EVOLUTION: stored gensigs are computed against the ontology
  * current at append time, so a LATER isa/partof edge would silently
  * miss edges involving old statements. [[ontologyDelta]] closes that
  * gap without a rebuild: the index also keeps `o_keys` (each
  * statement's raw positional keys, hash-sharded), and an ontology delta
  * recomputes signatures for exactly the statements holding an affected
  * key (one filter-scan of the slim key table — ontology releases are
  * rare, and this replaces the corpus x corpus signature rebuild), then
  * appends the genuinely-new gensigs behind a row-level guard and
  * returns the edges they expose. Removal of ontology edges is NOT
  * supported (the store is append-only, like the refinement closure) —
  * a shrinking ontology needs a rebuild.
  */
object IncrementalOntologyEdges {

  import ShardedStore.{Shard, exists, inShards, refreshed, shardOf, shardsOf}

  private def sigShard(stype: Column, sig: Column, shards: Int): Column =
    pmod(xxhash64(stype, sig), lit(shards)).cast("int")

  /** Append the batch's signatures and return its NEW refinement edges
    * (desc, anc). Inputs as [[Refinement.ontologyRefinementEdges]]:
    * `stmts` (mk_hash, stype), `agents` (mk_hash, ag_num, db_name,
    * db_id), `ontology` (desc, anc) direct isa/partof edges. Output is
    * recomputed deterministically on a replay — downstream closure
    * appends ([[IncrementalBelief]]) dedupe against their stored pairs.
    */
  def upsert(
      spark: SparkSession, stmts: DataFrame, agents: DataFrame,
      ontology: DataFrame, db: String, shards: Int,
      ontologyClosure: Option[DataFrame] = None): DataFrame = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    // the ontology is a slowly-changing dimension: a per-batch caller (the
    // streaming path) precomputes its ancestor closure once per ontology
    // version instead of re-running the iterative closure per micro-batch
    val closure = ontologyClosure.getOrElse(
      Refinement.transitiveClosure(ontology.select(col("desc"), col("anc"))))
    val sigs = Refinement.signaturesWithClosure(stmts, agents, closure)
      .boundary()
    val act = sigs.select(col("mk_hash"), col("stype"), col("sig"))
      .withColumn(Shard, sigShard(col("stype"), col("sig"), shards))
      .boundary()
    val gen = sigs.select(col("mk_hash"), col("stype"),
        explode(array_remove(col("gensigs"), col("sig"))).as("gsig"))
      .withColumn(Shard, sigShard(col("stype"), col("gsig"), shards))
      .boundary()

    // guards: a hash's rows live at the shards its own signatures map to,
    // which the batch recomputes — presence checks read just those shards
    val newAct =
      if (!exists(spark, db, "o_sigs")) act
      else act.join(
        refreshed(spark, db, "o_sigs")
          .filter(inShards(col(Shard), shardsOf(act)))
          .select("mk_hash").distinct(),
        Seq("mk_hash"), "left_anti")
    ShardedStore.append(spark, db, "o_sigs", newAct, Seq(Shard))
    val newGen =
      if (!exists(spark, db, "o_gensigs")) gen
      else gen.join(
        refreshed(spark, db, "o_gensigs")
          .filter(inShards(col(Shard), shardsOf(gen)))
          .select("mk_hash").distinct(),
        Seq("mk_hash"), "left_anti")
    ShardedStore.append(spark, db, "o_gensigs", newGen, Seq(Shard))
    // raw positional keys, hash-sharded — the [[ontologyDelta]] input
    // (statement content is immutable, so first-wins-per-hash is exact)
    val keys = agents
      .select("mk_hash", "ag_num", "db_name", "db_id")
      .join(stmts.select("mk_hash", "stype").distinct(), "mk_hash")
      .withColumn(Shard, shardOf(col("mk_hash"), shards))
    val newKeys =
      if (!exists(spark, db, "o_keys")) keys
      else keys.join(
        refreshed(spark, db, "o_keys")
          .filter(inShards(col(Shard), shardsOf(keys)))
          .select("mk_hash").distinct(),
        Seq("mk_hash"), "left_anti")
    ShardedStore.append(spark, db, "o_keys", newKeys, Seq(Shard))

    // probes: batch-as-desc against stored actuals, batch-as-anc against
    // stored gensigs; both pruned to the batch's signature shards
    val descSide = refreshed(spark, db, "o_sigs")
      .filter(inShards(col(Shard), shardsOf(gen)))
      .select(col("stype"), col("sig").as("gsig"),
        col("mk_hash").as("anc"))
      .join(gen.select(col("stype"), col("gsig"),
        col("mk_hash").as("desc")), Seq("stype", "gsig"))
      .select("desc", "anc")
    val ancSide = refreshed(spark, db, "o_gensigs")
      .filter(inShards(col(Shard), shardsOf(act)))
      .select(col("stype"), col("gsig").as("sig"),
        col("mk_hash").as("desc"))
      .join(act.select(col("stype"), col("sig"),
        col("mk_hash").as("anc")), Seq("stype", "sig"))
      .select("desc", "anc")
    descSide.unionByName(ancSide)
      .filter(col("desc") =!= col("anc"))
      .distinct()
  }

  /** Apply an ONTOLOGY delta: `deltaEdges` are the newly added direct
    * isa/partof edges, `ontology` the FULL updated ontology (the delta's
    * new gensig combinations may mix a new ancestor at one position with
    * old ancestors at another, so recomputation needs the whole
    * dimension). Recomputes signatures for exactly the statements holding
    * an affected key, appends the genuinely-new gensigs (row-level guard:
    * an affected hash already has gensig rows, so first-wins-per-hash
    * would wrongly drop the additions), and returns every refinement edge
    * the affected statements' gensigs expose against stored actuals.
    *
    * Replay safety: the returned edges derive from the RECOMPUTED
    * signature set, not the guarded remainder — a replay whose crash fell
    * after the gensig append still returns the full edge set, and the
    * downstream closure maintenance ([[IncrementalBelief]]) dedupes
    * against its stored pairs. Callers must pass the updated `ontology`
    * to all subsequent [[upsert]] calls.
    */
  def ontologyDelta(
      spark: SparkSession, deltaEdges: DataFrame, ontology: DataFrame,
      db: String, shards: Int): DataFrame = {
    val none = deltaEdges.select(col("desc"), col("anc")).limit(0)
    if (!exists(spark, db, "o_keys")) return none
    // keys whose ancestor set grows: a new direct edge (D, A) extends
    // anc*(K) exactly for K = D and every K reaching D in the UPDATED
    // closure. The ontology is dimension-sized — the closure broadcasts.
    val descs = deltaEdges.select(col("desc").as("node")).distinct()
    val closure = Refinement.transitiveClosure(
      ontology.select(col("desc"), col("anc")))
    val affectedKeys = descs.select(col("node").as("key"))
      .unionByName(closure
        .join(descs, closure("anc") === descs("node"), "left_semi")
        .select(col("desc").as("key")))
      .distinct()
      .boundary()
    // one filter-scan of the slim key table finds the affected hashes;
    // their full positional rows then read shard-pruned
    val oKeys = refreshed(spark, db, "o_keys")
    val affHashes = oKeys
      .join(broadcast(affectedKeys),
        concat(col("db_name"), lit(":"), col("db_id")) === col("key"),
        "left_semi")
      .select("mk_hash").distinct()
      .withColumn(Shard, shardOf(col("mk_hash"), shards))
      .boundary()
    if (affHashes.isEmpty) return none
    val rows = oKeys.filter(inShards(col(Shard), shardsOf(affHashes)))
      .join(affHashes.select("mk_hash"), Seq("mk_hash"), "left_semi")
      .boundary()
    val sigs = Refinement.signatures(
      rows.select("mk_hash", "stype").distinct(),
      rows.select("mk_hash", "ag_num", "db_name", "db_id"),
      ontology).boundary()
    val gen = sigs.select(col("mk_hash"), col("stype"),
        explode(array_remove(col("gensigs"), col("sig"))).as("gsig"))
      .withColumn(Shard, sigShard(col("stype"), col("gsig"), shards))
      .boundary()
    val newGen = (if (!exists(spark, db, "o_gensigs")) gen
      else gen.join(
        refreshed(spark, db, "o_gensigs")
          .filter(inShards(col(Shard), shardsOf(gen)))
          .select("mk_hash", "stype", "gsig"),
        Seq("mk_hash", "stype", "gsig"), "left_anti"))
      .boundary() // materialize before appending to its source
    ShardedStore.append(spark, db, "o_gensigs", newGen, Seq(Shard))
    // edges from the affected statements' (re)computed gensigs — the
    // superset of what newGen alone would expose, so a replayed delta
    // re-returns edges a crashed run appended but never delivered
    refreshed(spark, db, "o_sigs")
      .filter(inShards(col(Shard), shardsOf(gen)))
      .select(col("stype"), col("sig").as("gsig"), col("mk_hash").as("anc"))
      .join(gen.select(col("stype"), col("gsig"), col("mk_hash").as("desc")),
        Seq("stype", "gsig"))
      .select("desc", "anc")
      .filter(col("desc") =!= col("anc"))
      .distinct()
  }

  def reset(spark: SparkSession, db: String): Unit =
    ShardedStore.reset(spark, db)
}
