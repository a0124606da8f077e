package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.assembly.{Belief, IncrementalBelief, Pipeline, Refinement}

/** Incremental refinement + belief maintenance against the batch oracle:
  * the delta-maintained store must serve, after any sequence of batches
  * (new statements, counts-only evidence, extra multi-hop edges, crash
  * replays), exactly the closure and belief a from-scratch
  * refinementEdges -> transitiveClosure -> scoreWithRefinements run over
  * the union world produces. */
class IncrementalBeliefSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("inc-belief-test")

  private def stmtsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("mk_hash", "stype")
  }
  private def agentsDf(rows: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    rows.flatMap { case (h, ks) => ks.map(k => (h, "NAME", k)) }
      .toDF("mk_hash", "db_name", "db_id")
  }
  private def countsDf(rows: Seq[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("mk_hash", "src", "cnt")
  }
  private def emptyStmts = stmtsDf(Seq.empty)
  private def emptyAgents = agentsDf(Seq.empty)

  private def batchOracle(
      stmts: Seq[(Long, String)], agents: Seq[(Long, Seq[String])],
      counts: Seq[(Long, String, Long)],
      extraEdges: Seq[(Long, Long)] = Seq.empty)
      : (Set[(Long, Long)], Map[Long, Double]) = {
    import spark.implicits._
    val edges = Pipeline.refinementEdges(stmtsDf(stmts), agentsDf(agents))
    val all = if (extraEdges.isEmpty) edges
      else edges.unionByName(extraEdges.toDF("desc", "anc")).distinct()
    val closure = Refinement.transitiveClosure(all)
    val srcCounts = countsDf(counts)
      .groupBy("mk_hash", "src").agg(sum("cnt").as("cnt"))
      .groupBy("mk_hash")
      .agg(map_from_entries(collect_list(struct(col("src"), col("cnt"))))
        .as("src_json"))
    val belief = Belief.scoreWithRefinements(srcCounts, closure)
    (closure.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      belief.collect().map(r =>
        r.getAs[Long]("mk_hash") -> r.getAs[Double]("belief")).toMap)
  }

  private def storeClosure(db: String): Set[(Long, Long)] =
    IncrementalBelief.closure(spark, db).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  private def storeBelief(db: String): Map[Long, Double] =
    IncrementalBelief.belief(spark, db).collect()
      .map(r => r.getAs[Long]("mk_hash") -> r.getAs[Double]("belief")).toMap

  // planted world: key-subset DAG over NAME keys, type "t"
  //   h1 {K1}           h4 {K2}        h6 {K2}   (h4/h6 equal-size: no edge)
  //   h2 {K1,K2}        -> refines 1, 4, 6
  //   h3 {K1,K2,K3}     -> refines 1, 2, 4, 6
  //   h5 {K9}           isolated
  val b0s = Seq(1L -> "t", 4L -> "t", 5L -> "t")
  val b0a = Seq(1L -> Seq("K1"), 4L -> Seq("K2"), 5L -> Seq("K9"))
  val b0c = Seq((1L, "reach", 2L), (4L, "signor", 1L), (5L, "reach", 1L))
  val b1s = Seq(2L -> "t")
  val b1a = Seq(2L -> Seq("K1", "K2"))
  val b1c = Seq((2L, "reach", 1L))
  val b2s = Seq(3L -> "t", 6L -> "t")
  val b2a = Seq(3L -> Seq("K1", "K2", "K3"), 6L -> Seq("K2"))
  val b2c = Seq((3L, "medscan", 1L), (6L, "reach", 3L))
  // batch 3: counts-only (new evidence on existing h3; no statement rows)
  val b3c = Seq((3L, "medscan", 2L), (3L, "reach", 1L))

  val allS = b0s ++ b1s ++ b2s
  val allA = b0a ++ b1a ++ b2a

  test("delta batches converge to the batch rebuild (closure + belief)") {
    val db = "graft_ib_spec1"
    IncrementalBelief.reset(spark, db)
    IncrementalBelief.init(spark, stmtsDf(b0s), agentsDf(b0a),
      countsDf(b0c), db, shards = 4)

    // new desc over old ancs
    val r1 = IncrementalBelief.upsert(spark, stmtsDf(b1s), agentsDf(b1a),
      countsDf(b1c), db, shards = 4, batchId = 1L)
    val (c1, bel1) = batchOracle(b0s ++ b1s, b0a ++ b1a, b0c ++ b1c)
    assert(storeClosure(db) == c1)          // {2->1, 2->4}
    assert(storeBelief(db) == bel1)
    // the affected frame returned must cover the shifted ancestors
    val aff1 = r1.collect().map(_.getAs[Long]("mk_hash")).toSet
    assert(Set(1L, 2L, 4L).subsetOf(aff1))

    // deeper desc + a NEW anc refined by OLD descs (h6 under h2, h3)
    IncrementalBelief.upsert(spark, stmtsDf(b2s), agentsDf(b2a),
      countsDf(b2c), db, shards = 4, batchId = 2L)
    val (c2, bel2) = batchOracle(allS, allA, b0c ++ b1c ++ b2c)
    assert(c2.contains((2L, 6L)) && c2.contains((3L, 6L)))
    assert(storeClosure(db) == c2)
    assert(storeBelief(db) == bel2)

    // counts-only delta: h3's new evidence lifts every ancestor's belief
    val r3 = IncrementalBelief.upsert(spark, emptyStmts, emptyAgents,
      countsDf(b3c), db, shards = 4, batchId = 3L)
    val (c3, bel3) = batchOracle(allS, allA, b0c ++ b1c ++ b2c ++ b3c)
    assert(storeClosure(db) == c3)
    assert(storeBelief(db) == bel3)
    val aff3 = r3.collect().map(_.getAs[Long]("mk_hash")).toSet
    assert(aff3 == Set(1L, 2L, 3L, 4L, 6L)) // h5 untouched
    assert(bel3(5L) == bel2(5L))
  }

  test("replayed batches heal instead of duplicating") {
    val db = "graft_ib_spec2"
    IncrementalBelief.reset(spark, db)
    IncrementalBelief.init(spark, stmtsDf(b0s), agentsDf(b0a),
      countsDf(b0c), db, shards = 4)
    IncrementalBelief.upsert(spark, stmtsDf(b1s), agentsDf(b1a),
      countsDf(b1c), db, shards = 4, batchId = 1L)
    // at-least-once delivery: same batch again, same batchId
    IncrementalBelief.upsert(spark, stmtsDf(b1s), agentsDf(b1a),
      countsDf(b1c), db, shards = 4, batchId = 1L)
    val (c1, bel1) = batchOracle(b0s ++ b1s, b0a ++ b1a, b0c ++ b1c)
    assert(storeClosure(db) == c1)
    assert(storeBelief(db) == bel1)
    // principal stores carry no duplicates
    def rows(t: String) = spark.table(s"$db.$t").count()
    assert(rows("s_keysets") == 4)
    assert(rows("s_keys") == 5)
    assert(rows("c_by_anc") == rows("c_by_desc"))
  }

  test("replay heals a crash between the closure appends (desc copy)") {
    import spark.implicits._
    val db = "graft_ib_spec4"
    IncrementalBelief.reset(spark, db)
    // key-disjoint world: every edge arrives via extraEdges, and the delta
    // batch carries OLD->OLD edges only (neither endpoint in the batch's
    // own hashes) — the worst case for replay re-derivation
    val s = Seq(10L -> "t", 20L -> "t", 30L -> "t")
    val a = Seq(10L -> Seq("XA"), 20L -> Seq("XB"), 30L -> Seq("XC"))
    val c = Seq((10L, "reach", 1L), (20L, "reach", 1L), (30L, "reach", 1L))
    IncrementalBelief.init(spark, stmtsDf(s), agentsDf(a), countsDf(c),
      db, shards = 4)
    val aggBefore = spark.table(s"$db.s_agg").collect().toSeq
    val aggSchema = spark.table(s"$db.s_agg").schema
    val descSchema = spark.table(s"$db.c_by_desc").schema
    def replay() = IncrementalBelief.upsert(spark, emptyStmts, emptyAgents,
      countsDf(Seq.empty), db, shards = 4, batchId = 1L,
      extraEdges = Some(Seq((10L, 20L), (20L, 30L)).toDF("desc", "anc")))
    replay()
    // simulate the crash window: c_by_anc landed, but the c_by_desc append
    // and the s_agg overwrite never ran — rewind both to pre-batch state
    def rewind(table: String, rows: Seq[org.apache.spark.sql.Row],
        schema: org.apache.spark.sql.types.StructType): Unit = {
      spark.sql(s"DROP TABLE $db.$table")
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
        .write.partitionBy("shard").format("parquet")
        .saveAsTable(s"$db.$table")
    }
    rewind("c_by_desc", Seq.empty, descSchema)
    rewind("s_agg", aggBefore, aggSchema)
    // the at-least-once replay sees an empty deltaClosure (pairs already
    // in c_by_anc); per-table guards must still heal c_by_desc and the
    // affected-set must still re-derive the stale s_agg ancestors
    replay()
    val expected = Set((10L, 20L), (20L, 30L), (10L, 30L))
    assert(storeClosure(db) == expected)
    def pairs(t: String) = spark.table(s"$db.$t").select("desc", "anc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs("c_by_desc") == pairs("c_by_anc"),
      "forward/reverse closure copies desynced after crash replay")
    val (_, bel) = batchOracle(s, a, c, Seq((10L, 20L), (20L, 30L)))
    assert(storeBelief(db) == bel,
      "s_agg stale after crash replay (affected set missed old->old ancs)")
    // a further clean replay is a no-op
    replay()
    assert(pairs("c_by_anc").size == 3 && pairs("c_by_desc").size == 3)
    assert(storeBelief(db) == bel)
  }

  test("crash at the FIRST c_by_desc write heals (table never created)") {
    import graft.assembly.StoreFaults
    val db = "graft_ib_spec5"
    IncrementalBelief.reset(spark, db)
    // first-ever batch WITH closure pairs; write order is s_keysets,
    // s_keys, s_counts, c_by_anc, c_by_desc, s_agg — crash exactly at
    // the c_by_desc boundary, so that table is never created at all
    def run() = IncrementalBelief.init(spark, stmtsDf(b0s ++ b1s),
      agentsDf(b0a ++ b1a), countsDf(b0c ++ b1c), db, shards = 4)
    StoreFaults.armCrashAt(5)
    try intercept[StoreFaults.InjectedCrash](run())
    finally StoreFaults.disarm()
    assert(spark.catalog.tableExists(s"$db.c_by_anc"))
    assert(!spark.catalog.tableExists(s"$db.c_by_desc"),
      "test setup: the crash must precede c_by_desc creation")
    // the replay must read the missing pair copy as empty and heal —
    // not fail on TABLE_NOT_FOUND (the soak found this window)
    run()
    val (c1, bel1) = batchOracle(b0s ++ b1s, b0a ++ b1a, b0c ++ b1c)
    assert(storeClosure(db) == c1)
    assert(storeBelief(db) == bel1)
    def pairs(t: String) = spark.table(s"$db.$t").select("desc", "anc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs("c_by_desc") == pairs("c_by_anc"))
  }

  test("an extra edge that closes a cycle fails the batch before any closure pair lands") {
    import spark.implicits._
    val db = "graft_ib_spec6"
    IncrementalBelief.reset(spark, db)
    val s = Seq(10L -> "t", 20L -> "t", 30L -> "t")
    val a = Seq(10L -> Seq("XA"), 20L -> Seq("XB"), 30L -> Seq("XC"))
    val c = Seq((10L, "reach", 1L), (20L, "reach", 1L), (30L, "reach", 1L))
    IncrementalBelief.init(spark, stmtsDf(s), agentsDf(a), countsDf(c),
      db, shards = 4)
    def upsert(batchId: Long, edges: (Long, Long)*) =
      IncrementalBelief.upsert(spark, emptyStmts, emptyAgents,
        countsDf(Seq.empty), db, shards = 4, batchId = batchId,
        extraEdges = Some(edges.toDF("desc", "anc")))
    upsert(1L, 10L -> 20L, 20L -> 30L)
    val stored = storeClosure(db)
    assert(stored == Set((10L, 20L), (20L, 30L), (10L, 30L)))
    // 30 -> 10 closes 10 -> 20 -> 30 -> 10 through the stored pairs
    val e = intercept[RuntimeException](upsert(2L, 30L -> 10L))
    assert(e.getMessage.contains("cycle"), e.getMessage)
    assert(storeClosure(db) == stored)
    assert(spark.table(s"$db.c_by_desc").count() == stored.size)
  }

  test("extra edges compose with stored closure across batches") {
    import spark.implicits._
    val db = "graft_ib_spec3"
    IncrementalBelief.reset(spark, db)
    // three key-disjoint statements: no key-subset edges at all
    val s = Seq(10L -> "t", 20L -> "t", 30L -> "t")
    val a = Seq(10L -> Seq("XA"), 20L -> Seq("XB"), 30L -> Seq("XC"))
    val c = Seq((10L, "reach", 1L), (20L, "reach", 1L), (30L, "reach", 1L))
    IncrementalBelief.init(spark, stmtsDf(s), agentsDf(a), countsDf(c),
      db, shards = 4)
    // batch 1 inserts 10 -> 20; batch 2 inserts 20 -> 30: the closure must
    // bridge the OLD stored pair with the new edge into 10 -> 30
    IncrementalBelief.upsert(spark, emptyStmts, emptyAgents,
      countsDf(Seq.empty), db, shards = 4, batchId = 1L,
      extraEdges = Some(Seq((10L, 20L)).toDF("desc", "anc")))
    IncrementalBelief.upsert(spark, emptyStmts, emptyAgents,
      countsDf(Seq.empty), db, shards = 4, batchId = 2L,
      extraEdges = Some(Seq((20L, 30L)).toDF("desc", "anc")))
    assert(storeClosure(db) == Set((10L, 20L), (20L, 30L), (10L, 30L)))
    val (_, bel) = batchOracle(s, a, c, Seq((10L, 20L), (20L, 30L)))
    assert(storeBelief(db) == bel)
    // 30's belief aggregates all three statements' evidence
    assert(storeBelief(db)(30L) > storeBelief(db)(10L))
  }
}
