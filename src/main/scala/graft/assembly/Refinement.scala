package graft.assembly

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.BlockScope.Boundary

/** Refinement graph operators.
  *
  * The reference enumerates candidate pairs per statement type in an O(n²)
  * process pool (export_assembly.py:759-784) and builds an nx.DiGraph with
  * a cycle check (:858-877). Spark re-expression:
  *
  *   - candidate generation is a blocked self-join: equality on the
  *     statement type plus a coarse agent-grounding block, so the quadratic
  *     work is confined to same-block groups (SURVEY §7.4.1);
  *   - the ontology-free predicate ("refines" = same type, strictly more
  *     agent keys, a superset of the other's) is [[refines]] over the
  *     sorted key sets of [[keysets]]; the batch edge build
  *     ([[Pipeline.refinementEdges]]) and the delta build
  *     ([[IncrementalBelief.upsert]]) both apply it;
  *   - transitive ancestors come from one path-doubling loop,
  *     [[transitiveClosure]], the engine's only closure loop. The key-subset
  *     relation is closed already (keys(a) ⊃ keys(b) ⊃ keys(c) implies
  *     keys(a) ⊃ keys(c)), so the loop is needed only where other
  *     predicates add edges: ontology walks, the ontology itself, and the
  *     delta segments of the incremental store.
  */
object Refinement {

  /** (mk_hash, stype, keys): each statement's agent keys ("NS:ID") as a
    * sorted set. Statements without agent rows drop out. */
  def keysets(stmts: DataFrame, agents: DataFrame): DataFrame =
    stmts.select("mk_hash", "stype").join(
      agents.groupBy("mk_hash").agg(
        array_sort(collect_set(
          concat(col("db_name"), lit(":"), col("db_id")))).as("keys")),
      "mk_hash")

  /** The key-subset refinement predicate on two key-set columns: the desc
    * side has strictly more keys and every anc key among them. Same-type
    * pairing is the caller's join. */
  def refines(descKeys: Column, ancKeys: Column): Column =
    size(descKeys) > size(ancKeys) &&
      size(array_except(ancKeys, descKeys)) === 0

  /** Candidate refinement pairs: same `blockCols` values, different hashes.
    * The caller applies the domain refinement predicate to the paired rows.
    */
  def candidatePairs(stmts: DataFrame, blockCols: Seq[String]): DataFrame = {
    val left = stmts.columns.foldLeft(stmts)((d, c) =>
      if (blockCols.contains(c)) d else d.withColumnRenamed(c, "a_" + c))
    val right = stmts.columns.foldLeft(stmts)((d, c) =>
      if (blockCols.contains(c)) d else d.withColumnRenamed(c, "b_" + c))
    left.join(right, blockCols).filter(col("a_mk_hash") =!= col("b_mk_hash"))
  }

  /** Ontology-aware refinement edges — the reference's Preassembler walk
    * (export_assembly.py:739-745 builds a SqliteOntology and delegates to
    * INDRA's `_generate_relation_tuples`, whose per-agent predicate accepts
    * an agent pair when the general side's entity is reachable from the
    * specific side's via isa/partof). Inputs:
    *
    *   - `uniq`:     (mk_hash, stype) unique statements;
    *   - `agents`:   (mk_hash, ag_num, db_name, db_id) grounded agent per
    *                 position (Preassembly.agentRows shape);
    *   - `ontology`: (desc, anc) DIRECT isa/partof edges over "NS:ID" keys.
    *
    * Returns (desc, anc) statement-hash pairs where desc refines anc: same
    * type, same agent positions, every position's general entity equal to —
    * or an ontology ancestor of — the specific one, and at least one
    * position strictly generalized.
    *
    * Spark re-expression: NOT a blocked self-join. Each statement emits its
    * GENERALIZED SIGNATURES — the cross product, over positions, of
    * {own key} ∪ ancestors(own key), minus the all-own combination — and
    * edges fall out of one equi-join of generalized signatures against
    * actual signatures on (stype, sig). Every joined row IS an edge, so the
    * join is output-linear: a hub ancestor fans out exactly as many rows as
    * there are true edges through it, never df² candidates. The expansion
    * cost is Π(1+depth) combos per statement — bounded by ontology depth,
    * linear in statements, and embarrassingly parallel map work.
    */
  /** Per-statement ontology signatures: (mk_hash, stype, sig, gensigs)
    * where `sig` is the actual positional signature
    * ("|0=NS:ID|1=NS:ID…" over positions sorted by ag_num) and `gensigs`
    * every generalized combination — the cross product, over positions,
    * of {own key} ∪ ontology-ancestors(own key). Shared by the batch edge
    * build and [[IncrementalOntologyEdges]]' persisted signature index;
    * both compare the two columns with the SAME fold shape, which is the
    * whole correctness argument of the signature join. */
  private[assembly] def signatures(
      uniq: DataFrame, agents: DataFrame, ontology: DataFrame): DataFrame =
    signaturesWithClosure(uniq, agents,
      transitiveClosure(ontology.select(col("desc"), col("anc"))))

  /** [[signatures]] with the ontology's ancestor closure already computed.
    * The closure is an iterative job (path doubling, one action per
    * round); per-batch callers ([[IncrementalOntologyEdges.upsert]] from a
    * stream) precompute it ONCE per ontology version instead of once per
    * micro-batch — the ontology is a slowly-changing dimension. */
  private[assembly] def signaturesWithClosure(
      uniq: DataFrame, agents: DataFrame, closure: DataFrame): DataFrame = {
    val keyed = agents.select(col("mk_hash"), col("ag_num"),
      concat(col("db_name"), lit(":"), col("db_id")).as("key"))
    // per position: the key itself plus every ontology ancestor of it
    val alts = keyed
      .join(broadcast(closure), keyed("key") === closure("desc"), "left")
      .groupBy("mk_hash", "ag_num", "key")
      .agg(collect_list(col("anc")).as("ancs"))
      .withColumn("alts",
        array_distinct(concat(array(col("key")), col("ancs"))))
    val perStmt = alts
      .groupBy("mk_hash")
      .agg(sort_array(collect_list(
        struct(col("ag_num"), col("key"), col("alts")))).as("pos"))
      .join(uniq.select("mk_hash", "stype"), "mk_hash")
    def tag(p: Column, k: Column) =
      concat(lit("|"), p.getField("ag_num").cast("string"), lit("="), k)
    perStmt
      .withColumn("sig",
        aggregate(col("pos"), lit(""),
          (acc, p) => concat(acc, tag(p, p.getField("key")))))
      .withColumn("gensigs",
        aggregate(col("pos"), array(lit("")),
          (acc, p) => flatten(transform(acc,
            a => transform(p.getField("alts"), x => concat(a, tag(p, x)))))))
      .select("mk_hash", "stype", "sig", "gensigs")
  }

  def ontologyRefinementEdges(
      uniq: DataFrame, agents: DataFrame, ontology: DataFrame): DataFrame = {
    // both join sides below read the signature table — the boundary stops
    // the (agents + ontology join + combo expansion) chain running twice
    val sigs = signatures(uniq, agents, ontology).boundary()
    val general = sigs.select(
      col("mk_hash").as("anc"), col("stype"), col("sig"))
    val specific = sigs.select(
      col("mk_hash").as("desc"), col("stype"),
      // dropping the all-own combo enforces ≥1 strictly generalized
      // position, which keeps the refinement graph acyclic
      explode(array_remove(col("gensigs"), col("sig"))).as("gsig"))
    specific.join(general,
        specific("gsig") === general("sig") &&
          specific("stype") === general("stype"))
      .filter(col("desc") =!= col("anc"))
      .select(col("desc"), col("anc"))
      .distinct()
  }

  /** Connected components over an undirected edge list (node, peer) — the
    * reference partitions statements into components before belief calc
    * (belief.py:171-193). Iterative min-label propagation: each round every
    * node adopts the smallest label among itself and its neighbors; rounds
    * are single equi-join shuffles, converging in O(component diameter).
    * Returns (node, component) with component = min node id reachable.
    */
  /** PageRank over a directed edge list — the iterative graph-centrality
    * companion to [[connectedComponents]] (e.g. ranking statements by
    * refinement in-flow, or corpus pages by link mass). Fixed `iters`
    * power iterations of the 1.0-per-node formulation:
    * pr' = (1 − d) + d · Σ_in pr/outdeg, dangling mass dropped (the
    * standard simplified variant).
    *
    * Engine-exact by the repo's quantization convention: ranks live in
    * integer MICRO-units; the per-edge contribution is integer division
    * pr div outdeg (floor — both engines), the damped update re-rounds to
    * micro after the one double multiply, and only integers ever
    * aggregate, so shuffle order cannot perturb ranks and a relational
    * oracle can replay every iteration verbatim.
    *
    * Scale shape: each iteration is one key join of the edge list with
    * the rank/degree tables plus one partial-aggregated groupBy on dst;
    * lineage is truncated per round (mandatory for any fixpoint on a real
    * cluster). Returns (node, pr) with pr in rank units (sums to ≤ N). */
  def pageRank(
      edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst")).boundary()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().boundary()
    val outd = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .boundary()
    val baseMicro = math.round((1 - damping) * 1e6)
    var pr = nodes.withColumn("pr", lit(1000000L))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(pr.withColumnRenamed("node", "src"), "src")
        .join(outd, "src")
        .select(col("dst").as("node"), expr("pr div deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      pr = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(baseMicro) +
            round(lit(damping) * coalesce(col("s"), lit(0L))).cast("long"))
            .as("pr"))
        .boundary()
    }
    pr.select(col("node"), (col("pr").cast("double") / 1e6).as("pr"))
  }

  /** Global triangle count of an undirected graph — the clustering /
    * cohesion metric (e.g. how clique-like the near-dup graph is).
    * Edges are canonicalized (u < v, distinct), then ORIENTED from the
    * lower (degree, node) endpoint to the higher — the classic trick
    * that bounds every node's out-degree by O(sqrt(|E|)), so the wedge
    * self-join's per-key fan-in stays small on power-law graphs where a
    * raw self-join on the hub node explodes. Each triangle is counted
    * exactly once (its orientation is acyclic). Two key joins + one
    * count; all integers. Returns one row: (n_triangles). */
  def triangleCount(edges: DataFrame): DataFrame = {
    val canon = edges
      .select(least(col("node"), col("peer")).as("u"),
        greatest(col("node"), col("peer")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .boundary()
    val deg = canon.select(col("u").as("n"))
      .unionByName(canon.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val oriented = canon
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .boundary()
    oriented.as("e1")
      .join(oriented.as("e2"), col("e1.dst") === col("e2.src"))
      .join(oriented.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Unweighted shortest-hop distances from a source set over an
    * undirected edge list — frontier-expansion BFS, the level-synchronous
    * shape every distributed graph engine uses: each round joins ONLY the
    * current frontier against the adjacency (not the whole visited set),
    * anti-joins out already-visited nodes, and truncates lineage; the
    * loop stops at the first empty frontier (≤ graph diameter rounds,
    * one cheap isEmpty action each). Unreachable nodes are absent.
    * Returns (node, dist). */
  def bfsLevels(
      edges: DataFrame, sources: DataFrame, maxIter: Int = 30): DataFrame = {
    val sym = edges.select(col("node"), col("peer"))
      .union(edges.select(col("peer").as("node"), col("node").as("peer")))
      .distinct().boundary()
    var dist = sources.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).boundary()
    var frontier = dist.select("node")
    var i = 0L
    var done = false
    while (!done && i < maxIter) {
      i += 1
      val next = sym.join(frontier, "node")
        .select(col("peer").as("node")).distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(i))
        .boundary()
      if (next.isEmpty) done = true
      else {
        dist = dist.unionByName(next).boundary()
        frontier = next.select("node")
      }
    }
    dist
  }

  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val sym = edges.select(col("node"), col("peer"))
      .union(edges.select(col("peer").as("node"), col("node").as("peer")))
      .distinct()
      .boundary(eager = true).toDF("node", "peer")
    // seed each label with min(self, neighbors) — the first propagation
    // round folded into initialization for the cost of the node-distinct
    // aggregation the init paid anyway. Clique-shaped clusters (the common
    // near-dup case) then converge in ONE confirming round instead of a
    // change round plus a confirming round; the invariant (labels are
    // monotonically decreasing upper bounds of the final min-reachable
    // component) is unchanged, so the fixpoint is identical.
    var labels = sym.groupBy("node")
      .agg(least(col("node"), min(col("peer"))).as("component"))
      .boundary(eager = true).toDF("node", "component")
    var i = 0
    while (i < maxIter) {
      val next = sym.as("e")
        .join(labels.as("l"), col("e.peer") === col("l.node"))
        .select(col("e.node").as("node"), col("l.component").as("component"))
        .union(labels)
        .groupBy("node")
        .agg(min("component").as("component"))
        .boundary(eager = true).toDF("node", "component")
      val changed = next.as("n")
        .join(labels.as("o"), col("n.node") === col("o.node"))
        .filter(col("n.component") =!= col("o.component"))
        .limit(1).count() > 0
      labels = next
      if (!changed) return labels
      i += 1
    }
    sys.error(s"connected components did not converge in $maxIter rounds")
  }

  private val MaxClosureRounds = 20

  /** Transitive closure of a DAG given as (desc, anc) direct edges.
    * Returns all (desc, anc) pairs with a path desc -> anc. Fails on cycles
    * (mirrors the reference's cycle check, export_assembly.py:858-877).
    *
    * Path doubling: each round self-joins the accumulated closure, so a
    * depth-D DAG converges in ceil(log2 D) rounds — each one equi-join
    * shuffle — instead of D frontier rounds; 20 rounds cover any depth up
    * to 2^20.
    */
  def transitiveClosure(edges: DataFrame): DataFrame = {
    // boundary (not cache): iterative plans must truncate lineage or
    // Catalyst re-analyzes an exponentially growing logical plan each round.
    def fresh(df: DataFrame): DataFrame =
      df.boundary(eager = true).toDF("desc", "anc") // new attr ids for self-joins
    var acc = fresh(edges.select(col("desc"), col("anc")).distinct())
    var i = 0
    while (i < MaxClosureRounds) {
      val next = fresh(acc.as("l")
        .join(acc.as("r"), col("l.anc") === col("r.desc"))
        .select(col("l.desc").as("desc"), col("r.anc").as("anc"))
        .distinct()
        .join(acc, Seq("desc", "anc"), "left_anti"))
      if (next.isEmpty) {
        if (acc.filter(col("desc") === col("anc")).limit(1).count() > 0)
          sys.error("refinement graph contains a cycle")
        return acc
      }
      acc = fresh(acc.union(next))
      i += 1
    }
    sys.error(s"transitive closure did not converge in $MaxClosureRounds rounds (cycle?)")
  }
}
