package graft.assembly

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Belief scoring: probability a statement is correct given its per-source
  * evidence counts — the reference's BeliefEngine prior
  * (indra/belief SimpleScorer, wrapped at export_assembly.py:613-735):
  *
  *   belief = 1 - ∏_sources (p_syst(s) + p_rand(s)^n_s)
  *
  * (3 reach evidences with defaults 0.05/0.3 give 1-(0.05+0.027) = 0.923,
  * the golden value in tests/test_readonly_pipeline.py:34.)
  *
  * Computed columnar over the src_json MapType column — the reference's
  * "mock statement" trick (belief.py:27-65) taken to its native conclusion:
  * no statement objects, just an aggregate expression. Powers are computed
  * by sequential multiplication (not libm pow), and the source product folds
  * in sorted-source order, so results are bit-deterministic and
  * engine-portable.
  */
object Belief {

  /** Default error rates plus optional per-source overrides — the shape of
    * the reference's prior_probs dict (per-source rand/syst in INDRA's
    * BeliefEngine; the HybridScorer wrapper supplies source-specific
    * values). */
  final case class Params(
      randError: Double = 0.3,
      systError: Double = 0.05,
      perSource: Map[String, (Double, Double)] = Map.empty) {
    def rand(src: String): Double = perSource.get(src).map(_._1).getOrElse(randError)
    def syst(src: String): Double = perSource.get(src).map(_._2).getOrElse(systError)
  }

  /** Per-source term (syst_s + rand_s^n) with the power unrolled as a
    * fold; per-source parameters select via a when-chain (codegen'd). */
  private def term(src: Column, cnt: Column, p: Params): Column = {
    val rand = p.perSource.foldRight(lit(p.randError)) {
      case ((s, (r, _)), acc) => when(src === s, lit(r)).otherwise(acc)
    }
    val syst = p.perSource.foldRight(lit(p.systError)) {
      case ((s, (_, sy)), acc) => when(src === s, lit(sy)).otherwise(acc)
    }
    syst + aggregate(sequence(lit(1), cnt.cast("int")), lit(1.0),
      (acc, _) => acc * rand)
  }

  /** Belief from a src_json map column. Entries fold in sorted-key order. */
  def beliefFromSrcJson(srcJson: Column, p: Params = Params()): Column =
    lit(1.0) - aggregate(
      array_sort(map_entries(srcJson)),
      lit(1.0),
      (acc, e) => acc * term(e.getField("key"), e.getField("value"), p))

  /** Attach a `belief` column to a DataFrame bearing src_json. */
  def score(df: DataFrame, p: Params = Params()): DataFrame =
    df.withColumn("belief", beliefFromSrcJson(col("src_json"), p))

  /** Belief with refinement: each statement is scored on its own counts
    * plus those of all statements refining it (more-specific ancestors in
    * the refinement DAG — calculate_belief, export_assembly.py:680-702).
    *
    * `srcCounts`: (mk_hash, src_json); `closure`: any transitively closed
    * set of (desc, anc) pairs where desc refines anc — the output of
    * [[Refinement.transitiveClosure]], or [[Pipeline.refinementEdges]]'
    * key-subset edges, which are closed as they come.
    */
  def scoreWithRefinements(
      srcCounts: DataFrame,
      closure: DataFrame,
      p: Params = Params()): DataFrame = {
    val exploded = srcCounts.select(col("mk_hash"),
      explode(col("src_json")).as(Seq("src", "cnt")))
    // contributions: own counts (mk_hash -> itself) + refining descendants
    val contrib = closure.select(col("anc").as("mk_hash"), col("desc"))
      .union(srcCounts.select(col("mk_hash"), col("mk_hash").as("desc")))
      .join(exploded.withColumnRenamed("mk_hash", "desc"), "desc")
      .groupBy("mk_hash", "src")
      .agg(sum("cnt").as("cnt"))
    contrib
      .groupBy("mk_hash")
      .agg(map_from_entries(collect_list(struct(col("src"), col("cnt"))))
        .as("src_json"))
      .withColumn("belief", beliefFromSrcJson(col("src_json"), p))
  }
}
