package graft.querydsl

import org.apache.spark.sql.DataFrame
import graft.core.BlockScope

/** The assembled readonly layer the query DSL compiles against — the Spark
  * analog of the reference's denormalized readonly schema
  * (readonly_schema.py:98-171). All tables are keyed by `mk_hash`; meta
  * tables carry the sorting columns (`belief`, `ev_count`, `agent_count`)
  * and grouping columns (`type_num`) on every row (readonly_schema.py:139-157).
  *
  * At scale these are Parquet tables bucketed by `mk_hash` (the reference's
  * btree-indexed Postgres tables, SURVEY.md §4.2), so the semi/anti joins the
  * compiler emits co-locate without a shuffle of the big side.
  *
  * Schemas:
  *   - nameMeta / textMeta:  mk_hash L, ag_num I, db_id S, role_num I,
  *     type_num I, ev_count L, belief D, agent_count L
  *   - otherMeta: same + db_name S
  *   - sourceMeta: mk_hash L, ev_count L, belief D, type_num I,
  *     agent_count L, num_srcs I, only_src S?, has_rd B, has_db B,
  *     src_json Map[S,L]   (MapType instead of the reference's dynamic
  *     pivot columns — SURVEY.md §1.4 "dynamic source columns")
  *   - meshTermMeta / meshConceptMeta: mk_hash L, mesh_num L, ref_count L,
  *     type_num I, ev_count L, belief D, agent_count L
  *   - fastRawPaLink: sid L, mk_hash L, src S, rid L
  *   - rawStmtMesh: sid L, mesh_num L, is_concept I (raw_stmt_mesh_terms/
  *     concepts, readonly_schema.py:683-757; drives evidence-level mesh
  *     filters)
  *   - readingRefLink: rid L, pmid L (plus trid/tcid when present)
  *   - agentInteractions: mk_hash L, agent_str S (canonical sorted
  *     "ag_num:db_id" list), type_num I, ev_count L, belief D, agent_count L
  */
final case class ReadonlyTables(
    nameMeta: DataFrame,
    textMeta: DataFrame,
    otherMeta: DataFrame,
    sourceMeta: DataFrame,
    meshTermMeta: DataFrame,
    meshConceptMeta: DataFrame,
    fastRawPaLink: DataFrame,
    rawStmtMesh: DataFrame,
    readingRefLink: DataFrame,
    agentInteractions: DataFrame,
    /** normalized agent rows (pa_agents): mk_hash L, ag_num I, db_name S,
      * db_id S, role_num I — drives complex pair expansion on demand */
    paAgents: DataFrame,
) {
  def persistAll(): ReadonlyTables = {
    productIterator.foreach { case df: DataFrame => df.persist() }
    this
  }

  /** Persist AND materialize every table NOW. Every table is persisted
    * first, so a table built over another (agentInteractions over
    * sourceMeta) reads its cache; then the tables are counted
    * concurrently, one `BlockScope.fork` thread each, under the caller's
    * job group. Benchmarks must call this before their timed loop: a
    * lazily-materializing shared cache bills its whole build to whichever
    * query touches it first, which made round-over-round per-query deltas
    * unattributable. */
  def materializeAll(): ReadonlyTables = {
    persistAll()
    BlockScope.fork(nameMeta.sparkSession,
      productIterator.collect { case df: DataFrame => () => df.count() }.toSeq)
    this
  }
}
