package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.assembly.{Belief, Distill, Preassembly, Refinement}
import graft.sources.Tables
import graft.core.BlockScope.Boundary

/** Assembly-pipeline operators through the gate: reading distillation
  * (two-window priority), preassembly (statement JSON parse -> canonical
  * matches-key -> 64-bit hash -> dedup -> source counts), belief scoring,
  * and refinement transitive closure. The DuckDB oracles recompute the
  * same semantics relationally — including the MD5-prefix hash, folded
  * from hex digits into a signed BIGINT.
  */
object AssemblyQueries extends QueryPack {

  /** DuckDB replica of StableHash64 given a VARCHAR expression: use in two
    * stages (compute `u`, then sign-adjust). */
  private def duckHashU(e: String) =
    s"""list_reduce(list_prepend(CAST(0 AS HUGEINT),
        list_transform(string_split(substr(md5($e), 1, 16), ''),
          c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c) - 48
                         ELSE ascii(c) - 87 END AS HUGEINT))),
        (a, b) -> a * 16 + b)"""

  private val SIGN_ADJUST =
    """CAST(u - CASE WHEN u > CAST(9223372036854775807 AS HUGEINT)
        THEN CAST(18446744073709551616 AS HUGEINT)
        ELSE CAST(0 AS HUGEINT) END AS BIGINT)"""

  /** One-time base-store builds for q_belief_incremental, per
    * (session, dir) — see the gate's comment. */
  private val beliefInitDone =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  def defs: Map[String, QueryDef] = Map(

    // shared batch/stream transform (Streams.hourlyRollup): the same plan
    // runs under readStream in StreamingSpec
    "q_stream_rollup" -> QueryDef(
      (s, dir) => graft.streaming.Streams.hourlyRollup(Tables.events(s, dir)),
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
              event_type, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1, 2"""),
    ),

    // gap-based sessionization (lag -> running-sum session ids -> per-
    // session rollup); the streaming twin uses flatMapGroupsWithState
    "q_events_sessions" -> QueryDef(
      (s, dir) => graft.streaming.Streams.sessionize(Tables.events(s, dir), 30),
      Some("""WITH marked AS (
          SELECT user_id, event_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        numbered AS (
          SELECT user_id, ts,
            SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM marked)
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
          COUNT(*) AS n_events,
          CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
        FROM numbered GROUP BY 1, 2"""),
    ),

    // ordered conversion funnel: first view, first click strictly after
    // it, first purchase strictly after that — per-step reached-user
    // counts, the oracle replaying each stage as a min-after join
    "q_events_funnel" -> QueryDef(
      (s, dir) => graft.streaming.Streams.eventFunnel(
        Tables.events(s, dir), Seq("view", "click", "purchase")),
      Some("""WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
          WHERE event_type = 'view' GROUP BY 1),
        s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          JOIN s0 ON s0.user_id = e.user_id AND e.ts > s0.t
          WHERE e.event_type = 'click' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t
          WHERE e.event_type = 'purchase' GROUP BY 1)
        SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
          (SELECT CAST(count(*) AS BIGINT) FROM s0) AS n_users
        UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)"""),
    ),

    // cohort retention triangle: first-active-date cohorts counted on
    // each later active day
    "q_events_retention" -> QueryDef(
      (s, dir) => graft.streaming.Streams.retentionCohorts(
        Tables.events(s, dir)),
      Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          FROM events),
        firstd AS (SELECT user_id, min(day) AS cohort FROM days GROUP BY 1)
        SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
          CAST(date_diff('day', f.cohort, d.day) AS BIGINT) AS day_offset,
          CAST(count(*) AS BIGINT) AS n_users
        FROM days d JOIN firstd f ON f.user_id = d.user_id
        GROUP BY f.cohort, date_diff('day', f.cohort, d.day)"""),
    ),

    // last-touch attribution: purchases credited to the nearest earlier
    // non-purchase event of the same user (window replayed verbatim)
    "q_events_attribution" -> QueryDef(
      (s, dir) => graft.streaming.Streams.lastTouchAttribution(
        Tables.events(s, dir), "purchase"),
      Some("""WITH t AS (SELECT user_id, event_id, ts, event_type,
          last_value(CASE WHEN event_type <> 'purchase'
              THEN event_type END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS last_touch
          FROM events)
        SELECT coalesce(last_touch, 'none') AS touch_type,
          CAST(count(*) AS BIGINT) AS n_conversions
        FROM t WHERE event_type = 'purchase' GROUP BY 1"""),
    ),

    // window-function variety: lag delta, ntile quartile, dense_rank
    "q_window_variety" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        Tables.table(s, dir, "orders")
          .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
          .withColumn("delta",
            (col("o_totalprice") - coalesce(col("prev_price"), lit(0.0))))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .withColumn("rnk", dense_rank().over(w).cast("long"))
          .select(col("o_orderkey"), col("o_custkey"), col("delta"),
            col("quartile"), col("rnk"))
      },
      Some("""SELECT o_orderkey, o_custkey,
            o_totalprice - COALESCE(lag(o_totalprice) OVER w, 0.0) AS delta,
            CAST(ntile(4) OVER w AS BIGINT) AS quartile,
            CAST(dense_rank() OVER w AS BIGINT) AS rnk
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)"""),
    ),

    "q_distill" -> QueryDef(
      (s, dir) => {
        val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long")
        val readings = Tables.events(s, dir).select(
          col("event_id").as("rid"),
          col("user_id").as("trid"),
          col("event_type").as("reader"),
          col("value").as("reader_version"),
          concat(lit("s"), (k % 3).cast("string")).as("source"),
          when(k % 2 === 0, "fulltext").otherwise("abstract").as("text_type"))
        val prio = Seq(("fulltext", "s0"), ("fulltext", "s1"), ("fulltext", "s2"),
          ("abstract", "s0"), ("abstract", "s1"), ("abstract", "s2"))
        Distill.distill(readings, prio).select("rid", "trid", "reader")
      },
      Some("""WITH r AS (
          SELECT event_id AS rid, user_id AS trid, event_type AS reader,
            value AS ver,
            's' || CAST(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 3 AS VARCHAR) AS source,
            CASE WHEN CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 2 = 0
                 THEN 'fulltext' ELSE 'abstract' END AS text_type
          FROM events),
        w1 AS (SELECT * FROM (
            SELECT r.*, ROW_NUMBER() OVER (
              PARTITION BY trid, reader, source, text_type
              ORDER BY ver DESC, rid DESC) AS rn FROM r)
          WHERE rn = 1),
        w2 AS (SELECT *, CASE text_type || '/' || source
            WHEN 'fulltext/s0' THEN 0 WHEN 'fulltext/s1' THEN 1
            WHEN 'fulltext/s2' THEN 2 WHEN 'abstract/s0' THEN 3
            WHEN 'abstract/s1' THEN 4 ELSE 5 END AS prio FROM w1)
        SELECT rid, trid, reader FROM (
          SELECT *, MIN(prio) OVER (PARTITION BY trid, reader) AS bp FROM w2)
        WHERE prio = bp"""),
    ),

    // the reference's principal-statistics dump (cli/dump.py:376-415):
    // per (source, text_type, reader, reader_version, statement type),
    // distinct content/reading/raw/preassembled counts over the
    // principal left-join chain — one partial-aggregated groupBy here
    "q_principal_stats" -> QueryDef(
      (s, dir) => {
        // three fixture branches share the events scan + k-regexp:
        // materialize the slim keyed projection once (parallelized so it
        // is not a one-task stage) or each of principalStats' three join
        // legs re-runs the scan + regexp over the whole table (guide §3.3)
        val k0 = regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long")
        val ev = Tables.parallelized(Tables.events(s, dir))
          .select(col("event_id"), col("event_type"), col("value"),
            k0.as("_k"))
          .boundary()
        val k = col("_k")
        val readings = ev.select(
          col("event_id").as("rid"),
          floor(col("event_id") / 7).cast("long").as("tcid"),
          col("event_type").as("reader"),
          floor(col("value")).cast("long").as("reader_version"),
          concat(lit("s"), (k % 3).cast("string")).as("source"),
          when(k % 2 === 0, "fulltext").otherwise("abstract")
            .as("text_type"))
        val raw = ev.filter(k % 5 =!= 0).select(
          col("event_id").as("sid"), col("event_id").as("rid"),
          concat(lit("T"), (k % 4).cast("string")).as("stype"))
        val pa = raw.filter(col("sid") % 3 =!= 1)
          .select(col("sid"), (col("sid") % 997).as("mk_hash"))
        graft.assembly.DumpRegistry.principalStats(readings, raw, pa)
      },
      Some("""WITH ke AS (SELECT event_id, event_type, value,
            CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
          FROM events),
        r AS (SELECT event_id AS rid,
            CAST(floor(event_id / 7) AS BIGINT) AS tcid,
            event_type AS reader,
            CAST(floor(value) AS BIGINT) AS reader_version,
            's' || CAST(k % 3 AS VARCHAR) AS source,
            CASE WHEN k % 2 = 0 THEN 'fulltext' ELSE 'abstract' END
              AS text_type FROM ke),
        raw AS (SELECT event_id AS sid, event_id AS rid,
            'T' || CAST(k % 4 AS VARCHAR) AS stype FROM ke WHERE k % 5 <> 0),
        pa AS (SELECT sid, sid % 997 AS mk_hash FROM raw WHERE sid % 3 <> 1)
        SELECT r.source, r.text_type, r.reader, r.reader_version, raw.stype,
          COUNT(DISTINCT r.tcid) AS n_content,
          COUNT(DISTINCT r.rid) AS n_readings,
          COUNT(DISTINCT raw.sid) AS n_raw,
          COUNT(DISTINCT pa.mk_hash) AS n_pa
        FROM r LEFT JOIN raw ON r.rid = raw.rid
          LEFT JOIN pa ON raw.sid = pa.sid
        GROUP BY 1, 2, 3, 4, 5"""),
    ),

    "q_preassemble" -> QueryDef(
      (s, dir) => {
        // raw statement JSONs synthesized from lineitem, then the REAL
        // ingest path: from_json parse -> canonical matches-key -> hash ->
        // dedup (lowest raw id wins) -> per-hash evidence counts.
        val w = Window.partitionBy("l_orderkey")
          .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"))
        val li = Tables.table(s, dir, "lineitem")
          .withColumn("evn", row_number().over(w))
          .withColumn("raw_stmt_id", col("l_orderkey") * 100 + col("evn"))
        val stype = when(col("l_returnflag") === "A", "Phosphorylation")
          .when(col("l_returnflag") === "N", "Activation")
          .otherwise("Inhibition")
        val raw = li.select(
          col("raw_stmt_id"),
          when(col("l_returnflag") === "A", "reach")
            .when(col("l_returnflag") === "N", "medscan")
            .otherwise("signor").as("src"),
          to_json(struct(
            stype.as("type"),
            struct(
              concat(lit("pA"), (col("l_partkey") % 50).cast("string")).as("name"),
              map(lit("HGNC"),
                concat(lit("P"), (col("l_partkey") % 50).cast("string")))
                .as("db_refs")).as("subj"),
            struct(
              concat(lit("pB"), (col("l_suppkey") % 20).cast("string")).as("name"),
              map(lit("HGNC"),
                concat(lit("S"), (col("l_suppkey") % 20).cast("string")))
                .as("db_refs")).as("obj"))).as("raw_json"))
        Preassembly.uniqueStatements(Preassembly.parse(raw))
          .select("mk_hash", "raw_stmt_id", "matches_key", "ev_count")
      },
      Some(s"""WITH li AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS evn
          FROM lineitem),
        keyed AS (
          SELECT l_orderkey*100 + evn AS raw_stmt_id,
            (CASE l_returnflag WHEN 'A' THEN 'Phosphorylation'
                 WHEN 'N' THEN 'Activation' ELSE 'Inhibition' END)
            || '(HGNC:P' || CAST(l_partkey % 50 AS VARCHAR)
            || ', HGNC:S' || CAST(l_suppkey % 20 AS VARCHAR)
            || ', None)' AS matches_key
          FROM li),
        hashed AS (SELECT raw_stmt_id, matches_key,
            ${duckHashU("matches_key")} AS u FROM keyed),
        signed AS (SELECT raw_stmt_id, matches_key,
            $SIGN_ADJUST AS mk_hash FROM hashed)
        SELECT mk_hash, min(raw_stmt_id) AS raw_stmt_id,
          min(matches_key) AS matches_key, count(*) AS ev_count
        FROM signed GROUP BY 1"""),
    ),

    // full INDRA-fidelity matches-key: agent-state slots (mods, mutations,
    // activity, location, bound conditions) and the statement-level
    // residue/position discriminate the hash — two statements differing
    // only in a mod no longer merge. The fixture plants every slot
    // deterministically from lineitem columns; the oracle rebuilds the
    // exact key strings and the md5 hash in SQL.
    "q_preassemble_mods" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("l_orderkey")
          .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"))
        val li = Tables.table(s, dir, "lineitem")
          .withColumn("evn", row_number().over(w))
          .withColumn("raw_stmt_id", col("l_orderkey") * 100 + col("evn"))
        val pk = col("l_partkey")
        val sk = col("l_suppkey")
        val enz = struct(
          concat(lit("pA"), (pk % 50).cast("string")).as("name"),
          map(lit("HGNC"), concat(lit("P"), (pk % 50).cast("string")))
            .as("db_refs"),
          when(pk % 4 === 0,
            struct(lit("kinase").as("activity_type"),
              lit(true).as("is_active"))).as("activity"),
          when(pk % 5 === 0, lit("nucleus")).as("location"),
          when(pk % 6 === 0, array(struct(
            struct(concat(lit("X"), (pk % 3).cast("string")).as("name"),
              map().cast("map<string,string>").as("db_refs")).as("agent"),
            (pk % 4 === 0).as("is_bound")))).as("bound_conditions"))
        val sub = struct(
          concat(lit("pB"), (sk % 20).cast("string")).as("name"),
          map(lit("HGNC"), concat(lit("S"), (sk % 20).cast("string")))
            .as("db_refs"),
          when(sk % 3 === 0, array(struct(
            lit("phosphorylation").as("mod_type"), lit("T").as("residue"),
            (sk % 11).cast("string").as("position"),
            lit(true).as("is_modified")))).as("mods"),
          when(sk % 5 === 0, array(struct(
            (sk % 13).cast("string").as("position"),
            lit("V").as("residue_from"), lit("E").as("residue_to"))))
            .as("mutations"))
        val raw = li.select(
          col("raw_stmt_id"),
          to_json(struct(
            lit("Phosphorylation").as("type"),
            enz.as("enz"), sub.as("sub"),
            when(pk % 3 === 0, lit("S")).as("residue"),
            when(pk % 2 === 0, (pk % 7).cast("string")).as("position")))
            .as("raw_json"))
        Preassembly.uniqueStatements(Preassembly.parse(raw))
          .select("mk_hash", "raw_stmt_id", "matches_key", "ev_count")
      },
      Some(s"""WITH li AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS evn
          FROM lineitem),
        keyed AS (
          SELECT l_orderkey*100 + evn AS raw_stmt_id,
            'Phosphorylation('
            || 'HGNC:P' || CAST(l_partkey % 50 AS VARCHAR)
            || CASE WHEN l_partkey % 4 = 0 THEN '{act=kinase,true}' ELSE '' END
            || CASE WHEN l_partkey % 5 = 0 THEN '{loc=nucleus}' ELSE '' END
            || CASE WHEN l_partkey % 6 = 0 THEN '{bc=[X' || CAST(l_partkey % 3 AS VARCHAR)
                 || ',' || CASE WHEN l_partkey % 4 = 0 THEN 'true' ELSE 'false' END || ']}'
               ELSE '' END
            || ', '
            || 'HGNC:S' || CAST(l_suppkey % 20 AS VARCHAR)
            || CASE WHEN l_suppkey % 3 = 0 THEN '{mods=[phosphorylation,T,'
                 || CAST(l_suppkey % 11 AS VARCHAR) || ',true]}' ELSE '' END
            || CASE WHEN l_suppkey % 5 = 0 THEN '{muts=['
                 || CAST(l_suppkey % 13 AS VARCHAR) || ',V,E]}' ELSE '' END
            || ', '
            || CASE WHEN l_partkey % 3 = 0 THEN 'S' ELSE 'None' END
            || ', '
            || CASE WHEN l_partkey % 2 = 0 THEN CAST(l_partkey % 7 AS VARCHAR)
                    ELSE 'None' END
            || ')' AS matches_key
          FROM li),
        hashed AS (SELECT raw_stmt_id, matches_key,
            ${duckHashU("matches_key")} AS u FROM keyed),
        signed AS (SELECT raw_stmt_id, matches_key,
            $SIGN_ADJUST AS mk_hash FROM hashed)
        SELECT mk_hash, min(raw_stmt_id) AS raw_stmt_id,
          min(matches_key) AS matches_key, count(*) AS ev_count
        FROM signed GROUP BY 1"""),
    ),

    // pa_mods attribute table (principal_schema.py:915-933) extracted from
    // the unique statements of the same fixture: one row per agent
    // ModCondition; mod content is functional in the hash (it is part of
    // the key), so the oracle reconstructs it per distinct hash.
    "q_pa_mods" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("l_orderkey")
          .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"))
        val li = Tables.table(s, dir, "lineitem")
          .withColumn("evn", row_number().over(w))
          .withColumn("raw_stmt_id", col("l_orderkey") * 100 + col("evn"))
        val sk = col("l_suppkey")
        val raw = li.select(
          col("raw_stmt_id"),
          to_json(struct(
            lit("Phosphorylation").as("type"),
            struct(
              concat(lit("pA"), (col("l_partkey") % 50).cast("string")).as("name"),
              map(lit("HGNC"),
                concat(lit("P"), (col("l_partkey") % 50).cast("string")))
                .as("db_refs")).as("enz"),
            struct(
              concat(lit("pB"), (sk % 20).cast("string")).as("name"),
              map(lit("HGNC"), concat(lit("S"), (sk % 20).cast("string")))
                .as("db_refs"),
              when(sk % 3 === 0, array(struct(
                lit("phosphorylation").as("mod_type"), lit("T").as("residue"),
                (sk % 11).cast("string").as("position"),
                lit(true).as("is_modified")))).as("mods")).as("sub")))
            .as("raw_json"))
        val parsed = Preassembly.parse(raw)
        Preassembly.modRows(Preassembly.dedup(parsed))
          .select(col("mk_hash"), col("ag_num").cast("long").as("ag_num"),
            col("mod_type"), col("residue"), col("position"),
            col("is_modified"))
      },
      Some(s"""WITH li AS (
          SELECT * FROM lineitem),
        keyed AS (
          SELECT DISTINCT
            'Phosphorylation('
            || 'HGNC:P' || CAST(l_partkey % 50 AS VARCHAR) || ', '
            || 'HGNC:S' || CAST(l_suppkey % 20 AS VARCHAR)
            || '{mods=[phosphorylation,T,' || CAST(l_suppkey % 11 AS VARCHAR)
            || ',true]}' || ', None, None)' AS matches_key,
            CAST(l_suppkey % 11 AS VARCHAR) AS mod_pos
          FROM li WHERE l_suppkey % 3 = 0),
        hashed AS (SELECT matches_key, mod_pos,
            ${duckHashU("matches_key")} AS u FROM keyed),
        signed AS (SELECT DISTINCT $SIGN_ADJUST AS mk_hash, mod_pos FROM hashed)
        SELECT mk_hash, CAST(1 AS BIGINT) AS ag_num,
          'phosphorylation' AS mod_type, 'T' AS residue, mod_pos AS position,
          TRUE AS is_modified
        FROM signed"""),
    ),

    // supplement end-to-end equivalence: the incremental path (links from
    // the old run -> anti-join delta (preassemble_db.py:527-543) -> delta
    // preassembly -> Counter-style count merge, export_assembly.py:517-535)
    // must land on EXACTLY the state a full rebuild produces. The oracle IS
    // the independent full rebuild (per-hash-per-source counts over all
    // rows), so any delta leakage — dropped rows, double counts, missed
    // merges — hash-mismatches.
    "q_supplement_equiv" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("l_orderkey")
          .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"))
        val li = Tables.table(s, dir, "lineitem")
          .withColumn("evn", row_number().over(w))
          .withColumn("raw_stmt_id", col("l_orderkey") * 100 + col("evn"))
        val stype = when(col("l_returnflag") === "A", "Phosphorylation")
          .when(col("l_returnflag") === "N", "Activation")
          .otherwise("Inhibition")
        // checkpointed: `raw` is consumed by the old-run parse AND as the
        // anti-join left of the delta — without the boundary the window +
        // JSON synthesis over lineitem executes once per consumer
        val raw = li.select(
          col("raw_stmt_id"),
          (col("l_orderkey") % 5 === 0).as("is_new"),
          when(col("l_returnflag") === "A", "reach")
            .when(col("l_returnflag") === "N", "medscan")
            .otherwise("signor").as("src"),
          to_json(struct(
            stype.as("type"),
            struct(
              concat(lit("pA"), (col("l_partkey") % 50).cast("string")).as("name"),
              map(lit("HGNC"),
                concat(lit("P"), (col("l_partkey") % 50).cast("string")))
                .as("db_refs")).as("subj"),
            struct(
              concat(lit("pB"), (col("l_suppkey") % 20).cast("string")).as("name"),
              map(lit("HGNC"),
                concat(lit("S"), (col("l_suppkey") % 20).cast("string")))
                .as("db_refs")).as("obj"))).as("raw_json"))
          .boundary()
        // the old run's parse feeds BOTH links (the anti-join side) and
        // its source counts; without a materialization boundary the whole
        // window + to_json + from_json + matches-key subtree evaluates
        // once per consumer. Checkpoint only the three columns both
        // consumers need — kilobytes per 100k rows, not the parsed structs
        val oldKeyed = Preassembly.parse(raw.filter(!col("is_new")))
          .select("raw_stmt_id", "mk_hash", "src").boundary()
        val delta = graft.streaming.Streams.newRawStatements(
          raw, oldKeyed.select("raw_stmt_id", "mk_hash"))
        val merged = graft.streaming.Streams.mergeSourceCounts(
          Preassembly.sourceCounts(oldKeyed),
          Preassembly.sourceCounts(Preassembly.parse(delta)))
        merged.select(col("mk_hash"),
          explode(col("src_json")).as(Seq("src", "cnt")))
      },
      Some(s"""WITH li AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS evn
          FROM lineitem),
        keyed AS (
          SELECT l_orderkey*100 + evn AS raw_stmt_id,
            (CASE l_returnflag WHEN 'A' THEN 'reach'
                 WHEN 'N' THEN 'medscan' ELSE 'signor' END) AS src,
            (CASE l_returnflag WHEN 'A' THEN 'Phosphorylation'
                 WHEN 'N' THEN 'Activation' ELSE 'Inhibition' END)
            || '(HGNC:P' || CAST(l_partkey % 50 AS VARCHAR)
            || ', HGNC:S' || CAST(l_suppkey % 20 AS VARCHAR)
            || ', None)' AS matches_key
          FROM li),
        hashed AS (SELECT src, matches_key,
            ${duckHashU("matches_key")} AS u FROM keyed),
        signed AS (SELECT src, $SIGN_ADJUST AS mk_hash FROM hashed)
        SELECT mk_hash, src, count(*) AS cnt FROM signed GROUP BY 1, 2"""),
    ),

    // clean_json_loads dirty-row rescue (readonly_dumping/util.py:86-153)
    // through the REAL parse + validation path. Categories planted per
    // lineitem row: 0 = clean; 1 = doubly-escaped name where the cleanup
    // BREAKS a valid escape (cleaned parse fails -> raw fallback wins,
    // the reference's case 4); 2 = broken raw escape that the backslash
    // collapse rescues (case 3); 3 = truncated garbage, rejected by both
    // parses. The oracle states the closed-form counts and the exact key
    // each rescue path must produce.
    "q_preassemble_clean" -> QueryDef(
      (s, dir) => {
        val cat = (col("o_orderkey") % 4).cast("long")
        // plain (non-interpolated) triple-quoted strings: backslashes are
        // literal bytes, exactly as a principal TSV dump would carry them
        val json = when(cat === 0,
            lit("""{"type":"Activation","subj":{"name":"A0"},"obj":{"name":"B0"}}"""))
          .when(cat === 1,
            lit("""{"type":"Activation","subj":{"name":"C4\\x"},"obj":{"name":"B1"}}"""))
          .when(cat === 2,
            lit("""{"type":"Activation","subj":{"name":"C3\\\y"},"obj":{"name":"B2"}}"""))
          .otherwise(lit("""{"type":"Activation","subj":{"name":"D3"""))
        // parallelized: without it the whole parse (incl. the strict
        // try_parse_json legs) runs in ONE scan task (guide §2.5)
        val raw = Tables.parallelized(Tables.table(s, dir, "orders"))
          .select(col("o_orderkey").as("raw_stmt_id"), cat.as("category"),
            json.as("raw_json"))
        // parse once: valid and rejected are two filters over the same
        // rows, and without the boundary the union re-runs the whole
        // parse (incl. the strict suspect checks) per branch
        val parsed = Preassembly.parse(raw).boundary()
        val (valid, rejected) = Preassembly.partitionValid(parsed)
        valid.select(col("category"), lit(1L).as("ok"), col("matches_key"))
          .unionByName(rejected.select(col("category"), lit(0L).as("ok"),
            lit(null).cast("string").as("matches_key")))
          .groupBy("category")
          .agg(sum(when(col("ok") === 1, 1L).otherwise(0L)).as("n_valid"),
            sum(when(col("ok") === 0, 1L).otherwise(0L)).as("n_rejected"),
            min("matches_key").as("sample_key"))
      },
      Some("""WITH c AS (
          SELECT CAST(o_orderkey % 4 AS BIGINT) AS category FROM orders)
        SELECT category,
          CAST(COUNT(CASE WHEN category <> 3 THEN 1 END) AS BIGINT) AS n_valid,
          CAST(COUNT(CASE WHEN category = 3 THEN 1 END) AS BIGINT) AS n_rejected,
          MIN(CASE category WHEN 0 THEN 'Activation(A0, B0, None)'
            WHEN 1 THEN 'Activation(C4\x, B1, None)'
            WHEN 2 THEN 'Activation(C3\y, B2, None)' END) AS sample_key
        FROM c GROUP BY 1"""),
    ),

    "q_belief_prior" -> QueryDef(
      (s, dir) => Belief.score(TpchWorld.readonly(s, dir).sourceMeta)
        .select(col("mk_hash"), col("belief").as("belief_score")),
      Some(DslQueries.PREFIX + """, terms AS (
          SELECT mk_hash, src,
            0.05 + list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
              list_transform(range(1, c + 1), x -> CAST(0.3 AS DOUBLE))),
              (a, b) -> a * b) AS t
          FROM src_cnt)
        SELECT mk_hash,
          1.0 - list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
            list(t ORDER BY src)), (a, b) -> a * b) AS belief_score
        FROM terms GROUP BY mk_hash"""),
    ),

    // connected components via generic min-label propagation; the planted
    // chain graph (k -- k-1 within each decade) has the closed-form answer
    // component = k - k%10, which the oracle states directly
    // PageRank over a deterministic citation DAG (p cites p//2 and p//3):
    // 5 micro-quantized power iterations, the oracle replaying each one
    // verbatim as an unrolled CTE chain
    "q_graph_pagerank" -> QueryDef(
      (s, dir) => {
        val p = Tables.table(s, dir, "part")
          .select(col("p_partkey").cast("long").as("pk"))
        val edges = p.filter(col("pk") >= 2)
          .select(col("pk").as("src"), expr("pk div 2").as("dst"))
          .unionByName(p.filter(col("pk") >= 3)
            .select(col("pk").as("src"), expr("pk div 3").as("dst")))
          .distinct()
        Refinement.pageRank(edges, iters = 5)
      },
      Some {
        val iterSql = (1 to 5).map { i =>
          s"""i$i AS (SELECT e.dst AS node, sum(p.pr // o.deg) AS s
            FROM edges e JOIN p${i - 1} p ON p.node = e.src
            JOIN outd o ON o.node = e.src GROUP BY 1),
          p$i AS (SELECT n.node,
              150000 + CAST(round(0.85 * coalesce(i$i.s, 0)) AS BIGINT) AS pr
            FROM nodes n LEFT JOIN i$i ON i$i.node = n.node)"""
        }.mkString(",\n          ")
        s"""WITH edges AS (
            SELECT CAST(p_partkey AS BIGINT) AS src,
              CAST(p_partkey // 2 AS BIGINT) AS dst FROM part
            WHERE p_partkey >= 2
            UNION
            SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey // 3 AS BIGINT)
            FROM part WHERE p_partkey >= 3),
          nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges)),
          outd AS (SELECT src AS node, count(*) AS deg
            FROM edges GROUP BY 1),
          p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
          $iterSql
          SELECT node, CAST(pr AS DOUBLE) / 1e6 AS pr FROM p5"""
      },
    ),

    // triangle count on a denser citation graph (p cites p//2, p//3, AND
    // p//4 — so every p >= 4 closes the {p, p//2, p//4} triangle and the
    // count scales with the data); the engine orients edges by degree
    // (bounded wedge fan-in), the oracle counts u<v<w directly — both
    // count each triangle exactly once
    "q_graph_triangles" -> QueryDef(
      (s, dir) => {
        val p = Tables.table(s, dir, "part")
          .select(col("p_partkey").cast("long").as("pk"))
        val edges = p.filter(col("pk") >= 2)
          .select(col("pk").as("node"), expr("pk div 2").as("peer"))
          .unionByName(p.filter(col("pk") >= 3)
            .select(col("pk").as("node"), expr("pk div 3").as("peer")))
          .unionByName(p.filter(col("pk") >= 4)
            .select(col("pk").as("node"), expr("pk div 4").as("peer")))
        Refinement.triangleCount(edges)
      },
      Some("""WITH e0 AS (
          SELECT CAST(p_partkey AS BIGINT) AS a,
            CAST(p_partkey // 2 AS BIGINT) AS b FROM part
          WHERE p_partkey >= 2
          UNION
          SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey // 3 AS BIGINT)
          FROM part WHERE p_partkey >= 3
          UNION
          SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey // 4 AS BIGINT)
          FROM part WHERE p_partkey >= 4),
        canon AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
          FROM e0 WHERE a <> b)
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM canon e1
        JOIN canon e2 ON e2.u = e1.v
        JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v"""),
    ),

    // BFS shortest-hop levels from node 1 over the citation graph; the
    // oracle is a recursive min-dist CTE
    "q_graph_bfs" -> QueryDef(
      (s, dir) => {
        val p = Tables.table(s, dir, "part")
          .select(col("p_partkey").cast("long").as("pk"))
        val edges = p.filter(col("pk") >= 2)
          .select(col("pk").as("node"), expr("pk div 2").as("peer"))
          .unionByName(p.filter(col("pk") >= 3)
            .select(col("pk").as("node"), expr("pk div 3").as("peer")))
        import s.implicits._
        Refinement.bfsLevels(edges, Seq(1L).toDF("node"))
      },
      Some("""WITH RECURSIVE e0 AS (
          SELECT CAST(p_partkey AS BIGINT) AS a,
            CAST(p_partkey // 2 AS BIGINT) AS b FROM part
          WHERE p_partkey >= 2
          UNION
          SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey // 3 AS BIGINT)
          FROM part WHERE p_partkey >= 3),
        sym AS (SELECT a AS node, b AS peer FROM e0
          UNION SELECT b, a FROM e0),
        r AS (
          SELECT CAST(1 AS BIGINT) AS node, 0 AS dist
          UNION
          SELECT s.peer, r.dist + 1 FROM r JOIN sym s ON s.node = r.node
          WHERE r.dist < 30)
        SELECT node, CAST(min(dist) AS BIGINT) AS dist
        FROM r GROUP BY 1"""),
    ),

    "q_components" -> QueryDef(
      (s, dir) => {
        val edges = Tables.table(s, dir, "part")
          .filter(col("p_partkey") % 10 =!= 0)
          .select(col("p_partkey").cast("long").as("node"),
            (col("p_partkey") - 1).cast("long").as("peer"))
        Refinement.connectedComponents(edges)
      },
      Some("""SELECT CAST(p.n AS BIGINT) AS node,
              CAST(p.n - p.n % 10 AS BIGINT) AS component
              FROM (SELECT DISTINCT p_partkey AS n FROM part
                    UNION SELECT DISTINCT p_partkey - 1 FROM part WHERE p_partkey % 10 <> 0) p
              WHERE p.n IN (SELECT p_partkey FROM part WHERE p_partkey % 10 <> 0)
                 OR p.n IN (SELECT p_partkey - 1 FROM part WHERE p_partkey % 10 <> 0)"""),
    ),

    // refinement edge generation through the REAL blocked self-join
    // (Pipeline.refinementEdges): statements keyed by part, agent-key set =
    // the set bits of (p_partkey % 15) + 1, type = p % 3. A refines B iff
    // same type, B's mask ⊂ A's mask (strict subset) — which the oracle
    // states directly with bit arithmetic. The fixture deliberately plants
    // subset pairs whose FIRST sorted keys differ (e.g. {K2} ⊂ {K0,K2}),
    // the exact shape the old first-key-only blocking dropped.
    "q_refine_edges" -> QueryDef(
      (s, dir) => {
        // fixed-size universe (mk_hash = p_partkey % 600) so the gate pins
        // semantics at every SF without quadratic fixture growth
        val p = Tables.table(s, dir, "part")
          .select((col("p_partkey") % 600).cast("long").as("mk_hash"))
          .distinct()
          .withColumn("m", (col("mk_hash") % 15 + 1).cast("int"))
          .withColumn("stype", concat(lit("t"), (col("mk_hash") % 3).cast("string")))
        val uniq = p.select("mk_hash", "stype")
        val agents = p
          .withColumn("bit", explode(array_compact(array(
            (0 to 3).map(b =>
              when(col("m").bitwiseAND(1 << b) =!= 0, lit(b))): _*))))
          .select(col("mk_hash"), lit("NAME").as("db_name"),
            concat(lit("K"), col("bit").cast("string")).as("db_id"))
        graft.assembly.Pipeline.refinementEdges(uniq, agents)
          .select(col("desc").as("node"), col("anc"))
      },
      Some("""WITH s AS (
          SELECT DISTINCT CAST(p_partkey % 600 AS BIGINT) AS mk_hash,
            CAST(p_partkey % 600 % 15 + 1 AS INTEGER) AS m,
            p_partkey % 600 % 3 AS t
          FROM part)
        SELECT a.mk_hash AS node, b.mk_hash AS anc
        FROM s a JOIN s b
          ON a.t = b.t
         AND (a.m & b.m) = b.m
         AND bit_count(a.m) > bit_count(b.m)"""),
    ),

    // ontology-aware refinement (Refinement.ontologyRefinementEdges): the
    // planted hierarchy is TPC-H's own nation -> region containment
    // ("NAT:n" isa "REG:r"). Statements have two agent positions, each at
    // nation or region granularity by the hash's bit pattern; A refines B
    // iff same type, each of B's entities equals A's or is its region
    // ancestor, and at least one position strictly generalizes — edges that
    // key-subset blocking alone can never produce (A={NAT:5,...} vs
    // B={REG:1,...} share NO key). The oracle states the same closed form
    // by joining back through nation.
    "q_refine_ontology" -> QueryDef(
      (s, dir) => {
        val nation = Tables.table(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("nk"),
            col("n_regionkey").cast("long").as("rk"))
        val e = Tables.table(s, dir, "part")
          .select((col("p_partkey") % 400).cast("long").as("mk_hash"))
          .distinct()
          .withColumn("stype", concat(lit("t"), (col("mk_hash") % 2).cast("string")))
          .withColumn("n0", col("mk_hash") % 25)
          .withColumn("n1", (col("mk_hash") * 7 + 3) % 25)
          .withColumn("l0", col("mk_hash").bitwiseAND(2) =!= 0)
          .withColumn("l1", col("mk_hash").bitwiseAND(4) =!= 0)
        def agentAt(nCol: String, lCol: String, agNum: Int) = e
          .join(nation, col(nCol) === col("nk"))
          .select(col("mk_hash"), lit(agNum).as("ag_num"),
            when(col(lCol), lit("REG")).otherwise(lit("NAT")).as("db_name"),
            when(col(lCol), col("rk")).otherwise(col(nCol))
              .cast("string").as("db_id"))
        val agents = agentAt("n0", "l0", 0).unionByName(agentAt("n1", "l1", 1))
        val ontology = nation.select(
          concat(lit("NAT:"), col("nk").cast("string")).as("desc"),
          concat(lit("REG:"), col("rk").cast("string")).as("anc"))
        Refinement.ontologyRefinementEdges(
            e.select("mk_hash", "stype"), agents, ontology)
          .select(col("desc").as("node"), col("anc"))
      },
      Some("""WITH s AS (
          SELECT DISTINCT CAST(p_partkey % 400 AS BIGINT) AS h FROM part),
        e AS (
          SELECT h, h % 2 AS t, h % 25 AS n0, (h * 7 + 3) % 25 AS n1,
            (h & 2) <> 0 AS l0, (h & 4) <> 0 AS l1
          FROM s),
        k AS (
          SELECT e.h, e.t, e.l0, e.l1,
            na0.n_regionkey AS r0, na1.n_regionkey AS r1,
            CASE WHEN e.l0 THEN 'REG:' || CAST(na0.n_regionkey AS VARCHAR)
                 ELSE 'NAT:' || CAST(e.n0 AS VARCHAR) END AS k0,
            CASE WHEN e.l1 THEN 'REG:' || CAST(na1.n_regionkey AS VARCHAR)
                 ELSE 'NAT:' || CAST(e.n1 AS VARCHAR) END AS k1
          FROM e
          JOIN nation na0 ON na0.n_nationkey = e.n0
          JOIN nation na1 ON na1.n_nationkey = e.n1)
        SELECT a.h AS node, b.h AS anc
        FROM k a JOIN k b ON a.t = b.t AND a.h <> b.h
        WHERE (a.k0 = b.k0 OR (NOT a.l0 AND b.k0 = 'REG:' || CAST(a.r0 AS VARCHAR)))
          AND (a.k1 = b.k1 OR (NOT a.l1 AND b.k1 = 'REG:' || CAST(a.r1 AS VARCHAR)))
          AND NOT (a.k0 = b.k0 AND a.k1 = b.k1)"""),
    ),

    "q_closure" -> QueryDef(
      (s, dir) => {
        val edges = Tables.table(s, dir, "part")
          .filter(col("p_partkey") >= 2)
          .select(col("p_partkey").cast("long").as("desc"),
            ((col("p_partkey") - col("p_partkey") % 2) / 2).cast("long").as("anc"))
        Refinement.transitiveClosure(edges)
          .select(col("desc").as("node"), col("anc"))
      },
      Some("""WITH RECURSIVE e AS (
          SELECT CAST(p_partkey AS BIGINT) AS node, CAST(p_partkey // 2 AS BIGINT) AS anc
          FROM part WHERE p_partkey >= 2),
        c AS (SELECT node, anc FROM e
              UNION
              SELECT c.node, e.anc FROM c JOIN e ON c.anc = e.node)
        SELECT node, anc FROM c"""),
    ),

    // Incremental ONTOLOGY refinement (IncrementalOntologyEdges +
    // IncrementalBelief closure): the q_refine_ontology nation->region
    // world with per-position DISJOINT ontology spaces (A/B prefixes) —
    // keysets are always {A*, B*} so the key-subset path can never fire,
    // which matters because mixing key-subset and positional-ontology
    // edges over 2-agent statements can manufacture cycles (a collapsed
    // same-key statement + its positional generalization form a 2-loop);
    // with disjoint spaces the positional predicate is transitively
    // closed and the oracle is the direct-edge closed form. The store is
    // built base-then-delta through the persisted signature index, so
    // passing proves delta probes find old-new, new-old, and new-new
    // edges exactly.
    "q_refine_ontology_incremental" -> QueryDef(
      (s, dir) => {
        import graft.assembly.{IncrementalBelief, IncrementalOntologyEdges}
        val suffix = math.abs(dir.hashCode).toString
        val bdb = "graft_ioe_b_" + suffix
        val odb = "graft_ioe_o_" + suffix
        val nation = Tables.table(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("nk"),
            col("n_regionkey").cast("long").as("rk"))
        val e = Tables.table(s, dir, "part")
          .select((col("p_partkey") % 400).cast("long").as("mk_hash"))
          .distinct()
          .withColumn("stype",
            concat(lit("t"), (col("mk_hash") % 2).cast("string")))
          .withColumn("n0", col("mk_hash") % 25)
          .withColumn("n1", (col("mk_hash") * 7 + 3) % 25)
          .withColumn("l0", col("mk_hash").bitwiseAND(2) =!= 0)
          .withColumn("l1", col("mk_hash").bitwiseAND(4) =!= 0)
        def agentsOf(df: org.apache.spark.sql.DataFrame) = {
          def at(nCol: String, lCol: String, agNum: Int, pfx: String) = df
            .join(nation, col(nCol) === col("nk"))
            .select(col("mk_hash"), lit(agNum).as("ag_num"),
              when(col(lCol), lit("REG")).otherwise(lit("NAT")).as("db_name"),
              concat(lit(pfx), when(col(lCol), col("rk")).otherwise(col(nCol))
                .cast("string")).as("db_id"))
          at("n0", "l0", 0, "A").unionByName(at("n1", "l1", 1, "B"))
        }
        val ontology = nation.select(
            concat(lit("NAT:A"), col("nk").cast("string")).as("desc"),
            concat(lit("REG:A"), col("rk").cast("string")).as("anc"))
          .unionByName(nation.select(
            concat(lit("NAT:B"), col("nk").cast("string")).as("desc"),
            concat(lit("REG:B"), col("rk").cast("string")).as("anc")))
        def stmtsOf(df: org.apache.spark.sql.DataFrame) =
          df.select("mk_hash", "stype")
        def emptyCounts = e.select(col("mk_hash"),
          lit("reach").as("src"), lit(1L).as("cnt")).limit(0)
        val base = e.filter(col("mk_hash") % 5 =!= 0)
        val delta = e.filter(col("mk_hash") % 5 === 0)
        def step(df: org.apache.spark.sql.DataFrame, batch: Long) = {
          val edges = IncrementalOntologyEdges.upsert(s, stmtsOf(df),
            agentsOf(df), ontology, odb, shards = 8)
          IncrementalBelief.upsert(s, stmtsOf(df), agentsOf(df),
            emptyCounts, bdb, shards = 8, batchId = batch,
            extraEdges = Some(edges))
        }
        beliefInitDone.getOrElseUpdate(
          System.identityHashCode(s) + ":ont:" + dir, {
            IncrementalOntologyEdges.reset(s, odb)
            IncrementalBelief.reset(s, bdb)
            step(base, 0L)
            ()
          })
        step(delta, 1L)
        IncrementalBelief.closure(s, bdb)
          .select(col("desc").as("node"), col("anc"))
      },
      Some("""WITH s AS (
          SELECT DISTINCT CAST(p_partkey % 400 AS BIGINT) AS h FROM part),
        e AS (
          SELECT h, h % 2 AS t, h % 25 AS n0, (h * 7 + 3) % 25 AS n1,
            (h & 2) <> 0 AS l0, (h & 4) <> 0 AS l1
          FROM s),
        k AS (
          SELECT e.h, e.t, e.l0, e.l1,
            na0.n_regionkey AS r0, na1.n_regionkey AS r1,
            CASE WHEN e.l0 THEN 'REG:A' || CAST(na0.n_regionkey AS VARCHAR)
                 ELSE 'NAT:A' || CAST(e.n0 AS VARCHAR) END AS k0,
            CASE WHEN e.l1 THEN 'REG:B' || CAST(na1.n_regionkey AS VARCHAR)
                 ELSE 'NAT:B' || CAST(e.n1 AS VARCHAR) END AS k1
          FROM e
          JOIN nation na0 ON na0.n_nationkey = e.n0
          JOIN nation na1 ON na1.n_nationkey = e.n1)
        SELECT a.h AS node, b.h AS anc
        FROM k a JOIN k b ON a.t = b.t AND a.h <> b.h
        WHERE (a.k0 = b.k0 OR
               (NOT a.l0 AND b.k0 = 'REG:A' || CAST(a.r0 AS VARCHAR)))
          AND (a.k1 = b.k1 OR
               (NOT a.l1 AND b.k1 = 'REG:B' || CAST(a.r1 AS VARCHAR)))
          AND NOT (a.k0 = b.k0 AND a.k1 = b.k1)"""),
    ),

    // Incremental refinement + belief (IncrementalBelief): the q_refine
    // bitmask world (keys = set bits of m over K0..K3, so the key-subset
    // DAG has a closed form) with per-row evidence, split into a base
    // build plus a delta batch of new statements AND new evidence on
    // existing hashes. The store maintains the inverted key index, the
    // closure pair tables, and the per-hash descendant-aggregated counts
    // shard-locally; the oracle computes belief over the FULL world —
    // passing proves delta maintenance serves exactly what the reference
    // only gets from a full refinement + belief rebuild
    // (preassemble_db.py:481-615 re-running export_assembly.py:680-702).
    "q_belief_incremental" -> QueryDef(
      (s, dir) => {
        import graft.assembly.IncrementalBelief
        val db = "graft_ib_inc_" + math.abs(dir.hashCode).toString
        val part = Tables.table(s, dir, "part")
          .select(col("p_partkey").cast("long").as("pk"),
            (col("p_partkey") % 600).cast("long").as("mk_hash"))
          .withColumn("m", (col("mk_hash") % 15 + 1).cast("int"))
          .withColumn("stype",
            concat(lit("t"), (col("mk_hash") % 3).cast("string")))
          .withColumn("src", when(col("pk") % 3 === 0, "reach")
            .when(col("pk") % 3 === 1, "medscan").otherwise("signor"))
          .withColumn("is_delta",
            col("mk_hash") % 5 === 0 || col("pk") % 13 === 0)
        def stmtsOf(df: org.apache.spark.sql.DataFrame) =
          df.select("mk_hash", "stype").distinct()
        def agentsOf(df: org.apache.spark.sql.DataFrame) =
          df.select("mk_hash", "m").distinct()
            .withColumn("bit", explode(array_compact(array(
              (0 to 3).map(b =>
                when(col("m").bitwiseAND(1 << b) =!= 0, lit(b))): _*))))
            .select(col("mk_hash"), lit("NAME").as("db_name"),
              concat(lit("K"), col("bit").cast("string")).as("db_id"))
        def countsOf(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("mk_hash", "src").agg(count(lit(1)).as("cnt"))
        val base = part.filter(!col("is_delta"))
        // base build once per (session, dir); repeated evaluations (bench
        // median-of-3) then measure the guarded-idempotent delta upserts,
        // which IS the per-batch maintenance cost. The delta arrives as
        // THREE sequential batches (split by evidence row), so closure and
        // agg maintenance compose across batch boundaries — multi-batch
        // accretion, not a single lucky delta
        beliefInitDone.getOrElseUpdate(
          System.identityHashCode(s) + ":" + dir, {
            IncrementalBelief.reset(s, db)
            IncrementalBelief.init(s, stmtsOf(base), agentsOf(base),
              countsOf(base), db, shards = 8)
            ()
          })
        (0 to 2).foreach { b =>
          val slice = part.filter(col("is_delta") && col("pk") % 3 === b)
          IncrementalBelief.upsert(s, stmtsOf(slice), agentsOf(slice),
            countsOf(slice), db, shards = 8, batchId = 1L + b)
        }
        IncrementalBelief.belief(s, db)
          .select(col("mk_hash"), col("belief").as("belief_score"))
      },
      Some("""WITH p AS (
          SELECT CAST(p_partkey AS BIGINT) AS pk,
                 CAST(p_partkey % 600 AS BIGINT) AS h
          FROM part),
        s AS (
          SELECT DISTINCT h, CAST(h % 15 + 1 AS INTEGER) AS m, h % 3 AS t
          FROM p),
        cnt AS (
          SELECT h, CASE pk % 3 WHEN 0 THEN 'reach' WHEN 1 THEN 'medscan'
                    ELSE 'signor' END AS src, COUNT(*) AS c
          FROM p GROUP BY 1, 2),
        closure AS (
          SELECT a.h AS desch, b.h AS anch
          FROM s a JOIN s b ON a.t = b.t AND (a.m & b.m) = b.m
            AND bit_count(a.m) > bit_count(b.m)),
        contrib AS (
          SELECT anch AS h, desch AS d FROM closure
          UNION ALL
          SELECT h, h FROM s),
        agg AS (
          SELECT co.h, c.src, SUM(c.c) AS cnt
          FROM contrib co JOIN cnt c ON c.h = co.d
          GROUP BY 1, 2),
        terms AS (
          SELECT h, src,
            0.05 + list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
              list_transform(range(1, CAST(cnt AS INTEGER) + 1),
                x -> CAST(0.3 AS DOUBLE))), (a, b) -> a * b) AS t
          FROM agg)
        SELECT h AS mk_hash,
          1.0 - list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
            list(t ORDER BY src)), (a, b) -> a * b) AS belief_score
        FROM terms GROUP BY h"""),
    ),

    // FIRST-DELIVERY twin of q_belief_incremental: the store is RESET and
    // rebuilt on EVERY evaluation (init + three delta batches on a small
    // world), so the bench measures the append path — table creation,
    // un-guarded principal appends, closure extension against a growing
    // store — not the guard-hit replay the steady-state gate settles into
    // after its first evaluation. Same closed-form oracle world at 150
    // hashes (the steady-state gate uses 600) to keep per-eval cost small.
    "q_belief_incremental_fresh" -> QueryDef(
      (s, dir) => {
        import graft.assembly.IncrementalBelief
        val db = "graft_ib_fresh_" + math.abs(dir.hashCode).toString
        val part = Tables.table(s, dir, "part")
          .select(col("p_partkey").cast("long").as("pk"),
            (col("p_partkey") % 150).cast("long").as("mk_hash"))
          .withColumn("m", (col("mk_hash") % 15 + 1).cast("int"))
          .withColumn("stype",
            concat(lit("t"), (col("mk_hash") % 3).cast("string")))
          .withColumn("src", when(col("pk") % 3 === 0, "reach")
            .when(col("pk") % 3 === 1, "medscan").otherwise("signor"))
          .withColumn("is_delta",
            col("mk_hash") % 5 === 0 || col("pk") % 13 === 0)
        def stmtsOf(df: org.apache.spark.sql.DataFrame) =
          df.select("mk_hash", "stype").distinct()
        def agentsOf(df: org.apache.spark.sql.DataFrame) =
          df.select("mk_hash", "m").distinct()
            .withColumn("bit", explode(array_compact(array(
              (0 to 3).map(b =>
                when(col("m").bitwiseAND(1 << b) =!= 0, lit(b))): _*))))
            .select(col("mk_hash"), lit("NAME").as("db_name"),
              concat(lit("K"), col("bit").cast("string")).as("db_id"))
        def countsOf(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("mk_hash", "src").agg(count(lit(1)).as("cnt"))
        val base = part.filter(!col("is_delta"))
        IncrementalBelief.reset(s, db)
        IncrementalBelief.init(s, stmtsOf(base), agentsOf(base),
          countsOf(base), db, shards = 4)
        (0 to 2).foreach { b =>
          val slice = part.filter(col("is_delta") && col("pk") % 3 === b)
          IncrementalBelief.upsert(s, stmtsOf(slice), agentsOf(slice),
            countsOf(slice), db, shards = 4, batchId = 1L + b)
        }
        IncrementalBelief.belief(s, db)
          .select(col("mk_hash"), col("belief").as("belief_score"))
      },
      Some("""WITH p AS (
          SELECT CAST(p_partkey AS BIGINT) AS pk,
                 CAST(p_partkey % 150 AS BIGINT) AS h
          FROM part),
        s AS (
          SELECT DISTINCT h, CAST(h % 15 + 1 AS INTEGER) AS m, h % 3 AS t
          FROM p),
        cnt AS (
          SELECT h, CASE pk % 3 WHEN 0 THEN 'reach' WHEN 1 THEN 'medscan'
                    ELSE 'signor' END AS src, COUNT(*) AS c
          FROM p GROUP BY 1, 2),
        closure AS (
          SELECT a.h AS desch, b.h AS anch
          FROM s a JOIN s b ON a.t = b.t AND (a.m & b.m) = b.m
            AND bit_count(a.m) > bit_count(b.m)),
        contrib AS (
          SELECT anch AS h, desch AS d FROM closure
          UNION ALL
          SELECT h, h FROM s),
        agg AS (
          SELECT co.h, c.src, SUM(c.c) AS cnt
          FROM contrib co JOIN cnt c ON c.h = co.d
          GROUP BY 1, 2),
        terms AS (
          SELECT h, src,
            0.05 + list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
              list_transform(range(1, CAST(cnt AS INTEGER) + 1),
                x -> CAST(0.3 AS DOUBLE))), (a, b) -> a * b) AS t
          FROM agg)
        SELECT h AS mk_hash,
          1.0 - list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
            list(t ORDER BY src)), (a, b) -> a * b) AS belief_score
        FROM terms GROUP BY h"""),
    ),

    // curated grounding mappings (get_grounding_curations): planted
    // curation rows — matching, non-matching (skipped), and wrong-tag
    // (filtered) — parsed to (raw_text, db_name, db_id) rows
    "q_grounding_curations" -> QueryDef(
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
        val tok = substring_index(col("text"), " ", 1)
        val planted = d.filter(col("doc_id") % 6 === 0)
          .select(lit("grounding").as("tag"),
            concat(lit("["), tok, lit("_"), col("doc_id").cast("string"),
              lit("] -> HGNC:"), col("doc_id").cast("string"),
              lit("|UP:P"), (col("doc_id") % 100).cast("string")).as("text"))
          .unionByName(d.filter(col("doc_id") % 6 === 3)
            .select(lit("grounding").as("tag"),
              lit("free-form note, not a grounding").as("text")))
          .unionByName(d.filter(col("doc_id") % 6 === 1)
            .select(lit("other").as("tag"), lit("[x] -> HGNC:1").as("text")))
        graft.assembly.Curation.groundingCurations(planted)
      },
      Some("""WITH cur AS (
          SELECT 'grounding' AS tag,
            '[' || string_split_regex(trim(text), '\s+')[1] || '_' ||
              CAST(doc_id AS VARCHAR) || '] -> HGNC:' ||
              CAST(doc_id AS VARCHAR) || '|UP:P' ||
              CAST(doc_id % 100 AS VARCHAR) AS text
          FROM documents WHERE doc_id % 6 = 0
          UNION ALL
          SELECT 'grounding', 'free-form note, not a grounding'
          FROM documents WHERE doc_id % 6 = 3
          UNION ALL
          SELECT 'other', '[x] -> HGNC:1'
          FROM documents WHERE doc_id % 6 = 1),
        g AS (SELECT
            regexp_extract(trim(text), '^\[(.*)\] -> ([^ ]+)$', 1) AS raw_text,
            string_split(
              regexp_extract(trim(text), '^\[(.*)\] -> ([^ ]+)$', 2), '|')
              AS entries
          FROM cur WHERE tag = 'grounding'),
        e AS (SELECT raw_text, unnest(entries) AS entry
              FROM g
              WHERE len(entries) > 0 AND
                len(list_filter(entries, x -> NOT contains(x, ':'))) = 0)
        SELECT raw_text,
          substr(entry, 1, strpos(entry, ':') - 1) AS db_name,
          substr(entry, strpos(entry, ':') + 1) AS db_id
        FROM e"""),
    ),
  )
}
