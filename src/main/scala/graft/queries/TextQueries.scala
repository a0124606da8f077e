package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curate, Dedup, Similarity, TextAnalysis}
import graft.sources.Tables
import graft.core.BlockScope.Boundary

/** Training-data pipeline operators over the `documents` and `embeddings`
  * tables, each with a relational DuckDB oracle. Near-dup demos derive a
  * corpus with controlled duplicates (exact copies / truncated copies of a
  * deterministic subset) so the dedup output is non-trivial at every SF.
  */
object TextQueries extends QueryPack {

  // parallelized (Tables.parallelized): the driver's documents.parquet is
  // a single small file with ONE row group — an unsplittable input, so
  // every scan stage over it is one task no matter the core count, and
  // nearly every consumer below does its heavy per-row work
  // (tokenize+explode+partial-agg, codec round trips, pixel decode, char
  // machines) IN the scan stage. Projections/filters still push below
  // the inserted exchange; a no-op on naturally-split inputs.
  private def docs(s: SparkSession, dir: String) =
    Tables.parallelized(Tables.table(s, dir, "documents"))

  /** documents ∪ exact copies of every 10th doc (ids shifted +100000). */
  private def corpusExact(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000))
  }

  private val CORPUS_EXACT = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)"""

  /** documents ∪ near copies (last two tokens dropped) of every 5th doc. */
  private def corpusNear(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    val toks = TextAnalysis.tokens(col("text"))
    d.unionByName(
      d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          array_join(slice(toks, lit(1), size(toks) - 2), " ").as("text")))
  }

  /** documents re-chunked into 8-token lines, with boilerplate header and
    * footer lines planted on every doc — the corpus-wide duplicate lines
    * the line-dedup stage must strip. */
  private def corpusLines(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val nLines = floor((size(toks) + lit(7)) / lit(8)).cast("long")
    docs(s, dir).select(col("doc_id"),
      concat(
        lit("follow us for updates\n"),
        array_join(transform(
          sequence(lit(0L), nLines - 1),
          i => array_join(slice(toks, (i * 8 + 1).cast("int"), lit(8)), " ")),
          "\n"),
        lit("\nall rights reserved")).as("text"))
  }

  private val CORPUS_LINES = """corpus AS (
  SELECT doc_id,
    'follow us for updates' || chr(10) ||
    array_to_string(list_transform(range(0, (len(toks) + 7) // 8),
      i -> array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ')),
      chr(10)) ||
    chr(10) || 'all rights reserved' AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents))"""

  private val CORPUS_NEAR = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         array_to_string(list_slice(string_split_regex(trim(text), '\s+'), 1,
           len(string_split_regex(trim(text), '\s+')) - 2), ' ')
  FROM documents WHERE doc_id % 5 = 0)"""

  /** DuckDB twin of [[graft.operators.Similarity.ivfIndex]]'s seed-cell
    * assignment over the embeddings table: `assign(id, embedding, nrm,
    * cell)` by max rounded cosine against the id<8 seed centroids,
    * centroid-id tie-break — shared by the SemDeDup gates. */
  private val SEMANTIC_CELLS = """v AS (
    SELECT vec_id AS id, embedding FROM embeddings),
  n AS (SELECT id, embedding,
      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(range(1, 65),
          p -> CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS DOUBLE))),
        (a, b) -> a + b)) AS nrm
    FROM v),
  cents AS (SELECT id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm
            FROM n WHERE id < 8),
  assign AS (SELECT id, embedding, nrm, cell FROM (
    SELECT x.id, x.embedding, x.nrm, c.cent_id AS cell,
      ROW_NUMBER() OVER (PARTITION BY x.id ORDER BY
        round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, 65),
            p -> CAST(x.embedding[p] AS DOUBLE) * CAST(c.cent_emb[p] AS DOUBLE))),
          (a, b) -> a + b) / (x.nrm * c.cent_nrm), 4) DESC,
        c.cent_id ASC) AS rn
    FROM n x CROSS JOIN cents c) WHERE rn = 1)"""

  /** DuckDB rolling hash identical to TextAnalysis.rollingHash. */
  private def duckHash(expr: String) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       list_transform(string_split($expr, ''), c -> CAST(ascii(c) AS BIGINT))),
       (a, b) -> (a * 31 + b) % 1000000007)"""

  /** Multi-script langid fixtures (escape-coded so the source file stays
    * pure ASCII): привет мир как дела / 天地玄黄宇宙洪荒 /
    * いろはにほへとちりぬるを. */
  private val LangIdRu = "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u043a\u0430\u043a \u0434\u0435\u043b\u0430"
  private val LangIdZh = "\u5929\u5730\u7384\u9ec4\u5b87\u5b99\u6d2a\u8352"
  private val LangIdJa = "\u3044\u308d\u306f\u306b\u307b\u3078\u3068\u3061\u308a\u306c\u308b\u3092"

  /** A Scala string as a DuckDB expression: ASCII runs stay quoted
    * literals, every non-ASCII char becomes chr(code) — so multi-script
    * planted texts survive the JSON/SQL round trip byte-exactly without
    * relying on either side's source encoding. */
  private def duckStr(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    def flush(): Unit =
      if (sb.nonEmpty) {
        parts += s"'${sb.toString.replace("'", "''")}'"; sb.clear()
      }
    for (c <- s) {
      if (c >= ' ' && c < 127.toChar) sb += c
      else { flush(); parts += s"chr(${c.toInt})" }
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }

  /** DuckDB twin of [[graft.operators.TextAnalysis.mix32]] over the rolling
    * hash of a `tok` CTE: chain tok(doc_id, tok) -> th(doc_id, th). Stage
    * columns are spelled out (not nested) so every intermediate stays a
    * non-negative BIGINT < 2^59 — DuckDB BIGINT multiply errors on
    * overflow instead of wrapping. */
  private val DUCK_TOKMIX = s"""
h0 AS (SELECT doc_id, ${duckHash("tok")} AS h FROM tok),
m1 AS (SELECT doc_id, xor(h, h >> 16) AS z1 FROM h0),
m2 AS (SELECT doc_id, (z1 * 73244475) % 4294967296 AS z2 FROM m1),
m3 AS (SELECT doc_id, xor(z2, z2 >> 16) AS z3 FROM m2),
m4 AS (SELECT doc_id, (z3 * 73244475) % 4294967296 AS z4 FROM m3),
th AS (SELECT doc_id, xor(z4, z4 >> 16) AS th FROM m4)"""

  /** Sign diagonal of the 64-dim OPQ rotation, inlined into the oracle so
    * both engines flip the same coordinates. */
  private val OPQ_SIGNS = graft.functions.RotateKernel.signs(64)
    .map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** DuckDB shingle pipeline over `src` -> `<p>h`(doc_id, sh_hash), with
    * CTE names prefixed by `p` so two shingle chains can coexist; `n` is
    * the shingle width (Dedup.shingleSet twin). */
  private def duckShingles(p: String, src: String, n: Int = 3) = s"""
${p}0 AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM $src),
${p}1 AS (SELECT doc_id,
          unnest(list_transform(range(1, len(toks) - ${n - 2}),
            i -> array_to_string(list_slice(toks, i, i + ${n - 1}), ' '))) AS shingle
        FROM ${p}0),
$p AS (SELECT DISTINCT doc_id, shingle FROM ${p}1),
${p}h AS (SELECT doc_id, shingle, ${duckHash("shingle")} AS sh_hash FROM $p)"""

  /** DuckDB shingle pipeline over `corpus` -> shh(doc_id, sh_hash). */
  private val DUCK_SHINGLES = duckShingles("sh", "corpus")

  /** DuckDB minhash-LSH candidate pipeline over `shh` -> cand / szs /
    * inter — the verified-candidate prefix of Dedup.minhashNearDups
    * (n=3, k=12, r=3); Jaccard/containment filters layer on top. */
  private val DUCK_MINHASH_CANDS = """mh AS (SELECT s.doc_id, t.i,
         min(((131*t.i + 7) * s.sh_hash + (97*t.i + 3)) % 1000000007) AS minh
       FROM shh s CROSS JOIN range(0, 12) t(i) GROUP BY 1, 2),
bands AS (SELECT doc_id, i // 3 AS band,
            string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS sig
          FROM mh GROUP BY 1, 2),
cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
szs AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1),
inter AS (SELECT c.a_id, c.b_id, count(*) AS i_cnt
          FROM cand c
          JOIN shh p ON p.doc_id = c.a_id
          JOIN shh q ON q.doc_id = c.b_id AND q.sh_hash = p.sh_hash
          GROUP BY 1, 2)"""

  /** [[DUCK_MINHASH_CANDS]] + Jaccard filter at t=0.6 + recursive
    * connected components -> comp(node, component) — the oracle twin of
    * minhashNearDups feeding Refinement.connectedComponents. Callers must
    * open WITH RECURSIVE. */
  private val DUCK_MINHASH_COMPONENTS = s"""$DUCK_MINHASH_CANDS,
pairs AS (SELECT i.a_id, i.b_id FROM inter i
  JOIN szs s1 ON s1.doc_id = i.a_id
  JOIN szs s2 ON s2.doc_id = i.b_id
  WHERE CAST(i.i_cnt AS DOUBLE)/CAST(s1.sz + s2.sz - i.i_cnt AS DOUBLE)
    >= 0.6),
edges AS (SELECT a_id AS node, b_id AS peer FROM pairs
          UNION SELECT b_id, a_id FROM pairs),
reach AS (SELECT node, node AS lab FROM (SELECT DISTINCT node FROM edges)
          UNION
          SELECT e.node, r.lab FROM edges e JOIN reach r ON r.node = e.peer),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY 1)"""

  /** DuckDB twin of nbTrain + nbPredict over the documents table (lang
    * labels, vocab 65536): CTE chain ending in rk(doc_id, label,
    * score_micro, rn) where rn = 1 is the argmax — shared by the
    * classify and confusion gates. */
  private val DUCK_NB = """tk AS (SELECT doc_id, lang,
          string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        tr AS (SELECT lang AS label, unnest(toks) AS term FROM tk),
        tc AS (SELECT label, term, count(*) AS c FROM tr GROUP BY 1, 2),
        nd AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1),
        tt AS (SELECT label, CAST(sum(c) AS BIGINT) AS tot
          FROM tc GROUP BY 1),
        nt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM nd),
        lb AS (SELECT nd.label, tt.tot,
            CAST(round(ln(CAST(nd.n_docs AS DOUBLE) /
              CAST(nt.n_total AS DOUBLE)) * 1e6) AS BIGINT) AS prior_micro,
            CAST(round(ln(1.0 / (CAST(tt.tot AS DOUBLE) + 65536.0)) * 1e6)
              AS BIGINT) AS lp0_micro
          FROM nd JOIN tt USING (label) CROSS JOIN nt),
        lp AS (SELECT tc.label, tc.term,
            CAST(round(ln((CAST(tc.c AS DOUBLE) + 1.0) /
              (CAST(tt.tot AS DOUBLE) + 65536.0)) * 1e6) AS BIGINT)
              AS lp_micro
          FROM tc JOIN tt USING (label)),
        dt AS (SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM tk)
          GROUP BY 1, 2),
        sc AS (SELECT dt.doc_id, lb.label, lb.prior_micro,
            dt.tf * coalesce(lp.lp_micro, lb.lp0_micro) AS term_micro
          FROM dt CROSS JOIN lb
          LEFT JOIN lp ON dt.term = lp.term AND lb.label = lp.label),
        ag AS (SELECT doc_id, label,
            any_value(prior_micro) + CAST(sum(term_micro) AS BIGINT)
              AS score_micro
          FROM sc GROUP BY 1, 2),
        rk AS (SELECT doc_id, label, score_micro,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY score_micro DESC, label ASC) AS rn FROM ag)"""

  def defs: Map[String, QueryDef] = Map(

    // --- text analysis ---------------------------------------------------
    "q_text_stats" -> QueryDef(
      (s, dir) => TextAnalysis.qualityStats(
          docs(s, dir).select("doc_id", "text"), "text",
          TextAnalysis.langProfiles.head._2)
        .select("doc_id", "n_tokens", "n_uniq", "n_stop", "ttr",
          "mean_tok_len", "stop_ratio"),
      Some("""WITH t AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        s AS (SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
          CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS n_stop,
          CAST(length(list_reduce(toks, (x, y) -> x || y)) AS BIGINT) AS n_chars_tok
          FROM t)
        SELECT doc_id, n_tokens, n_uniq, n_stop,
          CAST(n_uniq AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS ttr,
          CAST(n_chars_tok AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS mean_tok_len,
          CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stop_ratio
        FROM s"""),
    ),

    "q_text_langid" -> QueryDef(
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.approxBpeTokens(col("text")).as("bpe_tokens")),
      Some("""WITH t AS (
          SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        c AS (SELECT doc_id, text,
          len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS c_en,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS c_de,
          len(list_filter(toks, x -> x IN ('el','los','que','y','es'))) AS c_es,
          len(list_filter(toks, x -> x IN ('le','les','et','est','une'))) AS c_fr
          FROM t)
        SELECT doc_id,
          CASE WHEN greatest(c_en, c_de, c_es, c_fr) = 0 THEN 'und'
               WHEN c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
               WHEN c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
               WHEN c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
               ELSE 'fr' END AS lang_pred,
          CAST(ceil(CAST(length(text) AS DOUBLE)/4.0) AS BIGINT) AS bpe_tokens
        FROM c"""),
    ),

    "q_text_bpe_tokens" -> QueryDef(
      (s, dir) => docs(s, dir).select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe")),
      Some("""SELECT doc_id,
              CAST(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+', 0)) AS BIGINT) AS n_bpe
              FROM documents"""),
    ),

    // BPE vocabulary training (Sennrich et al.): 3 rounds of global
    // pair-count argmax + greedy-left merge, the oracle unrolling each
    // round relationally — the unit-separator framing makes a merge one
    // literal replace with identical left-to-right semantics in both
    // engines, so the learned merge table matches exactly
    "q_text_bpe_train" -> QueryDef(
      (s, dir) => TextAnalysis.bpeTrain(docs(s, dir), "text", iterations = 3)
        .select(col("it").cast("int").as("it"), col("pair_l"),
          col("pair_r"), col("cnt")),
      Some("""WITH e0 AS (SELECT doc_id, chr(31) ||
            array_to_string(string_split_regex(trim(text), '\s+'),
              chr(31) || chr(31)) || chr(31) AS enc FROM documents),
        t1 AS (SELECT doc_id, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e0),
        i1 AS (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t1),
        p1 AS (SELECT t[i] AS l, t[i + 1] AS r, count(*) AS cnt
          FROM i1 GROUP BY 1, 2),
        m1 AS (SELECT l, r, cnt FROM p1
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        e1 AS (SELECT doc_id, replace(enc,
            chr(31) || m1.l || chr(31) || chr(31) || m1.r || chr(31),
            chr(31) || m1.l || chr(30) || m1.r || chr(31)) AS enc
          FROM e0 CROSS JOIN m1),
        t2 AS (SELECT doc_id, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e1),
        i2 AS (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t2),
        p2 AS (SELECT t[i] AS l, t[i + 1] AS r, count(*) AS cnt
          FROM i2 GROUP BY 1, 2),
        m2 AS (SELECT l, r, cnt FROM p2
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        e2 AS (SELECT doc_id, replace(enc,
            chr(31) || m2.l || chr(31) || chr(31) || m2.r || chr(31),
            chr(31) || m2.l || chr(30) || m2.r || chr(31)) AS enc
          FROM e1 CROSS JOIN m2),
        t3 AS (SELECT doc_id, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e2),
        i3 AS (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t3),
        p3 AS (SELECT t[i] AS l, t[i + 1] AS r, count(*) AS cnt
          FROM i3 GROUP BY 1, 2),
        m3 AS (SELECT l, r, cnt FROM p3
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)
        SELECT CAST(1 AS INTEGER) AS it, l AS pair_l, r AS pair_r,
          CAST(cnt AS BIGINT) AS cnt FROM m1
        UNION ALL SELECT CAST(2 AS INTEGER), l, r, CAST(cnt AS BIGINT) FROM m2
        UNION ALL SELECT CAST(3 AS INTEGER), l, r, CAST(cnt AS BIGINT) FROM m3"""),
    ),

    // batched BPE: two symbol-disjoint merges per pair-count pass (the
    // production-depth lever — vocab depth / m passes); the oracle
    // replays both rounds, picking each round's second merge as the best
    // pair sharing no symbol with the first, and applying both (their
    // disjointness makes the two replaces independent)
    "q_text_bpe_batched" -> QueryDef(
      (s, dir) => TextAnalysis.bpeTrainBatched(docs(s, dir), "text",
          rounds = 2, mergesPerRound = 2)
        .select(col("round").cast("int").as("round"),
          col("rank").cast("int").as("rank"), col("pair_l"),
          col("pair_r"), col("cnt")),
      Some("""WITH e0 AS (SELECT doc_id, chr(31) ||
            array_to_string(string_split_regex(trim(text), '\s+'),
              chr(31) || chr(31)) || chr(31) AS enc FROM documents),
        t1 AS (SELECT doc_id, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e0),
        i1 AS (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t1),
        p1 AS (SELECT t[i] AS l, t[i + 1] AS r, count(*) AS cnt
          FROM i1 GROUP BY 1, 2),
        a1 AS (SELECT l, r, cnt FROM p1
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        b1 AS (SELECT p1.l, p1.r, p1.cnt FROM p1, a1
          WHERE p1.l NOT IN (a1.l, a1.r) AND p1.r NOT IN (a1.l, a1.r)
          ORDER BY p1.cnt DESC, p1.l ASC, p1.r ASC LIMIT 1),
        e1 AS (SELECT doc_id, replace(replace(enc,
            chr(31) || a1.l || chr(31) || chr(31) || a1.r || chr(31),
            chr(31) || a1.l || chr(30) || a1.r || chr(31)),
            chr(31) || b1.l || chr(31) || chr(31) || b1.r || chr(31),
            chr(31) || b1.l || chr(30) || b1.r || chr(31)) AS enc
          FROM e0 CROSS JOIN a1 CROSS JOIN b1),
        t2 AS (SELECT doc_id, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e1),
        i2 AS (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t2),
        p2 AS (SELECT t[i] AS l, t[i + 1] AS r, count(*) AS cnt
          FROM i2 GROUP BY 1, 2),
        a2 AS (SELECT l, r, cnt FROM p2
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        b2 AS (SELECT p2.l, p2.r, p2.cnt FROM p2, a2
          WHERE p2.l NOT IN (a2.l, a2.r) AND p2.r NOT IN (a2.l, a2.r)
          ORDER BY p2.cnt DESC, p2.l ASC, p2.r ASC LIMIT 1)
        SELECT CAST(1 AS INTEGER) AS round, CAST(1 AS INTEGER) AS rank,
          l AS pair_l, r AS pair_r, CAST(cnt AS BIGINT) AS cnt FROM a1
        UNION ALL SELECT CAST(1 AS INTEGER), CAST(2 AS INTEGER), l, r,
          CAST(cnt AS BIGINT) FROM b1
        UNION ALL SELECT CAST(2 AS INTEGER), CAST(1 AS INTEGER), l, r,
          CAST(cnt AS BIGINT) FROM a2
        UNION ALL SELECT CAST(2 AS INTEGER), CAST(2 AS INTEGER), l, r,
          CAST(cnt AS BIGINT) FROM b2"""),
    ),

    // canonical char-level BPE over the word-frequency dictionary
    // (Sennrich): one encoded row per distinct word weighted by count,
    // initial symbols = characters, merges build subword units; the
    // oracle unrolls 3 weighted rounds over the same dictionary
    "q_text_bpe_train_chars" -> QueryDef(
      (s, dir) => TextAnalysis.bpeTrainChars(docs(s, dir), "text",
          iterations = 3)
        .select(col("it").cast("int").as("it"), col("pair_l"),
          col("pair_r"), col("cnt")),
      Some("""WITH w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS wc
          FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
                FROM documents) GROUP BY 1),
        e0 AS (SELECT wc, chr(31) || array_to_string(
            list_transform(range(1, len(word) + 1), i -> word[i:i]),
            chr(31) || chr(31)) || chr(31) AS enc FROM w0),
        t1 AS (SELECT wc, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e0),
        i1 AS (SELECT wc, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t1),
        p1 AS (SELECT t[i] AS l, t[i + 1] AS r, sum(wc) AS cnt
          FROM i1 GROUP BY 1, 2),
        m1 AS (SELECT l, r, cnt FROM p1
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        e1 AS (SELECT wc, replace(enc,
            chr(31) || m1.l || chr(31) || chr(31) || m1.r || chr(31),
            chr(31) || m1.l || chr(30) || m1.r || chr(31)) AS enc
          FROM e0 CROSS JOIN m1),
        t2 AS (SELECT wc, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e1),
        i2 AS (SELECT wc, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t2),
        p2 AS (SELECT t[i] AS l, t[i + 1] AS r, sum(wc) AS cnt
          FROM i2 GROUP BY 1, 2),
        m2 AS (SELECT l, r, cnt FROM p2
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        e2 AS (SELECT wc, replace(enc,
            chr(31) || m2.l || chr(31) || chr(31) || m2.r || chr(31),
            chr(31) || m2.l || chr(30) || m2.r || chr(31)) AS enc
          FROM e1 CROSS JOIN m2),
        t3 AS (SELECT wc, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e2),
        i3 AS (SELECT wc, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t3),
        p3 AS (SELECT t[i] AS l, t[i + 1] AS r, sum(wc) AS cnt
          FROM i3 GROUP BY 1, 2),
        m3 AS (SELECT l, r, cnt FROM p3
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)
        SELECT CAST(1 AS INTEGER) AS it, l AS pair_l, r AS pair_r,
          CAST(cnt AS BIGINT) AS cnt FROM m1
        UNION ALL SELECT CAST(2 AS INTEGER), l, r, CAST(cnt AS BIGINT) FROM m2
        UNION ALL SELECT CAST(3 AS INTEGER), l, r, CAST(cnt AS BIGINT) FROM m3"""),
    ),

    // the PRODUCTION vocab contract: train char-level BPE to a target
    // vocabulary size (initial distinct characters + 3 here), with the
    // running vocab_size accounted in the output. The oracle re-derives
    // the initial vocabulary with an independent distinct-char count and
    // replays the same 3-round unroll — corpus-adaptive, so the gate
    // holds at any scale factor
    "q_text_bpe_vocab" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val init = TextAnalysis.bpeInitialVocabChars(d, "text")
        TextAnalysis.bpeTrainCharsToVocab(d, "text", targetVocab = init + 3)
          .select(col("it").cast("int").as("it"), col("pair_l"),
            col("pair_r"), col("cnt"), col("vocab_size"))
      },
      Some("""WITH w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS wc
          FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
                FROM documents) GROUP BY 1),
        v0 AS (SELECT CAST(count(DISTINCT c) AS BIGINT) AS iv FROM
          (SELECT unnest(list_transform(range(1, len(word) + 1),
             i -> word[i:i])) AS c FROM w0)),
        e0 AS (SELECT wc, chr(31) || array_to_string(
            list_transform(range(1, len(word) + 1), i -> word[i:i]),
            chr(31) || chr(31)) || chr(31) AS enc FROM w0),
        t1 AS (SELECT wc, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e0),
        i1 AS (SELECT wc, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t1),
        p1 AS (SELECT t[i] AS l, t[i + 1] AS r, sum(wc) AS cnt
          FROM i1 GROUP BY 1, 2),
        m1 AS (SELECT l, r, cnt FROM p1
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        e1 AS (SELECT wc, replace(enc,
            chr(31) || m1.l || chr(31) || chr(31) || m1.r || chr(31),
            chr(31) || m1.l || chr(30) || m1.r || chr(31)) AS enc
          FROM e0 CROSS JOIN m1),
        t2 AS (SELECT wc, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e1),
        i2 AS (SELECT wc, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t2),
        p2 AS (SELECT t[i] AS l, t[i + 1] AS r, sum(wc) AS cnt
          FROM i2 GROUP BY 1, 2),
        m2 AS (SELECT l, r, cnt FROM p2
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        e2 AS (SELECT wc, replace(enc,
            chr(31) || m2.l || chr(31) || chr(31) || m2.r || chr(31),
            chr(31) || m2.l || chr(30) || m2.r || chr(31)) AS enc
          FROM e1 CROSS JOIN m2),
        t3 AS (SELECT wc, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e2),
        i3 AS (SELECT wc, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t3),
        p3 AS (SELECT t[i] AS l, t[i + 1] AS r, sum(wc) AS cnt
          FROM i3 GROUP BY 1, 2),
        m3 AS (SELECT l, r, cnt FROM p3
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)
        SELECT CAST(1 AS INTEGER) AS it, l AS pair_l, r AS pair_r,
          CAST(cnt AS BIGINT) AS cnt, iv + 1 AS vocab_size
          FROM m1 CROSS JOIN v0
        UNION ALL SELECT CAST(2 AS INTEGER), l, r, CAST(cnt AS BIGINT),
          iv + 2 FROM m2 CROSS JOIN v0
        UNION ALL SELECT CAST(3 AS INTEGER), l, r, CAST(cnt AS BIGINT),
          iv + 3 FROM m3 CROSS JOIN v0"""),
    ),

    // apply the learned merge table to the corpus (train-then-segment in
    // one gate): per-doc symbol counts after the 3 merges — the oracle
    // carries the rewrite chain one step further and measures e3
    "q_text_bpe_segment" -> QueryDef(
      (s, dir) => {
        val merges = TextAnalysis.bpeTrain(docs(s, dir), "text", 3)
          .orderBy("it").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        TextAnalysis.bpeSegment(docs(s, dir), "doc_id", "text", merges)
          .select("doc_id", "n_symbols")
      },
      Some("""WITH e0 AS (SELECT doc_id, chr(31) ||
            array_to_string(string_split_regex(trim(text), '\s+'),
              chr(31) || chr(31)) || chr(31) AS enc FROM documents),
        t1 AS (SELECT doc_id, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e0),
        i1 AS (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t1),
        p1 AS (SELECT t[i] AS l, t[i + 1] AS r, count(*) AS cnt
          FROM i1 GROUP BY 1, 2),
        m1 AS (SELECT l, r FROM p1 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        e1 AS (SELECT doc_id, replace(enc,
            chr(31) || m1.l || chr(31) || chr(31) || m1.r || chr(31),
            chr(31) || m1.l || chr(30) || m1.r || chr(31)) AS enc
          FROM e0 CROSS JOIN m1),
        t2 AS (SELECT doc_id, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e1),
        i2 AS (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t2),
        p2 AS (SELECT t[i] AS l, t[i + 1] AS r, count(*) AS cnt
          FROM i2 GROUP BY 1, 2),
        m2 AS (SELECT l, r FROM p2 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        e2 AS (SELECT doc_id, replace(enc,
            chr(31) || m2.l || chr(31) || chr(31) || m2.r || chr(31),
            chr(31) || m2.l || chr(30) || m2.r || chr(31)) AS enc
          FROM e1 CROSS JOIN m2),
        t3 AS (SELECT doc_id, string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31)) AS t FROM e2),
        i3 AS (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i
          FROM t3),
        p3 AS (SELECT t[i] AS l, t[i + 1] AS r, count(*) AS cnt
          FROM i3 GROUP BY 1, 2),
        m3 AS (SELECT l, r FROM p3 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        e3 AS (SELECT doc_id, replace(enc,
            chr(31) || m3.l || chr(31) || chr(31) || m3.r || chr(31),
            chr(31) || m3.l || chr(30) || m3.r || chr(31)) AS enc
          FROM e2 CROSS JOIN m3)
        SELECT doc_id, CAST(len(string_split(substr(enc, 2, len(enc) - 2),
            chr(31) || chr(31))) AS BIGINT) AS n_symbols
        FROM e3"""),
    ),

    "q_text_fingerprint" -> QueryDef(
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("fp")),
      Some(s"SELECT doc_id, ${duckHash("text")} AS fp FROM documents"),
    ),

    // --- dedup -----------------------------------------------------------
    "q_dedup_exact" -> QueryDef(
      (s, dir) => Dedup.exact(corpusExact(s, dir), "doc_id", "text"),
      Some(s"""WITH $CORPUS_EXACT,
        g AS (SELECT md5(text) AS dg, min(doc_id) AS canonical_id, count(*) AS n
              FROM corpus GROUP BY 1)
        SELECT g.canonical_id, c.doc_id AS dup_id
        FROM corpus c JOIN g ON md5(c.text) = g.dg
        WHERE g.n > 1 AND c.doc_id <> g.canonical_id"""),
    ),

    "q_dedup_minhash" -> QueryDef(
      (s, dir) => Dedup.minhashNearDups(corpusNear(s, dir), "doc_id", "text",
        n = 3, k = 12, r = 3, threshold = 0.6),
      Some(s"""WITH $CORPUS_NEAR, $DUCK_SHINGLES,
        mh AS (SELECT s.doc_id, t.i,
                 min(((131*t.i + 7) * s.sh_hash + (97*t.i + 3)) % 1000000007) AS minh
               FROM shh s CROSS JOIN range(0, 12) t(i) GROUP BY 1, 2),
        bands AS (SELECT doc_id, i // 3 AS band,
                    string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS sig
                  FROM mh GROUP BY 1, 2),
        cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                 FROM bands x JOIN bands y
                   ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
        szs AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1),
        inter AS (SELECT c.a_id, c.b_id, count(*) AS i_cnt
                  FROM cand c
                  JOIN shh p ON p.doc_id = c.a_id
                  JOIN shh q ON q.doc_id = c.b_id AND q.sh_hash = p.sh_hash
                  GROUP BY 1, 2)
        SELECT i.a_id, i.b_id,
          CAST(i.i_cnt AS DOUBLE)/CAST(s1.sz + s2.sz - i.i_cnt AS DOUBLE) AS jaccard
        FROM inter i
        JOIN szs s1 ON s1.doc_id = i.a_id
        JOIN szs s2 ON s2.doc_id = i.b_id
        WHERE CAST(i.i_cnt AS DOUBLE)/CAST(s1.sz + s2.sz - i.i_cnt AS DOUBLE) >= 0.6"""),
    ),

    // end-to-end near-dup removal: LSH pairs -> connected components ->
    // one survivor (min id) per cluster, corpus filtered by anti-join.
    // The oracle replays the pair pipeline, then expands components with a
    // recursive CTE (min reachable label) and removes the same losers.
    "q_dedup_corpus" -> QueryDef(
      (s, dir) => {
        val c = corpusNear(s, dir)
        Dedup.dedupCorpus(c, "doc_id",
          Dedup.minhashNearDups(c, "doc_id", "text",
            n = 3, k = 12, r = 3, threshold = 0.6))
      },
      Some(s"""WITH RECURSIVE $CORPUS_NEAR, $DUCK_SHINGLES,
        $DUCK_MINHASH_COMPONENTS,
        losers AS (SELECT node AS doc_id FROM comp WHERE node <> component)
        SELECT c.doc_id, c.text FROM corpus c
        LEFT JOIN losers l ON l.doc_id = c.doc_id
        WHERE l.doc_id IS NULL"""),
    ),

    // leakage-safe splitting: a near-dup cluster must not straddle splits,
    // so the split hash runs over the cluster ROOT (min reachable id);
    // singletons hash on themselves and reduce to q_hash_split
    "q_split_leakage_safe" -> QueryDef(
      (s, dir) => {
        val c = corpusNear(s, dir)
        Curate.leakageSafeSplit(c.select("doc_id"), "doc_id",
          Dedup.minhashNearDups(c, "doc_id", "text",
            n = 3, k = 12, r = 3, threshold = 0.6))
      },
      Some(s"""WITH RECURSIVE $CORPUS_NEAR, $DUCK_SHINGLES,
        $DUCK_MINHASH_COMPONENTS,
        root AS (SELECT c.doc_id, coalesce(p.component, c.doc_id) AS root
                 FROM corpus c LEFT JOIN comp p ON p.node = c.doc_id)
        SELECT doc_id, root,
          CASE WHEN ${duckHash("CAST(root AS VARCHAR)")} % 100 < 90
                 THEN 'train'
               WHEN ${duckHash("CAST(root AS VARCHAR)")} % 100 < 95
                 THEN 'val'
               ELSE 'test' END AS split FROM root"""),
    ),

    // incremental near-dup: the persisted band-signature index of the OLD
    // corpus probed by the new batch only; oracle = the full batch run
    // restricted to pairs involving a new doc
    "q_dedup_incremental" -> QueryDef(
      (s, dir) => {
        val old = docs(s, dir).select("doc_id", "text")
        val newBatch = corpusNear(s, dir).filter(col("doc_id") >= 100000)
        // the old corpus' index/shingles are PERSISTED artifacts in the
        // incremental scenario — materialize once, as a parquet read would
        val oldSh = Dedup.shingleHashes(old, "doc_id", "text", 3)
          .boundary()
        val oldSigs = Dedup.bandSignatures(Dedup.minhash(oldSh, 12), 3)
          .boundary()
        Dedup.deltaNearDups(newBatch, "doc_id", "text", oldSigs, oldSh,
          n = 3, k = 12, r = 3, threshold = 0.6)
      },
      Some(s"""WITH $CORPUS_NEAR, $DUCK_SHINGLES,
        mh AS (SELECT s.doc_id, t.i,
                 min(((131*t.i + 7) * s.sh_hash + (97*t.i + 3)) % 1000000007) AS minh
               FROM shh s CROSS JOIN range(0, 12) t(i) GROUP BY 1, 2),
        bands AS (SELECT doc_id, i // 3 AS band,
                    string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS sig
                  FROM mh GROUP BY 1, 2),
        cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                 FROM bands x JOIN bands y
                   ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
                 WHERE x.doc_id >= 100000 OR y.doc_id >= 100000),
        szs AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1),
        inter AS (SELECT c.a_id, c.b_id, count(*) AS i_cnt
                  FROM cand c
                  JOIN shh p ON p.doc_id = c.a_id
                  JOIN shh q ON q.doc_id = c.b_id AND q.sh_hash = p.sh_hash
                  GROUP BY 1, 2)
        SELECT i.a_id, i.b_id,
          CAST(i.i_cnt AS DOUBLE)/CAST(s1.sz + s2.sz - i.i_cnt AS DOUBLE) AS jaccard
        FROM inter i
        JOIN szs s1 ON s1.doc_id = i.a_id
        JOIN szs s2 ON s2.doc_id = i.b_id
        WHERE CAST(i.i_cnt AS DOUBLE)/CAST(s1.sz + s2.sz - i.i_cnt AS DOUBLE) >= 0.6"""),
    ),

    "q_dedup_simhash" -> QueryDef(
      (s, dir) => Dedup.simhash(
        Dedup.tokenSet(docs(s, dir), "doc_id", "text")),
      Some(s"""WITH tok AS (
          SELECT DISTINCT doc_id,
            unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents),
        $DUCK_TOKMIX,
        bits AS (SELECT bit, (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) AS mask
                 FROM range(0, 32) b(bit)),
        votes AS (SELECT doc_id, bit, mask,
                    SUM(CASE WHEN (th & mask) <> 0 THEN 1 ELSE -1 END) AS vote
                  FROM th CROSS JOIN bits GROUP BY 1, 2, 3)
        SELECT doc_id,
          CAST(SUM(CASE WHEN vote > 0 THEN mask ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY 1"""),
    ),

    "q_dedup_simhash_pairs" -> QueryDef(
      (s, dir) => Dedup.simhashNearDups(
        Dedup.simhash(Dedup.tokenSet(
          corpusNear(s, dir).filter(col("doc_id") % 50 === 0 ||
            (col("doc_id") >= 100000 && (col("doc_id") - 100000) % 50 === 0)),
          "doc_id", "text")),
        maxHamming = 3),
      Some(s"""WITH $CORPUS_NEAR,
        sub AS (SELECT * FROM corpus
                WHERE doc_id % 50 = 0
                   OR (doc_id >= 100000 AND (doc_id - 100000) % 50 = 0)),
        tok AS (SELECT DISTINCT doc_id,
                  unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM sub),
        $DUCK_TOKMIX,
        bits AS (SELECT bit, (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) AS mask
                 FROM range(0, 32) b(bit)),
        votes AS (SELECT doc_id, bit, mask,
                    SUM(CASE WHEN (th & mask) <> 0 THEN 1 ELSE -1 END) AS vote
                  FROM th CROSS JOIN bits GROUP BY 1, 2, 3),
        sh AS (SELECT doc_id,
                 CAST(SUM(CASE WHEN vote > 0 THEN mask ELSE 0 END) AS BIGINT) AS simhash
               FROM votes GROUP BY 1),
        bytes AS (SELECT i AS byte_idx,
                    (CAST(255 AS BIGINT) << CAST(8*i AS INTEGER)) AS byte_mask
                  FROM range(0, 4) t(i)),
        keyed AS (SELECT doc_id, simhash, byte_idx, simhash & byte_mask AS byte_val
                  FROM sh CROSS JOIN bytes),
        cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                   x.simhash AS sh_a, y.simhash AS sh_b
                 FROM keyed x JOIN keyed y
                   ON x.byte_idx = y.byte_idx AND x.byte_val = y.byte_val
                      AND x.doc_id < y.doc_id)
        SELECT a_id, b_id, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3"""),
    ),

    // df-capped inverted index (stop-shingle cap, df <= 20) for candidate
    // generation; exact Jaccard over the full shingle sets for verification
    "q_dedup_ngram_jaccard" -> QueryDef(
      (s, dir) => Dedup.ngramJaccardPairs(corpusNear(s, dir), "doc_id", "text",
        n = 3, maxDf = 20, minIntersect = 10, threshold = 0.5),
      Some(s"""WITH $CORPUS_NEAR, $DUCK_SHINGLES,
        cold AS (SELECT sh_hash FROM shh GROUP BY sh_hash HAVING count(*) <= 20),
        capped AS (SELECT s.doc_id, s.sh_hash FROM shh s
                   JOIN cold c ON s.sh_hash = c.sh_hash),
        cand AS (SELECT DISTINCT p.doc_id AS a_id, q.doc_id AS b_id
                 FROM capped p JOIN capped q
                   ON p.sh_hash = q.sh_hash AND p.doc_id < q.doc_id),
        pairs AS (SELECT c.a_id, c.b_id, count(*) AS i_cnt
                  FROM cand c
                  JOIN shh p ON p.doc_id = c.a_id
                  JOIN shh q ON q.doc_id = c.b_id AND q.sh_hash = p.sh_hash
                  GROUP BY 1, 2 HAVING count(*) >= 10),
        szs AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1)
        SELECT p.a_id, p.b_id,
          CAST(p.i_cnt AS DOUBLE)/CAST(s1.sz + s2.sz - p.i_cnt AS DOUBLE) AS jaccard
        FROM pairs p
        JOIN szs s1 ON s1.doc_id = p.a_id
        JOIN szs s2 ON s2.doc_id = p.b_id
        WHERE CAST(p.i_cnt AS DOUBLE)/CAST(s1.sz + s2.sz - p.i_cnt AS DOUBLE) >= 0.5"""),
    ),

    // exact-substring dedup (Lee et al. 2022): every occurrence of a
    // repeated 8-token window except the corpus-globally-first one is
    // removed at TOKEN granularity, overlaps merged, docs reassembled.
    // The oracle replays window extraction, global first-occurrence
    // ranking, coverage, and the rebuild relationally.
    "q_dedup_substr" -> QueryDef(
      (s, dir) => Dedup.exactSubstrDedup(docs(s, dir), "doc_id", "text", n = 8),
      Some("""WITH d AS (SELECT doc_id,
          string_split_regex(trim(text), '\s+') AS toks FROM documents),
        g0 AS (SELECT doc_id, toks,
                CAST(unnest(range(1, len(toks) - 6)) AS BIGINT) AS pos FROM d),
        g AS (SELECT doc_id, pos,
                array_to_string(list_slice(toks, pos, pos + 7), ' ') AS gram
              FROM g0),
        f AS (SELECT doc_id, pos,
                row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
              FROM g),
        cov0 AS (SELECT doc_id, pos, unnest(range(0, 8)) AS o
                 FROM f WHERE rn > 1),
        cov AS (SELECT DISTINCT doc_id, pos + o AS pos FROM cov0),
        tok0 AS (SELECT doc_id, toks,
                  CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) AS pos FROM d),
        tok AS (SELECT doc_id, pos, toks[pos] AS tok FROM tok0),
        kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
                 ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos),
        reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_deduped,
                  count(*) AS kept_tokens
                FROM kept GROUP BY 1)
        SELECT d.doc_id, COALESCE(reb.text_deduped, '') AS text_deduped,
               COALESCE(reb.kept_tokens, 0) AS kept_tokens,
               CAST(len(d.toks) AS BIGINT) AS total_tokens
        FROM d LEFT JOIN reb USING (doc_id)"""),
    ),

    // ccnet/RefinedWeb-style line dedup: lines (paragraphs) appearing in
    // >= 30 distinct docs are boilerplate and drop from every doc; the
    // corpus plants a header+footer on all docs so the hot set is
    // non-trivial at every SF
    "q_dedup_lines" -> QueryDef(
      (s, dir) => Dedup.lineDedup(corpusLines(s, dir), "doc_id", "text",
        minDf = 30L),
      Some(s"""WITH $CORPUS_LINES,
        ls AS (SELECT doc_id, string_split(text, chr(10)) AS la FROM corpus),
        lp AS (SELECT doc_id, la, unnest(range(1, len(la) + 1)) AS pos FROM ls),
        lines AS (SELECT doc_id, pos, la[pos] AS line FROM lp),
        lh AS (SELECT doc_id, pos, line, ${duckHash("line")} AS h FROM lines),
        hot AS (SELECT h FROM (
                  SELECT h, count(DISTINCT doc_id) AS line_df
                  FROM lh GROUP BY 1)
                WHERE line_df >= 30),
        kept AS (SELECT doc_id, pos, line FROM lh
                 WHERE h NOT IN (SELECT h FROM hot)),
        agg AS (SELECT doc_id,
                  string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                  count(*) AS n_kept
                FROM kept GROUP BY 1),
        tot AS (SELECT doc_id,
                  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
                FROM corpus)
        SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text, t.n_lines,
               t.n_lines - COALESCE(a.n_kept, 0) AS n_dropped
        FROM tot t LEFT JOIN agg a USING (doc_id)"""),
    ),

    // incremental line dedup: the even half's (doc, line-hash) pairs are
    // the persisted index; the odd half arrives as a delta and drops a
    // line iff the ACCUMULATED df (stored + batch = full corpus here)
    // reaches 30. Oracle = the batch run restricted to the delta docs.
    "q_dedup_lines_incremental" -> QueryDef(
      (s, dir) => {
        val c = corpusLines(s, dir)
        val stored = Dedup.docLineHashes(
          c.filter(col("doc_id") % 2 === 0), "doc_id", "text")
          .boundary() // persisted-artifact stand-in
        Dedup.lineDedupDelta(c.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", stored, minDf = 30L)
      },
      Some(s"""WITH $CORPUS_LINES,
        ls AS (SELECT doc_id, string_split(text, chr(10)) AS la FROM corpus),
        lp AS (SELECT doc_id, la, unnest(range(1, len(la) + 1)) AS pos FROM ls),
        lines AS (SELECT doc_id, pos, la[pos] AS line FROM lp),
        lh AS (SELECT doc_id, pos, line, ${duckHash("line")} AS h FROM lines),
        hot AS (SELECT h FROM (
                  SELECT h, count(DISTINCT doc_id) AS line_df
                  FROM lh GROUP BY 1)
                WHERE line_df >= 30),
        kept AS (SELECT doc_id, pos, line FROM lh
                 WHERE doc_id % 2 = 1 AND h NOT IN (SELECT h FROM hot)),
        agg AS (SELECT doc_id,
                  string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                  count(*) AS n_kept
                FROM kept GROUP BY 1),
        tot AS (SELECT doc_id,
                  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
                FROM corpus WHERE doc_id % 2 = 1)
        SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text, t.n_lines,
               t.n_lines - COALESCE(a.n_kept, 0) AS n_dropped
        FROM tot t LEFT JOIN agg a USING (doc_id)"""),
    ),

    // SemDeDup (Abbas et al. 2023): k-means-cell-scoped cosine near-dup
    // pairs — the oracle replays the deterministic seed-cell assignment
    // (max rounded cosine, centroid-id tie-break) and the within-cell join
    "q_dedup_semantic" -> QueryDef(
      (s, dir) => Similarity.semanticNearDups(
        Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding")),
        nCells = 8, minCos = 0.3),
      Some(s"""WITH $SEMANTIC_CELLS
        SELECT a_id, b_id, cell, cos FROM (
          SELECT x.id AS a_id, y.id AS b_id, x.cell AS cell,
            round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65),
                p -> CAST(x.embedding[p] AS DOUBLE) * CAST(y.embedding[p] AS DOUBLE))),
              (a, b) -> a + b) / (x.nrm * y.nrm), 4) AS cos
          FROM assign x JOIN assign y
            ON x.cell = y.cell AND x.id < y.id)
        WHERE cos >= 0.3"""),
    ),

    // SemDeDup survivor selection: drop every vector with a lower-id
    // in-cell near-dup; one row per input id with its keep verdict
    "q_dedup_semantic_kept" -> QueryDef(
      (s, dir) => Similarity.semanticDedup(
        Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding")),
        nCells = 8, minCos = 0.3),
      Some(s"""WITH $SEMANTIC_CELLS,
        dropped AS (SELECT DISTINCT y.id FROM assign x JOIN assign y
          ON x.cell = y.cell AND x.id < y.id
          WHERE round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65),
                p -> CAST(x.embedding[p] AS DOUBLE) * CAST(y.embedding[p] AS DOUBLE))),
              (a, b) -> a + b) / (x.nrm * y.nrm), 4) >= 0.3)
        SELECT a.id, a.cell, (d.id IS NULL) AS kept
        FROM assign a LEFT JOIN dropped d ON a.id = d.id"""),
    ),

    // --- multimodal plumbing ---------------------------------------------
    // binary payload -> per-partition batched decode (stubbed codec) ->
    // small feature rows; checksum is the byte-level rolling hash, which
    // equals the char-level hash on this ASCII corpus, giving an oracle
    "q_multimodal_features" -> QueryDef(
      (s, dir) => graft.operators.Multimodal.extractFeatures(
          graft.operators.Multimodal.syntheticMedia(s, docs(s, dir)), 32)
        .toDF().select("media_id", "kind", "n_bytes", "checksum"),
      Some(s"""SELECT doc_id AS media_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image'
               WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
          CAST(length(text) AS BIGINT) AS n_bytes,
          ${duckHash("text")} AS checksum
        FROM documents"""),
    ),

    // Real container-metadata decode: the fixture plants standards-layout
    // PNG/JPEG byte streams with dimensions derived from doc_id, the
    // engine parses them back from the BYTES (image_meta byte math); the
    // oracle predicts the planted values arithmetically — any parse slip
    // breaks the match. PNG color types cycle {0,2,6} (1/3/4 channels);
    // JPEGs alternate 1/3 components and half carry an APP0 segment so
    // the marker scan is exercised.
    "q_multimodal_dims" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"),
          (col("doc_id") % 600 + 9).cast("int").as("w"),
          (col("doc_id") % 400 + 8).cast("int").as("h"))
        val png = d.where(col("doc_id") % 2 === 0).select(col("doc_id"),
          graft.operators.Multimodal.pngBytes(col("w"), col("h"),
            element_at(array(lit(0), lit(2), lit(6)),
              (col("doc_id") % 3 + 1).cast("int"))).as("data"))
        val jpg = d.where(col("doc_id") % 2 === 1).select(col("doc_id"),
          graft.operators.Multimodal.jpegBytes(col("w"), col("h"),
            when(col("doc_id") % 3 === 0, 1).otherwise(3),
            col("doc_id") % 4 === 1).as("data"))
        png.unionByName(jpg)
          .select(col("doc_id").as("media_id"),
            graft.operators.Multimodal.imageMeta(col("data")).as("m"))
          .select(col("media_id"), col("m.format").as("format"),
            col("m.width").as("width"), col("m.height").as("height"),
            col("m.channels").as("channels"))
      },
      Some("""SELECT doc_id AS media_id,
          CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
          CAST(doc_id % 600 + 9 AS INTEGER) AS width,
          CAST(doc_id % 400 + 8 AS INTEGER) AS height,
          CAST(CASE WHEN doc_id % 2 = 0 THEN
                 CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
               ELSE CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END
          END AS INTEGER) AS channels
        FROM documents"""),
    ),

    // GIF/BMP container metadata from planted standards-layout bytes:
    // GIF89a little-endian screen descriptors; BMPs with cycling bit
    // depths (8/24/32 -> 1/3/4 channels) and a top-down (negative-height
    // i32) variant exercising the two's-complement parse
    "q_multimodal_dims_ext" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"),
          (col("doc_id") % 600 + 1).cast("long").as("w"),
          (col("doc_id") % 400 + 1).cast("long").as("h"))
        val gif = d.where(col("doc_id") % 2 === 0).select(col("doc_id"),
          graft.operators.Multimodal.gifBytes(col("w"), col("h")).as("data"))
        val bmp = d.where(col("doc_id") % 2 === 1).select(col("doc_id"),
          graft.operators.Multimodal.bmpBytes(col("w"), col("h"),
            element_at(array(lit(8L), lit(24L), lit(32L)),
              (col("doc_id") % 3 + 1).cast("int")),
            col("doc_id") % 5 === 0).as("data"))
        gif.unionByName(bmp)
          .select(col("doc_id").as("media_id"),
            graft.operators.Multimodal.imageMeta(col("data")).as("m"))
          .select(col("media_id"), col("m.format").as("format"),
            col("m.width").as("width"), col("m.height").as("height"),
            col("m.channels").as("channels"))
      },
      Some("""SELECT doc_id AS media_id,
          CASE WHEN doc_id % 2 = 0 THEN 'gif' ELSE 'bmp' END AS format,
          CAST(doc_id % 600 + 1 AS INTEGER) AS width,
          CAST(doc_id % 400 + 1 AS INTEGER) AS height,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE
                 CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
          END AS INTEGER) AS channels
        FROM documents"""),
    ),

    // VIDEO/AUDIO container metadata from planted standards-layout
    // headers: ISO-BMFF MP4s (box-tree walk: ftyp brand, mvhd timescale
    // division, per-trak tkhd 16.16 dims + hdlr routing + stsd codec
    // fourcc; single- and dual-track variants) and RIFF AVIs (hdrl/avih
    // main header, strh stream handlers, with the audio stream planted
    // under the NUMERIC non-printable handler real encoders write, which
    // must parse to null). Duration math is exact by construction
    // (timescales divide 1000; 25 fps AVI), so the oracle is closed-form
    "q_multimodal_container" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"),
          (col("doc_id") % 1904 + 16).cast("int").as("w"),
          (col("doc_id") % 1064 + 16).cast("int").as("h"),
          (col("doc_id") % 5 =!= 0).as("with_audio"))
        val mp4 = d.where(col("doc_id") % 2 === 0).select(col("doc_id"),
          graft.operators.Multimodal.mp4Bytes(
            lit("isom"),
            element_at(array(lit(250), lit(500), lit(1000)),
              (col("doc_id") % 3 + 1).cast("int")),
            (col("doc_id") % 86400).cast("int"),
            col("w"), col("h"),
            element_at(array(lit("avc1"), lit("hev1"), lit("av01")),
              (col("doc_id") % 3 + 1).cast("int")),
            col("with_audio"), lit("mp4a")).as("data"))
        val avi = d.where(col("doc_id") % 2 === 1).select(col("doc_id"),
          graft.operators.Multimodal.aviBytes(
            lit(40000), (col("doc_id") % 5000).cast("int"),
            col("w"), col("h"),
            element_at(array(lit("MJPG"), lit("XVID"), lit("DIV3")),
              (col("doc_id") % 3 + 1).cast("int")),
            col("with_audio")).as("data"))
        mp4.unionByName(avi)
          .select(col("doc_id").as("media_id"),
            graft.operators.Multimodal.containerMeta(col("data")).as("m"))
          .select(col("media_id"), col("m.format").as("format"),
            col("m.brand").as("brand"),
            col("m.duration_ms").as("duration_ms"),
            col("m.width").as("width"), col("m.height").as("height"),
            col("m.n_tracks").as("n_tracks"),
            col("m.video_codec").as("video_codec"),
            col("m.audio_codec").as("audio_codec"))
      },
      Some("""SELECT doc_id AS media_id,
          CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS format,
          CASE WHEN doc_id % 2 = 0 THEN 'isom' END AS brand,
          CAST(CASE WHEN doc_id % 2 = 0 THEN
                 (doc_id % 86400) * (CASE doc_id % 3
                    WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 1 END)
               ELSE (doc_id % 5000) * 40 END AS BIGINT) AS duration_ms,
          CAST(doc_id % 1904 + 16 AS INTEGER) AS width,
          CAST(doc_id % 1064 + 16 AS INTEGER) AS height,
          CAST(CASE WHEN doc_id % 5 <> 0 THEN 2 ELSE 1 END AS INTEGER)
            AS n_tracks,
          CASE doc_id % 6 WHEN 0 THEN 'avc1' WHEN 2 THEN 'av01'
            WHEN 4 THEN 'hev1' WHEN 1 THEN 'XVID' WHEN 3 THEN 'MJPG'
            ELSE 'DIV3' END AS video_codec,
          CASE WHEN doc_id % 2 = 0 AND doc_id % 5 <> 0 THEN 'mp4a' END
            AS audio_codec
        FROM documents"""),
    ),

    // WARC-style crawl chunk ingestion: each row is a CONCATENATED-gzip
    // chunk (three records, one per member — the WARC convention),
    // gzip_members splits and decompresses by walking real gzip headers
    // and the raw-deflate member boundary, warc_record parses version /
    // header map / body. Record IDs, types, bodies, and Content-Length
    // round-trip in closed form; any slip in the member walk or header
    // split moves a row.
    "q_content_warc" -> QueryDef(
      (s, dir) => {
        def rec(i: Int): org.apache.spark.sql.Column = {
          val body = concat(lit("payload "), col("doc_id").cast("string"),
            lit(s" member $i "),
            repeat(lit("data "), (col("doc_id") % 5 + i).cast("int")))
          val typ = Seq("response", "request", "metadata")(i)
          graft.functions.codecs.compress_bytes(concat(
            lit(s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Record-ID: <urn:uuid:"),
            col("doc_id").cast("string"), lit(s"-$i>\r\nContent-Length: "),
            length(body).cast("string"), lit("\r\n\r\n"), body
          ).cast("binary"), lit("gzip"))
        }
        graft.sources.Content.warcRecords(
            docs(s, dir).select(col("doc_id"),
              concat(rec(0), rec(1), rec(2)).as("chunk")),
            "doc_id", "chunk")
          .select(col("doc_id"), col("member_idx"), col("version"),
            element_at(col("headers"), "WARC-Type").as("warc_type"),
            element_at(col("headers"), "WARC-Record-ID").as("record_id"),
            element_at(col("headers"), "Content-Length")
              .cast("int").as("content_length"),
            col("body").cast("string").as("body"))
      },
      Some("""WITH m AS (
          SELECT doc_id, unnest(generate_series(0, 2)) AS mi FROM documents),
        b AS (
          SELECT doc_id, mi,
            'payload ' || doc_id || ' member ' || mi || ' ' ||
              repeat('data ', CAST(doc_id % 5 + mi AS INT)) AS body
          FROM m)
        SELECT doc_id, CAST(mi AS INTEGER) AS member_idx,
          'WARC/1.0' AS version,
          CASE mi WHEN 0 THEN 'response' WHEN 1 THEN 'request'
            ELSE 'metadata' END AS warc_type,
          '<urn:uuid:' || doc_id || '-' || mi || '>' AS record_id,
          CAST(length(body) AS INTEGER) AS content_length,
          body
        FROM b"""),
    ),

    // Charset-aware byte->text decode: six planted page classes cover
    // every step of the WHATWG sniffing order — UTF-16LE/BE BOMs
    // (stripped), a transport hint that outranks a contradicting
    // <meta>, a meta-declared iso-8859-15 whose 0xA4 byte must become
    // the EURO sign (cp1252 would give the currency sign — proving the
    // declaration is used, not the fallback), strict-UTF-8 multibyte
    // acceptance, and undeclared latin1 bytes landing on the
    // windows-1252 fallback. Detected name and decoded text both
    // closed-form.
    "q_content_charset" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val m = col("doc_id") % 6
        val body = when(m === 0, encode(
            concat(lit("page "), id, lit(" café 世界")), "UTF-8"))
          .when(m === 1, concat(
            lit(Array[Byte](0xff.toByte, 0xfe.toByte)),
            encode(concat(lit("page "), id, lit(" wide")), "UTF-16LE")))
          .when(m === 2, concat(
            lit(Array[Byte](0xfe.toByte, 0xff.toByte)),
            encode(concat(lit("page "), id, lit(" wide")), "UTF-16BE")))
          .when(m === 3, encode(
            concat(lit("page "), id, lit(" café ¤")), "ISO-8859-1"))
          .when(m === 4, encode(
            concat(lit("<meta charset=iso-8859-15>page "), id, lit(" ¤")),
            "ISO-8859-1"))
          .otherwise(encode(
            concat(lit("<meta charset=windows-1252>page "), id, lit(" ¤")),
            "ISO-8859-1"))
        val hint = when(m === 5, lit("text/html; charset=ISO-8859-15"))
          .otherwise(lit(null).cast("string"))
        docs(s, dir).select(col("doc_id"),
          graft.functions.charsets.charset_detect(body, hint).as("charset"),
          graft.functions.charsets.decode_text(body, hint).as("text"))
      },
      Some("""SELECT doc_id,
          CASE doc_id % 6 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le'
            WHEN 2 THEN 'utf-16be' WHEN 3 THEN 'windows-1252'
            ELSE 'iso-8859-15' END AS charset,
          CASE doc_id % 6
            WHEN 0 THEN 'page ' || doc_id || ' caf' || chr(233) || ' ' ||
              chr(19990) || chr(30028)
            WHEN 1 THEN 'page ' || doc_id || ' wide'
            WHEN 2 THEN 'page ' || doc_id || ' wide'
            WHEN 3 THEN 'page ' || doc_id || ' caf' || chr(233) || ' ' ||
              chr(164)
            WHEN 4 THEN '<meta charset=iso-8859-15>page ' || doc_id ||
              ' ' || chr(8364)
            ELSE '<meta charset=windows-1252>page ' || doc_id || ' ' ||
              chr(8364)
          END AS text
        FROM documents"""),
    ),

    // The full crawl chain, charset-aware end to end: concatenated-gzip
    // chunks -> gzip_members -> warc_record -> decode_text with the
    // record's Content-Type header as the transport hint -> html_text.
    // Member bodies are planted in iso-8859-15 (hinted; 0xA4 -> EURO),
    // UTF-16LE with BOM (unhinted), and multibyte UTF-8 (unhinted), so
    // a mojibake slip anywhere in the chain moves a row.
    "q_content_warc_charset" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        def rec(ct: String, body: org.apache.spark.sql.Column) =
          graft.functions.codecs.compress_bytes(concat(
            lit("WARC/1.0\r\nWARC-Type: response\r\nContent-Type: " + ct +
              "\r\n\r\n").cast("binary"), body), lit("gzip"))
        val chunk = concat(
          rec("text/html; charset=ISO-8859-15", encode(
            concat(lit("<p>euro ¤ page "), id, lit("</p>")),
            "ISO-8859-1")),
          rec("text/html", concat(
            lit(Array[Byte](0xff.toByte, 0xfe.toByte)),
            encode(concat(lit("<p>wide page "), id, lit("</p>")),
              "UTF-16LE"))),
          rec("text/html", encode(
            concat(lit("<p>café 世界 page "), id, lit("</p>")),
            "UTF-8")))
        graft.sources.Content.warcPages(
            docs(s, dir).select(col("doc_id"), chunk.as("chunk")),
            "doc_id", "chunk")
          .select(col("doc_id"), col("member_idx"), col("charset"),
            graft.functions.web.html_text(col("text")).as("visible"))
      },
      Some("""WITH m AS (
          SELECT doc_id, unnest(generate_series(0, 2)) AS mi FROM documents)
        SELECT doc_id, CAST(mi AS INTEGER) AS member_idx,
          CASE mi WHEN 0 THEN 'iso-8859-15' WHEN 1 THEN 'utf-16le'
            ELSE 'utf-8' END AS charset,
          CASE mi
            WHEN 0 THEN 'euro ' || chr(8364) || ' page ' || doc_id
            WHEN 1 THEN 'wide page ' || doc_id
            ELSE 'caf' || chr(233) || ' ' || chr(19990) || chr(30028) ||
              ' page ' || doc_id
          END AS visible
        FROM m"""),
    ),

    // The CommonCrawl shape end to end: WARC response records whose
    // bodies are full HTTP messages — status line, HTTP headers, then
    // an entity that is plain, Content-Encoding-gzipped,
    // Transfer-Encoding-chunked, or RAW-deflate under a
    // Content-Encoding: deflate header (the broken-server shape the
    // sniff can't see) — plus a 404 in iso-8859-15. Each layer
    // (member split, WARC parse, HTTP parse, dechunk, decompress,
    // charset decode, text extraction) must undo in protocol order or a
    // row moves.
    "q_content_http" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val m = col("doc_id") % 5
        def page(statusLine: String, headers: String,
            entity: org.apache.spark.sql.Column) =
          graft.functions.codecs.compress_bytes(concat(
            lit("WARC/1.0\r\nWARC-Type: response\r\n\r\nHTTP/1.1 " +
              statusLine + "\r\n" + headers + "\r\n\r\n").cast("binary"),
            entity), lit("gzip"))
        val plainEnt = encode(
          concat(lit("<p>plain page "), id, lit(" café</p>")), "UTF-8")
        val gzipEnt = graft.functions.codecs.compress_bytes(
          encode(concat(lit("<p>gzip page "), id, lit("</p>")), "UTF-8"),
          lit("gzip"))
        // two chunks: fixed "<p>chunked " (11 = 0xb) + the id-sized rest
        val rest = concat(lit("page "), id, lit("</p>"))
        val chunkedEnt = concat(lit("b\r\n<p>chunked \r\n"),
          conv(length(rest).cast("string"), 10, 16), lit("\r\n"),
          rest, lit("\r\n0\r\n\r\n")).cast("binary")
        val euroEnt = encode(
          concat(lit("<p>euro ¤ not found "), id, lit("</p>")),
          "ISO-8859-1")
        // RAW deflate (the broken-server Content-Encoding: deflate):
        // zlib output minus its 2-byte header and 4-byte Adler trailer
        val zl = graft.functions.codecs.compress_bytes(
          encode(concat(lit("<p>deflate page "), id, lit("</p>")),
            "UTF-8"), lit("zlib"))
        val rawDeflateEnt = substring(zl, lit(3), length(zl) - 6)
        val chunk = when(m === 0, page("200 OK",
            "Content-Type: text/html; charset=utf-8", plainEnt))
          .when(m === 1, page("200 OK",
            "Content-Type: text/html\r\nContent-Encoding: gzip", gzipEnt))
          .when(m === 2, page("200 OK",
            "Content-Type: text/html\r\nTransfer-Encoding: chunked",
            chunkedEnt))
          .when(m === 3, page("404 Not Found",
            "Content-Type: text/html; charset=ISO-8859-15", euroEnt))
          .otherwise(page("200 OK",
            "Content-Type: text/html\r\nContent-Encoding: deflate",
            rawDeflateEnt))
        graft.sources.Content.httpPages(
            docs(s, dir).select(col("doc_id"), chunk.as("chunk")),
            "doc_id", "chunk")
          .select(col("doc_id"), col("member_idx"), col("status"),
            col("charset"),
            graft.functions.web.html_text(col("text")).as("visible"))
      },
      Some("""SELECT doc_id, CAST(0 AS INTEGER) AS member_idx,
          CAST(CASE WHEN doc_id % 5 = 3 THEN 404 ELSE 200 END AS INTEGER)
            AS status,
          CASE WHEN doc_id % 5 = 3 THEN 'iso-8859-15'
            ELSE 'utf-8' END AS charset,
          CASE doc_id % 5
            WHEN 0 THEN 'plain page ' || doc_id || ' caf' || chr(233)
            WHEN 1 THEN 'gzip page ' || doc_id
            WHEN 2 THEN 'chunked page ' || doc_id
            WHEN 3 THEN 'euro ' || chr(8364) || ' not found ' || doc_id
            ELSE 'deflate page ' || doc_id
          END AS visible
        FROM documents"""),
    ),

    // PER-TRACK container metadata: synth_mp4 plants full trak subtrees
    // (tkhd id+16.16 dims, mdhd with the TRACK's own timescale+duration —
    // distinct from the movie-header ticks the flat container_meta gate
    // reads — hdlr routing, stsd codec, and a TWO-entry stts whose sample
    // counts must be summed), every field seed-derived; container_tracks
    // explodes to one row per track against a closed-form two-branch
    // oracle. Track timescales are divisors of 1000 so the ms math is
    // exact by construction.
    "q_multimodal_tracks" -> QueryDef(
      (s, dir) => {
        docs(s, dir).select(col("doc_id"),
            graft.functions.images.synth_mp4(col("doc_id").cast("long"),
              col("doc_id") % 5 =!= 0).as("data"))
          .select(col("doc_id").as("media_id"),
            explode(graft.functions.images.container_tracks(
              col("data"))).as("t"))
          .select(col("media_id"), col("t.track_id").as("track_id"),
            col("t.handler").as("handler"), col("t.codec").as("codec"),
            col("t.duration_ms").as("duration_ms"),
            col("t.timescale").as("timescale"),
            col("t.n_samples").as("n_samples"),
            col("t.width").as("width"), col("t.height").as("height"))
      },
      Some("""SELECT doc_id AS media_id, CAST(1 AS INTEGER) AS track_id,
          'vide' AS handler,
          CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
            ELSE 'av01' END AS codec,
          CAST((doc_id % 7200) * 1000 // CASE doc_id % 3 WHEN 0 THEN 200
            WHEN 1 THEN 500 ELSE 1000 END AS BIGINT) AS duration_ms,
          CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 500
            ELSE 1000 END AS BIGINT) AS timescale,
          CAST(doc_id % 1000 + 1 AS BIGINT) AS n_samples,
          CAST(doc_id % 1904 + 16 AS INTEGER) AS width,
          CAST(doc_id % 1064 + 16 AS INTEGER) AS height
        FROM documents
        UNION ALL
        SELECT doc_id, CAST(2 AS INTEGER), 'soun', 'mp4a',
          CAST(doc_id % 3600 AS BIGINT), CAST(8000 AS BIGINT),
          CAST(doc_id % 500 + 1 AS BIGINT),
          CAST(0 AS INTEGER), CAST(0 AS INTEGER)
        FROM documents WHERE doc_id % 5 <> 0"""),
    ),

    // HTML text extraction: planted pages wrap each document's text in a
    // full head/body skeleton — title, style and script blocks (the
    // script contains '<' and a quoted "</" to prove raw-text skipping),
    // named + decimal + hex entities, a comment — and html_text/html_title
    // recover the closed-form visible text. Tag boundaries word-separate
    // and whitespace collapses, by documented contract.
    "q_text_html_extract" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        // ESCAPE the document text into the page the way a generator
        // would (& and < become entities), so the gate stays correct
        // even if a future testdata regeneration plants markup-looking
        // characters; extraction decodes them back
        val escaped = regexp_replace(regexp_replace(
          col("text"), "&", "&amp;"), "<", "&lt;")
        val html = concat(
          lit("<html><head><title> Doc "), id,
          lit(" </title><style>p{color:#000}</style>" +
            "<script>if(1<2){var x='</';}</script></head><body><h1>Doc "),
          id, lit("</h1><p>"), escaped,
          lit("</p><p>A &amp; B &lt;tag&gt; &#65;&#x42;&nbsp;end</p>" +
            "<!-- skip --></body></html>"))
        docs(s, dir).select(col("doc_id"), html.as("html"))
          .select(col("doc_id"),
            graft.functions.web.html_title(col("html")).as("title"),
            graft.functions.web.html_text(col("html")).as("text"))
      },
      // the oracle replays html_text's whitespace collapse over the raw
      // text (space/tab/cr/lf/ff runs -> one space, trimmed) — identity
      // on today's corpus, robust to regenerated whitespace
      Some("""SELECT doc_id, 'Doc ' || doc_id AS title,
          trim(regexp_replace(
            'Doc ' || doc_id || ' Doc ' || doc_id || ' ' || text ||
              ' A & B <tag> AB end',
            '[ \t\r\n\f]+', ' ', 'g')) AS text
        FROM documents"""),
    ),

    // Main-content extraction (boilerplate removal): planted pages carry
    // every boilerplate class around two real paragraphs — a link-dense
    // nav, a headline (short, kept only because content follows), a
    // figure caption (short, kept between paragraphs), a link-dense
    // sidebar at GOOD length (proving the density rule, not the length
    // rule, drops it), a promo stub stranded between two bad blocks
    // (dropped by short-block resolution), and a copyright footer
    // (dropped as a stub). The kept text and both block counts are
    // closed-form; the title is excluded by contract.
    "q_text_main_content" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val filler =
          "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        val page = concat(
          lit("<html><head><title>Doc "), id,
          lit("</title><style>p{color:#000}</style></head><body>" +
            "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
            "<a href=\"/contact\">Contact us</a></nav>" +
            "<h1>Headline "), id,
          lit(" of a reasonably long article</h1>" +
            "<p>Content paragraph one for doc "), id,
          lit(" " + filler + "</p>" +
            "<figcaption>Short caption for figure number "), id,
          lit("</figcaption>" +
            "<p>Content paragraph two for doc "), id,
          lit(" " + filler + "</p>" +
            "<div><a href=\"/l1\">Related article one</a> " +
            "<a href=\"/l2\">Related article two</a> " +
            "<a href=\"/l3\">Related article three</a></div>" +
            "<p>Promo text snippet number "), id,
          lit(" here</p>" +
            "<footer>All rights reserved</footer></body></html>"))
        val blocks = graft.functions.web.html_blocks(page)
        docs(s, dir).select(col("doc_id"),
          graft.functions.web.html_main_text(page).as("main"),
          size(filter(blocks, b => b.getField("kept"))).as("n_kept"),
          size(blocks).as("n_blocks"))
      },
      Some("""SELECT doc_id,
          'Headline ' || doc_id || ' of a reasonably long article' ||
            chr(10) ||
          'Content paragraph one for doc ' || doc_id ||
            ' alpha beta gamma delta epsilon zeta eta theta iota kappa' ||
            chr(10) ||
          'Short caption for figure number ' || doc_id || chr(10) ||
          'Content paragraph two for doc ' || doc_id ||
            ' alpha beta gamma delta epsilon zeta eta theta iota kappa'
            AS main,
          CAST(4 AS INTEGER) AS n_kept,
          CAST(8 AS INTEGER) AS n_blocks
        FROM documents"""),
    ),

    // Structured HTML -> Markdown: planted pages sweep the whole
    // structural surface — headings, paragraphs with inline emphasis/
    // code/links, unordered + ordered lists (incl. nesting), fenced
    // code blocks with preserved whitespace and decoded entities,
    // tables with header separators, blockquotes, images — and the
    // oracle states the exact markdown closed-form (newlines planted
    // via replace('~', chr(10))). Structure is what html_main_text
    // flattens; LLM pipelines increasingly keep it.
    "q_text_markdown" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val m = col("doc_id") % 2
        val pageA = concat(
          lit("<html><head><title>T</title></head><body><h1>Title "), id,
          lit("</h1><p>Intro <b>bold</b> and <i>soft</i> text num "), id,
          lit("</p><ul><li>first "), id,
          lit("</li><li>second <code>x="), id,
          lit("</code></li></ul><ol><li>one</li><li>two</li></ol>" +
            "<pre><code>let x = "), id,
          lit(";\nprint(x)</code></pre><table><tr><th>k</th><th>v</th>" +
            "</tr><tr><td>a</td><td>"), id,
          lit("</td></tr></table><blockquote>quoted "), id,
          lit("</blockquote><p>Ends <a href=\"/d?a=1&amp;b=2\">link "), id,
          lit("</a>.</p></body></html>"))
        val pageB = concat(
          lit("<html><body><h2>Sub "), id,
          lit("</h2><ul><li>a"), id,
          lit("<ul><li>a1</li></ul></li><li>b</li></ul><p>see " +
            "<img src=\"/i"), id,
          lit(".png\" alt=\"pic "), id,
          lit("\"> here</p></body></html>"))
        docs(s, dir).select(col("doc_id"),
          graft.functions.web.html_markdown(
            when(m === 1, pageB).otherwise(pageA)).as("md"))
      },
      Some("""SELECT doc_id,
          replace(CASE WHEN doc_id % 2 = 1
            THEN '## Sub ' || doc_id || '~~- a' || doc_id ||
              '~  - a1~- b~~see ![pic ' || doc_id || '](/i' || doc_id ||
              '.png) here'
            ELSE '# Title ' || doc_id ||
              '~~Intro **bold** and *soft* text num ' || doc_id ||
              '~~- first ' || doc_id || '~- second `x=' || doc_id ||
              '`~~1. one~2. two~~```~let x = ' || doc_id ||
              ';~print(x)~```~~| k | v |~| --- | --- |~| a | ' || doc_id ||
              ' |~~> quoted ' || doc_id || '~~Ends [link ' || doc_id ||
              '](/d?a=1&b=2).'
          END, '~', chr(10)) AS md
        FROM documents"""),
    ),

    // Link extraction -> canonical edges: planted pages carry three
    // anchors in all three attribute spellings (double-quoted with an
    // &amp; entity and shouting host/default port, single-quoted after
    // another attribute, unquoted) plus a commented-out link that must
    // NOT extract; html_links -> url_canonical yields the edge list a
    // link graph ingests, every row closed-form.
    "q_crawl_links" -> QueryDef(
      (s, dir) => {
        val page = concat(
          lit("<html><body><a href=\"HTTP://Site"),
          (col("doc_id") % 60).cast("string"),
          lit(".EXAMPLE.COM:80/a?utm_source=x&amp;id="),
          (col("doc_id") % 10).cast("string"),
          lit("\">one</a><!-- <a href=\"http://skip.example.com/\">no</a> -->" +
            "<a class='x' href='http://site"),
          (col("doc_id") % 7).cast("string"),
          lit(".example.com/b'>two</a><p>text</p><a href=http://site"),
          (col("doc_id") % 13).cast("string"),
          lit(".example.com/c>three</a></body></html>"))
        docs(s, dir).select(col("doc_id"), posexplode(
            graft.functions.web.html_links(page)))
          .select(col("doc_id"), col("pos").as("link_idx"),
            graft.functions.web.url_canonical(col("col")).as("url"))
      },
      Some("""WITH f AS (
          SELECT doc_id, unnest(generate_series(0, 2)) AS li
          FROM documents)
        SELECT doc_id, CAST(li AS INTEGER) AS link_idx,
          CASE li
            WHEN 0 THEN 'http://site' || (doc_id % 60) ||
              '.example.com/a?id=' || (doc_id % 10)
            WHEN 1 THEN 'http://site' || (doc_id % 7) || '.example.com/b'
            ELSE 'http://site' || (doc_id % 13) || '.example.com/c'
          END AS url
        FROM f"""),
    ),

    // Soft-404 detection: five planted page classes — real articles on
    // per-id domains, declared error pages ("404 ... Page Not Found"
    // titles), an error TEMPLATE stamped identically across one domain
    // (near-empty + shared SimHash cluster -> soft404 without any error
    // phrase), unique near-empty stubs (NOT flagged: a stub is a
    // quality concern, not a crawl error), and long articles on the
    // template's own domain (not near-empty -> never flagged). The
    // planted texts are closed-form in doc_id only, so every flag is
    // deterministic at any SF.
    "q_crawl_soft404" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val m = col("doc_id") % 5
        val filler =
          ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4)
            .trim
        val title = when(m === 1, lit("404 Error - Page Not Found"))
          .when(m === 2, lit("Service notice"))
          .otherwise(concat(lit("Doc "), id))
        val text = when(m === 0,
            concat(lit("Article content for doc "), id, lit(" " + filler)))
          .when(m === 1,
            lit("The page you requested is missing from this site"))
          .when(m === 2, lit("service temporarily offline"))
          .when(m === 3, concat(lit("tiny note number "), id))
          .otherwise(concat(lit("Long article on the shared domain for doc "),
            id, lit(" " + filler)))
        val domain = when(m === 2 || m === 4, lit("err.example.com"))
          .otherwise(concat(lit("site"), id, lit(".example.com")))
        graft.operators.Curate.soft404Flags(
            docs(s, dir).select(col("doc_id"), domain.as("domain"),
              title.as("title"), text.as("text")),
            "doc_id", "domain", "title", "text")
          .select(col("doc_id"), col("phrase_hit"), col("near_empty"),
            col("soft404"))
      },
      Some("""SELECT doc_id,
          (doc_id % 5 = 1) AS phrase_hit,
          (doc_id % 5 IN (1, 2, 3)) AS near_empty,
          (doc_id % 5 IN (1, 2)) AS soft404
        FROM documents"""),
    ),

    // Sitemap ingestion (sitemaps.org protocol): every fourth doc plants
    // a <sitemapindex> of two child sitemaps, the rest a three-entry
    // <urlset> exercising entity-escaped locs (&amp; in a query string),
    // optional lastmod/changefreq, and a doc_id-derived priority; one
    // entry carries nothing but its loc. Kind, order, and every field
    // are closed-form.
    "q_crawl_sitemap" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val urlset = concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
            "<url><loc>https://site"), id,
          lit(".example.com/p/0?a=1&amp;b="), id,
          lit("</loc><lastmod>2025-01-01</lastmod>" +
            "<changefreq>daily</changefreq>" +
            "<priority>0.8</priority></url>" +
            "<url><loc>https://site"), id,
          lit(".example.com/p/1</loc><lastmod>2025-01-02</lastmod>" +
            "<priority>0."), (col("doc_id") % 9 + 1).cast("string"),
          lit("</priority></url><url><loc>https://site"), id,
          lit(".example.com/p/2</loc></url></urlset>"))
        val index = concat(
          lit("<?xml version=\"1.0\"?><sitemapindex>" +
            "<sitemap><loc>https://site"), id,
          lit(".example.com/sitemap0.xml</loc>" +
            "<lastmod>2025-02-01</lastmod></sitemap>" +
            "<sitemap><loc>https://site"), id,
          lit(".example.com/sitemap1.xml</loc>" +
            "<lastmod>2025-02-02</lastmod></sitemap></sitemapindex>"))
        val xml = when(col("doc_id") % 4 === 0, index).otherwise(urlset)
        graft.operators.Crawl.sitemapUrls(
          docs(s, dir).select(col("doc_id"), xml.as("xml")),
          "doc_id", "xml")
      },
      Some("""WITH e AS (
          SELECT doc_id, unnest(generate_series(0,
            CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 2 END)) AS i
          FROM documents)
        SELECT doc_id,
          CASE WHEN doc_id % 4 = 0 THEN 'sitemapindex'
            ELSE 'urlset' END AS kind,
          CAST(i AS INTEGER) AS entry_idx,
          CASE WHEN doc_id % 4 = 0 THEN 'https://site' || doc_id ||
              '.example.com/sitemap' || i || '.xml'
            WHEN i = 0 THEN 'https://site' || doc_id ||
              '.example.com/p/0?a=1&b=' || doc_id
            ELSE 'https://site' || doc_id || '.example.com/p/' || i
          END AS loc,
          CASE WHEN doc_id % 4 = 0 THEN '2025-02-0' || (i + 1)
            WHEN i = 2 THEN NULL
            ELSE '2025-01-0' || (i + 1) END AS lastmod,
          CASE WHEN doc_id % 4 <> 0 AND i = 0 THEN 'daily' END
            AS changefreq,
          CASE WHEN doc_id % 4 <> 0 AND i = 0 THEN CAST('0.8' AS DOUBLE)
            WHEN doc_id % 4 <> 0 AND i = 1 THEN
              CAST('0.' || (doc_id % 9 + 1) AS DOUBLE)
          END AS priority
        FROM e"""),
    ),

    // Politeness-budgeted crawl frontier: four planted URLs per doc
    // spread over eight hosts — one path robots-disallowed — ranked per
    // host by a closed-form score under per-host budgets (explicit 5
    // for half the hosts, the default 10 for the rest). The full audit
    // trail (rank, budget, selected) is replayed relationally in the
    // oracle; a slip in canonicalization, the robots decision, the
    // budget default, or the rank tie-break moves a row.
    "q_crawl_frontier" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val id = col("doc_id").cast("string")
        val cands = docs(s, dir)
          .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("j"))
          .select(
            concat(lit("https://d"), (col("doc_id") % 8).cast("string"),
              lit(".example.com"),
              when(col("j") === 3, concat(lit("/private/"), id))
                .otherwise(concat(lit("/p/"), id, lit("/"),
                  col("j").cast("string")))).as("url"),
            ((col("doc_id") * 7 + col("j")) % 100).cast("long").as("score"))
        val robots = (0 until 8)
          .map(d => (s"d$d.example.com", "User-agent: *\nDisallow: /private"))
          .toDF("domain", "robots_txt")
        val budgets = (0 until 4).map(d => (s"d$d.example.com", 5L))
          .toDF("domain", "budget")
        graft.operators.Crawl.frontierSample(cands, "url", "graftbot",
          robots, budgets, defaultBudget = 10L, scoreCol = Some("score"))
      },
      Some("""WITH c AS (
          SELECT doc_id, unnest(generate_series(0, 3)) AS j
          FROM documents),
        u AS (
          SELECT 'd' || (doc_id % 8) || '.example.com' AS domain,
            'https://d' || (doc_id % 8) || '.example.com' ||
              CASE WHEN j = 3 THEN '/private/' || doc_id
                ELSE '/p/' || doc_id || '/' || j END AS url,
            CAST((doc_id * 7 + j) % 100 AS BIGINT) AS score, j
          FROM c),
        a AS (SELECT * FROM u WHERE j <> 3),
        r AS (
          SELECT url, domain, score,
            CAST(row_number() OVER (PARTITION BY domain
              ORDER BY score DESC, url ASC) AS BIGINT) AS rnk,
            CAST(CASE WHEN CAST(substr(domain, 2, 1) AS INT) < 4
              THEN 5 ELSE 10 END AS BIGINT) AS budget
          FROM a)
        SELECT url, domain, score, rnk, budget,
          (rnk <= budget) AS selected
        FROM r"""),
    ),

    // Crawl-delay -> fetch budgets + sitemap discovery from robots.txt:
    // four planted policy classes — a '*' group with delay 2 (and two
    // site-wide Sitemap: directives), a named graftbot group (delay
    // 0.5) shadowing a slower '*' group, no delay at all, and a delay
    // declared only for a non-matching agent — with budget =
    // floor(window/delay) or the default, all closed-form.
    "q_crawl_budgets" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val m = col("doc_id") % 4
        val domain = concat(lit("site"), id, lit(".example.com"))
        val txt = when(m === 0, concat(
            lit("Sitemap: https://site"), id,
            lit(".example.com/sitemap.xml\nSitemap: https://site"), id,
            lit(".example.com/news.xml\nUser-agent: *\nCrawl-delay: 2")))
          .when(m === 1, lit("User-agent: graftbot\nCrawl-delay: 0.5\n\n" +
            "User-agent: *\nCrawl-delay: 10"))
          .when(m === 2, lit("User-agent: *\nDisallow: /x"))
          .otherwise(lit("User-agent: other\nCrawl-delay: 1"))
        val robotsDf = docs(s, dir)
          .select(domain.as("domain"), txt.as("robots_txt"))
        val budgets = graft.operators.Crawl.budgetsFromRobots(
          robotsDf, "graftbot", windowSec = 60.0, defaultBudget = 10L)
        val maps = robotsDf.select(col("domain"),
          size(graft.functions.crawl.robots_sitemaps(col("robots_txt")))
            .as("n_sitemaps"),
          try_element_at(graft.functions.crawl.robots_sitemaps(
            col("robots_txt")), lit(1)).as("first_sitemap"))
        budgets.join(maps, "domain")
      },
      Some("""SELECT 'site' || doc_id || '.example.com' AS domain,
          CAST(CASE doc_id % 4 WHEN 0 THEN 30 WHEN 1 THEN 120
            ELSE 10 END AS BIGINT) AS budget,
          CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS INTEGER)
            AS n_sitemaps,
          CASE WHEN doc_id % 4 = 0 THEN 'https://site' || doc_id ||
            '.example.com/sitemap.xml' END AS first_sitemap
        FROM documents"""),
    ),

    // Anchor extraction WITH labels: the link-graph edge plus its
    // anchor text (the classic relevance/spam signal). Three anchor
    // shapes per page — inner markup dropped from the label, an
    // image-only anchor yielding the empty label, an entity-bearing
    // label — plus a commented-out anchor that must not extract;
    // canonical edge and label both closed-form.
    "q_crawl_anchors" -> QueryDef(
      (s, dir) => {
        val page = concat(
          lit("<html><body><a href=\"HTTP://Site"),
          (col("doc_id") % 60).cast("string"),
          lit(".EXAMPLE.COM:80/a\">Read <b>more</b> about topic "),
          (col("doc_id") % 9).cast("string"),
          lit("</a><!-- <a href=\"http://skip.example.com/\">no</a> -->" +
            "<a href='http://img"),
          (col("doc_id") % 5).cast("string"),
          lit(".example.com/i'><img src=\"i.png\"></a>" +
            "<a href=http://site"),
          (col("doc_id") % 13).cast("string"),
          lit(".example.com/c>A &amp; B "),
          (col("doc_id") % 7).cast("string"),
          lit("</a></body></html>"))
        docs(s, dir).select(col("doc_id"), posexplode(
            graft.functions.web.html_anchors(page)))
          .select(col("doc_id"), col("pos").as("link_idx"),
            graft.functions.web.url_canonical(col("col.href")).as("url"),
            col("col.text").as("text"))
      },
      Some("""WITH f AS (
          SELECT doc_id, unnest(generate_series(0, 2)) AS li
          FROM documents)
        SELECT doc_id, CAST(li AS INTEGER) AS link_idx,
          CASE li
            WHEN 0 THEN 'http://site' || (doc_id % 60) || '.example.com/a'
            WHEN 1 THEN 'http://img' || (doc_id % 5) || '.example.com/i'
            ELSE 'http://site' || (doc_id % 13) || '.example.com/c'
          END AS url,
          CASE li
            WHEN 0 THEN 'Read more about topic ' || (doc_id % 9)
            WHEN 1 THEN ''
            ELSE 'A & B ' || (doc_id % 7)
          END AS text
        FROM f"""),
    ),

    // The frontier's giant-domain scale mode: same planted world as
    // q_crawl_frontier but through the salted two-phase top-k
    // (auditAll=false), which must return exactly the SELECTED rows of
    // the audit mode — the oracle is the audit oracle filtered to
    // rnk <= budget. A pruning slip (salt bucket dropping a global
    // winner) moves a row.
    "q_crawl_frontier_scaled" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val id = col("doc_id").cast("string")
        val cands = docs(s, dir)
          .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("j"))
          .select(
            concat(lit("https://d"), (col("doc_id") % 8).cast("string"),
              lit(".example.com"),
              when(col("j") === 3, concat(lit("/private/"), id))
                .otherwise(concat(lit("/p/"), id, lit("/"),
                  col("j").cast("string")))).as("url"),
            ((col("doc_id") * 7 + col("j")) % 100).cast("long").as("score"))
        val robots = (0 until 8)
          .map(d => (s"d$d.example.com", "User-agent: *\nDisallow: /private"))
          .toDF("domain", "robots_txt")
        val budgets = (0 until 4).map(d => (s"d$d.example.com", 5L))
          .toDF("domain", "budget")
        graft.operators.Crawl.frontierSample(cands, "url", "graftbot",
          robots, budgets, defaultBudget = 10L, scoreCol = Some("score"),
          auditAll = false)
      },
      Some("""WITH c AS (
          SELECT doc_id, unnest(generate_series(0, 3)) AS j
          FROM documents),
        u AS (
          SELECT 'd' || (doc_id % 8) || '.example.com' AS domain,
            'https://d' || (doc_id % 8) || '.example.com' ||
              CASE WHEN j = 3 THEN '/private/' || doc_id
                ELSE '/p/' || doc_id || '/' || j END AS url,
            CAST((doc_id * 7 + j) % 100 AS BIGINT) AS score, j
          FROM c),
        a AS (SELECT * FROM u WHERE j <> 3),
        r AS (
          SELECT url, domain, score,
            CAST(row_number() OVER (PARTITION BY domain
              ORDER BY score DESC, url ASC) AS BIGINT) AS rnk,
            CAST(CASE WHEN CAST(substr(domain, 2, 1) AS INT) < 4
              THEN 5 ELSE 10 END AS BIGINT) AS budget
          FROM a)
        SELECT url, domain, score, rnk, budget,
          (rnk <= budget) AS selected
        FROM r WHERE rnk <= budget"""),
    ),

    // Sitemap-driven discovery: per-host robots.txt declares a sitemap,
    // the fetched urlset carries four entries — priorities 0.3 / 0.9 /
    // absent (sitemaps.org default 0.5) and a /private path the host's
    // own Disallow must still gate — and the frontier spends each
    // host's default budget of 2 on the highest-priority URLs. The
    // declared-priority ordering, the default, and the robots gate are
    // all replayed relationally.
    "q_crawl_discovery" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val robots = docs(s, dir).select(
          concat(lit("site"), id, lit(".example.com")).as("domain"),
          concat(lit("User-agent: *\nDisallow: /private\n" +
            "Sitemap: https://site"), id,
            lit(".example.com/sm.xml")).as("robots_txt"))
        val base = concat(lit("https://site"), id, lit(".example.com"))
        val xml = concat(
          lit("<?xml version=\"1.0\"?><urlset><url><loc>"), base,
          lit("/p/0</loc><priority>0.3</priority></url><url><loc>"), base,
          lit("/p/1</loc><priority>0.9</priority></url><url><loc>"), base,
          lit("/p/2</loc></url><url><loc>"), base,
          lit("/private/3</loc><priority>1.0</priority></url></urlset>"))
        val sitemaps = docs(s, dir).select(
          concat(base, lit("/sm.xml")).as("sitemap_url"), xml.as("xml"))
        val budgets = graft.sources.Tables.table(s, dir, "documents")
          .limit(0).select(lit("x").as("domain"), lit(1L).as("budget"))
        graft.operators.Crawl.sitemapDiscovery(robots, sitemaps,
          "graftbot", budgets, defaultBudget = 2L)
      },
      Some("""WITH u AS (
          SELECT doc_id, unnest(generate_series(0, 2)) AS j
          FROM documents),
        r AS (SELECT
            'https://site' || doc_id || '.example.com/p/' || j AS url,
            'site' || doc_id || '.example.com' AS domain,
            CASE j WHEN 0 THEN 0.3 WHEN 1 THEN 0.9 ELSE 0.5 END AS score
          FROM u),
        rk AS (SELECT url, domain, score,
            CAST(row_number() OVER (PARTITION BY domain
              ORDER BY score DESC, url ASC) AS BIGINT) AS rnk
          FROM r)
        SELECT url, domain, score, rnk, CAST(2 AS BIGINT) AS budget,
          (rnk <= 2) AS selected
        FROM rk"""),
    ),

    // Link-mass-prioritized frontier: planted pages each anchor two hub
    // URLs (per-id rotation) and one pool URL whose key is the QUADRATIC
    // residue (id*id)%10 — so pool pages split into two in-degree
    // classes (N/10 vs 2N/10) and PageRank separates them. The frontier
    // then spends pool.example.com's budget of 4 on the four high-mass
    // URLs exactly; the oracle replays edge extraction, both
    // micro-quantized power iterations, and the per-domain rank.
    "q_crawl_rank_frontier" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val id = col("doc_id").cast("string")
        val html = concat(
          lit("<html><body><a href=\"https://hub"),
          (col("doc_id") % 3).cast("string"),
          lit(".example.com/h\">one</a><a href=\"https://hub"),
          ((col("doc_id") + 1) % 3).cast("string"),
          lit(".example.com/h\">two</a><a href=\"https://pool" +
            ".example.com/p/"),
          ((col("doc_id") * col("doc_id")) % 10).cast("string"),
          lit("\">three</a></body></html>"))
        val pages = docs(s, dir).select(
          concat(lit("https://site"), id, lit(".example.com/a")).as("url"),
          html.as("html"))
        val robots = Seq.empty[(String, String)]
          .toDF("domain", "robots_txt")
        val budgets = Seq(("pool.example.com", 4L)).toDF("domain", "budget")
        graft.operators.Crawl.rankedFrontier(pages, "url", "html",
          "graftbot", robots, budgets, defaultBudget = 2L, iters = 2)
      },
      Some("""WITH e0 AS (
          SELECT 'https://site' || doc_id || '.example.com/a' AS src,
            unnest(['https://hub' || (doc_id % 3) || '.example.com/h',
              'https://hub' || ((doc_id + 1) % 3) || '.example.com/h',
              'https://pool.example.com/p/' || ((doc_id * doc_id) % 10)])
              AS dst
          FROM documents),
        edges AS (SELECT DISTINCT src, dst FROM e0),
        nodes AS (SELECT DISTINCT node FROM (
          SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
        outd AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
        p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
        i1 AS (SELECT e.dst AS node, sum(p.pr // o.deg) AS s
          FROM edges e JOIN p0 p ON p.node = e.src
          JOIN outd o ON o.node = e.src GROUP BY 1),
        p1 AS (SELECT n.node,
            150000 + CAST(round(0.85 * coalesce(i1.s, 0)) AS BIGINT) AS pr
          FROM nodes n LEFT JOIN i1 ON i1.node = n.node),
        i2 AS (SELECT e.dst AS node, sum(p.pr // o.deg) AS s
          FROM edges e JOIN p1 p ON p.node = e.src
          JOIN outd o ON o.node = e.src GROUP BY 1),
        p2 AS (SELECT n.node,
            150000 + CAST(round(0.85 * coalesce(i2.s, 0)) AS BIGINT) AS pr
          FROM nodes n LEFT JOIN i2 ON i2.node = n.node),
        cands AS (SELECT DISTINCT dst AS url FROM edges),
        sc AS (SELECT c.url, CAST(p.pr AS DOUBLE) / 1e6 AS score
          FROM cands c JOIN p2 p ON p.node = c.url),
        dom AS (SELECT url, score,
            CASE WHEN url LIKE 'https://pool.example.com/%'
              THEN 'pool.example.com'
              ELSE 'hub' || substr(url, 12, 1) || '.example.com' END
              AS domain
          FROM sc),
        r AS (SELECT url, domain, score,
            CAST(row_number() OVER (PARTITION BY domain
              ORDER BY score DESC, url ASC) AS BIGINT) AS rnk,
            CAST(CASE WHEN domain = 'pool.example.com' THEN 4 ELSE 2 END
              AS BIGINT) AS budget
          FROM dom)
        SELECT url, domain, score, rnk, budget,
          (rnk <= budget) AS selected
        FROM r"""),
    ),

    // Recrawl selection from sitemap lastmod vs the fetch log — the
    // decision lastmod exists for: modified (declared newer than the
    // last fetch), fresh (declared older), aged out (no parseable
    // declaration, fetch older than the max age), hostile lastmod
    // falling back to the age rule, and never-fetched. All five
    // classes closed-form.
    "q_crawl_recrawl" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val url = concat(lit("https://site"), id, lit(".example.com/p"))
        val m = col("doc_id") % 5
        val entries = docs(s, dir).select(url.as("loc"),
          when(m === 0, lit("2026-03-01"))
            .when(m === 1, lit("2026-01-01"))
            .when(m === 3, lit("not-a-date"))
            .when(m === 4, lit("2026-04-01"))
            .otherwise(lit(null).cast("string")).as("lastmod"))
        val fetchLog = docs(s, dir).where(col("doc_id") % 5 =!= 4)
          .select(url.as("url"),
            when(col("doc_id") % 5 === 3, lit("2026-07-30"))
              .otherwise(lit("2026-02-01")).as("last_fetched"))
        graft.operators.Crawl.recrawlSet(entries, fetchLog,
            nowDate = "2026-08-01", maxAgeDays = 90)
          // NULL DATE stringifies differently across the compare
          // harness's readers; the gate compares it as VARCHAR
          .withColumn("last_fetched", col("last_fetched").cast("string"))
      },
      Some("""SELECT 'https://site' || doc_id || '.example.com/p' AS url,
          CASE doc_id % 5 WHEN 0 THEN '2026-03-01'
            WHEN 1 THEN '2026-01-01' WHEN 3 THEN 'not-a-date'
            WHEN 4 THEN '2026-04-01' END AS lastmod,
          CAST(CASE WHEN doc_id % 5 = 4 THEN NULL
            WHEN doc_id % 5 = 3 THEN DATE '2026-07-30'
            ELSE DATE '2026-02-01' END AS VARCHAR) AS last_fetched,
          (doc_id % 5 IN (0, 2, 4)) AS stale,
          CASE doc_id % 5 WHEN 0 THEN 'modified' WHEN 2 THEN 'aged_out'
            WHEN 4 THEN 'never_fetched' ELSE 'fresh' END AS reason
        FROM documents"""),
    ),

    // Fetch schedule: the selected frontier spaced one fetch per
    // Crawl-delay — hosts d0-d3 declare a 2s delay (robots-derived),
    // d4-d7 use the 0.5s default; fetch_at_ms = (rank-1)*delay, all
    // replayed relationally. Politeness is now closed end to end:
    // allowed (robots) -> how many (budgets) -> when (schedule).
    "q_crawl_schedule" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val id = col("doc_id").cast("string")
        val cands = docs(s, dir)
          .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("j"))
          .select(
            concat(lit("https://d"), (col("doc_id") % 8).cast("string"),
              lit(".example.com"),
              when(col("j") === 3, concat(lit("/private/"), id))
                .otherwise(concat(lit("/p/"), id, lit("/"),
                  col("j").cast("string")))).as("url"),
            ((col("doc_id") * 7 + col("j")) % 100).cast("long").as("score"))
        val robots = (0 until 8).map { d =>
          (s"d$d.example.com",
            if (d < 4) "User-agent: *\nDisallow: /private\nCrawl-delay: 2"
            else "User-agent: *\nDisallow: /private")
        }.toDF("domain", "robots_txt")
        val budgets = (0 until 4).map(d => (s"d$d.example.com", 5L))
          .toDF("domain", "budget")
        val sel = graft.operators.Crawl.frontierSample(cands, "url",
          "graftbot", robots, budgets, defaultBudget = 10L,
          scoreCol = Some("score"))
        graft.operators.Crawl.fetchSchedule(sel, robots, "graftbot",
          defaultDelaySec = 0.5)
      },
      Some("""WITH c AS (
          SELECT doc_id, unnest(generate_series(0, 3)) AS j
          FROM documents),
        u AS (
          SELECT 'd' || (doc_id % 8) || '.example.com' AS domain,
            'https://d' || (doc_id % 8) || '.example.com' ||
              CASE WHEN j = 3 THEN '/private/' || doc_id
                ELSE '/p/' || doc_id || '/' || j END AS url,
            CAST((doc_id * 7 + j) % 100 AS BIGINT) AS score, j
          FROM c),
        a AS (SELECT * FROM u WHERE j <> 3),
        r AS (
          SELECT url, domain,
            CAST(row_number() OVER (PARTITION BY domain
              ORDER BY score DESC, url ASC) AS BIGINT) AS rnk,
            CAST(substr(domain, 2, 1) AS INT) AS idx
          FROM a)
        SELECT url, domain, rnk,
          CASE WHEN idx < 4 THEN CAST(2.0 AS DOUBLE)
            ELSE CAST(0.5 AS DOUBLE) END AS delay_sec,
          CAST((rnk - 1) * CASE WHEN idx < 4 THEN 2000 ELSE 500 END
            AS BIGINT) AS fetch_at_ms
        FROM r
        WHERE rnk <= CASE WHEN idx < 4 THEN 5 ELSE 10 END"""),
    ),

    // Incremental frontier: the same planted world as q_crawl_frontier,
    // but each host has already SPENT part of its budget in earlier
    // rounds (spent = the host's index) and every tenth doc's first URL
    // is already fetched (done, excluded before ranking — it must not
    // re-spend budget OR hold a rank). Remaining-budget arithmetic and
    // the shifted ranks are replayed relationally.
    "q_crawl_frontier_delta" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val id = col("doc_id").cast("string")
        val cands = docs(s, dir)
          .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("j"))
          .select(
            concat(lit("https://d"), (col("doc_id") % 8).cast("string"),
              lit(".example.com"),
              when(col("j") === 3, concat(lit("/private/"), id))
                .otherwise(concat(lit("/p/"), id, lit("/"),
                  col("j").cast("string")))).as("url"),
            ((col("doc_id") * 7 + col("j")) % 100).cast("long").as("score"))
        val robots = (0 until 8)
          .map(d => (s"d$d.example.com", "User-agent: *\nDisallow: /private"))
          .toDF("domain", "robots_txt")
        val budgets = (0 until 4).map(d => (s"d$d.example.com", 5L))
          .toDF("domain", "budget")
        val spent = (0 until 8).map(d => (s"d$d.example.com", d.toLong))
          .toDF("domain", "n_selected")
        val done = docs(s, dir).where(col("doc_id") % 10 === 0)
          .select(concat(lit("https://d"), (col("doc_id") % 8).cast("string"),
            lit(".example.com/p/"), id, lit("/0")).as("url"))
        graft.operators.Crawl.frontierDelta(cands, "url", "graftbot",
          robots, budgets, defaultBudget = 10L, spent = spent, done = done,
          scoreCol = Some("score"))
      },
      Some("""WITH c AS (
          SELECT doc_id, unnest(generate_series(0, 3)) AS j
          FROM documents),
        u AS (
          SELECT doc_id, j,
            'd' || (doc_id % 8) || '.example.com' AS domain,
            'https://d' || (doc_id % 8) || '.example.com' ||
              CASE WHEN j = 3 THEN '/private/' || doc_id
                ELSE '/p/' || doc_id || '/' || j END AS url,
            CAST((doc_id * 7 + j) % 100 AS BIGINT) AS score
          FROM c),
        a AS (SELECT * FROM u
          WHERE j <> 3 AND NOT (j = 0 AND doc_id % 10 = 0)),
        r AS (
          SELECT url, domain, score,
            CAST(row_number() OVER (PARTITION BY domain
              ORDER BY score DESC, url ASC) AS BIGINT) AS rnk,
            CAST(CASE WHEN CAST(substr(domain, 2, 1) AS INT) < 4
              THEN 5 - CAST(substr(domain, 2, 1) AS INT)
              ELSE 10 - CAST(substr(domain, 2, 1) AS INT)
            END AS BIGINT) AS budget
          FROM a)
        SELECT url, domain, score, rnk, budget,
          (rnk <= budget) AS selected
        FROM r"""),
    ),

    // q_crawl_frontier_delta but through the salted two-phase top-k
    // (auditAll=false), pruning each host to REMAINING-budget rows per
    // salt bucket before the exact rank: must return exactly the
    // SELECTED rows of the audit mode — the oracle is the delta oracle
    // filtered to rnk <= budget. A prune slip (capping at the raw
    // budget, or a salt bucket dropping a global winner) moves a row.
    "q_crawl_frontier_delta_scaled" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val id = col("doc_id").cast("string")
        val cands = docs(s, dir)
          .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("j"))
          .select(
            concat(lit("https://d"), (col("doc_id") % 8).cast("string"),
              lit(".example.com"),
              when(col("j") === 3, concat(lit("/private/"), id))
                .otherwise(concat(lit("/p/"), id, lit("/"),
                  col("j").cast("string")))).as("url"),
            ((col("doc_id") * 7 + col("j")) % 100).cast("long").as("score"))
        val robots = (0 until 8)
          .map(d => (s"d$d.example.com", "User-agent: *\nDisallow: /private"))
          .toDF("domain", "robots_txt")
        val budgets = (0 until 4).map(d => (s"d$d.example.com", 5L))
          .toDF("domain", "budget")
        val spent = (0 until 8).map(d => (s"d$d.example.com", d.toLong))
          .toDF("domain", "n_selected")
        val done = docs(s, dir).where(col("doc_id") % 10 === 0)
          .select(concat(lit("https://d"), (col("doc_id") % 8).cast("string"),
            lit(".example.com/p/"), id, lit("/0")).as("url"))
        graft.operators.Crawl.frontierDelta(cands, "url", "graftbot",
          robots, budgets, defaultBudget = 10L, spent = spent, done = done,
          scoreCol = Some("score"), auditAll = false)
      },
      Some("""WITH c AS (
          SELECT doc_id, unnest(generate_series(0, 3)) AS j
          FROM documents),
        u AS (
          SELECT doc_id, j,
            'd' || (doc_id % 8) || '.example.com' AS domain,
            'https://d' || (doc_id % 8) || '.example.com' ||
              CASE WHEN j = 3 THEN '/private/' || doc_id
                ELSE '/p/' || doc_id || '/' || j END AS url,
            CAST((doc_id * 7 + j) % 100 AS BIGINT) AS score
          FROM c),
        a AS (SELECT * FROM u
          WHERE j <> 3 AND NOT (j = 0 AND doc_id % 10 = 0)),
        r AS (
          SELECT url, domain, score,
            CAST(row_number() OVER (PARTITION BY domain
              ORDER BY score DESC, url ASC) AS BIGINT) AS rnk,
            CAST(CASE WHEN CAST(substr(domain, 2, 1) AS INT) < 4
              THEN 5 - CAST(substr(domain, 2, 1) AS INT)
              ELSE 10 - CAST(substr(domain, 2, 1) AS INT)
            END AS BIGINT) AS budget
          FROM a)
        SELECT url, domain, score, rnk, budget,
          (rnk <= budget) AS selected
        FROM r WHERE rnk <= budget"""),
    ),

    // Script-aware tokenization: CJK scripts carry no word spaces, so
    // whitespace tokens mis-score every Chinese/Japanese page the
    // charset work now decodes correctly; tokensMixed spaces each
    // ideograph/kana (the CCNet convention) while leaving spaced
    // scripts untouched. Planted mixed text has a closed-form token
    // layout: count and the tokens at latin/ideograph/kana/punct
    // positions all verified.
    "q_text_tokens_mixed" -> QueryDef(
      (s, dir) => {
        val text = concat(lit("Doc "), col("doc_id").cast("string"),
          lit(" says 你好世界 and " +
            "こんにちは!"))
        val toks = graft.operators.TextAnalysis.tokensMixed(text)
        docs(s, dir).select(col("doc_id"),
          size(toks).as("n_tokens"),
          element_at(toks, 1).as("t_first"),
          element_at(toks, 4).as("t_cjk"),
          element_at(toks, 13).as("t_kana"),
          element_at(toks, 14).as("t_punct"))
      },
      Some("""SELECT doc_id, CAST(14 AS INTEGER) AS n_tokens,
          'Doc' AS t_first, chr(20320) AS t_cjk, chr(12399) AS t_kana,
          '!' AS t_punct
        FROM documents"""),
    ),

    // Meta-tag extraction -> noindex compliance: planted heads carry a
    // bare charset meta, a robots directive (noindex,nofollow on one
    // class — the pages a compliant training pipeline must drop), an
    // entity-bearing description, an og: property, a DUPLICATE
    // description that must not win, and an unquoted viewport; every
    // key and the noindex flag closed-form.
    "q_crawl_meta" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val robotsVal = when(col("doc_id") % 5 === 1,
          lit("noindex, nofollow")).otherwise(lit("index, follow"))
        val page = concat(
          lit("<html><head><meta charset=\"utf-8\">" +
            "<meta name=\"robots\" content=\""), robotsVal,
          lit("\"><meta name=\"description\" content=\"Desc &amp; more "),
          id,
          lit("\"><meta property=\"og:title\" content=\"OG "), id,
          lit("\"><meta name=\"description\" content=\"dup must not win\">" +
            "<meta name=viewport content=width-"),
          (col("doc_id") % 3).cast("string"),
          lit("></head><body><p>x</p></body></html>"))
        val m = graft.functions.web.html_meta(page)
        docs(s, dir).select(col("doc_id"),
          element_at(m, "charset").as("charset"),
          element_at(m, "robots").as("robots"),
          (instr(lower(element_at(m, "robots")), "noindex") > 0)
            .as("noindex"),
          element_at(m, "description").as("description"),
          element_at(m, "og:title").as("og_title"),
          element_at(m, "viewport").as("viewport"),
          size(m).as("n_meta"))
      },
      Some("""SELECT doc_id, 'utf-8' AS charset,
          CASE WHEN doc_id % 5 = 1 THEN 'noindex, nofollow'
            ELSE 'index, follow' END AS robots,
          (doc_id % 5 = 1) AS noindex,
          'Desc & more ' || doc_id AS description,
          'OG ' || doc_id AS og_title,
          'width-' || (doc_id % 3) AS viewport,
          CAST(5 AS INTEGER) AS n_meta
        FROM documents"""),
    ),

    // Per-domain corpus stats — the building block of domain-cap /
    // domain-reweighting curation (a crawl is dominated by a few hosts):
    // planted URLs (www-prefixed and bare, .com and .co.uk public-suffix
    // forms) group by REGISTERED domain, with page counts, distinct
    // paths, and the www share, all closed-form.
    "q_crawl_domain_stats" -> QueryDef(
      (s, dir) => {
        val url = concat(lit("https://"),
          when(col("doc_id") % 2 === 0, lit("www.")).otherwise(lit("")),
          lit("site"), (col("doc_id") % 40).cast("string"),
          when(col("doc_id") % 3 === 0, lit(".co.uk")).otherwise(lit(".com")),
          lit("/p/"), (col("doc_id") % 11).cast("string"))
        docs(s, dir)
          .select(graft.functions.web.url_parse(url).as("u"))
          .groupBy(col("u.registered_domain").as("domain"))
          .agg(count(lit(1)).as("n_pages"),
            countDistinct(col("u.path")).as("n_paths"),
            sum(when(col("u.host").startsWith("www."), 1L).otherwise(0L))
              .as("n_www"))
      },
      Some("""WITH u AS (
          SELECT doc_id,
            'site' || (doc_id % 40) ||
              CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END
              AS domain,
            '/p/' || (doc_id % 11) AS path,
            (doc_id % 2 = 0) AS www
          FROM documents)
        SELECT domain, count(*) AS n_pages,
          CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
          CAST(sum(CASE WHEN www THEN 1 ELSE 0 END) AS BIGINT) AS n_www
        FROM u GROUP BY 1"""),
    ),

    // robots.txt compliance: planted two-group policies (a '*' group
    // with a Disallow plus a LONGER Allow carve-out, and a named-bot
    // group whose presence must SHADOW the '*' group entirely for that
    // bot) evaluated for four path shapes — longest-match, allow-over-
    // disallow ties, and agent-group selection all land in closed form.
    "q_crawl_robots" -> QueryDef(
      (s, dir) => {
        val robots = concat(
          lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
            "User-agent: graftbot\nDisallow: /bot"),
          (col("doc_id") % 3).cast("string"), lit("\n"))
        val path = when(col("doc_id") % 4 === 0, lit("/public/x"))
          .when(col("doc_id") % 4 === 1, lit("/private/y"))
          .when(col("doc_id") % 4 === 2, lit("/private/ok/z"))
          .otherwise(concat(lit("/bot"), (col("doc_id") % 3).cast("string"),
            lit("/q")))
        docs(s, dir).select(col("doc_id"), robots.as("robots"),
            path.as("path"))
          .select(col("doc_id"), col("path"),
            graft.functions.crawl.robots_allowed(col("robots"),
              lit("graftbot/1.0"), col("path")).as("allowed_graftbot"),
            graft.functions.crawl.robots_allowed(col("robots"),
              lit("otherbot"), col("path")).as("allowed_other"),
            size(graft.functions.crawl.robots_rules(col("robots")))
              .cast("int").as("n_rules"))
      },
      Some("""SELECT doc_id,
          CASE doc_id % 4 WHEN 0 THEN '/public/x' WHEN 1 THEN '/private/y'
            WHEN 2 THEN '/private/ok/z'
            ELSE '/bot' || (doc_id % 3) || '/q' END AS path,
          (doc_id % 4 <> 3) AS allowed_graftbot,
          (doc_id % 4 <> 1) AS allowed_other,
          CAST(3 AS INTEGER) AS n_rules
        FROM documents"""),
    ),

    // Sentence segmentation: planted four-sentence paragraphs exercising
    // '!'/'?' terminators, an abbreviation ("Dr.") that must NOT split,
    // and digit-initial sentence starts; exploded (doc_id, sent_idx,
    // sentence) rows reconstruct in closed form.
    "q_text_sentences" -> QueryDef(
      (s, dir) => {
        val para = concat(lit("Hello world. This is doc "),
          col("doc_id").cast("string"), lit("! Dr. Smith saw "),
          (col("doc_id") % 5).cast("string"), lit(" items. Done?"))
        docs(s, dir).select(col("doc_id"), posexplode(
            graft.functions.crawl.split_sentences(para)))
          .select(col("doc_id"), col("pos").as("sent_idx"),
            col("col").as("sentence"))
      },
      Some("""WITH f AS (
          SELECT doc_id, unnest(generate_series(0, 3)) AS si
          FROM documents)
        SELECT doc_id, CAST(si AS INTEGER) AS sent_idx,
          CASE si WHEN 0 THEN 'Hello world.'
            WHEN 1 THEN 'This is doc ' || doc_id || '!'
            WHEN 2 THEN 'Dr. Smith saw ' || (doc_id % 5) || ' items.'
            ELSE 'Done?' END AS sentence
        FROM f"""),
    ),

    // Mojibake repair round trip: the original text (with planted
    // non-ASCII: é, №, an em dash) is UTF-8-encoded then mis-decoded as
    // latin1 USING SPARK'S OWN encode/decode — the exact corruption a
    // crawl picks up from charset-confused servers — and fix_text must
    // reconstruct the original exactly. The oracle is simply the
    // original construction: repair is correct iff the round trip is the
    // identity.
    "q_text_fix_mojibake" -> QueryDef(
      (s, dir) => {
        val original = concat(col("text"), lit(" café №"),
          (col("doc_id") % 7).cast("string"), lit(" — ok"))
        val broken = decode(encode(original, "UTF-8"), "ISO-8859-1")
        docs(s, dir).select(col("doc_id"),
          graft.functions.web.fix_text(broken).as("fixed"))
      },
      Some("""SELECT doc_id,
          text || ' café №' || (doc_id % 7) || ' — ok' AS fixed
        FROM documents"""),
    ),

    // Unicode NFC normalization: planted COMBINING-mark sequences
    // (e + U+0301, o + U+0308) must compose to the precomposed forms;
    // DuckDB's independent nfc_normalize over the same construction is
    // the oracle — two Unicode implementations must agree exactly.
    "q_text_normalize" -> QueryDef(
      (s, dir) => {
        // the suffix literal is authored DECOMPOSED (e+U+0301, o+U+0308)
        val suffix = concat(lit(" éö n"),
          (col("doc_id") % 5).cast("string"))
        val planted = concat(col("text"), suffix)
        docs(s, dir).select(col("doc_id"),
          graft.functions.web.normalize_text(planted, lit("NFC"))
            .as("normalized"),
          // NFD length over the SUFFIX only, so the assertion (NFD keeps
          // decomposed marks decomposed: 8 code points, not 6) stays
          // valid even if a future testdata generation plants non-ASCII
          // document text
          length(graft.functions.web.normalize_text(suffix, lit("NFD")))
            .cast("int").as("nfd_len"))
      },
      Some("""SELECT doc_id,
          nfc_normalize(text || ' e' || chr(769) || 'o' || chr(776) ||
            ' n' || (doc_id % 5)) AS normalized,
          CAST(8 AS INTEGER) AS nfd_len
        FROM documents"""),
    ),

    // URL canonicalization + lenient parse: four planted URL shapes per
    // corpus (uppercase scheme/host + default port + tracking params +
    // fragment; a co.uk host exercising the public-suffix heuristic; a
    // kept non-default port; userinfo + trailing-dot host), every output
    // field closed-form.
    "q_text_url_canonical" -> QueryDef(
      (s, dir) => {
        val n = (col("doc_id") % 37).cast("string")
        val url = when(col("doc_id") % 4 === 0, concat(
            lit("HTTP://WWW.Example"), n, lit(".COM:80/Path/"),
            (col("doc_id") % 100).cast("string"), lit("?utm_source=x&id="),
            (col("doc_id") % 10).cast("string"), lit("&fbclid=zz#frag")))
          .when(col("doc_id") % 4 === 1, concat(
            lit("https://sub.example"), n,
            lit(".co.uk:443/a/b?q=1&utm_campaign=c")))
          .when(col("doc_id") % 4 === 2, concat(
            lit("http://example"), n, lit(".org:8080/")))
          .otherwise(concat(
            lit("ftp://user:pw@files.example"), n, lit(".net./x")))
        docs(s, dir).select(col("doc_id"), url.as("url"))
          .select(col("doc_id"),
            graft.functions.web.url_canonical(col("url")).as("canonical"),
            graft.functions.web.url_parse(col("url")).as("u"))
          .select(col("doc_id"), col("canonical"),
            col("u.host").as("host"),
            col("u.registered_domain").as("registered_domain"),
            col("u.port").as("port"), col("u.path").as("path"),
            col("u.query").as("query"))
      },
      Some("""SELECT doc_id,
          CASE doc_id % 4
            WHEN 0 THEN 'http://www.example' || (doc_id % 37) ||
              '.com/Path/' || (doc_id % 100) || '?id=' || (doc_id % 10)
            WHEN 1 THEN 'https://sub.example' || (doc_id % 37) ||
              '.co.uk/a/b?q=1'
            WHEN 2 THEN 'http://example' || (doc_id % 37) || '.org:8080/'
            ELSE 'ftp://files.example' || (doc_id % 37) || '.net/x'
          END AS canonical,
          CASE doc_id % 4
            WHEN 0 THEN 'www.example' || (doc_id % 37) || '.com'
            WHEN 1 THEN 'sub.example' || (doc_id % 37) || '.co.uk'
            WHEN 2 THEN 'example' || (doc_id % 37) || '.org'
            ELSE 'files.example' || (doc_id % 37) || '.net'
          END AS host,
          CASE doc_id % 4
            WHEN 0 THEN 'example' || (doc_id % 37) || '.com'
            WHEN 1 THEN 'example' || (doc_id % 37) || '.co.uk'
            WHEN 2 THEN 'example' || (doc_id % 37) || '.org'
            ELSE 'example' || (doc_id % 37) || '.net'
          END AS registered_domain,
          CAST(CASE doc_id % 4 WHEN 0 THEN 80 WHEN 1 THEN 443
            WHEN 2 THEN 8080 ELSE -1 END AS INTEGER) AS port,
          CASE doc_id % 4
            WHEN 0 THEN '/Path/' || (doc_id % 100)
            WHEN 1 THEN '/a/b' WHEN 2 THEN '/' ELSE '/x' END AS path,
          CASE doc_id % 4
            WHEN 0 THEN 'utm_source=x&id=' || (doc_id % 10) || '&fbclid=zz'
            WHEN 1 THEN 'q=1&utm_campaign=c' END AS query
        FROM documents"""),
    ),

    // URL-level dedup: three crawl-variant spellings of each target URL
    // (case-shifted scheme/host + default port, tracking query) all
    // canonicalize to one key; the group counts match grouping the
    // planted arithmetic directly.
    "q_dedup_urls" -> QueryDef(
      (s, dir) => {
        val k = (col("doc_id") % 60).cast("string")
        val url = when(col("doc_id") % 3 === 1, concat(
            lit("HTTP://site"), k, lit(".EXAMPLE.COM:80/page")))
          .when(col("doc_id") % 3 === 2, concat(
            lit("http://site"), k,
            lit(".example.com/page?utm_source=feed&gclid=1")))
          .otherwise(concat(
            lit("http://site"), k, lit(".example.com/page#top")))
        docs(s, dir).select(
            graft.functions.web.url_canonical(url).as("canonical_url"))
          .groupBy("canonical_url")
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT 'http://site' || (doc_id % 60) ||
            '.example.com/page' AS canonical_url,
          count(*) AS n
        FROM documents GROUP BY 1"""),
    ),

    // Animated-GIF REPLAY (disposal compositing): synth_anim plants real
    // GIF89a animations — a full-screen base frame then offset 4x3 rects,
    // with mode cycling the three disposal methods and a fully-TRANSPARENT
    // frame whose draw must be a no-op — and gif_frames_composited replays
    // them on the logical-screen canvas. Per-frame pixel sums are
    // closed-form (disjoint rects over an identity-gray palette), so the
    // oracle reconstructs every canvas state with a windowed cumulative
    // sum over the per-frame deltas: any slip in offsets, transparency,
    // restore-to-background, or restore-to-previous moves a sum.
    "q_multimodal_gif_composited" -> QueryDef(
      (s, dir) => {
        docs(s, dir).select(col("doc_id"),
            graft.functions.images.synth_anim(col("doc_id").cast("long"),
              (col("doc_id") % 4).cast("int")).as("data"))
          .select(col("doc_id").as("media_id"),
            posexplode(graft.functions.images.gif_frames_composited(
              col("data"))))
          .select(col("media_id"), col("pos").as("frame_idx"),
            col("col.width").as("width"), col("col.height").as("height"),
            graft.functions.images.byte_sum(
              col("col.pixels")).as("pixel_sum"))
      },
      Some("""WITH f AS (
          SELECT doc_id,
            unnest(generate_series(0, CAST(3 + doc_id % 3 AS INT))) AS fi
          FROM documents),
        d AS (
          SELECT doc_id, fi,
            24 + (doc_id % 5) * 8 AS W, 10 + (doc_id % 3) * 4 AS H,
            doc_id % 200 + 10 AS c0, doc_id % 100 + 5 AS bg,
            doc_id % 4 AS m,
            (doc_id * 7 + fi * 31) % 200 + 20 AS cf,
            (doc_id * 7 + (fi - 1) * 31) % 200 + 20 AS cp
          FROM f)
        SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_idx,
          CAST(W AS INTEGER) AS width, CAST(H AS INTEGER) AS height,
          CAST(W * H * c0 + SUM(CASE
              WHEN fi = 0 THEN 0
              WHEN m = 0 THEN 12 * (cf - c0)
              WHEN m = 1 THEN 12 * (cf - c0) +
                CASE WHEN fi >= 2 THEN 12 * (bg - cp) ELSE 0 END
              WHEN m = 2 THEN 12 * (cf - c0) +
                CASE WHEN fi >= 2 THEN 12 * (c0 - cp) ELSE 0 END
              ELSE CASE WHEN fi % 2 = 1 THEN 12 * (cf - c0) ELSE 0 END
            END) OVER (PARTITION BY doc_id ORDER BY fi)
            AS BIGINT) AS pixel_sum
        FROM d"""),
    ),

    // Image resize (half-pixel bilinear in exact integer fixed-point):
    // a 3x downscale lands every destination sample EXACTLY on the
    // source grid (srcX = 3x'+1), so resizing the seed-derived linear
    // gradient picks planted values directly and the per-image pixel sum
    // is a double summation the oracle replays in closed form — any slip
    // in the sampling grid, clamping, or weight math moves a sum.
    "q_multimodal_resize" -> QueryDef(
      (s, dir) => {
        val nw = (col("doc_id") % 6 + 3).cast("int")
        val nh = (col("doc_id") % 4 + 2).cast("int")
        docs(s, dir).select(col("doc_id"), nw.as("new_w"), nh.as("new_h"))
          .select(col("doc_id").as("media_id"), col("new_w"), col("new_h"),
            graft.functions.images.byte_sum(
              graft.functions.images.image_resize(
                graft.functions.images.synth_gradient(
                  col("doc_id").cast("long"),
                  (col("new_w") * 3).cast("int"),
                  (col("new_h") * 3).cast("int")),
                (col("new_w") * 3).cast("int"), (col("new_h") * 3).cast("int"),
                col("new_w"), col("new_h"))).as("pix_sum"))
      },
      Some("""WITH d AS (
          SELECT doc_id, CAST(doc_id % 6 + 3 AS INTEGER) AS new_w,
            CAST(doc_id % 4 + 2 AS INTEGER) AS new_h,
            doc_id % 5 + 1 AS a, doc_id % 7 + 1 AS b, doc_id % 97 AS c
          FROM documents),
        xs AS (
          SELECT doc_id, new_w, new_h, a, b, c,
            unnest(generate_series(0, new_w - 1)) AS x
          FROM d),
        ys AS (
          SELECT doc_id, new_w, new_h, a, b, c, x,
            unnest(generate_series(0, new_h - 1)) AS y
          FROM xs)
        SELECT doc_id AS media_id, new_w, new_h,
          CAST(SUM((a * (3 * x + 1) + b * (3 * y + 1) + c) % 256)
            AS BIGINT) AS pix_sum
        FROM ys GROUP BY 1, 2, 3"""),
    ),

    // Animation metadata WITHOUT pixel decode: gif_frame_meta walks only
    // descriptors and Graphic Control Extensions (LZW skipped by
    // sub-block lengths), yielding per-frame rects, delays, disposal,
    // transparency, and the cumulative start time a keyframe-timestamp
    // pass needs. synth_anim plants delay f+1 per frame, so start_cs is
    // the triangular number fi*(fi+1)/2 in closed form.
    "q_multimodal_gif_meta" -> QueryDef(
      (s, dir) => {
        docs(s, dir).select(col("doc_id"),
            graft.functions.images.synth_anim(col("doc_id").cast("long"),
              (col("doc_id") % 4).cast("int")).as("data"))
          .select(col("doc_id").as("media_id"),
            posexplode(graft.functions.images.gif_frame_meta(col("data"))))
          .select(col("media_id"), col("pos").as("frame_idx"),
            col("col.left").as("left_px"), col("col.top").as("top_px"),
            col("col.width").as("width"), col("col.height").as("height"),
            col("col.delay_cs").as("delay_cs"),
            col("col.disposal").as("disposal"),
            col("col.transparent").as("transparent"),
            col("col.start_cs").as("start_cs"))
      },
      Some("""WITH f AS (
          SELECT doc_id,
            unnest(generate_series(0, CAST(3 + doc_id % 3 AS INT))) AS fi
          FROM documents)
        SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_idx,
          CAST(CASE WHEN fi = 0 THEN 0 ELSE 5 * (fi - 1) END AS INTEGER)
            AS left_px,
          CAST(CASE WHEN fi = 0 THEN 0 ELSE 2 END AS INTEGER) AS top_px,
          CAST(CASE WHEN fi = 0 THEN 24 + (doc_id % 5) * 8 ELSE 4 END
            AS INTEGER) AS width,
          CAST(CASE WHEN fi = 0 THEN 10 + (doc_id % 3) * 4 ELSE 3 END
            AS INTEGER) AS height,
          CAST(fi + 1 AS INTEGER) AS delay_cs,
          CAST(CASE WHEN fi = 0 THEN 1 WHEN doc_id % 4 = 1 THEN 2
            WHEN doc_id % 4 = 2 THEN 3 ELSE 1 END AS INTEGER) AS disposal,
          (doc_id % 4 = 3 AND fi % 2 = 0 AND fi > 0) AS transparent,
          CAST(fi * (fi + 1) // 2 AS BIGINT) AS start_cs
        FROM f"""),
    ),

    // Multi-codec content ingestion round trip: planted closed-form text
    // is compressed with a codec cycling over all five self-identifying
    // formats (zlib, gzip, zstd, lz4, snappy-framed — all from jars Spark
    // itself ships), then decompressed back via magic-byte sniffing alone
    // ("auto"). The row proves both the codec routing (the sniffed name)
    // and a bit-exact round trip against the closed-form planted text —
    // the ingest seam a mixed-codec 100 TB crawl needs, inside one
    // codegen'd projection with no per-source plumbing.
    "q_content_codecs" -> QueryDef(
      (s, dir) => {
        val codec = element_at(
          array(lit("zlib"), lit("gzip"), lit("zstd"), lit("lz4"),
            lit("snappy")),
          (col("doc_id") % 5 + 1).cast("int"))
        val text = concat(lit("doc-"), col("doc_id").cast("string"),
          lit(" "),
          repeat(lit("lorem ipsum dolor "), (col("doc_id") % 9).cast("int")))
        docs(s, dir)
          .select(col("doc_id"),
            graft.functions.codecs.compress_bytes(
              text.cast("binary"), codec).as("data"))
          .select(col("doc_id").as("media_id"),
            graft.functions.codecs.codec_sniff(col("data")).as("codec"),
            graft.functions.codecs.decompress_text(
              col("data"), lit("auto")).as("text"))
      },
      Some("""SELECT doc_id AS media_id,
          CASE doc_id % 5 WHEN 0 THEN 'zlib' WHEN 1 THEN 'gzip'
            WHEN 2 THEN 'zstd' WHEN 3 THEN 'lz4' ELSE 'snappy' END AS codec,
          'doc-' || doc_id || ' ' ||
            repeat('lorem ipsum dolor ', CAST(doc_id % 9 AS INTEGER)) AS text
        FROM documents"""),
    ),

    // REAL pixel decompression end-to-end: synth images (dhash64 == seed
    // by construction) are encoded as standards-conformant grayscale PNGs
    // — zlib-deflated IDAT split across chunks, per-chunk CRC-32, row
    // filters cycling through all five types via filterMode = doc_id % 6
    // — then decoded back from the BYTES (inflate + unfilter) and
    // re-hashed. The round trip is bit-exact, so the decoded dims and
    // dHash match the planted arithmetic; any slip in the codec (CRC,
    // filter predictor, multi-IDAT reassembly) breaks the oracle.
    "q_multimodal_png_decode" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir).where(col("doc_id") < 1500).select(col("doc_id"),
          (col("doc_id") % 5 + 16).cast("int").as("w"),
          (col("doc_id") % 4 + 12).cast("int").as("h"))
        d.select(col("doc_id").as("media_id"),
            graft.operators.Multimodal.decodePng(
              graft.functions.images.png_encode_gray(
                graft.functions.images.synth_image(
                  (col("doc_id") % 7 * 1234567 + 42).cast("long"),
                  col("w"), col("h"), (col("doc_id") % 3).cast("int")),
                col("w"), col("h"),
                (col("doc_id") % 6).cast("int"))).as("m"))
          .select(col("media_id"), col("m.width").as("width"),
            col("m.height").as("height"), col("m.channels").as("channels"),
            graft.operators.Multimodal.dhash(
              col("m.pixels"), col("m.width"), col("m.height")).as("dhash"))
      },
      Some("""SELECT doc_id AS media_id,
          CAST(doc_id % 5 + 16 AS INTEGER) AS width,
          CAST(doc_id % 4 + 12 AS INTEGER) AS height,
          CAST(1 AS INTEGER) AS channels,
          CAST(doc_id % 7 * 1234567 + 42 AS BIGINT) AS dhash
        FROM documents WHERE doc_id < 1500"""),
    ),

    // perceptual near-dup join over COMPRESSED payloads: the same planted
    // near-duplicate groups as q_multimodal_phash_dups, but each image
    // travels as a real PNG and pngNearDups decodes inside the signature
    // projection — proving the full chain payload -> inflate -> unfilter
    // -> dHash -> banded hamming join against the same closed-form oracle
    "q_multimodal_png_dups" -> QueryDef(
      (s, dir) => {
        val media = docs(s, dir).where(col("doc_id") < 1500)
          .select(col("doc_id"),
            (col("doc_id") % 5 + 16).cast("int").as("w"),
            (col("doc_id") % 4 + 12).cast("int").as("h"))
          .select(col("doc_id"),
            graft.functions.images.png_encode_gray(
              graft.functions.images.synth_image(
                (col("doc_id") % 7 * 1234567 + 42).cast("long"),
                col("w"), col("h"), (col("doc_id") % 3).cast("int")),
              col("w"), col("h"), (col("doc_id") % 6).cast("int")).as("data"))
        graft.operators.Multimodal
          .pngNearDups(media, "doc_id", "data", maxHamming = 0)
          .groupBy(col("dhash_a").as("dhash"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some("""WITH g AS (
          SELECT doc_id % 7 * 1234567 + 42 AS dhash, count(*) AS n
          FROM documents WHERE doc_id < 1500 GROUP BY 1)
        SELECT CAST(dhash AS BIGINT) AS dhash,
          CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
        FROM g WHERE n >= 2"""),
    ),

    // Perceptual near-dup join over raw pixel buffers: synth_image plants
    // groups of near-duplicate images (same dHash seed per doc_id % 7
    // group, per-row pixel perturbations and sizes), dhashNearDups finds
    // all intra-group pairs via the banded hamming join. dhash64(synth(
    // seed)) == seed by construction, so the oracle predicts each group's
    // hash and pair count in closed form.
    "q_multimodal_phash_dups" -> QueryDef(
      (s, dir) => {
        val media = docs(s, dir).where(col("doc_id") < 1500)
          .select(col("doc_id"),
            (col("doc_id") % 7 * 1234567 + 42).cast("long").as("seed"),
            (col("doc_id") % 5 + 16).cast("int").as("w"),
            (col("doc_id") % 4 + 12).cast("int").as("h"),
            (col("doc_id") % 3).cast("int").as("perturb"))
          .select(col("doc_id"), col("w"), col("h"),
            graft.functions.images.synth_image(
              col("seed"), col("w"), col("h"), col("perturb")).as("data"))
        graft.operators.Multimodal
          .dhashNearDups(media, "doc_id", "data", "w", "h", maxHamming = 0)
          .groupBy(col("dhash_a").as("dhash"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some("""WITH g AS (
          SELECT doc_id % 7 * 1234567 + 42 AS dhash, count(*) AS n
          FROM documents WHERE doc_id < 1500 GROUP BY 1)
        SELECT CAST(dhash AS BIGINT) AS dhash,
          CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
        FROM g WHERE n >= 2"""),
    ),

    // incremental perceptual dedup: even docs' signatures form the
    // persisted index, odd docs arrive as the delta; delta pairs are
    // exactly the pairs with at least one new member — per seed group,
    // C(n,2) - C(n_old,2) in closed form
    "q_multimodal_phash_incremental" -> QueryDef(
      (s, dir) => {
        def mediaOf(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
          docs(s, dir).where(col("doc_id") < 1500)
            .where(f(col("doc_id")))
            .select(col("doc_id"),
              (col("doc_id") % 5 + 16).cast("int").as("w"),
              (col("doc_id") % 4 + 12).cast("int").as("h"))
            .select(col("doc_id").as("media_id"), col("w"), col("h"),
              graft.functions.images.synth_image(
                (col("doc_id") % 7 * 1234567 + 42).cast("long"),
                col("w"), col("h"),
                (col("doc_id") % 3).cast("int")).as("data"))
        val oldSigs = graft.operators.Multimodal.dhashBandSignatures(
          mediaOf(_ % 2 === 0), "media_id", "data", "w", "h")
        graft.operators.Multimodal.deltaDhashNearDups(
            mediaOf(_ % 2 === 1), "media_id", "data", "w", "h",
            oldSigs, maxHamming = 0)
          .groupBy((col("id_a") % 7).as("grp"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some("""WITH m AS (
          SELECT doc_id, doc_id % 7 AS grp,
            CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS old
          FROM documents WHERE doc_id < 1500),
        g AS (SELECT grp, count(*) AS n, sum(old) AS n1
          FROM m GROUP BY 1)
        SELECT CAST(grp AS BIGINT) AS grp,
          CAST(n * (n - 1) // 2 - n1 * (n1 - 1) // 2 AS BIGINT) AS n_pairs
        FROM g WHERE n * (n - 1) // 2 - n1 * (n1 - 1) // 2 > 0"""),
    ),

    // WAV audio metadata: standards-layout RIFF byte streams planted from
    // doc_id arithmetic (some with an odd-size LIST chunk so the aligned
    // chunk scan is exercised), parsed back from the BYTES by audio_meta;
    // the oracle predicts every field in closed form
    "q_multimodal_audio" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"),
          element_at(array(lit(8000), lit(16000), lit(44100)),
            (col("doc_id") % 3 + 1).cast("int")).cast("long").as("rate"),
          (col("doc_id") % 2 + 1).cast("long").as("ch"),
          when(col("doc_id") % 2 === 0, 8L).otherwise(16L).as("bits"),
          (col("doc_id") % 1000 + 1).cast("long").as("n"))
        d.select(col("doc_id").as("media_id"),
            graft.operators.Multimodal.audioMeta(
              graft.operators.Multimodal.wavBytes(
                col("rate"), col("ch"), col("bits"), col("n"),
                col("doc_id") % 5 === 0)).as("m"))
          .select(col("media_id"), col("m.format").as("format"),
            col("m.sample_rate").as("sample_rate"),
            col("m.channels").as("channels"), col("m.bits").as("bits"),
            col("m.n_samples").as("n_samples"))
      },
      Some("""SELECT doc_id AS media_id, 'wav' AS format,
          CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
               ELSE 44100 END AS INTEGER) AS sample_rate,
          CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS INTEGER)
            AS bits,
          CAST(doc_id % 1000 + 1 AS BIGINT) AS n_samples
        FROM documents"""),
    ),

    // REAL lossy decompression end-to-end: step-12 synth images (sampled
    // gradients 12 units wide, dhash64 == seed) are encoded as baseline
    // JFIF JPEGs with a flat quant-2 table — forward DCT, Annex K
    // Huffman, byte stuffing — then decoded back from the BYTES
    // (canonical Huffman + dequant + IDCT). The codec perturbs pixels by
    // at most a few units, far under the planted gradient, so the
    // decoded dims and dHash still match the seed arithmetic exactly;
    // any slip in either half of the codec breaks the oracle.
    "q_multimodal_jpeg_decode" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir).where(col("doc_id") < 1500).select(col("doc_id"),
          (col("doc_id") % 5 + 16).cast("int").as("w"),
          (col("doc_id") % 4 + 12).cast("int").as("h"))
        d.select(col("doc_id").as("media_id"),
            graft.operators.Multimodal.decodeJpeg(
              graft.functions.images.jpeg_encode_gray(
                graft.functions.images.synth_image_step(
                  (col("doc_id") % 7 * 1234567 + 42).cast("long"),
                  col("w"), col("h"), lit(0).cast("int"), step = 12),
                col("w"), col("h"), lit(2).cast("int"))).as("m"))
          .select(col("media_id"), col("m.width").as("width"),
            col("m.height").as("height"), col("m.channels").as("channels"),
            graft.operators.Multimodal.dhash(
              col("m.pixels"), col("m.width"), col("m.height")).as("dhash"))
      },
      Some("""SELECT doc_id AS media_id,
          CAST(doc_id % 5 + 16 AS INTEGER) AS width,
          CAST(doc_id % 4 + 12 AS INTEGER) AS height,
          CAST(1 AS INTEGER) AS channels,
          CAST(doc_id % 7 * 1234567 + 42 AS BIGINT) AS dhash
        FROM documents WHERE doc_id < 1500"""),
    ),

    // REAL LZW decode end-to-end: synth images encoded as GIF89a
    // (identity gray table, literal-code LZW stream with code-width
    // growth), decoded back from the BYTES (variable-width code reader,
    // dictionary bookkeeping, palette luma) and re-hashed — bit-exact,
    // so dims and dHash match the planted arithmetic
    "q_multimodal_gif_decode" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir).where(col("doc_id") < 1500).select(col("doc_id"),
          (col("doc_id") % 5 + 16).cast("int").as("w"),
          (col("doc_id") % 4 + 12).cast("int").as("h"))
        d.select(col("doc_id").as("media_id"),
            graft.functions.images.gif_decode(
              graft.functions.images.gif_encode_gray(
                graft.functions.images.synth_image(
                  (col("doc_id") % 7 * 1234567 + 42).cast("long"),
                  col("w"), col("h"), (col("doc_id") % 3).cast("int")),
                col("w"), col("h"))).as("m"))
          .select(col("media_id"), col("m.width").as("width"),
            col("m.height").as("height"), col("m.channels").as("channels"),
            graft.operators.Multimodal.dhash(
              col("m.pixels"), col("m.width"), col("m.height")).as("dhash"))
      },
      Some("""SELECT doc_id AS media_id,
          CAST(doc_id % 5 + 16 AS INTEGER) AS width,
          CAST(doc_id % 4 + 12 AS INTEGER) AS height,
          CAST(3 AS INTEGER) AS channels,
          CAST(doc_id % 7 * 1234567 + 42 AS BIGINT) AS dhash
        FROM documents WHERE doc_id < 1500"""),
    ),

    // REAL uncompressed decode end-to-end: synth images encoded as 8-bit
    // palette BMPs (identity gray palette, 4-byte-aligned rows, half the
    // corpus top-down / half bottom-up exercising both row orders),
    // decoded back from the BYTES and re-hashed — the round trip is
    // bit-exact (luma of an identity palette is the index), so dims and
    // dHash match the planted arithmetic
    "q_multimodal_bmp_decode" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir).where(col("doc_id") < 1500).select(col("doc_id"),
          (col("doc_id") % 5 + 16).cast("int").as("w"),
          (col("doc_id") % 4 + 12).cast("int").as("h"))
        d.select(col("doc_id").as("media_id"),
            graft.functions.images.bmp_decode(
              graft.functions.images.bmp_encode_gray(
                graft.functions.images.synth_image(
                  (col("doc_id") % 7 * 1234567 + 42).cast("long"),
                  col("w"), col("h"), (col("doc_id") % 3).cast("int")),
                col("w"), col("h"), col("doc_id") % 2 === 0)).as("m"))
          .select(col("media_id"), col("m.width").as("width"),
            col("m.height").as("height"), col("m.channels").as("channels"),
            graft.operators.Multimodal.dhash(
              col("m.pixels"), col("m.width"), col("m.height")).as("dhash"))
      },
      Some("""SELECT doc_id AS media_id,
          CAST(doc_id % 5 + 16 AS INTEGER) AS width,
          CAST(doc_id % 4 + 12 AS INTEGER) AS height,
          CAST(1 AS INTEGER) AS channels,
          CAST(doc_id % 7 * 1234567 + 42 AS BIGINT) AS dhash
        FROM documents WHERE doc_id < 1500"""),
    ),

    // heterogeneous-corpus typed features in ONE projection: a corpus
    // mixing real PNG, JPEG, and WAV payloads goes through format
    // detection + the matching codec + perceptual signature, and every
    // field matches the planted arithmetic — format routing, both image
    // codecs, and the audio path all proven in a single gate
    "q_multimodal_features_real" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir).where(col("doc_id") < 1500).select(col("doc_id"),
          (col("doc_id") % 5 + 16).cast("int").as("w"),
          (col("doc_id") % 4 + 12).cast("int").as("h"),
          (col("doc_id") % 7 * 1234567 + 42).cast("long").as("seed"))
        val media = d.select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            graft.functions.images.png_encode_gray(
              graft.functions.images.synth_image(col("seed"), col("w"),
                col("h"), (col("doc_id") % 2).cast("int")),
              col("w"), col("h"), (col("doc_id") % 6).cast("int")))
          .when(col("doc_id") % 3 === 1,
            graft.functions.images.jpeg_encode_gray(
              graft.functions.images.synth_image_step(col("seed"), col("w"),
                col("h"), lit(0).cast("int"), step = 12),
              col("w"), col("h"), lit(2).cast("int")))
          .otherwise(
            graft.functions.images.synth_audio(col("seed"),
              (col("doc_id") % 2 + 2).cast("int"),
              (col("doc_id") % 3).cast("int"))).as("data"))
        graft.operators.Multimodal.mediaFeatures(media, "doc_id", "data")
          .select(col("id").as("media_id"), col("format"), col("width"),
            col("height"), col("channels"), col("sample_rate"),
            col("n_samples"), col("sig"))
      },
      Some("""SELECT doc_id AS media_id,
          CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
            ELSE 'wav' END AS format,
          CASE WHEN doc_id % 3 < 2 THEN CAST(doc_id % 5 + 16 AS INTEGER)
            END AS width,
          CASE WHEN doc_id % 3 < 2 THEN CAST(doc_id % 4 + 12 AS INTEGER)
            END AS height,
          CAST(1 AS INTEGER) AS channels,
          CASE WHEN doc_id % 3 = 2 THEN CAST(8000 AS INTEGER)
            END AS sample_rate,
          CASE WHEN doc_id % 3 = 2 THEN CAST(65 * (doc_id % 2 + 2) AS BIGINT)
            END AS n_samples,
          CAST(doc_id % 7 * 1234567 + 42 AS BIGINT) AS sig
        FROM documents WHERE doc_id < 1500"""),
    ),

    // hamming-budget near-dup through the LOSSY codec: groups plant
    // seeds differing in 1-2 known bits (bit 5 / bit 37), every image
    // travels as a real JPEG, and the banded join at maxHamming=3 must
    // recover the exact pair counts per hamming distance (pigeonhole:
    // <= 3 flipped bits leave >= 1 band intact, so recall is total);
    // cross-group seeds sit >= 10 bits apart and never pair
    "q_multimodal_jpeg_dups" -> QueryDef(
      (s, dir) => {
        val flip = when(col("doc_id") % 3 === 1, lit(1L << 5))
          .when(col("doc_id") % 3 === 2, lit(1L << 37))
          .otherwise(lit(0L))
        val media = docs(s, dir).where(col("doc_id") < 1500)
          .select(col("doc_id"),
            (col("doc_id") % 5 + 16).cast("int").as("w"),
            (col("doc_id") % 4 + 12).cast("int").as("h"),
            (col("doc_id") % 7 * 1234567 + 42).cast("long")
              .bitwiseXOR(flip).as("seed"))
          .select(col("doc_id"),
            graft.functions.images.jpeg_encode_gray(
              graft.functions.images.synth_image_step(
                col("seed"), col("w"), col("h"), lit(0).cast("int"),
                step = 12),
              col("w"), col("h"), lit(2).cast("int")).as("data"))
        graft.operators.Multimodal
          .jpegNearDups(media, "doc_id", "data", maxHamming = 3)
          .groupBy(col("hamming"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some("""WITH m AS (SELECT doc_id % 7 AS g, doc_id % 3 AS c
          FROM documents WHERE doc_id < 1500),
        cnt AS (SELECT g,
            sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS n0,
            sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
            sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2
          FROM m GROUP BY g),
        h AS (SELECT CAST(0 AS INTEGER) AS hamming,
            CAST(sum(n0 * (n0 - 1) // 2 + n1 * (n1 - 1) // 2 +
              n2 * (n2 - 1) // 2) AS BIGINT) AS n_pairs FROM cnt
          UNION ALL SELECT CAST(1 AS INTEGER),
            CAST(sum(n0 * n1 + n0 * n2) AS BIGINT) FROM cnt
          UNION ALL SELECT CAST(2 AS INTEGER),
            CAST(sum(n1 * n2) AS BIGINT) FROM cnt)
        SELECT hamming, n_pairs FROM h WHERE n_pairs > 0"""),
    ),

    // perceptual near-dup join over real PCM WAV payloads: synth_audio
    // plants groups of clips sharing a loudness envelope (fingerprint ==
    // seed by construction; per-row sample perturbations and lengths),
    // audioNearDups parses the RIFF bytes, fingerprints channel-0
    // samples, and pairs via the banded hamming join — same closed-form
    // group-pair oracle as the image paths
    "q_multimodal_audio_dups" -> QueryDef(
      (s, dir) => {
        val media = docs(s, dir).where(col("doc_id") < 1500)
          .select(col("doc_id"),
            graft.functions.images.synth_audio(
              (col("doc_id") % 7 * 7654321 + 99).cast("long"),
              (col("doc_id") % 3 + 2).cast("int"),
              (col("doc_id") % 3).cast("int")).as("data"))
        graft.operators.Multimodal
          .audioNearDups(media, "doc_id", "data", maxHamming = 0)
          .groupBy(col("fp_a").as("fp"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some("""WITH g AS (
          SELECT doc_id % 7 * 7654321 + 99 AS fp, count(*) AS n
          FROM documents WHERE doc_id < 1500 GROUP BY 1)
        SELECT CAST(fp AS BIGINT) AS fp,
          CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
        FROM g WHERE n >= 2"""),
    ),

    // keyframe selection by perceptual change: 8-frame videos plant two
    // shot boundaries with exact dHash deltas (4 bits at frame 3, 8 at
    // frame 6); keyframes must keep exactly the first frame and both
    // boundaries with the planted hashes and deltas
    "q_multimodal_keyframes" -> QueryDef(
      (s, dir) => {
        val W = 16; val H = 12
        val base = (col("doc_id") % 6 * 1000 + 3).cast("long")
        val seed = (f: Int) =>
          if (f < 3) base else if (f < 6) base.bitwiseXOR(lit(15L))
          else base.bitwiseXOR(lit(240L))
        val frameCols = (0 until 8).map(f =>
          graft.functions.images.synth_image(
            seed(f), lit(W), lit(H), (col("doc_id") % 3).cast("int")))
        val videos = docs(s, dir).where(col("doc_id") < 1500)
          .select(col("doc_id").as("media_id"),
            concat(frameCols: _*).as("data"))
        val frames = graft.operators.Multimodal.sampleFrames(
          videos, frameBytes = W * H, stride = 1)
        graft.operators.Multimodal.keyframes(
          frames, "media_id", "frame_idx", "frame", W, H, minDelta = 3)
      },
      Some("""SELECT doc_id AS media_id, CAST(v.f AS BIGINT) AS frame_idx,
          CAST(xor(doc_id % 6 * 1000 + 3, v.m) AS BIGINT) AS dhash,
          CAST(v.d AS INTEGER) AS delta
        FROM documents,
          (VALUES (0, 0, NULL), (3, 15, 4), (6, 240, 8)) v(f, m, d)
        WHERE doc_id < 1500"""),
    ),

    // keyframes from REAL ANIMATED GIF payloads: the same planted
    // shot-change layout as q_multimodal_keyframes, but the frames
    // travel through a full animated-GIF encode (per-frame GCEs,
    // NETSCAPE loop block, literal LZW streams) and the frame-iterating
    // LZW decode. The identity gray palette makes the luma projection
    // lossless, so the decoded dHashes — and the keyframe indices — are
    // exact
    "q_multimodal_gif_keyframes" -> QueryDef(
      (s, dir) => {
        val W = 16; val H = 12
        val base = (col("doc_id") % 6 * 1000 + 3).cast("long")
        val seed = (f: Int) =>
          if (f < 3) base else if (f < 6) base.bitwiseXOR(lit(15L))
          else base.bitwiseXOR(lit(240L))
        val frameCols = (0 until 8).map(f =>
          graft.functions.images.synth_image(
            seed(f), lit(W), lit(H), (col("doc_id") % 3).cast("int")))
        val gifs = docs(s, dir).where(col("doc_id") < 1500)
          .select(col("doc_id").as("media_id"),
            graft.functions.images.gif_encode_frames(
              concat(frameCols: _*), lit(W), lit(H), lit(8)).as("data"))
        graft.operators.Multimodal.gifKeyframes(
          gifs, "media_id", "data", minDelta = 3)
      },
      Some("""SELECT doc_id AS media_id, CAST(v.f AS BIGINT) AS frame_idx,
          CAST(xor(doc_id % 6 * 1000 + 3, v.m) AS BIGINT) AS dhash,
          CAST(v.d AS INTEGER) AS delta
        FROM documents,
          (VALUES (0, 0, NULL), (3, 15, 4), (6, 240, 8)) v(f, m, d)
        WHERE doc_id < 1500"""),
    ),

    // video near-dup by shared frame fingerprints: payloads are 4
    // concatenated synth frames (per-group frame seeds, per-video pixel
    // perturbation), frame-sampled back apart by sampleFrames, each frame
    // dHashed, videos paired on >= 3 shared hashes. Same-group videos
    // share all 4 frames, cross-group none — closed-form oracle
    "q_multimodal_video_dups" -> QueryDef(
      (s, dir) => {
        val W = 16; val H = 8; val F = 4
        val seed = (f: Int) => (col("doc_id") % 6) * 1000 + f * 7 + 3
        val frameCols = (0 until F).map(f =>
          graft.functions.images.synth_image(
            seed(f).cast("long"), lit(W), lit(H),
            (col("doc_id") % 3).cast("int")))
        val videos = docs(s, dir).where(col("doc_id") < 1500)
          .select(col("doc_id").as("media_id"), concat(frameCols: _*).as("data"))
        val frames = graft.operators.Multimodal.sampleFrames(
          videos, frameBytes = W * H, stride = 1)
        graft.operators.Multimodal.videoNearDups(
            frames, "media_id", "frame", W, H, minShared = 3)
          .groupBy(col("n_shared"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some("""WITH g AS (
          SELECT doc_id % 6 AS grp, count(*) AS n
          FROM documents WHERE doc_id < 1500 GROUP BY 1)
        SELECT CAST(4 AS BIGINT) AS n_shared,
          CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_pairs
        FROM g WHERE n >= 2"""),
    ),

    // --- similarity search ----------------------------------------------
    "q_embed_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        Similarity.topK(emb.filter(col("id") < 20), emb, k = 3)
      },
      Some("""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
        n AS (SELECT id, embedding,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, len(embedding)+1),
              p -> CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS DOUBLE))),
            (a, b) -> a + b)) AS nrm
          FROM v),
        scored AS (SELECT q.id AS q_id, c.id AS c_id,
          round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, len(q.embedding)+1),
              p -> CAST(q.embedding[p] AS DOUBLE) * CAST(c.embedding[p] AS DOUBLE))),
            (a, b) -> a + b) / (q.nrm * c.nrm), 4) AS cos
          FROM n q JOIN n c ON q.id <> c.id
          WHERE q.id < 20),
        ranked AS (SELECT q_id, c_id, cos,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn
          FROM scored)
        SELECT q_id, c_id, cos, rn FROM ranked WHERE rn <= 3"""),
    ),

    // SQ8 scalar quantization (faiss-style): per-dim [min,max] -> uint8
    // codes, asymmetric top-k (float query x decoded candidate); the
    // oracle replays the train/encode/decode arithmetic exactly
    "q_embed_sq_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        val stats = Similarity.sqStats(emb, 64)
        val codes = Similarity.sqEncode(emb, stats, 64)
        Similarity.sqTopK(emb.filter(col("id") < 20), codes, stats, 64, k = 3)
      },
      Some("""WITH v AS (SELECT vec_id AS id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
        st AS (SELECT p, min(emb[p]) AS mn, max(emb[p]) AS mx
               FROM (SELECT emb, unnest(range(1, 65)) AS p FROM v) GROUP BY p),
        arrs AS (SELECT list(mn ORDER BY p) AS mins, list(mx ORDER BY p) AS maxs
                 FROM st),
        codes AS (SELECT id, list_transform(range(1, 65), p ->
            CASE WHEN maxs[p] = mins[p] THEN CAST(0 AS BIGINT)
                 ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
                   CAST(round((emb[p] - mins[p]) * 255.0 / (maxs[p] - mins[p]),
                     0) AS BIGINT)))
            END) AS cs
          FROM v CROSS JOIN arrs),
        dec AS (SELECT id, list_transform(range(1, 65), p ->
            mins[p] + cs[p] * (maxs[p] - mins[p]) / 255.0) AS d
          FROM codes CROSS JOIN arrs),
        dn AS (SELECT id, d, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, 65), p -> d[p] * d[p])),
            (a, b) -> a + b)) AS dnrm
          FROM dec),
        qn AS (SELECT id, emb, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, 65), p -> emb[p] * emb[p])),
            (a, b) -> a + b)) AS qnrm
          FROM v WHERE id < 20),
        scored AS (SELECT q.id AS q_id, c.id AS c_id,
            round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65), p -> q.emb[p] * c.d[p])),
              (a, b) -> a + b) / (q.qnrm * c.dnrm), 4) AS cos
          FROM qn q JOIN dn c ON q.id <> c.id),
        ranked AS (SELECT q_id, c_id, cos,
            ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY cos DESC, c_id ASC) AS rn
          FROM scored)
        SELECT q_id, c_id, cos, rn FROM ranked WHERE rn <= 3"""),
    ),

    // embedding-cosine near-dup (dedup-family member over vector space)
    "q_dedup_embed" -> QueryDef(
      (s, dir) => Similarity.embeddingNearDups(
        Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding")),
        planes = 8, dim = 64, minCos = 0.4),
      Some("""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
        planes AS (SELECT p FROM range(0, 8) t(p)),
        dots AS (SELECT v.id, pl.p,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, 65),
              d -> CAST(embedding[d] AS DOUBLE) *
                   (CASE WHEN (pl.p * 7919 + d * 104729) % 3 = 0
                         THEN -1.0 ELSE 1.0 END))),
            (a, b) -> a + b) AS dp
          FROM v CROSS JOIN planes pl),
        buckets AS (SELECT id,
          CAST(SUM(CASE WHEN dp > 0
            THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER)) ELSE 0 END) AS BIGINT)
            AS bucket
          FROM dots GROUP BY 1),
        n AS (SELECT v.id, v.embedding, b.bucket,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, 65),
              p -> CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS DOUBLE))),
            (a, b) -> a + b)) AS nrm
          FROM v JOIN buckets b ON v.id = b.id)
        SELECT canonical_id, dup_id, cos FROM (
          SELECT x.id AS canonical_id, y.id AS dup_id,
            round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65),
                p -> CAST(x.embedding[p] AS DOUBLE) * CAST(y.embedding[p] AS DOUBLE))),
              (a, b) -> a + b) / (x.nrm * y.nrm), 4) AS cos
          FROM n x JOIN n y ON x.bucket = y.bucket AND x.id < y.id)
        WHERE cos >= 0.4"""),
    ),

    // IVF with one Lloyd (k-means) refinement of the seed centroids: the
    // update is an integer-scaled element-wise mean (exact long sums, so
    // shuffle-order-independent and SQL-replicable), then reassignment,
    // probing, and exact top-k in the probed cells. The oracle replays the
    // identical iteration relationally.
    // product quantization: per-subspace codebooks (seeded like ivfIndex),
    // corpus encoded to m centroid ids, top-k by asymmetric distance.
    // Distances are integer-scaled squared L2, so the ADC sum is exact and
    // the oracle replays codebook build + encoding + the ADC join verbatim.
    "q_embed_pq_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        val cb = Similarity.pqCodebooks(emb, m = 8, dim = 64, ksub = 16)
        val codes = Similarity.pqEncode(emb, cb, m = 8, dim = 64)
        Similarity.pqTopK(emb.filter(col("id") < 10), codes, cb,
          m = 8, dim = 64, ksub = 16, k = 5)
      },
      Some("""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
        sv AS (SELECT id, sub, list_slice(embedding, sub*8 + 1, sub*8 + 8) AS svec
               FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) t),
        cb AS (SELECT sub, id AS cent_id, svec AS cent FROM sv WHERE id < 16),
        d AS (SELECT sv.id, sv.sub, cb.cent_id,
                CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, 9),
                    p -> (CAST(sv.svec[p] AS DOUBLE) - CAST(cb.cent[p] AS DOUBLE))
                       * (CAST(sv.svec[p] AS DOUBLE) - CAST(cb.cent[p] AS DOUBLE)))),
                  (a, b) -> a + b) * 10000.0) AS BIGINT) AS dl
              FROM sv JOIN cb USING (sub)),
        code AS (SELECT id, sub, cent_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, sub
                    ORDER BY dl, cent_id) AS rn FROM d) WHERE rn = 1),
        adc AS (SELECT q.id AS q_id, c.id, SUM(q.dl) AS adc
                FROM code c JOIN d q ON q.sub = c.sub AND q.cent_id = c.cent_id
                WHERE q.id < 10 AND q.id <> c.id
                GROUP BY 1, 2)
        SELECT q_id, id, CAST(adc AS BIGINT) AS adc, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY adc, id) AS rn FROM adc) WHERE rn <= 5"""),
    ),

    // two-stage search: the ADC shortlist (rn <= 20) re-ranked by EXACT
    // cosine over the full vectors; the oracle replays shortlist + rerank
    "q_embed_pq_rerank" -> QueryDef(
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        val cb = Similarity.pqCodebooks(emb, m = 8, dim = 64, ksub = 16)
        val codes = Similarity.pqEncode(emb, cb, m = 8, dim = 64)
        Similarity.pqRerankTopK(emb.filter(col("id") < 10), codes, cb, emb,
          m = 8, dim = 64, ksub = 16, shortlist = 20, k = 5)
      },
      Some("""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
        sv AS (SELECT id, sub, list_slice(embedding, sub*8 + 1, sub*8 + 8) AS svec
               FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) t),
        cb AS (SELECT sub, id AS cent_id, svec AS cent FROM sv WHERE id < 16),
        d AS (SELECT sv.id, sv.sub, cb.cent_id,
                CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, 9),
                    p -> (CAST(sv.svec[p] AS DOUBLE) - CAST(cb.cent[p] AS DOUBLE))
                       * (CAST(sv.svec[p] AS DOUBLE) - CAST(cb.cent[p] AS DOUBLE)))),
                  (a, b) -> a + b) * 10000.0) AS BIGINT) AS dl
              FROM sv JOIN cb USING (sub)),
        code AS (SELECT id, sub, cent_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, sub
                    ORDER BY dl, cent_id) AS rn FROM d) WHERE rn = 1),
        adc AS (SELECT q.id AS q_id, c.id, SUM(q.dl) AS adc
                FROM code c JOIN d q ON q.sub = c.sub AND q.cent_id = c.cent_id
                WHERE q.id < 10 AND q.id <> c.id
                GROUP BY 1, 2),
        short AS (SELECT q_id, id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY adc, id) AS rn FROM adc) WHERE rn <= 20),
        n AS (SELECT id, embedding,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, 65),
              p -> CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS DOUBLE))),
            (a, b) -> a + b)) AS nrm
          FROM v),
        sc AS (SELECT s.q_id, s.id,
            round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65),
                p -> CAST(q.embedding[p] AS DOUBLE) * CAST(c.embedding[p] AS DOUBLE))),
              (a, b) -> a + b) / (q.nrm * c.nrm), 4) AS cos
          FROM short s JOIN n q ON q.id = s.q_id JOIN n c ON c.id = s.id)
        SELECT q_id, id, cos, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos DESC, id ASC) AS rn FROM sc) WHERE rn <= 5"""),
    ),

    "q_embed_ivf_kmeans" -> QueryDef(
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        val cents = Similarity.kmeansCentroids(emb, nCells = 8, iters = 1)
        val index = Similarity.assignCells(emb, cents)
        Similarity.ivfTopKWith(index, cents, emb.filter(col("id") < 10),
          nProbe = 2, k = 3)
      },
      Some("""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
        n AS (SELECT id, embedding,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, len(embedding)+1),
              p -> CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS DOUBLE))),
            (a, b) -> a + b)) AS nrm
          FROM v),
        cents0 AS (SELECT id AS cent_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent_emb,
            nrm AS cent_nrm
          FROM n WHERE id < 8),
        assign0 AS (SELECT id, embedding, cell FROM (
          SELECT x.id, x.embedding, c.cent_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY x.id ORDER BY
              round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65),
                  p -> CAST(x.embedding[p] AS DOUBLE) * c.cent_emb[p])),
                (a, b) -> a + b) / (x.nrm * c.cent_nrm), 4) DESC,
              c.cent_id ASC) AS rn
          FROM n x CROSS JOIN cents0 c) WHERE rn = 1),
        sums AS (SELECT a.cell, t.p AS pos,
            round(CAST(SUM(CAST(round(CAST(a.embedding[t.p] AS DOUBLE)
                  * 1000000) AS BIGINT)) AS DOUBLE)
              / (COUNT(*) * 1000000.0), 6) AS m
          FROM assign0 a CROSS JOIN range(1, 65) t(p)
          GROUP BY 1, 2),
        cents1 AS (SELECT cell AS cent_id, list(m ORDER BY pos) AS cent_emb
          FROM sums GROUP BY 1),
        cents1n AS (SELECT cent_id, cent_emb,
            sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65), p -> cent_emb[p] * cent_emb[p])),
              (a, b) -> a + b)) AS cent_nrm
          FROM cents1),
        assign1 AS (SELECT id, cell FROM (
          SELECT x.id, c.cent_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY x.id ORDER BY
              round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65),
                  p -> CAST(x.embedding[p] AS DOUBLE) * c.cent_emb[p])),
                (a, b) -> a + b) / (x.nrm * c.cent_nrm), 4) DESC,
              c.cent_id ASC) AS rn
          FROM n x CROSS JOIN cents1n c) WHERE rn = 1),
        probes AS (SELECT q_id, cell FROM (
          SELECT q.id AS q_id, c.cent_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
              round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65),
                  p -> CAST(q.embedding[p] AS DOUBLE) * c.cent_emb[p])),
                (a, b) -> a + b) / (q.nrm * c.cent_nrm), 4) DESC,
              c.cent_id ASC) AS rn
          FROM n q CROSS JOIN cents1n c WHERE q.id < 10) WHERE rn <= 2),
        cand AS (SELECT DISTINCT p.q_id, a.id AS c_id,
            round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65),
                p2 -> CAST(qn.embedding[p2] AS DOUBLE)
                  * CAST(an.embedding[p2] AS DOUBLE))),
              (x, y) -> x + y) / (qn.nrm * an.nrm), 4) AS cos
          FROM probes p
          JOIN assign1 a ON a.cell = p.cell
          JOIN n qn ON qn.id = p.q_id
          JOIN n an ON an.id = a.id
          WHERE p.q_id <> a.id)
        SELECT q_id, c_id, cos, rn FROM (
          SELECT q_id, c_id, cos,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn
          FROM cand)
        WHERE rn <= 3"""),
    ),

    // IVF coarse quantization: assign to nearest seed centroid, probe the
    // 2 nearest cells per query, exact top-3 within the probed cells
    "q_embed_ivf_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        val index = Similarity.ivfIndex(emb, nCells = 16)
        Similarity.ivfTopK(index, emb.filter(col("id") < 10),
          nCells = 16, nProbe = 2, k = 3)
      },
      Some("""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
        n AS (SELECT id, embedding,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, len(embedding)+1),
              p -> CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS DOUBLE))),
            (a, b) -> a + b)) AS nrm
          FROM v),
        cents AS (SELECT id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm
                  FROM n WHERE id < 16),
        assign AS (SELECT id, embedding, cell FROM (
          SELECT x.id, x.embedding, c.cent_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY x.id ORDER BY
              round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65),
                  p -> CAST(x.embedding[p] AS DOUBLE) * CAST(c.cent_emb[p] AS DOUBLE))),
                (a, b) -> a + b) / (x.nrm * c.cent_nrm), 4) DESC,
              c.cent_id ASC) AS rn
          FROM n x CROSS JOIN cents c) WHERE rn = 1),
        probes AS (SELECT q_id, cell FROM (
          SELECT q.id AS q_id, c.cent_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
              round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65),
                  p -> CAST(q.embedding[p] AS DOUBLE) * CAST(c.cent_emb[p] AS DOUBLE))),
                (a, b) -> a + b) / (q.nrm * c.cent_nrm), 4) DESC,
              c.cent_id ASC) AS rn
          FROM n q CROSS JOIN cents c WHERE q.id < 10) WHERE rn <= 2),
        cand AS (SELECT DISTINCT p.q_id, a.id AS c_id,
            round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65),
                p2 -> CAST(qn.embedding[p2] AS DOUBLE) * CAST(a.embedding[p2] AS DOUBLE))),
              (x, y) -> x + y) / (qn.nrm * an.nrm), 4) AS cos
          FROM probes p
          JOIN assign a ON a.cell = p.cell
          JOIN n qn ON qn.id = p.q_id
          JOIN n an ON an.id = a.id
          WHERE p.q_id <> a.id)
        SELECT q_id, c_id, cos, rn FROM (
          SELECT q_id, c_id, cos,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn
          FROM cand)
        WHERE rn <= 3"""),
    ),

    // IVF + PQ composition: probe the 2 nearest cells, score candidates by
    // ADC over their codes — no full corpus vector is read in the search.
    // Oracle = the ivf_topk probe/assignment CTEs + the PQ code/distance
    // CTEs, joined.
    "q_embed_ivfpq_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        val index = Similarity.ivfIndex(emb, nCells = 16)
        val cents = emb.filter(col("id") < 16)
          .select(col("id").as("cent_id"), col("embedding").as("cent_emb"),
            Similarity.norm(col("embedding")).as("cent_nrm"))
        val cb = Similarity.pqCodebooks(emb, m = 8, dim = 64, ksub = 16)
        // encode from the assigned index so the codes carry their cell and
        // the composed search needs no codes-side index join
        val codes = Similarity.pqEncode(
          index.select("id", "cell", "embedding"), cb, m = 8, dim = 64)
        Similarity.ivfPqTopK(emb.filter(col("id") < 10), index, codes,
          cents, cb, m = 8, dim = 64, ksub = 16, nProbe = 2, k = 3)
      },
      Some("""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
        n AS (SELECT id, embedding,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, len(embedding)+1),
              p -> CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS DOUBLE))),
            (a, b) -> a + b)) AS nrm
          FROM v),
        cents AS (SELECT id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm
                  FROM n WHERE id < 16),
        assign AS (SELECT id, cell FROM (
          SELECT x.id, c.cent_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY x.id ORDER BY
              round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65),
                  p -> CAST(x.embedding[p] AS DOUBLE) * CAST(c.cent_emb[p] AS DOUBLE))),
                (a, b) -> a + b) / (x.nrm * c.cent_nrm), 4) DESC,
              c.cent_id ASC) AS rn
          FROM n x CROSS JOIN cents c) WHERE rn = 1),
        probes AS (SELECT q_id, cell FROM (
          SELECT q.id AS q_id, c.cent_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
              round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65),
                  p -> CAST(q.embedding[p] AS DOUBLE) * CAST(c.cent_emb[p] AS DOUBLE))),
                (a, b) -> a + b) / (q.nrm * c.cent_nrm), 4) DESC,
              c.cent_id ASC) AS rn
          FROM n q CROSS JOIN cents c WHERE q.id < 10) WHERE rn <= 2),
        sv AS (SELECT id, sub, list_slice(embedding, sub*8 + 1, sub*8 + 8) AS svec
               FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) t),
        cb AS (SELECT sub, id AS cent_id, svec AS cent FROM sv WHERE id < 16),
        d AS (SELECT sv.id, sv.sub, cb.cent_id,
                CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, 9),
                    p -> (CAST(sv.svec[p] AS DOUBLE) - CAST(cb.cent[p] AS DOUBLE))
                       * (CAST(sv.svec[p] AS DOUBLE) - CAST(cb.cent[p] AS DOUBLE)))),
                  (a, b) -> a + b) * 10000.0) AS BIGINT) AS dl
              FROM sv JOIN cb USING (sub)),
        code AS (SELECT id, sub, cent_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, sub
                    ORDER BY dl, cent_id) AS rn FROM d) WHERE rn = 1),
        cand AS (SELECT p.q_id, a.id
                 FROM probes p JOIN assign a ON a.cell = p.cell
                 WHERE p.q_id <> a.id),
        adc AS (SELECT c.q_id, c.id, SUM(q.dl) AS adc
                FROM cand c
                JOIN code k2 ON k2.id = c.id
                JOIN d q ON q.id = c.q_id AND q.sub = k2.sub
                  AND q.cent_id = k2.cent_id
                GROUP BY 1, 2)
        SELECT q_id, id, CAST(adc AS BIGINT) AS adc, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY adc, id) AS rn FROM adc) WHERE rn <= 3"""),
    ),

    // Lloyd-refined PQ codebooks (one iteration): per-subspace assignment
    // + integer-scaled element means, then encode + ADC top-k under the
    // refined codebook. Oracle replays the full iteration like
    // q_embed_ivf_kmeans does for cells.
    "q_embed_pq_kmeans" -> QueryDef(
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        val cb = Similarity.pqKmeansCodebooks(emb,
          m = 8, dim = 64, ksub = 16, iters = 1)
        val codes = Similarity.pqEncode(emb, cb, m = 8, dim = 64)
        Similarity.pqTopK(emb.filter(col("id") < 10), codes, cb,
          m = 8, dim = 64, ksub = 16, k = 5)
      },
      Some("""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
        sv AS (SELECT id, sub, list_slice(embedding, sub*8 + 1, sub*8 + 8) AS svec
               FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) t),
        cb0 AS (SELECT sub, id AS cent_id,
            list_transform(svec, x -> CAST(x AS DOUBLE)) AS cent
          FROM sv WHERE id < 16),
        d0 AS (SELECT sv.id, sv.sub, sv.svec, cb0.cent_id,
                CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, 9),
                    p -> (CAST(sv.svec[p] AS DOUBLE) - cb0.cent[p])
                       * (CAST(sv.svec[p] AS DOUBLE) - cb0.cent[p]))),
                  (a, b) -> a + b) * 10000.0) AS BIGINT) AS dl
              FROM sv JOIN cb0 USING (sub)),
        a0 AS (SELECT id, sub, svec, cent_id FROM (
                SELECT *, row_number() OVER (PARTITION BY id, sub
                  ORDER BY dl, cent_id) AS rn FROM d0) WHERE rn = 1),
        sums AS (SELECT sub, cent_id, t.p AS pos,
            round(CAST(SUM(CAST(round(CAST(a.svec[t.p] AS DOUBLE)
                  * 1000000) AS BIGINT)) AS DOUBLE)
              / (COUNT(*) * 1000000.0), 6) AS m
          FROM a0 a CROSS JOIN range(1, 9) t(p)
          GROUP BY 1, 2, 3),
        cb1 AS (SELECT sub, cent_id, list(m ORDER BY pos) AS cent
          FROM sums GROUP BY 1, 2),
        d1 AS (SELECT sv.id, sv.sub, cb1.cent_id,
                CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, 9),
                    p -> (CAST(sv.svec[p] AS DOUBLE) - cb1.cent[p])
                       * (CAST(sv.svec[p] AS DOUBLE) - cb1.cent[p]))),
                  (a, b) -> a + b) * 10000.0) AS BIGINT) AS dl
              FROM sv JOIN cb1 USING (sub)),
        code AS (SELECT id, sub, cent_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, sub
                    ORDER BY dl, cent_id) AS rn FROM d1) WHERE rn = 1),
        adc AS (SELECT q.id AS q_id, c.id, SUM(q.dl) AS adc
                FROM code c JOIN d1 q ON q.sub = c.sub AND q.cent_id = c.cent_id
                WHERE q.id < 10 AND q.id <> c.id
                GROUP BY 1, 2)
        SELECT q_id, id, CAST(adc AS BIGINT) AS adc, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY adc, id) AS rn FROM adc) WHERE rn <= 5"""),
    ),

    // OPQ rotation: the signed Walsh-Hadamard orthogonal rotation
    // (Similarity.rotateDims) before PQ mixes every input dim into every
    // output dim, evening per-subspace variance; build + search run in
    // the rotated space. The oracle replays the EXACT rotation — the sign
    // diagonal is inlined as a literal, the Hadamard sign is
    // (-1)^popcount(i&j), and the in-order fold + exact /8 match the
    // compiled kernel bit-for-bit.
    "q_embed_pq_opq" -> QueryDef(
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"),
            Similarity.rotateDims(col("embedding"), dim = 64)
              .as("embedding"))
        val cb = Similarity.pqCodebooks(emb, m = 8, dim = 64, ksub = 16)
        val codes = Similarity.pqEncode(emb, cb, m = 8, dim = 64)
        Similarity.pqTopK(emb.filter(col("id") < 10), codes, cb,
          m = 8, dim = 64, ksub = 16, k = 5)
      },
      Some(s"""WITH v0 AS (SELECT vec_id AS id, embedding FROM embeddings),
        sgn AS (SELECT $OPQ_SIGNS AS s),
        v AS (SELECT id, list_transform(range(0, 64), i ->
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(0, 64), j ->
                CAST(embedding[j + 1] AS DOUBLE) *
                (s[j + 1] * CASE WHEN bit_count(i & j) % 2 = 0
                            THEN 1.0 ELSE -1.0 END))),
              (a, b) -> a + b) / 8.0) AS embedding
          FROM v0 CROSS JOIN sgn),
        sv AS (SELECT id, sub, list_slice(embedding, sub*8 + 1, sub*8 + 8) AS svec
               FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) t),
        cb AS (SELECT sub, id AS cent_id, svec AS cent FROM sv WHERE id < 16),
        d AS (SELECT sv.id, sv.sub, cb.cent_id,
                CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, 9),
                    p -> (CAST(sv.svec[p] AS DOUBLE) - CAST(cb.cent[p] AS DOUBLE))
                       * (CAST(sv.svec[p] AS DOUBLE) - CAST(cb.cent[p] AS DOUBLE)))),
                  (a, b) -> a + b) * 10000.0) AS BIGINT) AS dl
              FROM sv JOIN cb USING (sub)),
        code AS (SELECT id, sub, cent_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, sub
                    ORDER BY dl, cent_id) AS rn FROM d) WHERE rn = 1),
        adc AS (SELECT q.id AS q_id, c.id, SUM(q.dl) AS adc
                FROM code c JOIN d q ON q.sub = c.sub AND q.cent_id = c.cent_id
                WHERE q.id < 10 AND q.id <> c.id
                GROUP BY 1, 2)
        SELECT q_id, id, CAST(adc AS BIGINT) AS adc, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY adc, id) AS rn FROM adc) WHERE rn <= 5"""),
    ),

    // IVF + RESIDUAL PQ: codes quantize (vector - cell centroid), seeded
    // from ids [16, 32) — ids < 16 ARE the centroids, so their residuals
    // are all-zero and would degenerate the codebook. ADC runs between the
    // query's per-cell residual and the residual codebook.
    "q_embed_pq_residual" -> QueryDef(
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        val index = Similarity.ivfIndex(emb, nCells = 16)
        val cents = emb.filter(col("id") < 16)
          .select(col("id").as("cent_id"), col("embedding").as("cent_emb"),
            Similarity.norm(col("embedding")).as("cent_nrm"))
        val cb = Similarity.pqResidualCodebooks(index, cents,
          nCells = 16, m = 8, dim = 64, ksub = 16)
        val codes = Similarity.pqEncodeResidual(index, cents, cb,
          m = 8, dim = 64)
        Similarity.ivfPqResidualTopK(emb.filter(col("id") < 10), codes,
          cents, cb, m = 8, dim = 64, ksub = 16, nProbe = 2, k = 3)
      },
      Some("""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
        n AS (SELECT id, embedding,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, len(embedding)+1),
              p -> CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS DOUBLE))),
            (a, b) -> a + b)) AS nrm
          FROM v),
        cents AS (SELECT id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm
                  FROM n WHERE id < 16),
        assign AS (SELECT id, cell FROM (
          SELECT x.id, c.cent_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY x.id ORDER BY
              round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65),
                  p -> CAST(x.embedding[p] AS DOUBLE) * CAST(c.cent_emb[p] AS DOUBLE))),
                (a, b) -> a + b) / (x.nrm * c.cent_nrm), 4) DESC,
              c.cent_id ASC) AS rn
          FROM n x CROSS JOIN cents c) WHERE rn = 1),
        rv AS (SELECT a.id, a.cell,
            list_transform(range(1, 65),
              p -> CAST(vv.embedding[p] AS DOUBLE) - CAST(c.cent_emb[p] AS DOUBLE))
              AS emb
          FROM assign a JOIN v vv ON vv.id = a.id
          JOIN cents c ON c.cent_id = a.cell),
        svr AS (SELECT id, cell, sub, list_slice(emb, sub*8 + 1, sub*8 + 8) AS svec
               FROM rv CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) t),
        cbr AS (SELECT sub, id AS cent_id, svec AS cent
                FROM svr WHERE id >= 16 AND id < 32),
        dr AS (SELECT svr.id, svr.sub, cbr.cent_id,
                CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, 9),
                    p -> (svr.svec[p] - cbr.cent[p]) * (svr.svec[p] - cbr.cent[p]))),
                  (a, b) -> a + b) * 10000.0) AS BIGINT) AS dl
              FROM svr JOIN cbr USING (sub)),
        coder AS (SELECT id, sub, cent_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, sub
                    ORDER BY dl, cent_id) AS rn FROM dr) WHERE rn = 1),
        probes AS (SELECT q_id, cell FROM (
          SELECT q.id AS q_id, c.cent_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
              round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65),
                  p -> CAST(q.embedding[p] AS DOUBLE) * CAST(c.cent_emb[p] AS DOUBLE))),
                (a, b) -> a + b) / (q.nrm * c.cent_nrm), 4) DESC,
              c.cent_id ASC) AS rn
          FROM n q CROSS JOIN cents c WHERE q.id < 10) WHERE rn <= 2),
        qrv AS (SELECT p.q_id, p.cell,
            list_transform(range(1, 65),
              i -> CAST(qv.embedding[i] AS DOUBLE) - CAST(c.cent_emb[i] AS DOUBLE))
              AS emb
          FROM probes p JOIN v qv ON qv.id = p.q_id
          JOIN cents c ON c.cent_id = p.cell),
        qsv AS (SELECT q_id, cell, sub, list_slice(emb, sub*8 + 1, sub*8 + 8) AS svec
               FROM qrv CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) t),
        qd AS (SELECT q.q_id, q.cell, q.sub, cb2.cent_id,
                CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, 9),
                    p -> (q.svec[p] - cb2.cent[p]) * (q.svec[p] - cb2.cent[p]))),
                  (a, b) -> a + b) * 10000.0) AS BIGINT) AS dl
              FROM qsv q JOIN cbr cb2 USING (sub)),
        cand AS (SELECT p.q_id, a.id, a.cell
                 FROM probes p JOIN assign a ON a.cell = p.cell
                 WHERE p.q_id <> a.id),
        adc AS (SELECT c.q_id, c.id, SUM(qd.dl) AS adc
                FROM cand c
                JOIN coder k2 ON k2.id = c.id
                JOIN qd ON qd.q_id = c.q_id AND qd.cell = c.cell
                  AND qd.sub = k2.sub AND qd.cent_id = k2.cent_id
                GROUP BY 1, 2)
        SELECT q_id, id, CAST(adc AS BIGINT) AS adc, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY adc, id) AS rn FROM adc) WHERE rn <= 3"""),
    ),

    "q_embed_lsh_pairs" -> QueryDef(
      (s, dir) => Similarity.lshPairs(
        Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding")),
        planes = 8, dim = 64, minCos = 0.3),
      Some("""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
        planes AS (SELECT p FROM range(0, 8) t(p)),
        dots AS (SELECT v.id, pl.p,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, 65),
              d -> CAST(embedding[d] AS DOUBLE) *
                   (CASE WHEN (pl.p * 7919 + d * 104729) % 3 = 0
                         THEN -1.0 ELSE 1.0 END))),
            (a, b) -> a + b) AS dp
          FROM v CROSS JOIN planes pl),
        buckets AS (SELECT id,
          CAST(SUM(CASE WHEN dp > 0
            THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER)) ELSE 0 END) AS BIGINT)
            AS bucket
          FROM dots GROUP BY 1),
        n AS (SELECT v.id, v.embedding, b.bucket,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, 65),
              p -> CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS DOUBLE))),
            (a, b) -> a + b)) AS nrm
          FROM v JOIN buckets b ON v.id = b.id)
        SELECT a_id, b_id, cos FROM (
          SELECT x.id AS a_id, y.id AS b_id,
            round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65),
                p -> CAST(x.embedding[p] AS DOUBLE) * CAST(y.embedding[p] AS DOUBLE))),
              (a, b) -> a + b) / (x.nrm * y.nrm), 4) AS cos
          FROM n x JOIN n y ON x.bucket = y.bucket AND x.id < y.id)
        WHERE cos >= 0.3"""),
    ),

    // --- corpus curation -------------------------------------------------
    // benchmark decontamination: eval set = every 7th doc; the bench
    // shingle-hash set broadcasts, corpus shingles probe it map-side
    "q_decontaminate" -> QueryDef(
      (s, dir) => Curate.ngramOverlap(
        docs(s, dir).select("doc_id", "text"),
        docs(s, dir).filter(col("doc_id") % 7 === 0).select("doc_id", "text"),
        "doc_id", "text", n = 3),
      Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents),
        $DUCK_SHINGLES,
        b AS (SELECT DISTINCT sh_hash FROM shh WHERE doc_id % 7 = 0)
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_shingles,
          CAST(count(*) FILTER (WHERE sh_hash IN (SELECT sh_hash FROM b))
            AS BIGINT) AS n_hits,
          CAST(count(*) FILTER (WHERE sh_hash IN (SELECT sh_hash FROM b))
              AS DOUBLE) / CAST(count(*) AS DOUBLE) AS overlap_frac
        FROM shh GROUP BY doc_id"""),
    ),

    // Bloom-filter decontamination: the constant-memory variant — eval
    // shingles fold into 4096 bloom positions under 3 affine hashes; a
    // shingle is flagged iff all 3 positions are set. One-sided error:
    // n_flagged >= n_exact per doc, both surfaced
    "q_decontaminate_bloom" -> QueryDef(
      (s, dir) => Curate.bloomContaminated(
        docs(s, dir).select("doc_id", "text"),
        docs(s, dir).filter(col("doc_id") % 7 === 0).select("doc_id", "text"),
        "doc_id", "text", n = 3, bits = 4096, nHash = 3),
      Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents),
        $DUCK_SHINGLES,
        js AS (SELECT unnest(range(0, 3)) AS j),
        bset AS (SELECT DISTINCT sh_hash FROM shh WHERE doc_id % 7 = 0),
        bloom AS (SELECT DISTINCT
            ((sh_hash * (131 * j + 7) + (97 * j + 3)) % 1000000007) % 4096 AS bp
          FROM bset CROSS JOIN js),
        probes AS (SELECT s.doc_id, s.sh_hash, j.j,
            ((s.sh_hash * (131 * j.j + 7) + (97 * j.j + 3)) % 1000000007) % 4096
              AS bp
          FROM shh s CROSS JOIN js j),
        hits AS (SELECT doc_id, sh_hash FROM probes
                 WHERE bp IN (SELECT bp FROM bloom)
                 GROUP BY doc_id, sh_hash HAVING count(DISTINCT j) = 3),
        flag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
                 FROM hits GROUP BY 1),
        ex AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_exact FROM shh
               WHERE sh_hash IN (SELECT sh_hash FROM bset) GROUP BY 1),
        tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
                FROM shh GROUP BY 1)
        SELECT t.doc_id, t.n_shingles,
          COALESCE(f.n_flagged, 0) AS n_flagged,
          COALESCE(e.n_exact, 0) AS n_exact
        FROM tot t LEFT JOIN flag f ON t.doc_id = f.doc_id
        LEFT JOIN ex e ON t.doc_id = e.doc_id"""),
    ),

    // sliding-window chunking (48-token windows every 32 tokens, 16-token
    // overlap) — the embedding/retrieval pipeline shape, map-side only
    // content-defined chunking (Curate.cdcChunks): boundaries where the
    // mixed rolling hash of the 3-token context is 0 mod 16 — the
    // edit-stable chunking dedup pipelines cut on; the oracle replays the
    // hash + mixer chain per position and reassembles chunks with an
    // ORDER BY string_agg
    "q_chunk_cdc" -> QueryDef(
      (s, dir) => Curate.cdcChunks(docs(s, dir).select("doc_id", "text"),
        "doc_id", "text", mask = 16L),
      Some(s"""WITH tk AS (SELECT doc_id,
            string_split_regex(trim(text), '\\s+') AS toks FROM documents),
        ps AS (SELECT doc_id, toks, unnest(range(0, len(toks))) AS p
          FROM tk),
        tt AS (SELECT doc_id, p, toks[p + 1] AS tok,
            CASE WHEN p >= 2 THEN toks[p - 1] || ' ' || toks[p] || ' ' ||
              toks[p + 1] END AS tri
          FROM ps),
        h0 AS (SELECT doc_id, p, tok, ${duckHash("tri")} AS h FROM tt),
        x1 AS (SELECT doc_id, p, tok, xor(h, h >> 16) AS z1 FROM h0),
        x2 AS (SELECT doc_id, p, tok, (z1 * 73244475) % 4294967296 AS z2
          FROM x1),
        x3 AS (SELECT doc_id, p, tok, xor(z2, z2 >> 16) AS z3 FROM x2),
        x4 AS (SELECT doc_id, p, tok, (z3 * 73244475) % 4294967296 AS z4
          FROM x3),
        mm AS (SELECT doc_id, p, tok, xor(z4, z4 >> 16) AS mh FROM x4),
        bf AS (SELECT doc_id, p, tok,
            CASE WHEN p >= 2 AND mh % 16 = 0 THEN 1 ELSE 0 END AS b
          FROM mm),
        cx AS (SELECT doc_id, p, tok,
            coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
          FROM bf),
        ch AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
            CAST(count(*) AS BIGINT) AS n_tokens,
            string_agg(tok, ' ' ORDER BY p) AS chunk_text
          FROM cx GROUP BY 1, 2)
        SELECT doc_id, chunk_idx, n_tokens, chunk_text,
          ${duckHash("chunk_text")} AS chunk_hash FROM ch"""),
    ),

    "q_chunk_sliding" -> QueryDef(
      (s, dir) => Curate.chunkSliding(docs(s, dir).select("doc_id", "text"),
        "doc_id", "text", window = 48, stride = 32),
      Some("""WITH t AS (SELECT doc_id,
            string_split_regex(trim(text), '\s+') AS toks FROM documents),
        d AS (SELECT doc_id, toks, len(toks) AS n,
            1 + (greatest(len(toks) - 48, 0) + 31) // 32 AS k FROM t),
        c AS (SELECT doc_id, toks, n, unnest(range(0, k)) AS i FROM d)
        SELECT doc_id,
          CAST(i + 1 AS BIGINT) AS chunk_id,
          CAST(i * 32 + 1 AS BIGINT) AS tok_start,
          CAST(least(48, n - i * 32) AS BIGINT) AS chunk_len,
          array_to_string(list_slice(toks, i * 32 + 1, i * 32 + 48), ' ')
            AS chunk_text
        FROM c"""),
    ),

    // DSIR importance resampling (Xie et al. 2023): hashed-unigram
    // log-likelihood ratio of target (every 7th doc) vs raw corpus,
    // micro-quantized weights -> integer doc scores, top-100 selected
    "q_dsir_select" -> QueryDef(
      (s, dir) => Curate.dsirSelect(
        docs(s, dir).select("doc_id", "text"),
        docs(s, dir).filter(col("doc_id") % 7 === 0).select("doc_id", "text"),
        "doc_id", "text", buckets = 8192, topK = 100),
      Some(s"""WITH tok AS (SELECT doc_id,
            unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents),
        fx AS (SELECT doc_id, ${duckHash("tok")} % 8192 AS f FROM tok),
        rc AS (SELECT f, count(*) AS rc FROM fx GROUP BY 1),
        tc AS (SELECT f, count(*) AS tc FROM fx WHERE doc_id % 7 = 0
               GROUP BY 1),
        nr AS (SELECT count(*) AS nr FROM fx),
        nt AS (SELECT count(*) AS nt FROM fx WHERE doc_id % 7 = 0),
        w AS (SELECT rc.f,
            CAST(round((ln((COALESCE(tc.tc, 0) + 1.0) / (nt.nt + 8192.0)) -
                        ln((rc.rc + 1.0) / (nr.nr + 8192.0))) * 1000000.0, 0)
              AS BIGINT) AS w_micro
          FROM rc LEFT JOIN tc ON rc.f = tc.f CROSS JOIN nr CROSS JOIN nt),
        dc AS (SELECT doc_id, f, count(*) AS cnt FROM fx GROUP BY 1, 2),
        sc AS (SELECT doc_id,
            CAST(SUM(cnt * w_micro) AS BIGINT) AS score_micro,
            CAST(SUM(cnt) AS BIGINT) AS n_tokens
          FROM dc JOIN w ON dc.f = w.f GROUP BY 1),
        top AS (SELECT doc_id FROM sc ORDER BY score_micro DESC, doc_id
                LIMIT 100)
        SELECT sc.doc_id, sc.n_tokens, sc.score_micro,
          sc.doc_id IN (SELECT doc_id FROM top) AS selected
        FROM sc"""),
    ),

    // PII redaction over a corpus with planted identifiers (the raw
    // documents are clean synthetic tokens, so the gate plants them
    // deterministically on both sides)
    "q_pii_scrub" -> QueryDef(
      (s, dir) => Curate.piiScrub(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"),
              lit(" contact u"), (col("doc_id") % 10).cast("string"),
              lit("@ex-mail.org call 555-123-456"),
              (col("doc_id") % 10).cast("string"),
              lit(" from 10.0.0."), (col("doc_id") % 10).cast("string")))
            .otherwise(col("text")).as("text")), "text")
        .select("doc_id", "n_email", "n_phone", "n_ip", "clean"),
      Some("""WITH c AS (SELECT doc_id,
          CASE WHEN doc_id % 4 = 0 THEN
            text || ' contact u' || CAST(doc_id % 10 AS VARCHAR)
              || '@ex-mail.org call 555-123-456'
              || CAST(doc_id % 10 AS VARCHAR)
              || ' from 10.0.0.' || CAST(doc_id % 10 AS VARCHAR)
          ELSE text END AS text FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
            AS n_email,
          CAST(len(regexp_extract_all(text,
            '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS BIGINT) AS n_phone,
          CAST(len(regexp_extract_all(text,
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT)
            AS n_ip,
          regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g'),
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g')
            AS clean
        FROM c"""),
    ),

    // Gopher-style repetition signals over a corpus with planted repeated
    // lines and a trailing ellipsis line on every 3rd doc
    "q_text_repetition" -> QueryDef(
      (s, dir) => Curate.repetitionStats(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit("\n"), col("text"),
              lit("\nto be continued...")))
            .otherwise(col("text")).as("text")),
        "doc_id", "text"),
      Some("""WITH c AS (SELECT doc_id,
          CASE WHEN doc_id % 3 = 0
            THEN text || chr(10) || text || chr(10) || 'to be continued...'
            ELSE text END AS text FROM documents),
        lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
                  FROM c),
        lg AS (SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY 1, 2),
        la AS (SELECT doc_id, SUM(cnt) AS n_lines,
                 SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS n_dup,
                 SUM(CASE WHEN line LIKE '%...' THEN cnt ELSE 0 END) AS n_ell
               FROM lg GROUP BY 1),
        bg0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                FROM c),
        bg1 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                  i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bg
                FROM bg0),
        bgg AS (SELECT doc_id, bg, count(*) AS cnt FROM bg1 GROUP BY 1, 2),
        ba AS (SELECT doc_id, SUM(cnt) AS n_bigrams, MAX(cnt) AS top_bigram
               FROM bgg GROUP BY 1)
        SELECT la.doc_id, CAST(la.n_lines AS BIGINT) AS n_lines,
          CAST(la.n_dup AS DOUBLE)/CAST(la.n_lines AS DOUBLE) AS dup_line_frac,
          CAST(la.n_ell AS DOUBLE)/CAST(la.n_lines AS DOUBLE)
            AS ellipsis_line_frac,
          CAST(ba.top_bigram AS DOUBLE)/CAST(ba.n_bigrams AS DOUBLE)
            AS top_bigram_frac
        FROM la LEFT JOIN ba ON la.doc_id = ba.doc_id"""),
    ),

    // deterministic mixture sampling: per-language keep rates, membership
    // a pure function of the content hash (no RNG state; append-stable)
    "q_sample_mixture" -> QueryDef(
      (s, dir) => Curate.mixtureSample(
        docs(s, dir).select("doc_id", "lang"), "lang", "doc_id",
        Map("en" -> 1.0, "de" -> 0.5, "es" -> 0.25, "fr" -> 0.1,
          "zh" -> 0.05)),
      Some(s"""SELECT doc_id, lang FROM documents
        WHERE ${duckHash("CAST(doc_id AS VARCHAR)")} % 10000 <
          CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000
                    WHEN 'es' THEN 2500 WHEN 'fr' THEN 1000
                    WHEN 'zh' THEN 500 ELSE 0 END"""),
    ),

    // quality-filter funnel: every doc tagged with the FIRST stage that
    // rejects it; the report is the per-stage drop audit (no silent drops)
    "q_quality_funnel" -> QueryDef(
      (s, dir) => Curate.funnelReport(Curate.filterFunnel(
        TextAnalysis.qualityStats(docs(s, dir).select("doc_id", "text"),
            "text", TextAnalysis.langProfiles.head._2)
          .withColumn("lang_pred", TextAnalysis.langId(col("text"))),
        Seq(
          Curate.FilterStage("short", col("n_tokens") >= 60),
          Curate.FilterStage("lang", col("lang_pred") === "en"),
          Curate.FilterStage("ttr", col("ttr") >= 0.5)))),
      Some("""WITH t AS (SELECT doc_id,
          string_split_regex(trim(text), '\s+') AS toks,
          string_split_regex(trim(lower(text)), '\s+') AS toks_l
          FROM documents),
        s AS (SELECT doc_id, len(toks) AS n_tokens,
          CAST(len(list_distinct(toks)) AS DOUBLE)/CAST(len(toks) AS DOUBLE)
            AS ttr,
          len(list_filter(toks_l, x -> x IN ('the','a','of','and','is')))
            AS c_en,
          len(list_filter(toks_l, x -> x IN ('der','die','das','und','ist')))
            AS c_de,
          len(list_filter(toks_l, x -> x IN ('el','los','que','y','es')))
            AS c_es,
          len(list_filter(toks_l, x -> x IN ('le','les','et','est','une')))
            AS c_fr
          FROM t),
        v AS (SELECT doc_id,
          CASE WHEN NOT (n_tokens >= 60) THEN 'short'
               WHEN NOT (CASE
                   WHEN greatest(c_en, c_de, c_es, c_fr) = 0 THEN 'und'
                   WHEN c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
                   WHEN c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
                   WHEN c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
                   ELSE 'fr' END = 'en') THEN 'lang'
               WHEN NOT (ttr >= 0.5) THEN 'ttr'
               ELSE 'kept' END AS verdict
          FROM s)
        SELECT verdict, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1"""),
    ),

    // sequence packing: contiguous fill of 512-token training sequences,
    // packed per id-hash shard (the parallel form; no global stream order)
    "q_pack_sequences" -> QueryDef(
      (s, dir) => Curate.packSequences(
        docs(s, dir).select(col("doc_id"),
          TextAnalysis.approxBpeTokens(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 512L, shards = 8),
      Some(s"""WITH t AS (SELECT doc_id,
          CAST(ceil(CAST(length(text) AS DOUBLE)/4.0) AS BIGINT) AS n_tokens,
          ${duckHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard
        FROM documents)
        SELECT doc_id, n_tokens, shard,
          CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS tok_offset,
          CAST(shard * 1099511627776 +
            COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
            AS BIGINT) AS seq_id
        FROM t"""),
    ),

    // span-splitting packing view: docs crossing a 512-token sequence
    // boundary split into one span per sequence
    "q_pack_spans" -> QueryDef(
      (s, dir) => Curate.packSpans(
        Curate.packSequences(
          docs(s, dir).select(col("doc_id"),
            TextAnalysis.approxBpeTokens(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", budget = 512L, shards = 8),
        budget = 512L),
      Some(s"""WITH t AS (SELECT doc_id,
          CAST(ceil(CAST(length(text) AS DOUBLE)/4.0) AS BIGINT) AS n_tokens,
          ${duckHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard
        FROM documents),
        w AS (SELECT doc_id, n_tokens, shard,
          CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS tok_offset
          FROM t),
        s AS (SELECT *, tok_offset // 512 AS first_seq,
                (tok_offset + n_tokens - 1) // 512 AS last_seq
              FROM w WHERE n_tokens > 0),
        e AS (SELECT doc_id, shard, tok_offset, n_tokens,
                unnest(generate_series(first_seq, last_seq)) AS sq
              FROM s)
        SELECT shard, CAST(shard * 1099511627776 + sq AS BIGINT) AS seq_id, doc_id,
          CAST(greatest(tok_offset, sq * 512) - tok_offset AS BIGINT)
            AS doc_tok_start,
          CAST(least(tok_offset + n_tokens, (sq + 1) * 512)
            - greatest(tok_offset, sq * 512) AS BIGINT) AS span_len
        FROM e"""),
    ),

    // deterministic train/val/test assignment by hash bucket
    // bigram-LM fluency scoring (the CCNet-style quality signal): train
    // add-one-smoothed bigram counts on the corpus, score every doc by its
    // mean bigram log-likelihood. Logprobs are quantized to integer
    // micro-nats map-side so the aggregated sum is shuffle-order-proof and
    // engine-exact; the oracle replays the same quantization.
    "q_text_lm_score" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val (bi, ctx) = TextAnalysis.lmTrain(d, "doc_id", "text")
        TextAnalysis.lmScore(d, "doc_id", "text", bi, ctx, vocab = 65536L)
      },
      Some("""WITH tk AS (SELECT doc_id,
          string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        b AS (SELECT doc_id,
            unnest(list_transform(range(1, len(toks)),
              i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
          FROM tk WHERE len(toks) >= 2),
        bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM b),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        sc AS (SELECT bg.doc_id, CAST(round(ln(
              (CAST(c2.c2 AS DOUBLE) + 1.0) /
              (CAST(c1.c1 AS DOUBLE) + 65536.0)) * 1000000.0) AS BIGINT)
            AS lp
          FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(lp) AS BIGINT) AS lp_sum_micro,
          round(CAST(sum(lp) AS DOUBLE) / 1e6 / count(*), 4) AS lm_score
        FROM sc GROUP BY 1"""),
    ),

    // reliability-diagram calibration: 'en' one-vs-rest scores cut into
    // 10 equal-population bins by (score, doc_id) rank — rangedCumsum
    // rank, integer bin math, per-bin positives — the threshold-picking
    // companion to q_text_nb_auc
    "q_text_nb_calibration" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val (tc, cs) =
          TextAnalysis.nbTrain(d.select("text", "lang"), "text", "lang")
        val scored = TextAnalysis.nbClassScores(
            d.select("doc_id", "text"), "doc_id", "text", tc, cs,
            vocab = 65536L)
          .where(col("label") === "en")
          .join(d.select("doc_id", "lang"), "doc_id")
          .select(col("doc_id"), col("score_micro"),
            (col("lang") === "en").as("y"))
        TextAnalysis.calibrationBins(
          scored, "doc_id", "score_micro", "y", bins = 10)
      },
      Some(s"""WITH $DUCK_NB,
        sc2 AS (SELECT ag.doc_id, ag.score_micro AS s,
            CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
          FROM ag JOIN documents d USING (doc_id) WHERE ag.label = 'en'),
        t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM sc2),
        r AS (SELECT doc_id, s, y, CAST(row_number() OVER (
            ORDER BY s ASC, doc_id ASC) AS BIGINT) AS rk FROM sc2),
        b AS (SELECT CAST(floor((rk - 1) * 10 / total) AS BIGINT) AS bin,
            s, y FROM r, t)
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(y) AS BIGINT) AS n_pos,
          CAST(sum(s) AS BIGINT) AS sum_score_micro,
          CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate
        FROM b GROUP BY 1"""),
    ),

    // CCNet perplexity bucketing: docs ranked by bigram-LM average
    // log-prob (micro-nat sum / bigram count, one IEEE division both
    // engines replay) and cut 30/40/30 into head/middle/tail with
    // integer-exact thresholds
    "q_text_ppl_buckets" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val (bi, ctx) = TextAnalysis.lmTrain(d, "doc_id", "text")
        val scored = TextAnalysis
          .lmScore(d, "doc_id", "text", bi, ctx, vocab = 65536L)
          .withColumn("avg_micro",
            col("lp_sum_micro") / col("n_bigrams"))
        Curate.perplexityBuckets(
            scored.select("doc_id", "avg_micro"), "doc_id", "avg_micro",
            headPct = 30, midPct = 40)
          .select(col("doc_id"), col("ppl_rank"), col("bucket"))
      },
      Some("""WITH tk AS (SELECT doc_id,
          string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        b AS (SELECT doc_id,
            unnest(list_transform(range(1, len(toks)),
              i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
          FROM tk WHERE len(toks) >= 2),
        bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM b),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        sc AS (SELECT bg.doc_id, CAST(round(ln(
              (CAST(c2.c2 AS DOUBLE) + 1.0) /
              (CAST(c1.c1 AS DOUBLE) + 65536.0)) * 1000000.0) AS BIGINT)
            AS lp
          FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
        d AS (SELECT doc_id, CAST(sum(lp) AS BIGINT) AS lp_sum,
            CAST(count(*) AS BIGINT) AS n FROM sc GROUP BY 1),
        a AS (SELECT doc_id, lp_sum / n AS avg_micro FROM d),
        r AS (SELECT doc_id, CAST(row_number() OVER (
            ORDER BY avg_micro DESC, doc_id ASC) AS BIGINT) AS ppl_rank
          FROM a),
        t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM a)
        SELECT doc_id, ppl_rank,
          CASE WHEN ppl_rank * 100 <= total * 30 THEN 'head'
               WHEN ppl_rank * 100 <= total * 70 THEN 'middle'
               ELSE 'tail' END AS bucket
        FROM r, t"""),
    ),

    // best-fit-decreasing packing: docs placed whole, largest first, into
    // the open bin with least room that fits. Two planted size classes
    // (30/60 tokens, budget 100) make the BFD outcome closed-form: each 60
    // seeds a bin in doc-id order, the first n60 30s top one up apiece
    // (offset 60), the overflow 30s triple up in fresh bins — so the exact
    // per-doc (seq_id, bin_offset) is SQL-expressible and the oracle pins
    // the whole placement, not just aggregate fill stats.
    "q_pack_bestfit" -> QueryDef(
      (s, dir) => Curate.packBestFit(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 10 < 7, lit(30L)).otherwise(lit(60L))
            .as("n_tokens")),
        "doc_id", "n_tokens", budget = 100L, shards = 4,
        maxOpenBins = 1 << 20),
      Some(s"""WITH t AS (SELECT doc_id,
          CAST(CASE WHEN doc_id % 10 < 7 THEN 30 ELSE 60 END AS BIGINT)
            AS n_tokens,
          ${duckHash("CAST(doc_id AS VARCHAR)")} % 4 AS shard
        FROM documents),
        r AS (SELECT *, CAST(row_number() OVER (
            PARTITION BY shard, n_tokens ORDER BY doc_id) - 1 AS BIGINT)
            AS rk FROM t),
        a AS (SELECT shard, CAST(count(*) FILTER (n_tokens = 60) AS BIGINT)
            AS n60 FROM t GROUP BY shard)
        SELECT r.doc_id, r.n_tokens, r.shard,
          CAST(r.shard * 1099511627776 +
            CASE WHEN r.n_tokens = 60 THEN r.rk
                 WHEN r.rk < a.n60 THEN r.rk
                 ELSE a.n60 + (r.rk - a.n60) // 3 END AS BIGINT) AS seq_id,
          CAST(CASE WHEN r.n_tokens = 60 THEN 0
                 WHEN r.rk < a.n60 THEN 60
                 ELSE ((r.rk - a.n60) % 3) * 30 END AS BIGINT) AS bin_offset
        FROM r JOIN a USING (shard)"""),
    ),

    "q_hash_split" -> QueryDef(
      (s, dir) => Curate.hashSplit(docs(s, dir).select("doc_id"), "doc_id"),
      Some(s"""SELECT doc_id,
        CASE WHEN ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 < 90
               THEN 'train'
             WHEN ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 < 95
               THEN 'val'
             ELSE 'test' END AS split FROM documents"""),
    ),

    // deterministic seeded training-order shuffle: position is a pure
    // function of (seed, doc_id) — the oracle replays the hash + mix32
    // finalizer (the DUCK_TOKMIX chain over the seeded key) and the
    // (key, id) total order
    "q_shuffle_seeded" -> QueryDef(
      (s, dir) => Curate.seededShuffle(
        docs(s, dir).select("doc_id"), "doc_id", seed = "epoch1"),
      Some(s"""WITH h0 AS (SELECT doc_id,
          ${duckHash("'epoch1-' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents),
        m1 AS (SELECT doc_id, xor(h, h >> 16) AS z1 FROM h0),
        m2 AS (SELECT doc_id, (z1 * 73244475) % 4294967296 AS z2 FROM m1),
        m3 AS (SELECT doc_id, xor(z2, z2 >> 16) AS z3 FROM m2),
        m4 AS (SELECT doc_id, (z3 * 73244475) % 4294967296 AS z4 FROM m3),
        k AS (SELECT doc_id, xor(z4, z4 >> 16) AS shuffle_key FROM m4)
        SELECT doc_id, shuffle_key,
          CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
            AS pos
        FROM k"""),
    ),

    // exact stratified sampling: 20 docs per language, membership a pure
    // function of (seed, lang, doc_id); the engine runs the two-phase
    // salted top-n (bounded tasks under a hot stratum), the oracle the
    // equivalent single window over the same mix32 rank key
    "q_sample_stratified" -> QueryDef(
      (s, dir) => Curate.stratifiedSample(
        docs(s, dir).select("doc_id", "lang"), "lang", "doc_id",
        n = 20, seed = "s8"),
      Some(s"""WITH h0 AS (SELECT doc_id, lang,
          ${duckHash("'s8-' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents),
        m1 AS (SELECT doc_id, lang, xor(h, h >> 16) AS z1 FROM h0),
        m2 AS (SELECT doc_id, lang, (z1 * 73244475) % 4294967296 AS z2 FROM m1),
        m3 AS (SELECT doc_id, lang, xor(z2, z2 >> 16) AS z3 FROM m2),
        m4 AS (SELECT doc_id, lang, (z3 * 73244475) % 4294967296 AS z4 FROM m3),
        k AS (SELECT doc_id, lang, xor(z4, z4 >> 16) AS sample_key FROM m4),
        r AS (SELECT doc_id, lang, sample_key,
            row_number() OVER (PARTITION BY lang
              ORDER BY sample_key ASC, doc_id ASC) AS rn
          FROM k)
        SELECT doc_id, lang, sample_key FROM r WHERE rn <= 20"""),
    ),

    // weighted sampling without replacement (exponential keys over the
    // seeded hash): 100 docs with inclusion odds ∝ n_chars; the oracle
    // replays the mix32 chain, the micro-quantized log, and the top-k
    "q_sample_weighted" -> QueryDef(
      (s, dir) => Curate.weightedSample(
        docs(s, dir).select("doc_id", "n_chars"), "doc_id", "n_chars",
        k = 100, seed = "wsamp"),
      Some(s"""WITH h0 AS (SELECT doc_id, n_chars,
          ${duckHash("'wsamp-' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents),
        m1 AS (SELECT doc_id, n_chars, xor(h, h >> 16) AS z1 FROM h0),
        m2 AS (SELECT doc_id, n_chars,
          (z1 * 73244475) % 4294967296 AS z2 FROM m1),
        m3 AS (SELECT doc_id, n_chars, xor(z2, z2 >> 16) AS z3 FROM m2),
        m4 AS (SELECT doc_id, n_chars,
          (z3 * 73244475) % 4294967296 AS z4 FROM m3),
        k AS (SELECT doc_id, n_chars, xor(z4, z4 >> 16) AS th FROM m4),
        ky AS (SELECT doc_id, n_chars,
          CAST(CAST(round(ln((th + 1) / 4294967296.0) * 1e6) AS BIGINT)
            AS DOUBLE) / CAST(n_chars AS DOUBLE) AS es_key FROM k)
        SELECT doc_id, n_chars, es_key FROM ky
        ORDER BY es_key DESC, doc_id ASC LIMIT 100"""),
    ),

    // greedy token-budget selection over quality-ordered docs: every row
    // returns with its running token total and keep verdict; the oracle
    // replays the (ttr desc, doc_id) cumulative window
    "q_token_budget" -> QueryDef(
      (s, dir) => Curate.tokenBudgetSelect(
        TextAnalysis.qualityStats(docs(s, dir).select("doc_id", "text"),
            "text", TextAnalysis.langProfiles.head._2)
          .select("doc_id", "n_tokens", "ttr"),
        "doc_id", "n_tokens", "ttr", budget = 5000L),
      Some("""WITH t AS (SELECT doc_id,
          string_split_regex(trim(text), '\s+') AS toks FROM documents),
        s AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(toks)) AS DOUBLE)/CAST(len(toks) AS DOUBLE)
            AS ttr FROM t),
        c AS (SELECT doc_id, n_tokens, ttr,
          CAST(sum(n_tokens) OVER (ORDER BY ttr DESC, doc_id ASC) AS BIGINT)
            AS cum_tokens FROM s)
        SELECT doc_id, n_tokens, ttr, cum_tokens,
          (cum_tokens - n_tokens < 5000) AS selected FROM c"""),
    ),

    // top-3 characteristic terms per doc by tf-idf; the smoothed idf log
    // is quantized to micro-units on BOTH sides before the multiply (the
    // lm-score convention), so libm ulp drift never reaches the hash
    // containment near-dup: |A∩B|/min(|A|,|B|) over the LSH candidates —
    // the truncated copies score containment 1.0 exactly (their shingles
    // are a subset) where Jaccard reads (m-2)/m < 1
    "q_dedup_containment" -> QueryDef(
      (s, dir) => Dedup.containmentNearDups(corpusNear(s, dir),
        "doc_id", "text", n = 3, k = 12, r = 3, threshold = 0.95),
      Some(s"""WITH $CORPUS_NEAR, $DUCK_SHINGLES, $DUCK_MINHASH_CANDS,
        cpairs AS (SELECT i.a_id, i.b_id,
            CAST(i.i_cnt AS DOUBLE) / CAST(least(s1.sz, s2.sz) AS DOUBLE)
              AS containment
          FROM inter i
          JOIN szs s1 ON s1.doc_id = i.a_id
          JOIN szs s2 ON s2.doc_id = i.b_id)
        SELECT a_id, b_id, containment FROM cpairs
        WHERE containment >= 0.95"""),
    ),

    // normalization-robust exact dedup: planted case/punctuation/spacing
    // variants collide once both sides hash the NORMALIZED text
    "q_dedup_normalized" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val variants = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(lit("!! "),
              upper(regexp_replace(col("text"), " ", "  "))).as("text"))
        Dedup.exact(
          d.unionByName(variants)
            .withColumn("text", Curate.normalizeText(col("text"))),
          "doc_id", "text")
      },
      Some("""WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, '!! ' || upper(replace(text, ' ', '  '))
          FROM documents WHERE doc_id % 10 = 0),
        nrm AS (SELECT doc_id,
            md5(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS digest
          FROM corpus),
        grp AS (SELECT digest, min(doc_id) AS canonical_id, count(*) AS n
          FROM nrm GROUP BY 1)
        SELECT g.canonical_id, n.doc_id AS dup_id
        FROM grp g JOIN nrm n ON n.digest = g.digest
        WHERE g.n > 1 AND n.doc_id <> g.canonical_id"""),
    ),

    // the flagship composed pipeline: funnel -> near-dup removal ->
    // decontamination -> hash split, all stages replayed in one oracle
    "q_curation_pipeline" -> QueryDef(
      // 5-gram shingles: the synthetic 31-word vocabulary saturates the
      // 3-gram space at sf0.1 (the benchmark would "contaminate" every
      // doc); 31^5 does not saturate at any test SF
      (s, dir) => Curate.curationPipeline(
        corpusNear(s, dir), "doc_id", "text",
        docs(s, dir).filter(col("doc_id") % 7 === 0)
          .select("doc_id", "text"),
        n = 5),
      Some(s"""WITH RECURSIVE corpus0 AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000,
                 array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1,
                   len(string_split_regex(trim(text), '\\s+')) - 2), ' ')
          FROM documents WHERE doc_id % 5 = 0),
        t AS (SELECT doc_id,
          string_split_regex(trim(text), '\\s+') AS toks,
          string_split_regex(trim(lower(text)), '\\s+') AS toks_l
          FROM corpus0),
        s AS (SELECT doc_id, len(toks) AS n_tokens,
          CAST(len(list_distinct(toks)) AS DOUBLE)/CAST(len(toks) AS DOUBLE)
            AS ttr,
          len(list_filter(toks_l, x -> x IN ('the','a','of','and','is')))
            AS c_en,
          len(list_filter(toks_l, x -> x IN ('der','die','das','und','ist')))
            AS c_de,
          len(list_filter(toks_l, x -> x IN ('el','los','que','y','es')))
            AS c_es,
          len(list_filter(toks_l, x -> x IN ('le','les','et','est','une')))
            AS c_fr
          FROM t),
        keepd AS (SELECT doc_id, n_tokens FROM s
          WHERE n_tokens >= 30
            AND (CASE WHEN greatest(c_en, c_de, c_es, c_fr) = 0 THEN 'und'
                      WHEN c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
                      WHEN c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
                      WHEN c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
                      ELSE 'fr' END) = 'en'
            AND ttr >= 0.2),
        corpus AS (SELECT c.doc_id, c.text FROM corpus0 c
          JOIN keepd kd ON kd.doc_id = c.doc_id),
        ${duckShingles("sh", "corpus", n = 5)},
        $DUCK_MINHASH_COMPONENTS,
        losers AS (SELECT node AS doc_id FROM comp WHERE node <> component),
        surv AS (SELECT c.doc_id FROM corpus c
          LEFT JOIN losers l ON l.doc_id = c.doc_id
          WHERE l.doc_id IS NULL),
        benchsrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
        ${duckShingles("bs", "benchsrc", n = 5)},
        bset AS (SELECT DISTINCT sh_hash FROM bsh),
        ov AS (SELECT doc_id,
            CAST(count(*) FILTER (WHERE sh_hash IN (SELECT sh_hash FROM bset))
              AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac
          FROM shh GROUP BY 1),
        contam AS (SELECT doc_id FROM ov WHERE frac >= 0.5),
        fin AS (SELECT sv.doc_id FROM surv sv
          LEFT JOIN contam c ON c.doc_id = sv.doc_id
          WHERE c.doc_id IS NULL)
        SELECT f.doc_id,
          CASE WHEN ${duckHash("CAST(f.doc_id AS VARCHAR)")} % 100 < 90
                 THEN 'train'
               WHEN ${duckHash("CAST(f.doc_id AS VARCHAR)")} % 100 < 95
                 THEN 'val'
               ELSE 'test' END AS split,
          CAST(kd.n_tokens AS BIGINT) AS n_tokens
        FROM fin f JOIN keepd kd ON kd.doc_id = f.doc_id"""),
    ),

    // The flagship END-TO-END CRAWL pipeline gate: real WARC-gzip chunks
    // (two members per doc — the second a tracking-param URL variant
    // with shouting host and default port) are ingested through the full
    // HTTP envelope (status line, gzip Content-Encoding on every main
    // survivor, chunked transfer + ISO-8859-15 charset on the m=5
    // class), then main-content extracted, soft-404/noindex/quality
    // filtered, URL- and content-deduplicated, decontaminated against a
    // benchmark, leakage-safe split, and packed — and the oracle replays
    // EVERY relational stage over the closed-form decoded texts. Page
    // classes by doc_id % 8: 0 = article (survives unless benchmark-
    // contaminated at id%16=0), 1 = near-copy of doc id-1 (dedup loser),
    // 2 = short note (funnel floor), 3 = declared 404 page (soft-404
    // phrase), 4 = HTTP 404 (status filter), 5 = euro-priced article in
    // ISO-8859-15 via chunked transfer (survives — certifying dechunk +
    // charset), 6 = near-empty template stamped across one domain
    // (soft-404 cluster), 7 = meta-robots noindex (compliance drop).
    // contamFrac=0.9: the template vocabulary makes every article share
    // its id-free shingles with the benchmark pool (~0.56), so the cut
    // must separate exact copies (1.0) only.
    "q_crawl_pipeline" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val m = col("doc_id") % 8
        val cid = when(m === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")).cast("string")
        val filler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        val fillerShort = "alpha beta gamma delta epsilon zeta eta theta"
        def article(p1Extra: org.apache.spark.sql.Column, p2Fill: String,
            extraHead: String): org.apache.spark.sql.Column = concat(
          lit("<html><head><title>Doc "), cid,
          lit("</title><style>p{color:#000}</style>" + extraHead +
            "</head><body>" +
            "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
            "<a href=\"/contact\">Contact us</a></nav>" +
            "<h1>Headline "), cid,
          lit(" of a reasonably long article</h1>" +
            "<p>Content paragraph one for doc "), cid, p1Extra,
          lit(" " + filler + "</p>" +
            "<figcaption>Short caption for figure number "), cid,
          lit("</figcaption><p>Content paragraph two for doc "), cid,
          lit(" " + p2Fill + "</p>" +
            "<div><a href=\"/l1\">Related article one</a> " +
            "<a href=\"/l2\">Related article two</a> " +
            "<a href=\"/l3\">Related article three</a></div>" +
            "<p>Promo text snippet number "), cid, lit(" here</p>" +
            "<footer>All rights reserved</footer></body></html>"))
        val html = when(m === 2, concat(lit("<html><head><title>Note "), id,
            lit("</title></head><body><p>tiny note number "), id,
            lit("</p></body></html>")))
          .when(m === 3, concat(
            lit("<html><head><title>404 Error - Page Not Found</title>" +
              "</head><body><p>The page you requested could not be found " +
              "on this server (ref "), id, lit(")</p></body></html>")))
          .when(m === 4, concat(lit("<html><body><p>gone "), id,
            lit("</p></body></html>")))
          .when(m === 6, lit("<html><head><title>Notice</title></head>" +
            "<body><p>service temporarily offline please retry</p>" +
            "</body></html>"))
          .when(m === 1, article(lit(""), fillerShort, ""))
          .when(m === 5, article(lit(" price ¤"), filler, ""))
          .when(m === 7, article(lit(""), filler,
            "<meta name=\"robots\" content=\"noindex,nofollow\">"))
          .otherwise(article(lit(""), filler, ""))
        val utf8Ent = encode(html, "UTF-8")
        // ISO-8859-1 byte 0xA4 reads as the euro sign under the declared
        // ISO-8859-15 (the cp-plantable seam — Spark encode() has no
        // 8859-15 encoder)
        val isoEnt = encode(html, "ISO-8859-1")
        def chunked(ent: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
          conv(length(ent).cast("string"), 10, 16).cast("binary"),
          lit("\r\n").cast("binary"), ent,
          lit("\r\n0\r\n\r\n").cast("binary"))
        val entity = when(m === 0,
            graft.functions.codecs.compress_bytes(utf8Ent, lit("gzip")))
          .when(m === 5, chunked(isoEnt))
          .otherwise(utf8Ent)
        val headers = when(m === 0, lit("Content-Type: text/html; " +
            "charset=utf-8\r\nContent-Encoding: gzip"))
          .when(m === 5, lit("Content-Type: text/html; " +
            "charset=ISO-8859-15\r\nTransfer-Encoding: chunked"))
          .otherwise(lit("Content-Type: text/html; charset=utf-8"))
        val status = when(m === 4, lit("404 Not Found"))
          .otherwise(lit("200 OK"))
        val uri0 = when(m === 6, concat(lit("https://err.example.com/p/"),
            id))
          .otherwise(concat(lit("https://site"), id,
            lit(".example.com/a/"), id))
        val uri1 = when(m === 6, concat(lit("https://err.example.com/p/"),
            id, lit("?utm_source=feed")))
          .otherwise(concat(lit("HTTPS://SITE"), id,
            lit(".EXAMPLE.COM:443/a/"), id, lit("?utm_source=feed")))
        def member(uriHeader: String, uri: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          graft.functions.codecs.compress_bytes(concat(
            concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" + uriHeader +
              ": "), uri, lit("\r\n\r\nHTTP/1.1 "), status, lit("\r\n"),
              headers, lit("\r\n\r\n")).cast("binary"),
            entity), lit("gzip"))
        // member 0 writes its URI header lowercase: WARC field names are
        // not case sensitive and the representative row must not care
        val chunk = concat(member("warc-target-uri", uri0),
          member("WARC-Target-URI", uri1))
        val bench = docs(s, dir).where(col("doc_id") % 16 === 0)
          .select(col("doc_id"), concat(
            lit("Headline "), id, lit(" of a reasonably long article\n" +
              "Content paragraph one for doc "), id,
            lit(" " + filler + "\nShort caption for figure number "), id,
            lit("\nContent paragraph two for doc "), id,
            lit(" " + filler)).as("text"))
        graft.operators.Crawl.crawlPipeline(
          docs(s, dir).select(col("doc_id"), chunk.as("chunk")),
          "doc_id", "chunk", bench, n = 5, contamFrac = 0.9)
      },
      Some(s"""WITH RECURSIVE base AS (
          SELECT doc_id, doc_id % 8 AS m,
            CASE WHEN doc_id % 8 = 1 THEN doc_id - 1 ELSE doc_id END AS cid
          FROM documents),
        pg AS (
          SELECT doc_id,
            CASE WHEN m = 2 THEN ''
              ELSE 'Headline ' || cid || ' of a reasonably long article'
                || chr(10) || 'Content paragraph one for doc ' || cid ||
                CASE WHEN m = 5 THEN ' price ' || chr(8364) ELSE '' END ||
                ' alpha beta gamma delta epsilon zeta eta theta iota kappa'
                || chr(10) || 'Short caption for figure number ' || cid ||
                chr(10) || 'Content paragraph two for doc ' || cid ||
                CASE WHEN m = 1
                  THEN ' alpha beta gamma delta epsilon zeta eta theta'
                  ELSE ' alpha beta gamma delta epsilon zeta eta theta' ||
                    ' iota kappa' END
            END AS text
          FROM base WHERE m IN (0, 1, 2, 5)),
        t AS (SELECT doc_id,
            string_split_regex(trim(text), '\\s+') AS toks,
            string_split_regex(trim(lower(text)), '\\s+') AS toks_l
          FROM pg),
        s AS (SELECT doc_id, len(toks) AS n_tokens,
          CAST(len(list_distinct(toks)) AS DOUBLE) /
            CAST(len(toks) AS DOUBLE) AS ttr,
          len(list_filter(toks_l, x -> x IN ('the','a','of','and','is')))
            AS c_en,
          len(list_filter(toks_l, x -> x IN ('der','die','das','und','ist')))
            AS c_de,
          len(list_filter(toks_l, x -> x IN ('el','los','que','y','es')))
            AS c_es,
          len(list_filter(toks_l, x -> x IN ('le','les','et','est','une')))
            AS c_fr
          FROM t),
        keepd AS (SELECT doc_id, n_tokens FROM s
          WHERE n_tokens >= 30
            AND (CASE WHEN greatest(c_en, c_de, c_es, c_fr) = 0 THEN 'und'
                      WHEN c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
                      WHEN c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
                      WHEN c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
                      ELSE 'fr' END) = 'en'
            AND ttr >= 0.2),
        corpus AS (SELECT c.doc_id, c.text FROM pg c
          JOIN keepd kd ON kd.doc_id = c.doc_id),
        ${duckShingles("sh", "corpus", n = 5)},
        $DUCK_MINHASH_COMPONENTS,
        losers AS (SELECT node AS doc_id FROM comp WHERE node <> component),
        surv AS (SELECT c.doc_id FROM corpus c
          LEFT JOIN losers l ON l.doc_id = c.doc_id
          WHERE l.doc_id IS NULL),
        benchsrc AS (SELECT doc_id,
            'Headline ' || doc_id || ' of a reasonably long article' ||
              chr(10) || 'Content paragraph one for doc ' || doc_id ||
              ' alpha beta gamma delta epsilon zeta eta theta iota kappa' ||
              chr(10) || 'Short caption for figure number ' || doc_id ||
              chr(10) || 'Content paragraph two for doc ' || doc_id ||
              ' alpha beta gamma delta epsilon zeta eta theta iota kappa'
              AS text
          FROM documents WHERE doc_id % 16 = 0),
        ${duckShingles("bs", "benchsrc", n = 5)},
        bset AS (SELECT DISTINCT sh_hash FROM bsh),
        ov AS (SELECT doc_id,
            CAST(count(*) FILTER (WHERE sh_hash IN
              (SELECT sh_hash FROM bset)) AS DOUBLE) /
              CAST(count(*) AS DOUBLE) AS frac
          FROM shh GROUP BY 1),
        contam AS (SELECT doc_id FROM ov WHERE frac >= 0.9),
        fin AS (SELECT sv.doc_id, kd.n_tokens,
            ${duckHash("CAST(sv.doc_id AS VARCHAR)")} % 8 AS shard,
            ${duckHash("CAST(sv.doc_id AS VARCHAR)")} % 100 AS sb
          FROM surv sv
          JOIN keepd kd ON kd.doc_id = sv.doc_id
          LEFT JOIN contam c ON c.doc_id = sv.doc_id
          WHERE c.doc_id IS NULL)
        SELECT doc_id,
          'https://site' || doc_id || '.example.com/a/' || doc_id AS url,
          CASE WHEN sb < 90 THEN 'train' WHEN sb < 95 THEN 'val'
            ELSE 'test' END AS split,
          CAST(n_tokens AS BIGINT) AS n_tokens,
          shard,
          CAST(shard * 1099511627776 +
            COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
            AS BIGINT) AS seq_id
        FROM fin"""),
    ),

    // count-min sketch: 3×16 cells over the 31-term vocabulary, so bucket
    // collisions make est > exact for some terms (the one-sided error is
    // visible); the oracle replays the affine cells and the min exactly
    "q_text_cms_counts" -> QueryDef(
      (s, dir) => {
        val dd = docs(s, dir).select("text")
        val sketch = TextAnalysis.cmsBuild(dd, "text", d = 3, w = 16)
        val exact = dd
          .select(explode(TextAnalysis.tokens(lower(col("text"))))
            .as("term"))
          .groupBy("term").agg(count(lit(1)).as("exact"))
        TextAnalysis.cmsEstimate(sketch, exact.select("term"), "term",
            d = 3, w = 16)
          .join(exact, "term")
          .select(col("term"), col("exact"), col("est"))
      },
      Some(s"""WITH tm AS (SELECT
          unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
          FROM documents),
        ex AS (SELECT term, CAST(count(*) AS BIGINT) AS exact
          FROM tm GROUP BY 1),
        hh AS (SELECT term, exact, ${duckHash("term")} AS h FROM ex),
        sk AS (SELECT t.j AS j,
            ((131*t.j + 7) * hh.h + (97*t.j + 3)) % 1000000007 % 16
              AS bucket,
            CAST(sum(hh.exact) AS BIGINT) AS cnt
          FROM hh CROSS JOIN range(0, 3) t(j) GROUP BY 1, 2),
        pr AS (SELECT hh.term, t.j AS j,
            ((131*t.j + 7) * hh.h + (97*t.j + 3)) % 1000000007 % 16
              AS bucket
          FROM hh CROSS JOIN range(0, 3) t(j)),
        est AS (SELECT pr.term, min(coalesce(sk.cnt, 0)) AS est
          FROM pr LEFT JOIN sk ON sk.j = pr.j AND sk.bucket = pr.bucket
          GROUP BY 1)
        SELECT e.term, x.exact, CAST(e.est AS BIGINT) AS est
        FROM est e JOIN ex x ON x.term = e.term"""),
    ),

    // tokenizer-vocabulary coverage: top-20 corpus vocabulary (freq desc,
    // term asc), per-doc OOV counts; the corpus has 31 distinct terms so
    // the cut is non-trivial at every SF
    "q_text_vocab_coverage" -> QueryDef(
      (s, dir) => TextAnalysis.vocabCoverage(
        docs(s, dir).select("doc_id", "text"), "doc_id", "text",
        vocabSize = 20),
      Some("""WITH tk AS (SELECT doc_id,
          string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        tm AS (SELECT doc_id, unnest(toks) AS term FROM tk),
        vf AS (SELECT term, count(*) AS freq FROM tm GROUP BY 1),
        vocab AS (SELECT term FROM vf ORDER BY freq DESC, term ASC LIMIT 20)
        SELECT tm.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_oov,
          CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*) AS oov_ratio
        FROM tm LEFT JOIN vocab v ON tm.term = v.term
        GROUP BY 1"""),
    ),

    // dedup-audit histogram: near-dup clusters by size — how much of the
    // corpus is duplicated and in what shapes; runs on the pair graph only
    "q_dedup_cluster_sizes" -> QueryDef(
      (s, dir) => Dedup.clusterSizeHistogram(
        Dedup.minhashNearDups(corpusNear(s, dir), "doc_id", "text",
          n = 3, k = 12, r = 3, threshold = 0.6)),
      Some(s"""WITH RECURSIVE $CORPUS_NEAR, $DUCK_SHINGLES,
        $DUCK_MINHASH_COMPONENTS,
        cz AS (SELECT component, count(*) AS size FROM comp GROUP BY 1)
        SELECT CAST(size AS BIGINT) AS size,
          CAST(count(*) AS BIGINT) AS n_clusters
        FROM cz GROUP BY 1"""),
    ),

    // Char-n-gram NB LANGUAGE ID over a multi-script corpus: four page
    // classes (English/Latin, Russian/Cyrillic via a BOM'd UTF-16LE
    // payload, Chinese and Japanese via UTF-8) reach the engine as BYTES
    // and become text through decode_text — the charset work is what
    // makes non-Latin pages classifiable at all. The model trains on
    // half the ids (doc_id % 8 < 4 — decorrelated from the % 4 class;
    // fastText-style: char trigrams of lowercased text
    // with '_' boundary markers, multinomial NB) and argmax-classifies
    // every doc; the oracle replays gram extraction and the integer
    // micro-nat scoring exactly. The profile-hit langId would answer
    // "und" for all three non-English classes — this is the learned
    // path for scripts without curated stopword lists.
    "q_text_langid_nb" -> QueryDef(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val m = col("doc_id") % 4
        val full = (t: String) => concat(lit(t), lit(" num "), id)
        val enT = "the quick brown fox jumps over the lazy dog"
        val ruT = LangIdRu
        val zhT = LangIdZh
        val jaT = LangIdJa
        val bytes = when(m === 1, concat(
            lit(Array(0xFF.toByte, 0xFE.toByte)),
            encode(full(ruT), "UTF-16LE")))
          .when(m === 2, encode(full(zhT), "UTF-8"))
          .when(m === 3, encode(full(jaT), "UTF-8"))
          .otherwise(encode(full(enT), "UTF-8"))
        val lang = when(m === 1, "ru").when(m === 2, "zh")
          .when(m === 3, "ja").otherwise(lit("en"))
        val d = docs(s, dir).select(col("doc_id"), lang.as("lang"),
          graft.functions.charsets.decode_text(bytes).as("text"))
        // train on doc_id % 8 < 4 — NOT % 2, which is correlated with
        // the % 4 class (odd classes would never be trained)
        val model = TextAnalysis.langIdNbTrain(
          d.where(col("doc_id") % 8 < 4).select("text", "lang"),
          "text", "lang")
        TextAnalysis.langIdNbPredict(d, "doc_id", "text", model)
          .join(d.select("doc_id", "lang"), "doc_id")
          .select("doc_id", "lang", "pred", "score")
      },
      Some(s"""WITH src AS (
          SELECT doc_id,
            CASE doc_id % 4
              WHEN 1 THEN ${duckStr(LangIdRu)}
              WHEN 2 THEN ${duckStr(LangIdZh)}
              WHEN 3 THEN ${duckStr(LangIdJa)}
              ELSE 'the quick brown fox jumps over the lazy dog'
            END || ' num ' || doc_id AS text,
            CASE doc_id % 4 WHEN 1 THEN 'ru' WHEN 2 THEN 'zh'
              WHEN 3 THEN 'ja' ELSE 'en' END AS lang
          FROM documents),
        g AS (SELECT doc_id, lang,
            regexp_replace(lower(text), '\\s+', '_', 'g') AS gt
          FROM src),
        gr AS (SELECT doc_id, lang,
            CASE WHEN length(gt) < 3 THEN []
              ELSE list_transform(range(1, length(gt) - 1),
                i -> substr(gt, i, 3)) END AS toks
          FROM g),
        tr AS (SELECT lang AS label, unnest(toks) AS term
          FROM gr WHERE doc_id % 8 < 4),
        tc AS (SELECT label, term, count(*) AS c FROM tr GROUP BY 1, 2),
        nd AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs
          FROM src WHERE doc_id % 8 < 4 GROUP BY 1),
        tt AS (SELECT label, CAST(sum(c) AS BIGINT) AS tot
          FROM tc GROUP BY 1),
        nt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM nd),
        lb AS (SELECT nd.label, tt.tot,
            CAST(round(ln(CAST(nd.n_docs AS DOUBLE) /
              CAST(nt.n_total AS DOUBLE)) * 1e6) AS BIGINT) AS prior_micro,
            CAST(round(ln(1.0 / (CAST(tt.tot AS DOUBLE) + 65536.0)) * 1e6)
              AS BIGINT) AS lp0_micro
          FROM nd JOIN tt USING (label) CROSS JOIN nt),
        lp AS (SELECT tc.label, tc.term,
            CAST(round(ln((CAST(tc.c AS DOUBLE) + 1.0) /
              (CAST(tt.tot AS DOUBLE) + 65536.0)) * 1e6) AS BIGINT)
              AS lp_micro
          FROM tc JOIN tt USING (label)),
        dt AS (SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM gr)
          GROUP BY 1, 2),
        sc AS (SELECT dt.doc_id, lb.label, lb.prior_micro,
            dt.tf * coalesce(lp.lp_micro, lb.lp0_micro) AS term_micro
          FROM dt CROSS JOIN lb
          LEFT JOIN lp ON dt.term = lp.term AND lb.label = lp.label),
        ag AS (SELECT doc_id, label,
            any_value(prior_micro) + CAST(sum(term_micro) AS BIGINT)
              AS score_micro
          FROM sc GROUP BY 1, 2),
        rk AS (SELECT doc_id, label, score_micro,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY score_micro DESC, label ASC) AS rn FROM ag)
        SELECT s.doc_id, s.lang, r.label AS pred,
          CAST(r.score_micro AS DOUBLE) / 1e6 AS score
        FROM rk r JOIN src s ON s.doc_id = r.doc_id WHERE r.rn = 1"""),
    ),

    // multinomial Naive Bayes (fastText-style filter analog): train on the
    // documents' lang labels, argmax-classify every doc; integer micro-nat
    // dot products make the scores engine-exact
    "q_text_nb_classify" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val (tc, cs) =
          TextAnalysis.nbTrain(d.select("text", "lang"), "text", "lang")
        TextAnalysis.nbPredict(
          d.select("doc_id", "text"), "doc_id", "text", tc, cs,
          vocab = 65536L)
      },
      Some(s"""WITH $DUCK_NB
        SELECT doc_id, label AS pred,
          CAST(score_micro AS DOUBLE) / 1e6 AS score
        FROM rk WHERE rn = 1"""),
    ),

    // classifier evaluation in-engine: the confusion matrix of NB
    // predictions against the declared labels (the train-set self-eval a
    // filter pipeline reports before thresholding)
    "q_text_nb_confusion" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val (tc, cs) =
          TextAnalysis.nbTrain(d.select("text", "lang"), "text", "lang")
        TextAnalysis.nbPredict(
            d.select("doc_id", "text"), "doc_id", "text", tc, cs,
            vocab = 65536L)
          .join(d.select("doc_id", "lang"), "doc_id")
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n"))
      },
      Some(s"""WITH $DUCK_NB,
        pred AS (SELECT doc_id, label AS pred FROM rk WHERE rn = 1)
        SELECT d.lang, p.pred, CAST(count(*) AS BIGINT) AS n
        FROM pred p JOIN documents d ON d.doc_id = p.doc_id
        GROUP BY 1, 2"""),
    ),

    // Misra–Gries heavy hitters over the lang stream at k=3 (VOCAB > k, so
    // counters churn): the gate pins the sketch's CONTRACT — every term
    // above the N/(k+1) threshold is found with both error bounds intact —
    // because counter values themselves legitimately vary with merge order
    // (q_approx_distinct's bounds-gate pattern); SketchesSpec drills the
    // guarantees on a planted Zipf stream across partitionings
    "q_text_heavy_hitters" -> QueryDef(
      (s, dir) => graft.operators.Sketches.heavyHitters(
        docs(s, dir).select("lang"), "lang", k = 3),
      Some("""WITH t AS (SELECT lang AS term FROM documents),
        n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t),
        e AS (SELECT term, CAST(count(*) AS BIGINT) AS exact
          FROM t GROUP BY 1)
        SELECT term, exact, TRUE AS found, TRUE AS within_bound
        FROM e, n WHERE exact * 4 > total"""),
    ),

    // per-group heavy hitters: one k-counter sketch per key, final merge
    // key-partitioned (no single global reducer); the audit columns are
    // deterministic despite sketch-state nondeterminism, so the oracle
    // predicts them in closed form per key
    "q_text_heavy_hitters_grouped" -> QueryDef(
      (s, dir) => graft.operators.Sketches.heavyHittersByKey(
        docs(s, dir).select((col("doc_id") % 4).as("bucket"), col("lang")),
        "bucket", "lang", k = 3),
      Some("""WITH t AS (SELECT doc_id % 4 AS key, lang AS term
          FROM documents),
        n AS (SELECT key, CAST(count(*) AS BIGINT) AS total
          FROM t GROUP BY 1),
        e AS (SELECT key, term, CAST(count(*) AS BIGINT) AS exact
          FROM t GROUP BY 1, 2)
        SELECT e.key, term, exact, TRUE AS found, TRUE AS within_bound
        FROM e JOIN n ON e.key = n.key WHERE exact * 4 > total"""),
    ),

    // threshold-free classifier eval: exact tie-handled ROC-AUC of the NB
    // 'en' one-vs-rest score by the rank-sum identity, folded from a score
    // HISTOGRAM (rangedCumsum, no row-level ranking); u2 = 2*U stays
    // integer so the only float op is the final division, mirrored
    // literally by the oracle
    "q_text_nb_auc" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val (tc, cs) =
          TextAnalysis.nbTrain(d.select("text", "lang"), "text", "lang")
        val scores = TextAnalysis.nbClassScores(
            d.select("doc_id", "text"), "doc_id", "text", tc, cs,
            vocab = 65536L)
          .where(col("label") === "en")
          .join(d.select("doc_id", "lang"), "doc_id")
          .select(col("score_micro"), (col("lang") === "en").as("y"))
        TextAnalysis.rocAuc(scores, "score_micro", "y")
      },
      Some(s"""WITH $DUCK_NB,
        sc2 AS (SELECT ag.doc_id, ag.score_micro AS s,
            CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
          FROM ag JOIN documents d USING (doc_id) WHERE ag.label = 'en'),
        h AS (SELECT s, CAST(sum(y) AS BIGINT) AS np,
            CAST(count(*) - sum(y) AS BIGINT) AS nn FROM sc2 GROUP BY 1),
        c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY s ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
          FROM h),
        t AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
            CAST(sum(nn) AS BIGINT) AS n_neg,
            CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS u2 FROM c)
        SELECT n_pos, n_neg, u2,
          CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg) AS auc FROM t"""),
    ),

    // BM25 top-k retrieval against a fixed three-query set; contributions
    // are micro-quantized integers (order-independent sums) and every
    // float expression shape is mirrored literally by the oracle
    "q_retrieve_bm25" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val qs = Seq(
          (1L, "spark join merge"),
          (2L, "window sort batch table"),
          (3L, "customer data quality filter"),
        ).toDF("query_id", "qtext")
        TextAnalysis.bm25TopK(
          docs(s, dir).select("doc_id", "text"), "doc_id", "text",
          qs, "query_id", "qtext", k = 10)
      },
      Some("""WITH tok AS (SELECT doc_id,
          string_split_regex(trim(text), '\s+') AS toks FROM documents),
        term AS (SELECT doc_id, unnest(toks) AS term FROM tok),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM term GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
        dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        q AS (SELECT CAST(query_id AS BIGINT) AS query_id, qtext
          FROM (VALUES (1, 'spark join merge'),
                       (2, 'window sort batch table'),
                       (3, 'customer data quality filter'))
            v(query_id, qtext)),
        qt AS (SELECT query_id,
            unnest(list_distinct(string_split_regex(trim(qtext), '\s+')))
              AS term FROM q),
        qdf AS (SELECT qt.query_id, qt.term,
            CAST(CAST(round(ln(1 + (st.n_docs - dfq.df + 0.5) /
                (dfq.df + 0.5)) * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS idf
          FROM dfq JOIN qt USING (term) CROSS JOIN st),
        sc AS (SELECT qdf.query_id, tf.doc_id,
            CAST(round(qdf.idf * (tf.tf * (1.2 + 1)) /
              (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl /
                (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))
              * 1e6) AS BIGINT) AS contrib
          FROM tf JOIN dl USING (doc_id) JOIN qdf ON tf.term = qdf.term
          CROSS JOIN st),
        ag AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
            CAST(sum(contrib) AS BIGINT) AS score_micro
          FROM sc GROUP BY 1, 2),
        rk AS (SELECT query_id, doc_id, n_terms, score_micro,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id ASC) AS rn FROM ag)
        SELECT query_id, doc_id, n_terms,
          CAST(score_micro AS DOUBLE) / 1e6 AS score
        FROM rk WHERE rn <= 10"""),
    ),

    // hybrid retrieval: BM25 lexical ranks fused with cosine vector
    // ranks by Reciprocal Rank Fusion (micro-quantized 1/(60+rank)
    // contributions, so the sum is associative and engine-exact); the
    // oracle replays both legs and the fusion relationally
    "q_retrieve_hybrid" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val qs = Seq(
          (1L, "spark join merge"),
          (2L, "window sort batch table"),
          (3L, "customer data quality filter"),
        ).toDF("query_id", "qtext")
        val emb = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        TextAnalysis.hybridRrfTopK(
          docs(s, dir).select("doc_id", "text"), "doc_id", "text",
          qs, "query_id", "qtext",
          corpusEmb = emb, queryEmb = emb.filter(col("id").isin(1L, 2L, 3L)),
          k = 10, kLex = 10, kVec = 10)
      },
      Some("""WITH tok AS (SELECT doc_id,
          string_split_regex(trim(text), '\s+') AS toks FROM documents),
        term AS (SELECT doc_id, unnest(toks) AS term FROM tok),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM term GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
        dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        q AS (SELECT CAST(query_id AS BIGINT) AS query_id, qtext
          FROM (VALUES (1, 'spark join merge'),
                       (2, 'window sort batch table'),
                       (3, 'customer data quality filter'))
            v(query_id, qtext)),
        qt AS (SELECT query_id,
            unnest(list_distinct(string_split_regex(trim(qtext), '\s+')))
              AS term FROM q),
        qdf AS (SELECT qt.query_id, qt.term,
            CAST(CAST(round(ln(1 + (st.n_docs - dfq.df + 0.5) /
                (dfq.df + 0.5)) * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS idf
          FROM dfq JOIN qt USING (term) CROSS JOIN st),
        sc AS (SELECT qdf.query_id, tf.doc_id,
            CAST(round(qdf.idf * (tf.tf * (1.2 + 1)) /
              (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl /
                (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))
              * 1e6) AS BIGINT) AS contrib
          FROM tf JOIN dl USING (doc_id) JOIN qdf ON tf.term = qdf.term
          CROSS JOIN st),
        ag AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT)
            AS score_micro FROM sc GROUP BY 1, 2),
        lexr AS (SELECT query_id AS qid, CAST(doc_id AS BIGINT) AS id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id ASC) AS rank FROM ag
            QUALIFY rank <= 10),
        v AS (SELECT vec_id AS id, embedding FROM embeddings),
        nv AS (SELECT id, embedding,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, len(embedding)+1),
              p -> CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS DOUBLE))),
            (a, b) -> a + b)) AS nrm
          FROM v),
        vs AS (SELECT q.id AS qid, c.id AS cid,
          round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, len(q.embedding)+1),
              p -> CAST(q.embedding[p] AS DOUBLE) * CAST(c.embedding[p] AS DOUBLE))),
            (a, b) -> a + b) / (q.nrm * c.nrm), 4) AS cos
          FROM nv q JOIN nv c ON q.id <> c.id
          WHERE q.id IN (1, 2, 3)),
        vecr AS (SELECT CAST(qid AS BIGINT) AS qid, CAST(cid AS BIGINT) AS id,
            row_number() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid ASC) AS rank FROM vs
            QUALIFY rank <= 10),
        u AS (SELECT * FROM lexr UNION ALL SELECT * FROM vecr),
        f AS (SELECT qid, id, CAST(count(*) AS BIGINT) AS n_lists,
            CAST(sum(CAST(round(1e9 / (60 + rank)) AS BIGINT)) AS BIGINT)
              AS m FROM u GROUP BY 1, 2),
        r2 AS (SELECT qid, id, n_lists, m,
            row_number() OVER (PARTITION BY qid ORDER BY m DESC, id ASC)
              AS rn FROM f)
        SELECT qid, id, n_lists, CAST(m AS DOUBLE) / 1e9 AS rrf
        FROM r2 WHERE rn <= 10"""),
    ),

    "q_text_tfidf" -> QueryDef(
      (s, dir) => TextAnalysis.tfIdfTopTerms(
        docs(s, dir).select("doc_id", "text"), "doc_id", "text", k = 3),
      Some("""WITH t AS (SELECT doc_id,
          string_split_regex(trim(text), '\s+') AS toks FROM documents),
        term AS (SELECT doc_id, unnest(toks) AS term FROM t),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM term GROUP BY 1, 2),
        dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM t),
        sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
            round(CAST(tf.tf AS DOUBLE) *
              CAST(CAST(round(ln((n.n_docs + 1) /
                (CAST(dfq.df AS DOUBLE) + 1)) * 1e6) AS BIGINT) AS DOUBLE)
              / 1e6, 4) AS tfidf
          FROM tf JOIN dfq USING (term) CROSS JOIN n),
        rk AS (SELECT doc_id, term, tf, df, tfidf,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term ASC) AS rn FROM sc)
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, df, tfidf
        FROM rk WHERE rn <= 3"""),
    ),
  )
}
