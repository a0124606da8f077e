package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.BlockScope.Boundary

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality stats, language-ID heuristic, and content
  * fingerprinting. Everything is built from codegen'd built-in functions
  * (no UDFs) so the hot path stays inside whole-stage codegen, and all
  * arithmetic is integer/exact so results are engine-portable.
  */
object TextAnalysis {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Script-aware tokens for mixed/multilingual text — the charset
    * work makes CJK pages reachable, and CJK scripts carry no word
    * spaces, so under [[tokens]] a Chinese document is ~one giant
    * token (mis-scored by every length/TTR quality rule). The CCNet /
    * fastText convention: each CJK ideograph, kana, or fullwidth form
    * becomes its own token (spacing them before the whitespace split);
    * spaced scripts behave exactly like [[tokens]]. Pass this anywhere
    * a token column feeds quality stats / BM25 / shingles on a
    * multilingual corpus. */
  def tokensMixed(text: Column): Column =
    split(trim(regexp_replace(text,
      "([\\u3005\\u3040-\\u30ff\\u3400-\\u4dbf\\u4e00-\\u9fff" +
        "\\uf900-\\ufaff\\uff00-\\uffef])",
      " $1 ")), "\\s+")

  /** Deterministic polynomial rolling hash of a string, mod 1e9+7.
    * `h = fold(chars)(acc * 31 + codepoint) % p` — a document fingerprint
    * cheap enough to run at ingest on every row. Backed by the codegen'd
    * [[graft.functions.PolyHashMod]] expression (an interpreted
    * `aggregate` fold was ~4x slower on the shingle path); value identical
    * across engines. */
  val HashMod = 1000000007L
  def rollingHash(text: Column): Column =
    graft.functions.exprs.poly_hash(text)

  /** Finalizing 32-bit mixer (xorshift-multiply, constant 0x45d9f3b) over a
    * non-negative hash: spreads the mod-1e9+7 rolling hash — which occupies
    * under 2^30 and so leaves bits 30+ nearly always zero — across all 32
    * output bits. SimHash fingerprints vote per BIT, so a dead input bit is
    * a dead fingerprint bit and a depressed-entropy candidate byte. The
    * constant is < 2^27, keeping every intermediate product < 2^59: no
    * 64-bit overflow in Spark OR in the DuckDB oracle twin (whose BIGINT
    * multiply errors on overflow rather than wrapping). */
  def mix32(h: Column): Column = {
    val c = lit(73244475L)     // 0x45d9f3b, odd => bijective mod 2^32
    val m = lit(4294967296L)   // 2^32
    val z1 = h.bitwiseXOR(shiftright(h, 16))
    val z2 = (z1 * c) % m
    val z3 = z2.bitwiseXOR(shiftright(z2, 16))
    val z4 = (z3 * c) % m
    z4.bitwiseXOR(shiftright(z4, 16))
  }

  /** Per-language marker-word profiles for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny: language ID at pipeline scale is a cheap
    * prefilter, not a classifier. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "que", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "une"),
  )

  /** Language prediction: argmax of profile hits with a fixed priority
    * order for ties ("und" when nothing matches). Hit counting runs in the
    * compiled one-pass [[graft.functions.TextStatsKernel]] (interpreted
    * size/filter lambdas re-walked the token array per language); the
    * argmax fold stays cheap scalar Column math. */
  def langId(text: Column): Column = langId(text, Nil)

  /** As [[langId]], but building the SAME kernel expression as a
    * [[qualityStats]] call with these stopwords — codegen subexpression
    * elimination then evaluates the kernel once per row when both run in
    * one projection (unequal expressions cannot be merged). */
  def langId(text: Column, stopwords: Seq[String]): Column = {
    val hits = graft.functions.vectors
      .text_stats(text, stopwords, langProfiles.map(_._2)).getField("hits")
    val scores = langProfiles.zipWithIndex.map { case ((l, _), i) =>
      l -> element_at(hits, i + 1)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Quality statistics: token count, distinct-token count, type-token
    * ratio, mean token length, stopword ratio. Counting is ONE compiled
    * pass over the token stream ([[graft.functions.TextStatsKernel]] —
    * semantics identical to the size/array_distinct/filter formulation);
    * the ratios are single divisions over the struct fields, and codegen
    * subexpression elimination evaluates the kernel once per row. */
  def qualityStats(df: DataFrame, textCol: String, stopwords: Seq[String]): DataFrame = {
    val st = graft.functions.vectors
      .text_stats(col(textCol), stopwords, langProfiles.map(_._2))
    df.withColumn("n_tokens", st.getField("n_tokens"))
      .withColumn("n_uniq", st.getField("n_uniq"))
      .withColumn("n_stop", st.getField("n_stop"))
      .withColumn("ttr",
        col("n_uniq").cast("double") / col("n_tokens").cast("double"))
      .withColumn("mean_tok_len",
        st.getField("sum_tok_len").cast("double")
          / col("n_tokens").cast("double"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens").cast("double"))
  }

  /** Token-count histogram bucket (whitespace + a BPE-ish length proxy):
    * ceil(chars/4) is the standard rough tokens-per-byte estimate used for
    * budget accounting when no tokenizer is available. */
  def approxBpeTokens(text: Column): Column =
    ceil(length(text).cast("double") / 4.0).cast("long")

  /** GPT-2-style pre-tokenizer regex, simplified to classes that behave
    * identically under Java regex and RE2: runs of letters, digits, or
    * other symbols, each optionally preceded by one space. Counting these
    * pieces is the standard "BPE-ish" token estimate. */
  val bpePattern = " ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(bpePattern), lit(0))
  def bpeTokenCount(text: Column): Column = size(bpeTokens(text)).cast("long")

  // --- n-gram language-model scoring (CCNet-style quality signal) --------

  /** Adjacent-token bigram rows: one (idCol, w1, w2) per consecutive token
    * pair. The pair array is built map-side with zip_with over two slices
    * of the SAME token array (one split per row, no self-join, no
    * positional re-join), then exploded — the standard scale shape for
    * n-gram extraction. Docs under two tokens produce nothing. */
  def bigrams(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val withToks = df.select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
    val n = size(col("toks"))
    val pairs = zip_with(
      slice(col("toks"), lit(1), n - 1),
      slice(col("toks"), lit(2), n - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    withToks.select(col(idCol), explode(pairs).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** Train a bigram LM on a corpus: (bigram counts (w1, w2, c2), context
    * counts (w1, c1)). Two partial-aggregated groupBys over one bigram
    * pass; counts are exact integers, so the model is deterministic and
    * engine-portable. At 100 TB the model side is itself large — both
    * tables stay distributed and join by key (bucket by w1 when reused);
    * training on a hash-sample of the corpus is the usual cost lever and
    * composes here as a plain filter before this call. */
  def lmTrain(corpus: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val bg = bigrams(corpus, idCol, textCol)
    // the bigram table is materialized (it is the model a serving system
    // persists) and the context counts DERIVE from it — c1(w1) = Σ_w2
    // c2(w1, w2) exactly — so the corpus tokenize + explode runs once
    // instead of once per model table (guide §3.3)
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .boundary()
    (c2, c2.groupBy("w1").agg(sum(col("c2")).as("c1")))
  }

  /** Per-document mean bigram log-likelihood under an add-one-smoothed
    * bigram LM — the CCNet-style fluency/quality score (docs unlike the
    * training corpus score low). `vocab` is the smoothing denominator mass.
    *
    * Determinism across engines and runs: each bigram's logprob is
    * quantized to integer MICRO-nats map-side, and only the integer sum is
    * aggregated — integer addition commutes, so shuffle order cannot
    * perturb the result (a double sum would differ run-to-run in the last
    * bits). The mean is recovered from the integer sum at the end.
    *
    * Output: (idCol, n_bigrams, lp_sum_micro, lm_score) for every doc with
    * at least one bigram; unseen bigrams/contexts count as zero. */
  def lmScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bigramCounts: DataFrame,
      contextCounts: DataFrame,
      vocab: Long): DataFrame = {
    val bg = bigrams(df, idCol, textCol)
    val lp = log(
      (coalesce(col("c2"), lit(0L)).cast("double") + 1.0) /
        (coalesce(col("c1"), lit(0L)).cast("double") + vocab.toDouble))
    bg.join(bigramCounts, Seq("w1", "w2"), "left")
      .join(contextCounts, Seq("w1"), "left")
      .select(col(idCol), round(lp * 1e6).cast("long").as("lp_micro"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp_micro")).as("lp_sum_micro"))
      .withColumn("lm_score",
        round(col("lp_sum_micro").cast("double") / 1e6 /
          col("n_bigrams").cast("double"), 4))
  }

  /** BM25 top-k retrieval: score every document against a (small) query
    * set and keep the k best per query — the standard lexical-retrieval
    * primitive training-data pipelines use for targeted corpus mining and
    * contamination lookups. Okapi BM25 with the usual k1/b defaults; query
    * terms are deduplicated (short-query convention: query tf is ignored).
    *
    * Determinism across engines: the idf log is quantized to micro-units
    * before it multiplies anything ([[lmScore]]'s convention), each
    * per-term contribution is quantized to integer micro-units map-side,
    * and only the integer sum aggregates — shuffle order cannot perturb
    * the score. The float expression shapes here are mirrored exactly by
    * the DuckDB oracle (same literals, same parenthesization), so both
    * engines execute identical IEEE-754 op sequences.
    *
    * Scale shape: the corpus-side stats (tf, dl, df) are plain partial
    * aggregations of one exploded token pass; the query set and its df
    * rows are tiny and BROADCAST into the postings join, so the only wide
    * shuffle is the final (query, doc) partial-aggregated groupBy; corpus
    * stats (n_docs, sum_dl) ride a one-row broadcast cross join. Nothing
    * driver-side, no corpus×corpus product — this survives 100 TB with a
    * bounded query set.
    *
    * Returns (qidCol, idCol, n_terms, score) with ≤k rows per query,
    * score ties broken by doc id. */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // tf feeds both the postings join and docFreq, and dl feeds both the
    // length join and the corpus stats — without materialization
    // boundaries the corpus tokenize subtree executes once per consumer
    // (guide §3.3). dl stays computed from docs, NOT derived from tf: a
    // zero-token document has no tf rows but still counts in n_docs/avgdl.
    val terms = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .boundary()
    val dl = docs.select(
      col(idCol), size(tokens(col(textCol))).cast("long").as("dl"))
      .boundary()
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qTerms = queries.select(
      col(qidCol),
      explode(array_distinct(tokens(col(qtextCol)))).as("term"))
    // df is per-term over the whole corpus (large); restrict it to the
    // query vocabulary FIRST (broadcast the query terms into that join),
    // then the surviving (qid, term, df) sliver broadcasts into postings
    val qdf = docFreq.join(broadcast(qTerms), "term")
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = round(
      log(lit(1d) + (col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))) * 1e6).cast("long").cast("double") / 1e6
    val denom = col("tf") +
      lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)
    val contrib = round(
      idf * (col("tf") * (lit(k1) + lit(1d))) / denom * 1e6).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qidCol)
      .orderBy(col("score_micro").desc, col(idCol).asc)
    tf.join(dl, idCol)
      .join(broadcast(qdf), "term")
      .crossJoin(broadcast(stats))
      .select(col(qidCol), col(idCol), contrib.as("contrib_micro"))
      .groupBy(qidCol, idCol)
      .agg(count(lit(1)).as("n_terms"),
        sum(col("contrib_micro")).as("score_micro"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      // full micro precision — see [[nbPredict]] on the half-way-tie trap
      .select(col(qidCol), col(idCol), col("n_terms"),
        (col("score_micro").cast("double") / 1e6).as("score"))
  }

  /** Hybrid retrieval by Reciprocal Rank Fusion: the BM25 lexical top
    * `kLex` ([[bm25TopK]]) and the cosine vector top `kVec`
    * ([[Similarity.topK]]) per query are fused with
    * score = Σ_lists 1/(rrfK + rank) — the standard RRF rule — and the
    * fused top `k` returned as (qid, id, n_lists, rrf). Contributions
    * are micro-quantized (round(1e9/(rrfK+rank)) summed as BIGINT) so
    * the sum is associative and engine-exact; ties break on id.
    *
    * Scale shape: each leg is already k-bounded per query, so the fusion
    * union shuffles at most (kLex + kVec) 24-byte rows per query and the
    * final window ranks within that bound — the legs dominate, and each
    * keeps its own documented shape (query-vocab broadcast for BM25;
    * block the corpus via the IVF/LSH variants for the vector leg when
    * brute force is too large). */
  def hybridRrfTopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      corpusEmb: DataFrame, queryEmb: DataFrame,
      k: Int, kLex: Int = 50, kVec: Int = 50, rrfK: Int = 60): DataFrame = {
    val wLex = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    val lex = bm25TopK(docs, idCol, textCol, queries, qidCol, qtextCol, kLex)
      .select(col(qidCol).cast("long").as("qid"),
        col(idCol).cast("long").as("id"), col("score"))
      .withColumn("rank", row_number().over(wLex))
      .select("qid", "id", "rank")
    val vec = Similarity.topK(queryEmb, corpusEmb, kVec)
      .select(col("q_id").cast("long").as("qid"),
        col("c_id").cast("long").as("id"), col("rn").cast("int").as("rank"))
    val contrib = round(lit(1e9) / (lit(rrfK) + col("rank"))).cast("long")
    val fused = lex.unionByName(vec)
      .select(col("qid"), col("id"), contrib.as("c"))
      .groupBy("qid", "id")
      .agg(count(lit(1)).as("n_lists"), sum(col("c")).as("rrf_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("rrf_micro").desc, col("id").asc)
    fused.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id"), col("n_lists"),
        (col("rrf_micro").cast("double") / 1e9).as("rrf"))
  }

  // --- BPE vocabulary training -------------------------------------------

  /** Unit separator framing for the BPE corpus encoding: every symbol is
    * enclosed in U+001F and adjacent symbols abut, so a merge of the
    * symbol pair (a, b) is ONE literal string replace
    * `␟a␟␟b␟ -> ␟a␞b␟` — leftmost non-overlapping in every engine, which
    * IS byte-pair encoding's greedy-left merge application. U+001E marks
    * the join inside a merged symbol. */
  private val US = "\u001f"
  private val RS = "\u001e"

  private def bpeEncode(textCol: Column): Column =
    concat(lit(US), array_join(tokens(textCol), US + US), lit(US))

  /** Strip the enclosing markers and split back to symbols. */
  private def bpeSymbols(enc: Column): Column =
    split(enc.substr(lit(2), length(enc) - 2), US + US)

  /** Learn a BPE merge table from the corpus: `iterations` rounds of
    * (count adjacent symbol pairs) -> (merge the globally most frequent
    * pair, ties broken lexicographically) — Sennrich et al.'s algorithm
    * run as Spark aggregations. Initial symbols are whitespace words (the
    * word-level variant; a char-level start is the same loop over
    * exploded characters). Returns the merge table
    * (it, pair_l, pair_r, cnt) — `it` is 1-based merge order.
    *
    * Scale shape per round: one partial-aggregated shuffle of (pair,
    * count) rows and a driver-side argmax of ONE row (the global top
    * pair IS a scalar — the same pattern as an iteration's convergence
    * check), then a map-side string rewrite with lineage truncated per
    * round. Production tokenizers run thousands of merges; at that depth
    * train on a sample (Curate.seededShuffle + limit) — each round is a
    * full corpus pass by construction. */
  def bpeTrain(
      df: DataFrame, textCol: String, iterations: Int): DataFrame =
    bpeMergeLoop(
      df.select(bpeEncode(col(textCol)).as("enc"), lit(1L).as("wc")),
      iterations)

  /** Canonical (Sennrich) char-level BPE: the corpus collapses to a WORD
    * FREQUENCY DICTIONARY — one encoded row per distinct word, weighted
    * by its count — and initial symbols are the word's characters, so
    * merges build subword units and never cross word boundaries. The
    * dictionary collapse is what makes production-depth training
    * tractable: each round's pair count runs over |vocab| rows, not
    * |corpus| rows, regardless of corpus size. */
  def bpeTrainChars(
      df: DataFrame, textCol: String, iterations: Int): DataFrame =
    bpeTrainChars(df, textCol, iterations, markEnd = false)

  /** [[bpeTrainChars]] with Sennrich's end-of-word marker option: when
    * `markEnd` is set every word carries a terminal `</w>` symbol, so
    * the algorithm learns word-final units (`st</w>`) separately from
    * word-internal ones (`st`) — the canonical construction for subword
    * vocabularies that must know where words end. */
  def bpeTrainChars(
      df: DataFrame, textCol: String, iterations: Int,
      markEnd: Boolean): DataFrame =
    bpeMergeLoop(
      df.select(explode(tokens(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("wc"))
        .select(bpeEncodeChars(col("word"), markEnd).as("enc"), col("wc")),
      iterations)

  /** Initial char-level symbol vocabulary size: distinct characters
    * across the corpus's whitespace words, plus the [[BpeEndOfWord]]
    * marker when `markEnd`. One distinct-aggregate over single
    * characters — the denominator of the production vocab contract. */
  def bpeInitialVocabChars(
      df: DataFrame, textCol: String, markEnd: Boolean = false): Long =
    df.select(explode(tokens(col(textCol))).as("word"))
      .select(explode(transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1)))).as("c"))
      .agg(count_distinct(col("c"))).collect().head.getLong(0) +
      (if (markEnd) 1L else 0L)

  /** Char-level BPE trained TO A TARGET VOCABULARY SIZE — the production
    * contract (a tokenizer is specified as "32k vocab", not "31.8k
    * merges"): vocab = initial distinct characters (+ `</w>` when
    * `markEnd`) + one new symbol per merge, so the loop runs exactly
    * `targetVocab - initialVocab` merges (none when the target is at or
    * under the initial vocabulary; fewer when pairs exhaust first).
    * Returns the merge rows with a running `vocab_size` column —
    * initial vocab + merge ordinal — so the accounting is part of the
    * oracle-checkable output. */
  def bpeTrainCharsToVocab(
      df: DataFrame, textCol: String, targetVocab: Long,
      markEnd: Boolean = false): DataFrame = {
    val init = bpeInitialVocabChars(df, textCol, markEnd)
    val iters = math.min(targetVocab - init, Int.MaxValue.toLong).toInt
    val spark = df.sparkSession
    import spark.implicits._
    val merges =
      if (iters <= 0)
        Seq.empty[(Int, String, String, Long)]
          .toDF("it", "pair_l", "pair_r", "cnt")
      else if (iters <= 1000) bpeTrainChars(df, textCol, iters, markEnd)
      // production depth: the exact chained loop, 1000 merges a segment
      else bpeTrainCharsChained(df, textCol, iters, markEnd)
    merges.withColumn("vocab_size", (lit(init) + col("it")).cast("long"))
  }

  /** [[bpeTrainChars]] over a DETERMINISTIC HASH SAMPLE of the corpus
    * (documents whose text hashes to 0 mod `sampleMod`) — the
    * production-depth training path: pair statistics concentrate (the
    * head of the word distribution dominates merge choice), so a 1/k
    * sample recovers almost the same merge table at 1/k the per-round
    * scan cost, and segmenting the FULL corpus with sample-trained
    * merges lands within a small token-count delta of full-corpus
    * training (RetrievalSpec pins the law). Hash sampling keeps the
    * subset stable across runs and engines — no RNG state. */
  def bpeTrainCharsSampled(
      df: DataFrame, textCol: String, iterations: Int, sampleMod: Int,
      markEnd: Boolean = false): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1 (got $sampleMod)")
    bpeTrainChars(
      df.where(pmod(xxhash64(col(textCol)), lit(sampleMod)) === 0),
      textCol, iterations, markEnd)
  }

  /** Apply a char-level merge table per word: each word re-encodes to
    * char symbols (plus the `</w>` marker when trained with one), the
    * merges fold over it, and the per-word symbol arrays flatten back to
    * one array per row — all inside ONE map-side projection (the merge
    * replaces run inside the `transform` lambda; no explode/regroup
    * shuffle). Returns (idCol, symbols, n_symbols). */
  def bpeSegmentChars(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], markEnd: Boolean = false): DataFrame = {
    val perWord = (w: Column) => {
      val applied = merges.foldLeft(bpeEncodeChars(w, markEnd)) {
        case (e, (l, r)) =>
          replace(e, lit(US + l + US + US + r + US), lit(US + l + RS + r + US))
      }
      bpeSymbols(applied)
    }
    df.select(col(idCol),
        flatten(transform(tokens(col(textCol)), perWord)).as("symbols"))
      .withColumn("n_symbols", size(col("symbols")).cast("long"))
  }

  /** End-of-word marker symbol for the char-level variant. */
  val BpeEndOfWord = "</w>"

  /** Word -> enclosed char symbols: each character framed like a symbol;
    * `markEnd` appends the [[BpeEndOfWord]] marker as a final symbol. */
  private def bpeEncodeChars(word: Column, markEnd: Boolean = false): Column = {
    val chars = transform(sequence(lit(1), length(word)),
      i => word.substr(i, lit(1)))
    val syms = if (markEnd) concat(chars, array(lit(BpeEndOfWord))) else chars
    concat(lit(US), array_join(syms, US + US), lit(US))
  }

  /** Batched BPE: up to `mergesPerRound` merges per pair-count pass —
    * the production-depth lever (a 30k-merge vocabulary at one merge per
    * corpus pass is 30k passes; at m per pass it is 30k/m). Within a
    * round the accepted pairs are SYMBOL-DISJOINT (greedy scan of the
    * count-ordered pair list, skipping any pair sharing a symbol with an
    * earlier acceptance), which makes the m merge applications
    * independent — no instance of one pattern overlaps another — so one
    * round of m merges equals m sequential merges whenever those m pairs
    * would have been chosen anyway; the standard batching approximation
    * otherwise. The greedy scan streams the GLOBALLY ordered pair list
    * (toLocalIterator pulls partitions in order and stops at m
    * acceptances), so the selection is exact, not truncated-candidate.
    * Returns (round, rank, pair_l, pair_r, cnt); `bpeTrain*`'s framing
    * and tie-break rules apply. */
  def bpeTrainBatched(
      df: DataFrame, textCol: String, rounds: Int, mergesPerRound: Int,
      charLevel: Boolean = false): DataFrame = {
    require(rounds >= 1 && rounds <= 1000 && mergesPerRound >= 1,
      s"need rounds in [1,1000], mergesPerRound >= 1")
    val spark = df.sparkSession
    val enc0 =
      if (charLevel)
        df.select(explode(tokens(col(textCol))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("wc"))
          .select(bpeEncodeChars(col("word")).as("enc"), col("wc"))
      else df.select(bpeEncode(col(textCol)).as("enc"), lit(1L).as("wc"))
    var enc = enc0.boundary()
    val out = scala.collection.mutable.ListBuffer.empty[(Int, Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val syms = enc.select(bpeSymbols(col("enc")).as("t"), col("wc"))
      val pairs = syms
        .where(size(col("t")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("pair_l"),
            element_at(col("t"), i + 1).as("pair_r")))).as("p"), col("wc"))
        .groupBy("p.pair_l", "p.pair_r")
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair_l").asc, col("pair_r").asc)
      val used = scala.collection.mutable.Set.empty[String]
      val accepted =
        scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
      val it = pairs.toLocalIterator()
      while (it.hasNext && accepted.size < mergesPerRound) {
        val row = it.next()
        val (l, r) = (row.getString(0), row.getString(1))
        if (!used(l) && !used(r)) {
          accepted += ((l, r, row.getLong(2)))
          used += l; used += r
        }
      }
      if (accepted.isEmpty) exhausted = true
      else {
        accepted.zipWithIndex.foreach { case ((l, r, c), k) =>
          out += ((round, k + 1, l, r, c))
        }
        val rewritten = accepted.foldLeft(col("enc")) { case (e, (l, r, _)) =>
          replace(e, lit(US + l + US + US + r + US),
            lit(US + l + RS + r + US))
        }
        enc = enc.select(rewritten.as("enc"), col("wc"))
          .boundary()
        round += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("round", "rank", "pair_l", "pair_r", "cnt")
  }

  /** Render an internal symbol for the tokenizer-standard wire format:
    * the U+001E join markers drop, leaving the plain concatenation (the
    * convention GPT-2-style `merges.txt` files use). */
  def bpeRender(symbol: String): String = symbol.replace(RS, "")

  /** Write a merge table ([[bpeTrain]]/[[bpeTrainChars]] rows, already
    * collected and ordered) as a standard `merges.txt`: a version header
    * then one space-separated rendered pair per line — consumable by the
    * wider tokenizer ecosystem. Symbols cannot contain spaces (the
    * tokenizers are whitespace/char based), so the format is unambiguous.
    */
  def bpeExportMerges(merges: Seq[(String, String)], path: String): Unit = {
    val lines = "#version: 0.2" +:
      merges.map { case (l, r) => s"${bpeRender(l)} ${bpeRender(r)}" }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Read a `merges.txt` back to an ordered rendered-pair list. */
  def bpeLoadMerges(path: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
      .asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.isEmpty)
      .map { l =>
        val sp = l.indexOf(' ')
        require(sp > 0 && sp < l.length - 1, s"malformed merges line: $l")
        (l.substring(0, sp), l.substring(sp + 1))
      }
  }

  /** Apply RENDERED merges (a loaded `merges.txt`) to a corpus: standard
    * BPE application semantics, where merging (a, b) yields the plain
    * concatenation `ab` — each merge is still one map-side literal
    * replace. The word-level twin of [[bpeSegment]] for interop with
    * externally-trained vocabularies. */
  def bpeSegmentRendered(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val enc = merges.foldLeft(bpeEncode(col(textCol))) { case (e, (l, r)) =>
      replace(e, lit(US + l + US + US + r + US), lit(US + l + r + US))
    }
    df.select(col(idCol), bpeSymbols(enc).as("symbols"))
      .withColumn("n_symbols", size(col("symbols")).cast("long"))
  }

  private def bpeMergeLoop(
      encWeighted: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 1000,
      s"iterations must be in [1, 1000] (got $iterations)")
    val spark = encWeighted.sparkSession
    import spark.implicits._
    val (_, merges) =
      bpeMergeSegment(encWeighted.boundary(), iterations, 1)
    merges.toDF("it", "pair_l", "pair_r", "cnt")
  }

  /** One resumable training segment: run up to `iterations` merges over
    * an already-encoded (and already-checkpointed) weighted dictionary,
    * numbering merges from `startIt`. Returns the REWRITTEN dictionary
    * (checkpointed, lineage-free — the complete training state, since
    * BPE's loop is Markov in the rewritten corpus) plus the accepted
    * merges, so a caller can chain segments to any depth: the returned
    * dictionary feeds the next call verbatim and training continues
    * exactly where it stopped. */
  private def bpeMergeSegment(
      enc0: DataFrame, iterations: Int, startIt: Int)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    var enc = enc0
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var it = startIt
    val endIt = startIt + iterations - 1
    var exhausted = false
    while (it <= endIt && !exhausted) {
      val syms = enc.select(bpeSymbols(col("enc")).as("t"), col("wc"))
      val pairs = syms
        .where(size(col("t")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("pair_l"),
            element_at(col("t"), i + 1).as("pair_r")))).as("p"), col("wc"))
        .select(col("p.pair_l"), col("p.pair_r"), col("wc"))
      val top = pairs.groupBy("pair_l", "pair_r")
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair_l").asc, col("pair_r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top.head.getString(0)
        val r = top.head.getString(1)
        merges += ((it, l, r, top.head.getLong(2)))
        enc = enc.select(replace(col("enc"),
            lit(US + l + US + US + r + US),
            lit(US + l + RS + r + US)).as("enc"), col("wc"))
          .boundary() // truncate the per-round lineage
        it += 1
      }
    }
    (enc, merges.toSeq)
  }

  /** Char-level BPE training to ANY depth — the production path past
    * the 1000-merge per-call bound: the sequential merge loop runs in
    * segments of `segmentSize` merges, and between segments the only
    * state that exists is the rewritten word dictionary (BPE is Markov
    * in the rewritten corpus: pair counts are a pure function of it),
    * already lineage-free via a per-round boundary. Chaining is
    * therefore EXACT — a 32k-vocab train is this driver loop, and its
    * merge table is identical to a hypothetical single unbounded run
    * (RetrievalSpec pins the law). Stops early when pairs exhaust.
    * Each merge is still one full pass over the |vocab|-row dictionary;
    * at real depth prefer [[bpeTrainCharsSampled]] to bound |vocab| and
    * [[bpeTrainBatched]] to amortize passes. */
  def bpeTrainCharsChained(
      df: DataFrame, textCol: String, iterations: Int,
      markEnd: Boolean = false, segmentSize: Int = 1000): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1 (got $iterations)")
    require(segmentSize >= 1 && segmentSize <= 1000,
      s"segmentSize must be in [1, 1000] (got $segmentSize)")
    val spark = df.sparkSession
    import spark.implicits._
    var enc = df.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .select(bpeEncodeChars(col("word"), markEnd).as("enc"), col("wc"))
      .boundary()
    val all = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var done = 0
    var exhausted = false
    while (done < iterations && !exhausted) {
      val n = math.min(segmentSize, iterations - done)
      val (enc2, ms) = bpeMergeSegment(enc, n, done + 1)
      all ++= ms
      exhausted = ms.size < n // segment came up short: pairs ran out
      enc = enc2
      done += ms.size
    }
    all.toSeq.toDF("it", "pair_l", "pair_r", "cnt")
  }

  /** Apply a learned merge table ([[bpeTrain]] rows, applied in `it`
    * order) to a corpus: each round is the same single literal replace,
    * map-side over every row — no shuffle at all. Returns
    * (idCol, symbols ARRAY<STRING>, n_symbols); merged symbols carry the
    * U+001E join marker. */
  def bpeSegment(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val enc = merges.foldLeft(bpeEncode(col(textCol))) { case (e, (l, r)) =>
      replace(e, lit(US + l + US + US + r + US), lit(US + l + RS + r + US))
    }
    df.select(col(idCol), bpeSymbols(enc).as("symbols"))
      .withColumn("n_symbols", size(col("symbols")).cast("long"))
  }

  // --- count-min sketch (bounded-memory term statistics) -----------------

  /** Count-min sketch of corpus term frequencies: `d` hash rows × `w`
    * buckets, the bounded-memory structure for heavy-hitter/frequency
    * queries when the exact term table is too large to keep. The sketch
    * is a (j, bucket, cnt) relation of at most d·w rows built by ONE
    * partial-aggregated shuffle over the exploded (token × row) stream;
    * hashes are the same engine-portable affine family the MinHash
    * signatures use, so the sketch is deterministic and engine-exact. */
  def cmsBuild(
      df: DataFrame, textCol: String, d: Int, w: Int): DataFrame = {
    val terms = df.select(
      explode(tokens(lower(col(textCol)))).as("term"))
    val h = rollingHash(col("term"))
    terms
      .select(h.as("h"),
        posexplode(sequence(lit(0), lit(d - 1))).as(Seq("pos", "j")))
      .select(col("j"),
        (((lit(131) * col("j") + 7) * col("h") + (lit(97) * col("j") + 3))
          % HashMod % w).as("bucket"))
      .groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Merge two CMS sketches built with the SAME (d, w): cell-wise sum —
    * the property that makes the sketch maintainable incrementally (per
    * batch / per shard / per day) and foldable on a stream. Exact:
    * build(A ∪ B) == merge(build(A), build(B)) cell-for-cell, because
    * building is itself a sum over occurrences. */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("j", "bucket").agg(sum(col("cnt")).as("cnt"))

  /** Point-query the sketch for each term in `terms`: the estimate is the
    * MIN over the d hashed cells — classic CMS, one-sided error (estimate
    * ≥ true count, overshoot only from bucket collisions). The sketch is
    * at most d·w rows and BROADCASTS into the probe; output is
    * (term, est) with est exact-integer and engine-portable. */
  def cmsEstimate(
      sketch: DataFrame, terms: DataFrame, termCol: String,
      d: Int, w: Int): DataFrame = {
    val h = rollingHash(col(termCol))
    terms
      .select(col(termCol), h.as("h"),
        posexplode(sequence(lit(0), lit(d - 1))).as(Seq("pos", "j")))
      .select(col(termCol), col("j"),
        (((lit(131) * col("j") + 7) * col("h") + (lit(97) * col("j") + 3))
          % HashMod % w).as("bucket"))
      .join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(termCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Tokenizer-vocabulary coverage: build the top-`vocabSize` term
    * vocabulary by corpus frequency (ties on term asc) and report each
    * document's out-of-vocabulary token count and ratio — the standard
    * pre-tokenizer-training analysis for sizing a vocab and catching
    * domains a fixed vocab would shred into bytes.
    *
    * Scale shape: term counting is one partial-aggregated shuffle; the
    * top-k cut is a TakeOrdered-sized slice of the term table (vocabSize
    * rows) that BROADCASTS into the per-doc probe, so the corpus is
    * re-touched exactly once; the OOV ratio is a plain integer division
    * (no float-tie trap).
    *
    * Returns (idCol, n_tokens, n_oov, oov_ratio). */
  def vocabCoverage(
      df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val terms = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
    // orderBy+limit plans as TakeOrderedAndProject: per-partition partial
    // top-k, never the single-partition global-window sort
    val vocab = terms.groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term").asc)
      .limit(vocabSize)
      .select("term")
    terms
      .join(broadcast(vocab.withColumn("in_vocab", lit(1L))), Seq("term"),
        "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ratio",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  // --- char-n-gram NB language identification (fastText-style) -----------

  /** Character n-gram view of a text for language identification:
    * lowercase, whitespace runs folded to '_' (token boundaries become
    * features — the fastText convention), then every n-char window
    * joined by single spaces, so the word-level NB machinery's
    * whitespace tokenizer recovers exactly the gram stream. Texts
    * shorter than n chars produce no grams (empty string). Pure column
    * expressions — codegen'd, no UDF. */
  def charGramText(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    val g = regexp_replace(lower(text), "\\s+", "_")
    when(length(g) < n, lit(""))
      .otherwise(array_join(transform(
        sequence(lit(1), length(g) - (n - 1)),
        i => g.substr(i, lit(n))), " "))
  }

  /** Train a char-n-gram NB language identifier — the documented
    * in-engine stand-in for a fastText-style langid model (same feature
    * space: char n-grams over lowercased text with boundary markers;
    * same scoring shape: a linear model per language). Built on
    * [[nbTrain]], so the model is two exact count relations, mergeable
    * via [[nbMerge]]: per-batch deltas fold into the serving model
    * without retraining. Where the quality funnel's profile-hit
    * [[langId]] can only score languages with curated stopword lists
    * (and answers "und" for every other script), this path learns any
    * script the charset decode now makes readable — Cyrillic, CJK —
    * from labeled examples. */
  def langIdNbTrain(labeled: DataFrame, textCol: String, labelCol: String,
      n: Int = 3): (DataFrame, DataFrame) =
    nbTrain(labeled.withColumn("_grams", charGramText(col(textCol), n)),
      "_grams", labelCol)

  /** Argmax language prediction under a [[langIdNbTrain]] model:
    * (idCol, pred, score). `n` must match training. */
  def langIdNbPredict(df: DataFrame, idCol: String, textCol: String,
      model: (DataFrame, DataFrame), n: Int = 3,
      vocab: Long = 65536L): DataFrame =
    nbPredict(df.withColumn("_grams", charGramText(col(textCol), n)),
      idCol, "_grams", model._1, model._2, vocab)

  // --- multinomial Naive Bayes (fastText-style quality/domain filter) ----

  /** Train a multinomial Naive Bayes text classifier — the relational
    * analog of the linear fastText/CCNet classifiers used to score
    * training-data quality and domain membership at corpus scale.
    *
    * Returns (tokenCounts (label, term, c), classStats (label, n_docs,
    * tot)) — all exact integer counts from two partial-aggregated groupBys
    * over one exploded token pass, so the model is deterministic and
    * engine-portable. At 100 TB the token-count table is vocab×labels and
    * stays distributed, joined by key at scoring time (AQE broadcasts it
    * when it is small); classStats is |labels| rows, always broadcast. */
  def nbTrain(labeled: DataFrame, textCol: String, labelCol: String)
      : (DataFrame, DataFrame) = {
    // both model relations are materialized: scoring consumes tokenCounts
    // twice (per-term log-probs + classStats' token totals) and classStats
    // three times (priors, smoothing denominators, n_total), and without
    // the boundaries every consumer re-executes the training tokenize +
    // count subtree (guide §3.3). The model is exactly what a serving
    // system would persist anyway — vocab×labels and |labels| rows.
    val terms = labeled.select(
      col(labelCol).as("label"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tokenCounts =
      terms.groupBy("label", "term").agg(count(lit(1)).as("c"))
        .boundary()
    val classStats = labeled
      .groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
      .join(tokenCounts.groupBy("label").agg(sum(col("c")).as("tot")),
        "label")
      .boundary()
    (tokenCounts, classStats)
  }

  /** Merge two Naive Bayes models from [[nbTrain]]: both parts are exact
    * count relations, so the merge is a cell-wise sum — train(A ∪ B) ==
    * merge(train(A), train(B)) exactly. This is what makes the classifier
    * maintainable incrementally: per-batch deltas fold into the serving
    * model without retraining ([[cmsMerge]]'s shape). */
  def nbMerge(
      a: (DataFrame, DataFrame), b: (DataFrame, DataFrame))
      : (DataFrame, DataFrame) = (
    a._1.unionByName(b._1)
      .groupBy("label", "term").agg(sum(col("c")).as("c")),
    a._2.unionByName(b._2)
      .groupBy("label")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot")).as("tot")),
  )

  /** Score and argmax-classify documents under an add-one-smoothed
    * multinomial NB model from [[nbTrain]]; `vocab` is the smoothing
    * denominator mass ([[lmScore]]'s convention).
    *
    * Determinism: class priors and per-(label, term) log-probs are
    * quantized to integer micro-nats BEFORE any aggregation, and the
    * per-doc score is an integer dot product (tf × lp) summed exactly —
    * shuffle order cannot perturb it; argmax ties break on label asc.
    *
    * Scale shape: per-doc term counting is one (id, term) shuffle with
    * map-side combine; candidate scoring expands each doc term by the
    * (tiny, broadcast) label set and LEFT-joins the distributed model by
    * (term, label) with an unseen-token fallback; the only remaining
    * shuffle is the (id, label) partial-aggregated sum. No driver-side
    * model materialization.
    *
    * Returns one row per doc: (idCol, pred, score) where score is the
    * winning log-likelihood in nats, rounded to 4 places. */
  def nbPredict(
      df: DataFrame, idCol: String, textCol: String,
      tokenCounts: DataFrame, classStats: DataFrame,
      vocab: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
      .orderBy(col("score_micro").desc, col("label").asc)
    nbClassScores(df, idCol, textCol, tokenCounts, classStats, vocab)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      // full micro precision, NOT round(…, 4): a micro sum ending in …50
      // puts the 4-place round exactly on a half-way tie, where Spark
      // (shortest-decimal HALF_UP) and other engines (binary-value round)
      // legitimately disagree; the raw integer/1e6 division is the same
      // IEEE op on the same inputs everywhere
      .select(col(idCol), col("label").as("pred"),
        (col("score_micro").cast("double") / 1e6).as("score"))
  }

  /** The full per-(doc, label) NB log-likelihood table behind
    * [[nbPredict]] — one row per document and class with the integer
    * micro-nat score. This is what threshold sweeps, calibration, and
    * [[rocAuc]] consume: a one-vs-rest evaluation reads a single label's
    * scores instead of only the argmax. */
  def nbClassScores(
      df: DataFrame, idCol: String, textCol: String,
      tokenCounts: DataFrame, classStats: DataFrame,
      vocab: Long): DataFrame = {
    val nTotal = classStats.agg(sum(col("n_docs")).as("n_total"))
    val labels = classStats
      .crossJoin(broadcast(nTotal))
      .select(col("label"), col("tot"),
        round(log(col("n_docs").cast("double") /
          col("n_total").cast("double")) * 1e6).cast("long")
          .as("prior_micro"),
        round(log(lit(1.0) / (col("tot").cast("double") + vocab.toDouble))
          * 1e6).cast("long").as("lp0_micro"))
    // per-(label, term) smoothed log-prob; tot rides in via classStats
    val lpWithTot = tokenCounts
      .join(broadcast(classStats.select("label", "tot")), "label")
      .select(col("label"), col("term"),
        round(log((col("c").cast("double") + 1.0) /
          (col("tot").cast("double") + vocab.toDouble)) * 1e6).cast("long")
          .as("lp_micro"))
    val docTf = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    docTf
      .crossJoin(broadcast(labels.select("label", "prior_micro", "lp0_micro")))
      .join(lpWithTot, Seq("term", "label"), "left")
      .select(col(idCol), col("label"), col("prior_micro"),
        (col("tf") * coalesce(col("lp_micro"), col("lp0_micro")))
          .as("term_micro"))
      .groupBy(idCol, "label")
      .agg(first(col("prior_micro")).as("prior_micro"),
        sum(col("term_micro")).as("terms_micro"))
      .withColumn("score_micro", col("prior_micro") + col("terms_micro"))
      .select(col(idCol), col("label"), col("score_micro"))
  }

  /** Exact ROC-AUC of an integer-scored binary classifier, by the
    * rank-sum (Mann–Whitney) identity with full tie handling — the
    * threshold-free quality number a filter pipeline reports next to the
    * confusion matrix.
    *
    * Scale shape: never ranks individual rows. Scores collapse to a
    * HISTOGRAM first (one hash shuffle on the score), the running
    * negative count comes from [[Curate.rangedCumsum]] — a
    * range-partitioned distributed cumsum, never a single-partition
    * global window even when the histogram stays row-sized (micro-nat NB
    * scores are near-unique) — and the AUC folds out of one aggregation:
    * sum over score groups of np * (2 * cum_nn_below + nn) = 2 * U.
    * Ties contribute nn/2 each, exactly as integer arithmetic in `u2`.
    *
    * `posCol` must be boolean; `scoreCol` integral (micro-quantized
    * scores — [[nbClassScores]]'s output — keep ties engine-exact).
    *
    * Returns one row: (n_pos, n_neg, u2, auc) with auc = u2/(2*np*nn). */
  def rocAuc(scored: DataFrame, scoreCol: String, posCol: String): DataFrame = {
    // checkpoint the histogram (<= #distinct scores rows): the cumsum
    // below fans out to two consumers, and without a boundary each would
    // re-execute the whole scoring DAG that produced `scored`.
    val hist = scored
      .groupBy(col(scoreCol).as("s"))
      .agg(
        sum(when(col(posCol), 1L).otherwise(0L)).as("np"),
        sum(when(col(posCol), 0L).otherwise(1L)).as("nn"))
      .boundary()
    Curate.rangedCumsum(hist, Seq(col("s").asc), col("nn"), "_cum_nn")
      .withColumn("cum_nn", col("_cum_nn") - col("nn"))
      .agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("cum_nn") + col("nn"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        (col("u2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"))
  }

  /** Calibration table of an integer-scored binary classifier: rows are
    * ranked by (score, id), cut into `bins` equal-population bins, and
    * each bin reports how many of its members are actually positive —
    * the reliability-diagram data a filter pipeline reads next to
    * [[rocAuc]] before picking a threshold.
    *
    * Scale shape: the rank is [[Curate.rangedCumsum]] (range-partitioned,
    * no single-task window); the bin id is floor(rank0 * bins / N) —
    * integer-valued arithmetic both engines replay — and the rest is one
    * grouped aggregation over `bins` rows.
    *
    * Returns (bin, n, n_pos, sum_score_micro, pos_rate), bin ascending
    * in score. */
  def calibrationBins(
      scored: DataFrame, idCol: String, scoreCol: String, posCol: String,
      bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive (got $bins)")
    // the scored relation feeds both the total-count scalar and the rank
    // cumsum; checkpoint the (narrow) rows so the scoring DAG that
    // produced them runs once, not once per consumer
    val s = scored.boundary()
    val n = s.agg(count(lit(1)).as("_n"))
    Curate.rangedCumsum(
        s, Seq(col(scoreCol).asc, col(idCol).asc), lit(1L), "_rank")
      .crossJoin(broadcast(n))
      .withColumn("bin",
        floor((col("_rank") - 1) * bins / col("_n")).cast("long"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col(posCol), 1L).otherwise(0L)).as("n_pos"),
        sum(col(scoreCol)).as("sum_score_micro"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
  }

  /** Top-k characteristic terms per document by tf-idf — the classic
    * keyword/topic signal used for corpus exploration and cluster labeling
    * in training-data pipelines. tf is the raw in-doc term count; idf is
    * the smoothed ln((N+1)/(df+1)) quantized to micro-units BEFORE the
    * multiply ([[lmScore]]'s convention: both engines round the log to
    * 1e-6 first, so cross-engine libm drift in the last ulp can never
    * reach the compared value).
    *
    * Scale shape: term counting is one hash shuffle on (doc, term) with
    * map-side combine; document frequency is one shuffle on term over the
    * per-doc-distinct terms; N is a scalar broadcast; top-k is a window
    * over the doc partition — everything pre-aggregates before it moves.
    *
    * Returns (idCol, term, tf, df, tfidf) with k rows per doc, ordered
    * ties broken by term. */
  def tfIdfTopTerms(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val terms = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
    // tf feeds the df aggregation AND the scoring join: materialized so
    // the tokenize + (doc, term) count runs once (guide §3.3)
    val tf = terms.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .boundary()
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // corpus size as a broadcast one-row join, not an eager count: the
    // whole operator stays one Catalyst plan (no driver-side scan). Stays
    // computed from df (id column only — pruned scan), NOT from tf: a
    // zero-token document still counts in N.
    val nDocs = df.select(countDistinct(col(idCol)).as("n_docs"))
    val idfMicro = round(
      log((col("n_docs").cast("double") + 1d) /
        (col("df").cast("double") + 1d)) * 1e6).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("term").asc)
    tf.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(
        col("tf").cast("double") * idfMicro.cast("double") / 1e6, 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"))
  }
}
