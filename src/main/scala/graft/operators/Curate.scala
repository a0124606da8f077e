package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.BlockScope.Boundary

/** Corpus-curation operators for large-scale training-data pipelines:
  * benchmark decontamination, PII redaction, repetition-based quality
  * signals (Gopher-style), and deterministic mixture sampling / split
  * assignment. Like the rest of the operator family these are built from
  * codegen'd built-ins + the compiled shingle/hash kernels — no UDFs — and
  * all randomness is a deterministic content hash, so every operator has a
  * relational oracle and re-runs are reproducible across engines.
  */
object Curate {

  // --- benchmark decontamination -------------------------------------------

  /** Per-document n-gram overlap against a benchmark/eval set — the
    * standard training-corpus decontamination check (flag a training doc
    * whose shingle overlap with the eval set is high enough that the
    * benchmark leaks into training).
    *
    * Scale shape: the benchmark side is tiny next to the corpus (10⁴–10⁶
    * distinct n-grams vs 10¹²), so its distinct shingle-hash set BROADCASTS
    * and corpus shingles probe it map-side; the only shuffle is the per-doc
    * count aggregation on (doc_id), and raw text never moves past the
    * shingle projection. No self-join anywhere.
    *
    * Output: (doc_id, n_shingles, n_hits, overlap_frac) for every corpus
    * doc that produced at least one shingle.
    */
  def ngramOverlap(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    // shingleHashes clusters by doc_id, so the per-doc dedup, the
    // broadcast-join probe AND the per-doc overlap aggregation all ride
    // ONE exchange of 8-byte hashes (previously: a (doc_id, string)
    // distinct exchange plus a second doc_id exchange for the counts)
    val cs = Dedup.shingleHashes(corpus, idCol, textCol, n)
    val bs = Dedup.shingleHashes(bench, idCol, textCol, n)
      .select("sh_hash").distinct()
    cs.join(broadcast(bs.withColumn("hit", lit(1L))), Seq("sh_hash"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("overlap_frac",
        col("n_hits").cast("double") / col("n_shingles").cast("double"))
  }

  /** Bloom-filter decontamination — the constant-memory scale path for
    * [[ngramOverlap]] when even the benchmark's distinct shingle set is too
    * large to broadcast as an exact table. The eval-set shingles fold into
    * `bits` bloom positions under `nHash` independent affine hash functions
    * (the same engine-portable family the MinHash signatures use); a corpus
    * shingle is flagged iff ALL its positions are set. One-sided error by
    * construction: `n_flagged >= n_exact` always (no false negatives), and
    * the gate surfaces both counts so the false-positive rate is visible.
    *
    * Scale shape: the bloom set is at most `bits` rows (a bitmap in
    * disguise — kept relational so the probe stays a broadcast hash join
    * Catalyst can see through), corpus probes are map-side, and the only
    * wide exchanges are the per-doc count aggregations.
    *
    * Output: (doc_id, n_shingles, n_flagged, n_exact) per corpus doc. */
  def bloomContaminated(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bits: Int = 4096,
      nHash: Int = 3): DataFrame = {
    // cs feeds THREE consumers (bloom-probe leg, exact leg, n_shingles
    // totals) and bs two (position set, exact semi-join): materialize each
    // slim (id, hash) relation once or the tokenize + shingle explode +
    // distinct subtree re-executes per consumer (guide §3.3 — Spark has no
    // automatic common-subtree reuse across DataFrame fan-out)
    val cs = Dedup.shingleHashes(corpus, idCol, textCol, n)
      .boundary()
    val bs = Dedup.shingleHashes(bench, idCol, textCol, n)
      .select("sh_hash").distinct().boundary()
    def posOf(j: Int): Column =
      pmod(col("sh_hash") * (131L * j + 7L) + (97L * j + 3L),
        lit(1000000007L)) % bits
    val allPos = array((0 until nHash).map(posOf): _*)
    val bloom = bs.select(explode(allPos).as("bp")).distinct()
    val flagged = cs
      .select(col("doc_id"), col("sh_hash"),
        posexplode(allPos).as(Seq("j", "bp")))
      .join(broadcast(bloom), Seq("bp"))
      .groupBy("doc_id", "sh_hash")
      .agg(countDistinct(col("j")).as("n_set"))
      .filter(col("n_set") === nHash)
      .groupBy("doc_id").agg(count(lit(1)).as("n_flagged"))
    val exact = cs
      .join(broadcast(bs), Seq("sh_hash"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
    cs.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(flagged, Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
  }

  /** DSIR-style importance scoring + selection (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): hashed
    * unigram features, add-one-smoothed target-vs-raw log-likelihood
    * ratio per feature, per-document score = sum of its tokens' ratios,
    * and the top-`topK` docs by score flagged as selected. Log weights
    * quantize to micro-units BEFORE the per-doc sum, so the doc scores
    * are integer sums — shuffle-order-independent and engine-portable
    * (the [[TextAnalysis.tfIdfTopTerms]] determinism trick; a float sum
    * would depend on reduction order).
    *
    * Scale shape: count aggregations shuffle 8-byte feature ids; the
    * weight table is at most `buckets` rows and BROADCASTS into the
    * per-doc probe; selection is a TakeOrdered top-k, never a global
    * sort. Output: (doc_id, n_tokens, score_micro, selected).
    */
  def dsirSelect(
      corpus: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 8192,
      topK: Int = 100): DataFrame = {
    def feats(df: DataFrame) = df
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"),
        (TextAnalysis.rollingHash(col("tok")) % buckets).as("f"))
    // one tokenize pass per side: everything else derives from the
    // checkpointed per-(doc, feature) counts — without the boundary the
    // corpus explode ran three times (rc, nr, dc) and the target's twice
    val dc = feats(corpus).groupBy("doc_id", "f")
      .agg(count(lit(1)).as("cnt")).boundary()
    val tcd = feats(target).groupBy("f")
      .agg(count(lit(1)).as("tc")).boundary()
    val rc = dc.groupBy("f").agg(sum(col("cnt")).as("rc"))
    val nr = dc.groupBy().agg(sum(col("cnt")).as("nr"))
    val nt = tcd.groupBy().agg(sum(col("tc")).as("nt"))
    val b = lit(buckets).cast("double")
    val w = rc.join(tcd, Seq("f"), "left")
      .crossJoin(broadcast(nr)).crossJoin(broadcast(nt))
      .select(col("f"),
        round((log((coalesce(col("tc"), lit(0L)) + lit(1.0)) / (col("nt") + b)) -
               log((col("rc") + lit(1.0)) / (col("nr") + b))) * lit(1000000.0), 0)
          .cast("long").as("w_micro"))
    val scored = dc.join(broadcast(w), Seq("f"))
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("w_micro")).as("score_micro"),
        sum(col("cnt")).as("n_tokens"))
    val top = scored.orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(topK).select(col("doc_id").as("sel_id"))
    scored.join(top, scored("doc_id") === top("sel_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("score_micro"),
        col("sel_id").isNotNull.as("selected"))
  }

  /** The contaminated subset at `minFrac` overlap. */
  def contaminated(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minFrac: Double = 0.5): DataFrame =
    ngramOverlap(corpus, bench, idCol, textCol, n)
      .filter(col("overlap_frac") >= minFrac)

  // --- text normalization --------------------------------------------------

  /** CCNet-style text normalization for robust dedup keys: lowercase,
    * strip everything outside [a-z0-9\\s], collapse whitespace runs to one
    * space, trim. Pure codegen'd map work (lower + two regexp_replace +
    * trim), engine-portable (the classes behave identically under Java
    * regex and RE2/DuckDB). Normalize BEFORE hashing so case/punctuation/
    * spacing variants of the same content collide. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", ""),
      "\\s+", " "))

  // --- PII redaction -------------------------------------------------------

  /** (name, pattern, replacement) applied in order. Patterns restrict to
    * regex constructs with identical semantics under Java regex and RE2
    * (character classes, bounded quantifiers, \b) so the DuckDB oracle
    * matches byte-for-byte. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b", "[PHONE]"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "[IP]"),
  )

  /** Redact PII in `textCol`: per-category match counts (on the original
    * text) plus the scrubbed text with each match replaced by its category
    * token. Pure map-side work — every function is codegen'd, nothing
    * shuffles. */
  def piiScrub(df: DataFrame, textCol: String): DataFrame = {
    val counted = piiPatterns.foldLeft(df) { case (acc, (name, pat, _)) =>
      acc.withColumn(s"n_$name",
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long"))
    }
    val clean = piiPatterns.foldLeft(col(textCol)) {
      case (acc, (_, pat, rep)) => regexp_replace(acc, pat, rep)
    }
    counted.withColumn("clean", clean)
  }

  // --- repetition / quality signals (Gopher-style) -------------------------

  /** Repetition quality signals per document, in the spirit of the Gopher
    * rules (repeated lines, ellipsis lines, dominant n-gram):
    *
    *   - n_lines, dup_line_frac: fraction of lines that are copies of
    *     another line in the same doc (sum of counts over duplicated line
    *     groups / total lines);
    *   - ellipsis_line_frac: fraction of lines ending in "...";
    *   - top_bigram_frac: occurrences of the most frequent word bigram /
    *     total bigram occurrences (null when a doc has no bigram).
    *
    * Both signals are per-doc aggregations over exploded (line / bigram)
    * rows — full map-side partial aggregation, shuffling only (doc_id, key)
    * counts, never the text.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lineAgg = df
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n")).as("line"))
      .groupBy("doc_id", "line")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_lines"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup"),
        sum(when(col("line").endsWith("..."), col("c")).otherwise(0L))
          .as("n_ellipsis"))
    val bigramAgg = df
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.vectors.word_shingles(col(textCol), 2)).as("bg"))
      .groupBy("doc_id", "bg")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), max("c").as("top_bigram"))
    lineAgg
      .join(bigramAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        (col("n_dup").cast("double") / col("n_lines").cast("double"))
          .as("dup_line_frac"),
        (col("n_ellipsis").cast("double") / col("n_lines").cast("double"))
          .as("ellipsis_line_frac"),
        (col("top_bigram").cast("double") / col("n_bigrams").cast("double"))
          .as("top_bigram_frac"))
  }

  // --- quality-filter funnel -----------------------------------------------

  /** One named keep-predicate of a filter funnel. */
  final case class FilterStage(name: String, keep: Column)

  /** Apply a sequence of quality filters and account for every drop: each
    * row is tagged with the FIRST stage that rejects it (or "kept"). A real
    * pipeline never silently discards — the per-stage counts are the
    * audit trail ("funnel report") operators like CCNet/Gopher publish.
    * One pass, no shuffle: the verdict is a single chained conditional.
    */
  def filterFunnel(df: DataFrame, stages: Seq[FilterStage]): DataFrame = {
    val verdict = stages.foldRight(lit("kept"): Column) { (s, acc) =>
      when(!coalesce(s.keep, lit(false)), s.name).otherwise(acc)
    }
    df.withColumn("verdict", verdict)
  }

  /** The funnel report: rows per verdict (stage names + "kept"). */
  def funnelReport(tagged: DataFrame): DataFrame =
    tagged.groupBy("verdict").agg(count(lit(1)).as("n"))

  // --- deterministic sampling ----------------------------------------------

  /** Stable per-row sampling bucket in [0, denom): the polynomial content
    * hash of the id, reduced mod `denom`. Purely map-side and engine-
    * portable (TextAnalysis.rollingHash has a DuckDB twin). */
  def hashBucket(id: Column, denom: Long): Column =
    pmod(TextAnalysis.rollingHash(id.cast("string")), lit(denom))

  /** Deterministic stratified sampling to a target mixture: keep a row when
    * its hash bucket clears the stratum's rate — the standard
    * domain/language re-weighting step of a training-data pipeline,
    * without RNG state (re-runs and engines agree row-for-row; adding data
    * never flips the decision of an existing row). Strata absent from
    * `rates` are dropped. One filter, no shuffle. */
  def mixtureSample(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      rates: Map[String, Double],
      denom: Long = 10000L): DataFrame = {
    val threshold = rates.foldLeft(lit(0L)) { case (acc, (k, r)) =>
      when(col(strataCol) === k, lit(math.round(r * denom))).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), denom) < threshold)
  }

  /** Sequence packing for pretraining batches: concatenate documents into a
    * token stream and chop it at `budget`-token boundaries; each doc is
    * assigned the sequence where it STARTS (the GPT-style contiguous-fill
    * model — no bin-packing search, deterministic).
    *
    * Scale shape: a single global stream needs a total order — a
    * one-partition window. Real pipelines pack WITHIN shards instead
    * (training order is irrelevant, so mixing docs per shard is free), and
    * so does this operator: the running offset is a window partitioned by
    * the id-hash shard, embarrassingly parallel across `shards`.
    *
    * Output adds: shard, tok_offset (tokens before this doc in its shard's
    * stream), seq_id (= (shard << 40) | tok_offset/budget — 2^40 sequences
    * per shard before any collision, i.e. ~4.5e15 tokens per shard at a
    * 4096 budget; a 1e6 stride collides at the 100 TB regime).
    */
  val SeqIdShardBits = 40

  def packSequences(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      budget: Long,
      shards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col(idCol).asc)
      .rowsBetween(Long.MinValue, -1)
    df.withColumn("shard", hashBucket(col(idCol), shards))
      .withColumn("tok_offset", coalesce(sum(col(tokenCol)).over(w), lit(0L)))
      .withColumn("seq_id",
        shiftleft(col("shard"), SeqIdShardBits).cast("long") +
          floor(col("tok_offset") / lit(budget)).cast("long"))
  }

  /** Span-splitting view of [[packSequences]]: one row per (sequence, doc
    * fragment), materializing how each doc's tokens distribute over the
    * chopped sequences — docs crossing a boundary split into one span per
    * sequence (what a loader needs to assemble fixed-length training rows).
    * Input is packSequences' output (same idCol/tokenCol); zero-token docs
    * occupy no span.
    * Output: (shard, seq_id, idCol, doc_tok_start, span_len).
    */
  def packSpans(
      packed: DataFrame,
      budget: Long,
      idCol: String = "doc_id",
      tokenCol: String = "n_tokens"): DataFrame =
    packed
      .filter(col(tokenCol) > 0)
      .withColumn("first_seq",
        floor(col("tok_offset") / lit(budget)).cast("long"))
      .withColumn("last_seq",
        floor((col("tok_offset") + col(tokenCol) - 1) / lit(budget))
          .cast("long"))
      .withColumn("sq", explode(sequence(col("first_seq"), col("last_seq"))))
      .withColumn("span_start",
        greatest(col("tok_offset"), col("sq") * budget))
      .withColumn("span_end",
        least(col("tok_offset") + col(tokenCol), (col("sq") + 1) * budget))
      .select(col("shard"),
        (shiftleft(col("shard"), SeqIdShardBits).cast("long") + col("sq"))
          .as("seq_id"),
        col(idCol),
        (col("span_start") - col("tok_offset")).as("doc_tok_start"),
        (col("span_end") - col("span_start")).as("span_len"))

  /** Content-defined chunking (CDC): chunk boundaries fall where the
    * rolling hash of the local 3-token context lands on 0 mod `mask` —
    * boundaries are a pure function of CONTENT, not position, so an edit
    * early in a document leaves every chunk outside the edit's 3-token
    * neighborhood byte-identical (the property fixed-stride chunking
    * lacks, and the basis of chunk-level dedup across near-identical
    * documents; CurateSpec plants the edit and watches the chunks
    * survive). Expected chunk length is `mask` tokens.
    *
    * Shape: posexplode -> per-token boundary flag (compiled hash kernel +
    * mix32, no UDF) -> running boundary count per document (a window
    * PARTITIONED by doc, bounded by document length) -> one grouped
    * aggregation; chunk text reassembles order-exactly via
    * array_sort(collect_list(struct(pos, tok))), never relying on
    * collect_list order.
    *
    * Output: (idCol, chunk_idx, n_tokens, chunk_text, chunk_hash) with
    * 0-based chunk_idx and chunk_hash = rolling hash of chunk_text. */
  def cdcChunks(
      df: DataFrame, idCol: String, textCol: String,
      mask: Long = 16L): DataFrame = {
    require(mask > 0, s"mask must be positive (got $mask)")
    // exploded rows carry ONLY (id, p, tok): the trigram context comes
    // from lag() over the same per-doc window the chunk assignment needs
    // anyway, so each document contributes O(tokens) bytes to the
    // exchange — retaining the token array per exploded row would be
    // O(tokens^2) and dominate the shuffle at corpus scale
    val ex = df
      .select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("p", "tok")))
    val wRow = Window.partitionBy(idCol).orderBy("p")
    val tri = when(col("p") >= 2,
      concat_ws(" ",
        lag(col("tok"), 2).over(wRow), lag(col("tok"), 1).over(wRow),
        col("tok")))
    val bflag = (col("p") >= 2 &&
      pmod(TextAnalysis.mix32(TextAnalysis.rollingHash(tri)), lit(mask))
        === 0).cast("long")
    val w = wRow.rowsBetween(Window.unboundedPreceding, -1)
    ex.withColumn("_b", bflag)
      .withColumn("chunk_idx", coalesce(sum(col("_b")).over(w), lit(0L)))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(
        count(lit(1)).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("p"), col("tok")))),
            x => x.getField("tok")),
          " ").as("chunk_text"))
      .withColumn("chunk_hash", TextAnalysis.rollingHash(col("chunk_text")))
  }

  /** Sliding-window document chunking — the embedding/retrieval pipeline
    * shape ([[packSpans]] chops a contiguous token STREAM at exact budget
    * boundaries with no overlap; here each document chunks independently
    * into `window`-token pieces every `stride` tokens, so consecutive
    * chunks overlap by window−stride and no token is more than one chunk
    * from a chunk boundary). Chunk count is 1 + ceil(max(n−window,0)/
    * stride); the last chunk clips at the document end. Pure map-side
    * work — one projection, no shuffle, no UDF.
    *
    * Output: (doc_id, chunk_id, tok_start, chunk_len, chunk_text) with
    * 1-based chunk ids and token offsets. */
  def chunkSliding(
      df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(stride > 0 && stride <= window,
      s"chunkSliding: need 0 < stride <= window, got $stride/$window")
    val toks = TextAnalysis.tokens(col(textCol))
    df.select(col(idCol).as("doc_id"), toks.as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("k",
        (lit(1) + floor((greatest(col("n") - window, lit(0)) + stride - 1)
          / lit(stride))).cast("int"))
      .select(col("doc_id"), col("n"),
        posexplode(transform(sequence(lit(0), col("k") - 1), i =>
          struct((i * stride + 1).cast("long").as("tok_start"),
            array_join(
              slice(col("toks"), (i * stride + 1).cast("int"), lit(window)),
              " ").as("chunk_text")))).as(Seq("pos", "c")))
      .select(col("doc_id"),
        (col("pos") + 1).cast("long").as("chunk_id"),
        col("c.tok_start").as("tok_start"),
        least(lit(window.toLong), col("n") - col("c.tok_start") + 1)
          .cast("long").as("chunk_len"),
        col("c.chunk_text").as("chunk_text"))
  }

  /** Best-fit-decreasing sequence packing — the padding-sensitive variant
    * of [[packSequences]]: instead of chopping a contiguous stream (which
    * splits documents at sequence boundaries), each document is placed
    * WHOLE into the open bin with the least remaining room that still fits
    * it, documents visited largest-first. Training rows then never split a
    * document, and BFD keeps padding waste near the (11/9)·OPT bin-packing
    * bound.
    *
    * Scale shape: packing needs sequential state, so it is the one genuine
    * per-partition imperative loop in this family — but only WITHIN a
    * shard. The id-hash shard is the unit of parallelism (training order
    * is irrelevant, exactly as in [[packSequences]]): one repartition by
    * shard, a partition-local sort (no global sort — Spark's external
    * sorter spills), and a single pass holding at most `maxOpenBins`
    * (remaining, bin) entries per shard — O(1) memory in corpus size. When
    * the pool is full and nothing fits, the fullest bin (least remaining
    * room) is retired: it is the least useful to future, ever-smaller
    * documents, so the loss vs. unbounded BFD is one near-full bin at a
    * time. Everything is deterministic: the hash shard, the
    * (tokens DESC, id ASC) visit order, and lowest-bin-id tie-breaks —
    * re-runs and engines agree row-for-row.
    *
    * Documents at or over `budget` get a dedicated bin (a real loader
    * would truncate or hand them to [[packSpans]]).
    *
    * Output adds: shard, seq_id (= (shard << [[SeqIdShardBits]]) | bin),
    * bin_offset (tokens already in the bin when this doc was placed).
    */
  def packBestFit(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      budget: Long,
      shards: Int,
      maxOpenBins: Int = 4096): DataFrame = {
    // the partition loop reads the token column with getLong — normalize
    // any numeric token type up front instead of documenting a
    // ClassCastException requirement
    val sharded = df.withColumn(tokenCol, col(tokenCol).cast("long"))
      .withColumn("shard", hashBucket(col(idCol), shards))
    val inSchema = sharded.schema
    val outSchema = inSchema
      .add("seq_id", org.apache.spark.sql.types.LongType, nullable = false)
      .add("bin_offset", org.apache.spark.sql.types.LongType,
        nullable = false)
    val shardIdx = inSchema.fieldIndex("shard")
    val tokIdx = inSchema.fieldIndex(tokenCol)
    val packed = sharded
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(tokenCol).desc, col(idCol))
      .rdd.mapPartitions { rows =>
        // several shards may share a partition; state resets per shard
        // (rows arrive shard-contiguous thanks to the partition sort)
        var curShard = Long.MinValue
        var nextBin = 0L
        // (remaining, binId) ordered asc: head = fullest bin; rangeFrom
        // finds the least remaining >= size with lowest-bin tie-break
        val open = scala.collection.mutable.TreeSet.empty[(Long, Long)]
        rows.map { row =>
          val shard = row.getLong(shardIdx)
          if (shard != curShard) { curShard = shard; nextBin = 0L; open.clear() }
          val size = row.getLong(tokIdx)
          val (bin, offset) =
            if (size >= budget) { val b = nextBin; nextBin += 1; (b, 0L) }
            else open.rangeFrom((size, Long.MinValue)).headOption match {
              case Some(hit @ (rem, b)) =>
                open.remove(hit)
                if (rem - size > 0) open.add((rem - size, b))
                (b, budget - rem)
              case None =>
                if (open.size >= maxOpenBins) open.remove(open.head)
                val b = nextBin; nextBin += 1
                if (budget - size > 0) open.add((budget - size, b))
                (b, 0L)
            }
          val seqId = (shard << SeqIdShardBits) | bin
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+ seqId :+ offset)
        }
      }
    sharded.sparkSession.createDataFrame(packed, outSchema)
  }

  /** Deterministic train/val/test assignment by hash bucket — membership is
    * a pure function of the id, so splits are stable under re-runs and
    * appends. */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val b = hashBucket(col(idCol), 100L)
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** The flagship end-to-end curation pipeline a training-data run
    * actually executes, composed from the audited stages: quality funnel
    * (length / language / type-token ratio) → MinHash-LSH near-dup
    * removal → benchmark decontamination → deterministic hash split.
    * Returns one row per surviving doc: (idCol, split, n_tokens).
    *
    * Composition is the point — every stage is individually oracle-gated,
    * and this operator's own gate proves the stages compose without
    * boundary bugs (a doc dropped twice, a survivor misplaced, a stats
    * column lost en route). Scale shape inherits from the parts: stats
    * and the funnel are map-side, dedup runs on the banded pair graph,
    * decontamination probes a broadcast benchmark, and the split is a
    * pure hash — the corpus text is never shuffled. */
  def curationPipeline(
      docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame,
      stopwords: Seq[String] = Nil,
      minTokens: Long = 30, lang: String = "en", minTtr: Double = 0.2,
      n: Int = 3, k: Int = 12, r: Int = 3,
      dedupThreshold: Double = 0.6, contamFrac: Double = 0.5): DataFrame = {
    val stats = TextAnalysis.qualityStats(docs, textCol, stopwords)
      .withColumn("lang_pred",
        TextAnalysis.langId(col(textCol), stopwords))
    // materialization boundaries at the two fan-out points (same
    // rationale as Crawl.crawlPipeline): `kept` feeds the pair generator,
    // both connected-components runs and the contamination check — an
    // un-checkpointed plan re-runs the quality/lang-id scan per consumer
    val kept = stats
      .filter(col("n_tokens") >= minTokens &&
        col("lang_pred") === lang && col("ttr") >= minTtr)
      .select(col(idCol), col(textCol),
        col("n_tokens").cast("long").as("n_tokens"))
      .boundary()
    val pairs = Dedup.minhashNearDups(
      kept.select(idCol, textCol), idCol, textCol,
      n = n, k = k, r = r, threshold = dedupThreshold)
      .boundary()
    val deduped = Dedup.dedupCorpus(kept, idCol, pairs)
    val clean = deduped.join(
      contaminated(deduped.select(idCol, textCol), bench, idCol, textCol,
        n = n, minFrac = contamFrac).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")
    hashSplit(clean, idCol)
      .select(col(idCol), col("split"), col("n_tokens"))
  }

  /** Leakage-safe train/val/test assignment: near-duplicate documents must
    * land in the SAME split (a test doc whose near-copy sits in train is a
    * leak that inflates eval), so the split hash is taken over each doc's
    * duplicate-cluster root rather than its own id. `pairs` is the
    * (a_id, b_id, …) output of any near-dup pair generator; docs in no
    * pair hash on themselves, which reduces to [[hashSplit]].
    *
    * Scale shape: the component propagation runs on the pair graph only
    * (tiny next to the corpus — see [[Dedup.dedupCorpus]]); the corpus is
    * touched once by a LEFT join on the id to pick up its root. Stable
    * under appends for ids that sort by ingest time: new near-dups of an
    * existing cluster adopt its root (min id), so existing members never
    * migrate splits.
    *
    * Returns (idCol, root, split). */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      trainPct: Int = 90,
      valPct: Int = 5,
      maxIter: Int = 30): DataFrame = {
    val comp = graft.assembly.Refinement.connectedComponents(
      pairs.select(col("a_id").as("node"), col("b_id").as("peer")), maxIter)
      .select(col("node").as(idCol), col("component"))
    val b = hashBucket(col("root"), 100L)
    df.join(comp, Seq(idCol), "left")
      .withColumn("root", coalesce(col("component"), col(idCol)))
      .withColumn("split",
        when(b < trainPct, "train")
          .when(b < trainPct + valPct, "val")
          .otherwise("test"))
      .select(col(idCol), col("root"), col("split"))
  }

  /** Distributed running sum over a TOTAL order — the scalable form of
    * `sum(v) OVER (ORDER BY ...)`, which Spark otherwise executes as a
    * SINGLE-partition window (the one-task global sort that dies first at
    * 100 TB). Three steps, all distributed:
    *
    *   1. range-partition on the order columns (sampled split points,
    *      TeraSort-style), tagging each row with its ordered bucket id;
    *   2. a bucket-partitioned window computes the within-bucket running
    *      sum — parallel across buckets;
    *   3. per-bucket totals (`buckets` rows, driver-scale) get their own
    *      cumulative offsets and broadcast back; global = offset + local.
    *
    * Correct for ANY bucket boundaries because the order columns form a
    * total order (callers append a unique id tie-break), so the result is
    * boundary- and sampling-invariant. */
  private[operators] def rangedCumsum(
      df: DataFrame, order: Seq[Column], value: Column, out: String,
      buckets: Int = 64): DataFrame = {
    // `ranged` feeds BOTH the data-leg window and the bucket-totals
    // aggregation, and exchange reuse is not guaranteed to collapse the
    // two range exchanges — without a boundary the WHOLE input chain
    // (for NB calibration/AUC, an entire scoring DAG) executes once per
    // branch, range-sampling pass included. The lazy checkpoint stores
    // exactly the post-shuffle rows once.
    val ranged = df.repartitionByRange(buckets, order: _*)
      .withColumn("_bucket", spark_partition_id())
      .boundary()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_bucket").orderBy(order: _*)
    val local = ranged.withColumn("_lcum", sum(value).over(w))
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy("_bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    // bucket totals: <= `buckets` rows, so ITS unpartitioned window is fine.
    // Aggregated from `ranged`, NOT from `local`: both consumers then sit
    // on the IDENTICAL range-exchange subtree, which ReuseExchange
    // collapses to one shuffle — aggregating over `local` would hang the
    // totals off the window output and re-execute the whole input chain
    // (sampling pass included) a second time (guide §2.4: two operations
    // keyed the same way share one exchange).
    val offsets = ranged.groupBy("_bucket").agg(sum(value).as("_n"))
      .withColumn("_off", coalesce(sum(col("_n")).over(wOff), lit(0L)))
      .select("_bucket", "_off")
    local.join(broadcast(offsets), "_bucket")
      .withColumn(out, col("_off") + col("_lcum"))
      .drop("_bucket", "_lcum", "_off")
  }

  /** Deterministic seeded corpus shuffle — the training-order permutation
    * every data pipeline needs between curation and packing. Each row's
    * sort key is the content hash of `seed || '-' || id`, so the order is
    * (a) pseudo-random and decorrelated from ingest order, (b) a pure
    * function of (seed, id): re-runs, engines, and resumed jobs agree
    * row-for-row, and a different seed is a fresh epoch permutation.
    *
    * Scale shape: the 1-based position comes from [[rangedCumsum]] over
    * the (hash, id) total order — a range-partitioned distributed sort
    * with no skew by construction (the keys are hashes), never a
    * single-partition window.
    *
    * Returns the input columns plus (shuffle_key, pos), pos 1-based. */
  def seededShuffle(df: DataFrame, idCol: String, seed: String): DataFrame = {
    // mix32 after the polynomial hash is load-bearing: the rolling hash is
    // AFFINE in a changed seed prefix (a near-constant additive shift mod
    // p), so without the finalizer two seeds yield nearly the SAME order —
    // the xorshift-multiply mixer destroys that structure
    val key = TextAnalysis.mix32(TextAnalysis.rollingHash(
      concat(lit(seed), lit("-"), col(idCol).cast("string"))))
    rangedCumsum(df.withColumn("shuffle_key", key),
      Seq(col("shuffle_key").asc, col(idCol).asc), lit(1L), "pos")
  }

  /** Weighted sampling WITHOUT replacement — k rows with inclusion
    * probability proportional to `weightCol` (Efraimidis–Spirakis
    * exponential keys: key = ln(u)/w, keep the k largest). The usual
    * quality-weighted subsample step, with the repo's no-RNG discipline:
    * u derives from the seeded content hash of the id ([[seededShuffle]]'s
    * mix32 chain), so membership is a pure function of (seed, id, w) —
    * re-runs and engines agree row-for-row and a different seed is a
    * fresh draw. The log is micro-quantized before the weight division
    * (engine-portable); selection is TakeOrdered top-k, never a global
    * sort. Returns the input columns plus es_key. */
  def weightedSample(
      df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: String): DataFrame = {
    val h = TextAnalysis.mix32(TextAnalysis.rollingHash(
      concat(lit(seed), lit("-"), col(idCol).cast("string"))))
    val u = (h + lit(1L)).cast("double") / lit(4294967296.0) // (0, 1]
    val lnU = round(log(u) * 1e6).cast("long")
    df.withColumn("es_key",
        lnU.cast("double") / col(weightCol).cast("double"))
      .orderBy(col("es_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** CCNet-style perplexity bucketing: rank documents by a quality score
    * (higher = less perplexed = better) and cut the ranked corpus into
    * head/middle/tail by integer percent thresholds — the standard
    * precursor to per-bucket sampling rates ("keep head, downsample
    * middle, drop tail"). Thresholds compare `rank * 100` against
    * `N * pct`, all integer math, so bucket membership is engine-exact.
    *
    * Scale shape: the rank comes from [[rangedCumsum]] over the
    * (score desc, id) total order — a range-partitioned distributed sort,
    * never a single-partition global window.
    *
    * Returns the input columns plus (ppl_rank, bucket). */
  def perplexityBuckets(
      df: DataFrame, idCol: String, scoreCol: String,
      headPct: Int, midPct: Int): DataFrame = {
    require(headPct > 0 && midPct >= 0 && headPct + midPct <= 100,
      s"bad percents: head=$headPct mid=$midPct")
    // three consumers (count + the cumsum's two legs) — checkpoint so the
    // scoring DAG feeding this (e.g. a bigram-LM pass) runs once
    val d = df.boundary()
    val n = d.agg(count(lit(1)).as("_n"))
    rangedCumsum(d, Seq(col(scoreCol).desc, col(idCol).asc),
        lit(1L), "ppl_rank")
      .crossJoin(broadcast(n))
      .withColumn("bucket",
        when(col("ppl_rank") * 100 <= col("_n") * headPct, "head")
          .when(col("ppl_rank") * 100 <= col("_n") * (headPct + midPct),
            "middle")
          .otherwise("tail"))
      .drop("_n")
  }

  /** Exact stratified sampling: `n` rows per stratum, chosen by the seeded
    * content hash of the id ([[seededShuffle]]'s mix32 chain) — membership
    * is a pure function of (seed, stratum, id), so re-runs, engines, and
    * resumed jobs agree row-for-row, and strata with fewer than `n` rows
    * keep everything.
    *
    * Scale shape: two-phase salted top-n. Phase 1 ranks within
    * (stratum, hash-salt shard) partitions — bounded tasks even when one
    * stratum holds most of the corpus; phase 2 re-ranks the at most
    * `salts * n` per-stratum survivors. A shard row outside its shard's
    * top n ranks behind n shard-mates, hence behind n stratum-mates, so
    * it cannot be in the stratum's true top n — the two-phase result is
    * exactly the single-window result (CurateSpec asserts equality).
    *
    * Returns the input columns plus the rank key (`sample_key`). */
  def stratifiedSample(
      df: DataFrame, stratumCol: String, idCol: String,
      n: Int, seed: String, salts: Int = 16): DataFrame = {
    require(n > 0 && salts > 0, s"n ($n) and salts ($salts) must be positive")
    val key = TextAnalysis.mix32(TextAnalysis.rollingHash(
      concat(lit(seed), lit("-"), col(idCol).cast("string"))))
    val keyed = df.withColumn("sample_key", key)
    val wShard = Window
      .partitionBy(col(stratumCol), pmod(col("sample_key"), lit(salts)))
      .orderBy(col("sample_key").asc, col(idCol).asc)
    val wStratum = Window
      .partitionBy(stratumCol)
      .orderBy(col("sample_key").asc, col(idCol).asc)
    keyed
      .withColumn("_shard_rn", row_number().over(wShard))
      .where(col("_shard_rn") <= n)
      .withColumn("_rn", row_number().over(wStratum))
      .where(col("_rn") <= n)
      .drop("_shard_rn", "_rn")
  }

  /** Greedy token-budget selection: order candidates by a quality score
    * (best first, id tie-break makes the order total) and keep documents
    * until the running token total reaches `budget` — the "select the best
    * N-token subset" step between quality scoring and training. A document
    * is selected iff the tokens BEFORE it leave budget headroom
    * (cum - own < budget), so the output can overshoot by at most one
    * document — the standard greedy cut, stable under appends of
    * lower-scored rows.
    *
    * Every input row comes back with its running total and verdict, so the
    * caller gets the selection AND the audit trail in one pass. The running
    * total is [[rangedCumsum]] over the global (score desc, id) order —
    * distributed, not a single-partition window.
    *
    * Returns (idCol, tokensCol, scoreCol, cum_tokens, selected). */
  def tokenBudgetSelect(
      df: DataFrame, idCol: String, tokensCol: String, scoreCol: String,
      budget: Long): DataFrame = {
    rangedCumsum(
      df.select(col(idCol), col(tokensCol).cast("long").as(tokensCol),
        col(scoreCol)),
      Seq(col(scoreCol).desc, col(idCol).asc), col(tokensCol), "cum_tokens")
      .withColumn("selected",
        col("cum_tokens") - col(tokensCol) < budget)
  }

  // --- soft-404 / near-empty page detection --------------------------------

  /** Error-page phrases (lowercase): a title or body lead containing one
    * marks the page as a declared error. The classic soft-404 markers —
    * servers that return HTTP 200 with an error template (Bar-Yossef et
    * al., "Sic Transit Gloria Telae", WWW 2004). */
  val Soft404Phrases: Seq[String] = Seq(
    "page not found", "404 error", "error 404", "404 not found",
    "page does not exist", "no longer available", "cannot be found",
    "page unavailable", "nothing was found")

  /** How much of the body lead is scanned for error phrases (error
    * templates declare themselves immediately; a deep mention of "404"
    * in an article must not flag it). */
  val Soft404LeadChars: Int = 240

  /** Soft-404 / near-empty page flags — classifier-free heuristics over
    * (title, main-content text, domain):
    *
    *   - `phrase_hit`: the lowercased title or first
    *     [[Soft404LeadChars]] chars of the body contain a
    *     [[Soft404Phrases]] marker.
    *   - `near_empty`: main-content length < `minMainLen` (feed
    *     `html_main_text` output, so boilerplate doesn't pad an empty
    *     page past the bar).
    *   - `template_dup`: the page's body SimHash is IDENTICAL to >=
    *     `minCluster - 1` other pages on the same domain — the shape of
    *     an error template rendered for many URLs (distinct real pages
    *     share a domain but not a fingerprint).
    *   - `soft404` = phrase_hit OR (near_empty AND template_dup): a
    *     declared error, or an empty page stamped from a per-domain
    *     template. A unique near-empty page (a stub article) is NOT
    *     flagged — stubs are a quality-funnel concern, not a crawl
    *     error.
    *
    * Scale shape: one token-explode + doc-keyed aggregation for the
    * SimHash (map-side partial agg), one (domain, simhash) count
    * aggregation, one join back on that same key — no self-join, no
    * all-pairs anything; the flags themselves are row-local. Output:
    * every input column plus the four flags. */
  def soft404Flags(
      df: DataFrame, idCol: String, domainCol: String, titleCol: String,
      textCol: String, minMainLen: Int = 200,
      minCluster: Long = 3): DataFrame = {
    // the input feeds the fingerprint pass AND the flag join, and the
    // fingerprinted rows feed the cluster count AND the final join —
    // without boundaries the caller's upstream (in the crawl pipeline:
    // the whole WARC/HTTP ingest + main-content chain) re-executes per
    // consumer (guide §3.3).
    val dfm = df.boundary()
    // null text tokenizes as "" (one empty token), so a failed
    // dechunk/decompress layer — exactly the prime soft-404 candidate —
    // still gets a fingerprint row: every input row must come back with
    // flags, and same-domain null/empty bodies cluster together (many
    // decode-failed pages on one host ARE a template signal)
    val toks = dfm.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(coalesce(col(textCol), lit("")))).as("tok"))
    val sh = Dedup.simhash(toks)
      .withColumnRenamed("doc_id", idCol).boundary()
    // left joins as the second line of defense: a doc the fingerprint
    // pass somehow missed still surfaces, with template_dup = false
    val keyed = dfm.join(sh, Seq(idCol), "left")
    val clusters = keyed.where(col("simhash").isNotNull)
      .groupBy(col(domainCol), col("simhash"))
      .agg(count(lit(1)).as("cluster_n"))
    val lead = lower(concat(coalesce(col(titleCol), lit("")), lit(" "),
      substring(coalesce(col(textCol), lit("")), 1, Soft404LeadChars)))
    val phraseHit = Soft404Phrases
      .map(p => instr(lead, p) > 0)
      .reduce(_ || _)
    keyed.join(clusters, Seq(domainCol, "simhash"), "left")
      .withColumn("phrase_hit", phraseHit)
      .withColumn("near_empty",
        length(coalesce(col(textCol), lit(""))) < minMainLen)
      .withColumn("template_dup",
        coalesce(col("cluster_n") >= minCluster, lit(false)))
      .withColumn("soft404",
        col("phrase_hit") || (col("near_empty") && col("template_dup")))
      .drop("simhash", "cluster_n")
  }
}
