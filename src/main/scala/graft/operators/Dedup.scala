package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.BlockScope.Boundary

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB regime:
  *
  *   - exact: hash-groupBy on a content digest — one shuffle on the digest,
  *     never on the raw text;
  *   - MinHash + LSH: shingle -> k minhashes -> banded signatures ->
  *     bucket join. Candidate generation touches only (doc, band-signature)
  *     pairs, so the quadratic explosion is confined to same-bucket groups;
  *   - SimHash: 32-bit majority-vote fingerprint + Hamming verification;
  *   - n-gram Jaccard: shingle inverted-index self-join (docs sharing at
  *     least one shingle), exact Jaccard from co-occurrence counts.
  *
  * All hashing is deterministic integer math (see
  * [[TextAnalysis.rollingHash]]) so every operator has a relational oracle.
  */
object Dedup {

  /** Exact duplicate groups by content digest. Output: one row per
    * duplicate doc: (canonical_id, dup_id) with canonical = min id.
    * The shuffle key is the digest — raw text never moves. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(col(idCol).as("doc_id"), md5(col(textCol)).as("digest"))
    hashed
      .groupBy("digest")
      .agg(min("doc_id").as("canonical_id"), collect_list("doc_id").as("ids"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("canonical_id"), explode(col("ids")).as("dup_id"))
      .filter(col("dup_id") =!= col("canonical_id"))
  }

  /** Distinct (doc_id, token) pairs. */
  def tokenSet(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .distinct()

  /** Distinct word n-gram shingles per document, pre-hashed to a long so
    * downstream joins/aggregations move 8 bytes, not strings. */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(graft.functions.vectors.word_shingles(col(textCol), n))
          .as("shingle"))
      .distinct()
      .withColumn("sh_hash", TextAnalysis.rollingHash(col("shingle")))

  /** [[shingleSet]] narrowed to the (doc_id, sh_hash) pair every dedup
    * consumer actually uses, with two shuffle savings (guide §2.3/§2.4):
    * the shingle is HASHED BEFORE the per-doc dedup, so the dedup exchange
    * carries an 8-byte hash instead of the n-gram string (hash identity is
    * already the algebra everywhere downstream — index joins, signatures
    * and the oracle all compare sh_hash); and the dedup is clustered by
    * doc_id, so doc-keyed consumers (minhash signatures, per-doc sizes,
    * overlap counts) ride the same exchange instead of paying their own. */
  def shingleHashes(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(graft.functions.vectors.shingle_hashes(col(textCol), n))
          .as("sh_hash"))
      .repartition(col("doc_id"))
      .dropDuplicates("doc_id", "sh_hash")

  /** k MinHash values per doc over its shingle hashes, using the affine
    * family h_i(x) = (a_i x + b_i) mod p. Output: (doc_id, i, minh).
    * One groupBy + a compiled single-pass signature kernel
    * (graft.functions.MinHashSig) — the params-join formulation multiplied
    * the shuffle by k. */
  def minhash(shingles: DataFrame, k: Int): DataFrame =
    shingles
      .groupBy("doc_id")
      .agg(collect_list("sh_hash").as("hs"))
      .select(col("doc_id"),
        posexplode(graft.functions.vectors.minhash_sig(col("hs"), k))
          .as(Seq("i", "minh")))

  /** Drop bucket keys whose member count exceeds `maxDf` before a bucket
    * self-join — the generic hot-bucket cap every LSH candidate path needs
    * (band signatures, simhash bytes, sign buckets): one degenerate bucket
    * (a low-entropy band over boilerplate, an all-common simhash byte)
    * re-creates the df² all-pairs blowup the bucketing exists to avoid.
    * The hot key set is bounded by |rows|/maxDf, so it broadcasts. A pair
    * lost here collided ONLY in oversized buckets — stop-content agreement
    * that verification would reject anyway (and near-identical docs keep
    * colliding in their other, selective buckets). Use [[hotBuckets]] to
    * audit/log what a given cap drops.
    *
    * Plan-transparent (no materialization): the input is read twice (hot-key
    * aggregation + anti-join), so callers whose input is an expensive
    * pipeline should pass a frame cut at a boundary — see
    * [[ngramJaccardPairs]] / [[deltaNearDups]]. */
  def capBucketDf(keyed: DataFrame, bucketCols: Seq[String], maxDf: Long): DataFrame =
    keyed.join(broadcast(hotBuckets(keyed, bucketCols, maxDf)),
      bucketCols, "left_anti")

  /** The bucket keys (with their df) that [[capBucketDf]] would drop at
    * `maxDf` — callers log these for drop-auditing (no silent caps). */
  def hotBuckets(keyed: DataFrame, bucketCols: Seq[String], maxDf: Long): DataFrame =
    keyed.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)

  /** The signature of one band: its minhashes, in index order, as
    * decimal strings joined by ",". [[bandSignatures]] and the per-document
    * path of [[minhashNearDups]] both key buckets with it, so a persisted
    * index and a batch run put a document in the same buckets. */
  private def bandKey(minhs: Column): Column =
    array_join(transform(minhs, _.cast("string")), ",")

  /** Banded LSH signatures — (doc_id, band, sig) rows. This is the
    * PERSISTABLE index of the incremental path ([[deltaNearDups]]): write
    * it once per corpus (bucketed by (band, sig)) and probe it with each
    * new batch instead of re-signing the world. */
  def bandSignatures(minhashes: DataFrame, r: Int): DataFrame =
    minhashes
      .withColumn("band", (col("i") / r).cast("int"))
      .groupBy("doc_id", "band")
      .agg(bandKey(transform(
        array_sort(collect_list(struct(col("i"), col("minh")))),
        _.getField("minh"))).as("sig"))

  /** The band self-join of every MinHash LSH path: distinct (a_id, b_id),
    * a_id < b_id, of documents sharing a (band, sig) bucket of `sigs`
    * after buckets over `maxBucket` members are dropped ([[capBucketDf]]).
    * `pair` narrows the pairs further over the `x` / `y` sides.
    * Plan-transparent: both sides read the same capped subtree, so its
    * exchanges are planned once and reused. */
  private def bandPairs(
      sigs: DataFrame, maxBucket: Long, pair: Column = lit(true)): DataFrame = {
    val capped = capBucketDf(sigs, Seq("band", "sig"), maxBucket)
    capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id") && pair)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** LSH banding: signatures grouped into bands of `r` rows; docs sharing a
    * band signature are candidates. Output: distinct (a_id, b_id), a < b.
    * Buckets larger than `maxBucket` are dropped before the self-join
    * (hot-bucket cap; see [[capBucketDf]]). */
  def lshCandidates(minhashes: DataFrame, r: Int, maxBucket: Long = 1000): DataFrame =
    // the cap and both self-join sides read the signatures: materialize once
    bandPairs(bandSignatures(minhashes, r).boundary(), maxBucket)

  /** Drop shingles whose document frequency exceeds `maxDf` before
    * inverted-index candidate generation — the standard stop-shingle cap:
    * one corpus-wide shingle shared by millions of documents re-creates
    * exactly the all-pairs blowup the index exists to avoid (its bucket
    * alone contributes df² candidate pairs). Capping is candidate-recall
    * safe in practice: a pair lost here shares ONLY stop shingles, which
    * cannot clear a meaningful Jaccard threshold. The hot set is bounded
    * by |shingles|/maxDf, so it broadcasts. */
  def capShingleDf(shingles: DataFrame, maxDf: Long): DataFrame =
    capBucketDf(shingles, Seq("sh_hash"), maxDf)

  /** |A ∩ B| / |A ∪ B| from the `inter`, `sz_a` and `sz_b` columns. */
  private val jaccardOf: Column =
    col("inter").cast("double") /
      (col("sz_a") + col("sz_b") - col("inter")).cast("double")

  /** n-gram Jaccard near-dup pairs: candidates from the df-capped inverted
    * index (docs sharing at least one sub-cap shingle), with EXACT Jaccard
    * over the full, uncapped shingle sets — the cap bounds candidate
    * generation, never the verification arithmetic.
    *
    * Count-from-the-index shape: the index self-join emits one row per
    * CO-OCCURRING sub-cap shingle, so grouping those rows by pair IS the
    * capped intersection — no distinct-pairs set and no re-join of every
    * candidate against its full shingle list (that join touches
    * |pairs|×|doc shingles| rows and dominated the old plan). The few hot
    * (df > maxDf) shingles excluded from the index are patched back with a
    * join restricted to candidate pairs × hot memberships — bounded by the
    * hot set, which is |shingles|/maxDf and broadcastable. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxDf: Long = 1000,
      minIntersect: Long = 1, threshold: Double = 0.5): DataFrame = {
    // one slim (doc_id, sh_hash) materialization feeds the cap, both
    // sides of the index self-join, sizes, and the hot patch — the
    // shingle explode + distinct runs ONCE (the string column is dropped
    // first: nothing downstream of hashing needs it)
    val sh = shingleHashes(df, idCol, textCol, n)
      .boundary()
    val hot = hotBuckets(sh, Seq("sh_hash"), maxDf).select("sh_hash")
    val capped = sh.join(broadcast(hot), Seq("sh_hash"), "left_anti")
      .boundary()
    // interCapped feeds the hot patch AND the final join: materialize it
    // so the dominant co-occurrence self-join + aggregation runs once
    val interCapped = capped.as("p").join(capped.as("q"),
        col("p.sh_hash") === col("q.sh_hash") &&
          col("p.doc_id") < col("q.doc_id"))
      .groupBy(col("p.doc_id").as("a_id"), col("q.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter_sub"))
      .boundary()
    // docs' hot-shingle memberships: small (hot keys are few by
    // construction), joined only against candidate pairs
    val hotRows = sh.join(broadcast(hot), Seq("sh_hash"), "left_semi")
    val hotInter = interCapped.select("a_id", "b_id")
      .join(hotRows.select(col("doc_id").as("a_id"), col("sh_hash")), "a_id")
      .join(hotRows.select(col("doc_id").as("b_id"), col("sh_hash")),
        Seq("b_id", "sh_hash"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter_hot"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    interCapped
      .join(hotInter, Seq("a_id", "b_id"), "left")
      .withColumn("inter",
        col("inter_sub") + coalesce(col("inter_hot"), lit(0L)))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), "b_id")
      .withColumn("jaccard", jaccardOf)
      .filter(col("inter") >= minIntersect && col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Exact Jaccard over per-shingle rows (doc_id, sh_hash) for given
    * candidate pairs: |A ∩ B| via a co-occurrence join, |A ∪ B| =
    * |A| + |B| - |A ∩ B|. The shingle input feeds THREE join sites (a-side,
    * b-side, sizes): callers pass a materialized (boundary or persisted)
    * frame so the text-scan + explode + distinct upstream runs once, not
    * three times — see [[deltaNearDups]]. The batch paths
    * ([[minhashNearDups]], [[containmentNearDups]]) verify on per-document
    * arrays instead and never build these rows. */
  def jaccard(candidates: DataFrame, shingles: DataFrame): DataFrame = {
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = candidates
      .join(shingles.select(col("doc_id").as("a_id"), col("sh_hash")), "a_id")
      .join(shingles.select(col("doc_id").as("b_id"), col("sh_hash")),
        Seq("b_id", "sh_hash"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), "b_id")
      .withColumn("jaccard", jaccardOf)
  }

  /** The MinHash LSH candidate pairs of a corpus with their exact shingle
    * overlap: (a_id, b_id, inter, sz_a, sz_b), the rows [[jaccard]] derives
    * from `shingleHashes → minhash → lshCandidates`, built from one row
    * per document instead of one row per shingle.
    *
    *   - `hs` is the distinct shingle hashes of ALL rows carrying the id
    *     (one doc-keyed aggregation of the per-row hash arrays, the
    *     exchange [[shingleHashes]] pays for its per-id dedup), `sig` its
    *     k minhashes; a document without a shingle has no row, as in
    *     [[shingleHashes]]. The frame is cut once: the bands, both
    *     verification sides and the hot-bucket count read it.
    *   - band rows are the ⌈k/r⌉ slices of `sig`, keyed by [[bandKey]],
    *     and candidates come from [[bandPairs]].
    *   - |A ∩ B| is `size(array_intersect(hs_a, hs_b))`; pairs sharing no
    *     shingle drop, as the co-occurrence join drops them. */
  private def minhashOverlaps(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, r: Int, maxBucket: Long): DataFrame = {
    val docs = df
      .select(col(idCol).as("doc_id"),
        graft.functions.vectors.shingle_hashes(col(textCol), n).as("hs"))
      .groupBy("doc_id")
      .agg(array_distinct(flatten(collect_list(col("hs")))).as("hs"))
      .where(size(col("hs")) > 0)
      .withColumn("sig", graft.functions.vectors.minhash_sig(col("hs"), k))
      .boundary()
    val bands = docs.select(col("doc_id"), posexplode(array(
        (0 until (k + r - 1) / r).map(b =>
          bandKey(slice(col("sig"), b * r + 1, r))): _*)).as(Seq("band", "sig")))
    def side(s: String) =
      docs.select(col("doc_id").as(s"${s}_id"), col("hs").as(s"hs_$s"))
    bandPairs(bands, maxBucket)
      .join(side("a"), "a_id")
      .join(side("b"), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("inter"),
        size(col("hs_a")).cast("long").as("sz_a"),
        size(col("hs_b")).cast("long").as("sz_b"))
      .where(col("inter") > 0)
  }

  /** Full MinHash-LSH near-dup pipeline: shingle -> minhash -> band ->
    * candidates -> exact-Jaccard verification at `threshold`, on one row
    * per document ([[minhashOverlaps]]): no stage shuffles a row per
    * shingle. Returns (a_id, b_id, jaccard), a_id < b_id — the rows of
    * `jaccard(lshCandidates(minhash(shingleHashes(…), k), r, maxBucket),
    * shingleHashes(…))` at `threshold`. */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 12, r: Int = 3,
      threshold: Double = 0.6, maxBucket: Long = 1000): DataFrame =
    minhashOverlaps(df, idCol, textCol, n, k, r, maxBucket)
      .withColumn("jaccard", jaccardOf)
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")

  /** Distinct char n-gram shingles of a (short) name column, hashed —
    * the blocking unit for fuzzy NAME matching, where word shingles are
    * useless (a name is one or a few words). Sub-n-length names yield
    * their clamped prefix shingles, mirroring SQL substr semantics. */
  def charShingleSet(
      df: DataFrame, idCol: String, nameCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), col(nameCol).as("nm"))
      .select(col("id"), explode(transform(
        sequence(lit(1), greatest(length(col("nm")) - (n - 1), lit(1))),
        i => col("nm").substr(i, lit(n)))).as("shingle"))
      .distinct()
      .select(col("id"),
        TextAnalysis.rollingHash(col("shingle")).as("sh_hash"))

  /** Fuzzy name matching (record linkage): best reference-side match for
    * each query-side name by char-trigram Jaccard. Blocking is PREFIX
    * FILTERING (the AllPairs/PPJoin principle): order every trigram by
    * global rarity (ascending combined df, hash tie-break) and index only
    * each name's first |x| − ⌈t·|x|⌉ + 1 trigrams — two sets with
    * Jaccard ≥ t MUST share a prefix trigram under a common global
    * order, so candidate recall is exact BY CONSTRUCTION, with no df cap
    * to saturate on a skewed vocabulary (a fixed cap returns zero
    * candidates once every trigram is hot). Verification is exact
    * Jaccard over the FULL shingle sets; the winner per query row is max
    * Jaccard with reference-id tie-break.
    *
    * Matching runs at the DISTINCT-NAME level and the result joins back
    * to rows at the end — row-level candidate generation SQUARES with
    * duplicate names (real catalogs repeat names heavily: here 92
    * distinct names over 20k rows turned the verify join into a
    * 100M-pair product and a 6-minute query; name-level it is
    * milliseconds), and Jaccard depends only on the name anyway. The
    * reference-side winner carries the MIN row id of its name, so the
    * (jaccard desc, id asc) tie-break is row-for-row identical to the
    * row-level formulation.
    *
    * Scale shape: the shingle tables are slim (name, hash8) relations
    * over DISTINCT names; the global df table joins by key; the prefix
    * cut is a name-partition window; candidates come from a key join on
    * prefix trigrams whose per-key fan-in the prefix bound keeps small;
    * the exact verify is two key joins + one partial-aggregated count;
    * the final row fan-out is a key join on the name.
    *
    * Returns (a_id, b_id, jaccard), one row per matched query row. */
  /** Distinct-name prefix-filtered candidate pairs shared by the
    * [[nameMatch]] verifiers: (sa, sb, cands(a_id, b_id)) where a_id /
    * b_id are the NAME strings and cands has exact recall for trigram
    * Jaccard ≥ `threshold`. */
  private def namePrefixCandidates(
      aNames: DataFrame, bNames: DataFrame, n: Int, threshold: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val sa = charShingleSet(aNames, "nm_a", "nm_a", n)
      .select(col("id").as("a_id"), col("sh_hash")).boundary()
    val sb = charShingleSet(bNames, "nm_b", "nm_b", n)
      .select(col("id").as("b_id"), col("sh_hash")).boundary()
    val dfTab = sa.select("sh_hash").unionByName(sb.select("sh_hash"))
      .groupBy("sh_hash").agg(count(lit(1)).as("df"))
    def prefix(s: DataFrame, idc: String): DataFrame = {
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(idc).orderBy(col("df").asc, col("sh_hash").asc)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(idc)
      s.join(dfTab, "sh_hash")
        .withColumn("sz", count(lit(1)).over(wAll))
        .withColumn("rnk", row_number().over(wOrd))
        .filter(col("rnk") <=
          col("sz") - ceil(lit(threshold) * col("sz")) + 1)
        .select(idc, "sh_hash")
    }
    val cands = prefix(sa, "a_id").join(prefix(sb, "b_id"), "sh_hash")
      .select("a_id", "b_id").distinct()
    (sa, sb, cands)
  }

  def nameMatch(
      a: DataFrame, aIdCol: String, aNameCol: String,
      b: DataFrame, bIdCol: String, bNameCol: String,
      n: Int = 3, threshold: Double = 0.3): DataFrame = {
    val aNames = a.select(col(aNameCol).as("nm_a")).distinct()
      .boundary()
    val bNames = b.groupBy(col(bNameCol).as("nm_b"))
      .agg(min(col(bIdCol)).as("b_id")).boundary()
    val (sa, sb, cands) = namePrefixCandidates(aNames, bNames, n, threshold)
    val inter = cands
      .join(sa, "a_id")
      .join(sb, Seq("b_id", "sh_hash"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    val szA = sa.groupBy("a_id").agg(count(lit(1)).as("sz_a"))
    val szB = sb.groupBy("b_id").agg(count(lit(1)).as("sz_b"))
    // the tie-break runs on the reference-side MIN ROW ID of the name —
    // row-for-row identical to the row-level formulation
    val bRow = bNames.toDF("b_name", "b_row")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id").orderBy(col("jaccard").desc, col("b_row").asc)
    val best = inter.join(szA, "a_id").join(szB, "b_id")
      .withColumn("jaccard", jaccardOf)
      .filter(col("jaccard") >= threshold)
      .join(bRow, col("b_id") === col("b_name"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("a_id").as("nm"), col("b_row"), col("jaccard"))
    a.select(col(aIdCol), col(aNameCol).as("nm")).join(best, "nm")
      .select(col(aIdCol).as("a_id"), col("b_row").as("b_id"),
        col("jaccard"))
  }

  /** [[nameMatch]] verified by NORMALIZED EDIT SIMILARITY
    * 1 − lev(a, b) / max(|a|, |b|) instead of trigram Jaccard — the
    * right metric when variants are typos/transpositions rather than
    * token edits (edit distance sees character order; bag-of-trigrams
    * largely doesn't). Candidates still come from the trigram prefix
    * index at `blockThreshold` — exact for Jaccard, a standard heuristic
    * for edit similarity (an edit-sim pair with almost no shared
    * trigrams can be missed; lower blockThreshold to taste). The
    * levenshtein kernel is Spark's codegen'd built-in.
    *
    * Returns (a_id, b_id, sim), best reference match per query row at
    * `threshold`. */
  def nameMatchEdit(
      a: DataFrame, aIdCol: String, aNameCol: String,
      b: DataFrame, bIdCol: String, bNameCol: String,
      n: Int = 3, blockThreshold: Double = 0.2,
      threshold: Double = 0.7): DataFrame = {
    val aNames = a.select(col(aNameCol).as("nm_a")).distinct()
      .boundary()
    val bNames = b.groupBy(col(bNameCol).as("nm_b"))
      .agg(min(col(bIdCol)).as("b_id")).boundary()
    val (_, _, cands) = namePrefixCandidates(aNames, bNames, n,
      blockThreshold)
    val bRow = bNames.toDF("b_name", "b_row")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id").orderBy(col("sim").desc, col("b_row").asc)
    val best = cands
      .join(bRow, col("b_id") === col("b_name"))
      .withColumn("sim",
        lit(1.0) - levenshtein(col("a_id"), col("b_id")).cast("double") /
          greatest(length(col("a_id")), length(col("b_id"))).cast("double"))
      .filter(col("sim") >= threshold)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("a_id").as("nm"), col("b_row"), col("sim"))
    a.select(col(aIdCol), col(aNameCol).as("nm")).join(best, "nm")
      .select(col(aIdCol).as("a_id"), col("b_row").as("b_id"), col("sim"))
  }

  /** Containment near-dup pairs: like [[minhashNearDups]] but verified on
    * shingle CONTAINMENT — |A∩B| / min(|A|, |B|) — instead of Jaccard.
    * Containment catches the asymmetric duplicates Jaccard structurally
    * misses: a short document quoted or excerpted inside a much longer
    * one scores near 1.0 containment while its Jaccard stays near
    * |A|/|B| (tiny). The standard second pass of a dedup stage hunting
    * quote farms and wrapper pages.
    *
    * Candidates still come from the banded MinHash index, which is tuned
    * for Jaccard — an excerpt buried in a LONG host may not collide in
    * any band, so recall for extreme ratios needs a lower `r` or a
    * dedicated suffix path ([[substrDedup]]); pairs that DO collide are
    * verified exactly. Same candidates and per-document scale shape as
    * the Jaccard path ([[minhashOverlaps]]): no stage shuffles a row per
    * shingle.
    *
    * Returns (a_id, b_id, containment) at `threshold`. */
  def containmentNearDups(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 12, r: Int = 3,
      threshold: Double = 0.8, maxBucket: Long = 1000): DataFrame =
    minhashOverlaps(df, idCol, textCol, n, k, r, maxBucket)
      .withColumn("containment",
        col("inter").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")

  /** Persist the incremental-dedup index of a corpus: the band-signature
    * table bucketed by its probe key (band, sig) and the slim shingle set
    * bucketed by doc_id — what [[deltaNearDups]] probes per batch. With the
    * signature side bucketed on the probe key, each delta batch shuffles
    * only ITSELF: the corpus index is read in place (bucket-pruned scans,
    * delta side broadcast/shuffled to match), which is the property that
    * makes per-batch dedup delta-shaped at 100 TB. */
  def writeIndex(
      df: DataFrame, idCol: String, textCol: String,
      db: String, buckets: Int,
      n: Int = 3, k: Int = 12, r: Int = 3): Unit = {
    val spark = df.sparkSession
    val sh = shingleHashes(df, idCol, textCol, n)
      .boundary()
    graft.assembly.Deploy.saveBucketed(
      spark, bandSignatures(minhash(sh, k), r), db, "band_sigs", buckets,
      Seq("band", "sig"))
    graft.assembly.Deploy.saveBucketed(
      spark, sh, db, "shingles", buckets, Seq("doc_id"))
  }

  /** Reload a persisted dedup index: (bandSignatures, shingleSet) — pass
    * straight to [[deltaNearDups]]. Refreshes the catalog entries first:
    * appends from another session clone (e.g. a foreachBatch micro-batch
    * session) invalidate only THAT clone's relation cache, and a stale
    * file listing here would silently serve a pre-append snapshot. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, db: String)
      : (DataFrame, DataFrame) = {
    spark.catalog.refreshTable(s"$db.band_sigs")
    spark.catalog.refreshTable(s"$db.shingles")
    (spark.table(s"$db.band_sigs"), spark.table(s"$db.shingles"))
  }

  /** Append one batch's signatures + shingles to a persisted index written
    * by [[writeIndex]] — the growth step of the incremental pipeline (the
    * writer must restate the bucket spec; `buckets` must match the index).
    *
    * IDEMPOTENT, per table: each table anti-joins the batch against the
    * doc_ids IT already holds. Without this, an at-least-once replay
    * (foreachBatch re-running after a crash between append and checkpoint
    * commit) would stack the same shingle rows twice and permanently
    * inflate every future Jaccard against those docs; a re-ingested id
    * would corrupt the same way. The guards are deliberately independent:
    * the two appends are not atomic, so a single shared guard would leave
    * the OTHER table either duplicated (guard written last — replay
    * re-appends what already landed) or permanently missing the batch
    * (guard written first — replay skips both). With per-table guards a
    * crash between the writes heals on replay: the table that got the
    * batch filters it out, the table that missed it receives exactly the
    * missing rows. First write wins per table — the id space is
    * append-only by contract. */
  def appendIndex(
      sh: DataFrame, db: String, buckets: Int,
      k: Int = 12, r: Int = 3): Unit = {
    val spark = sh.sparkSession
    spark.catalog.refreshTable(s"$db.shingles")
    spark.catalog.refreshTable(s"$db.band_sigs")
    val shBatch = sh.boundary()
    val freshSigs = shBatch.join(
        spark.table(s"$db.band_sigs").select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
    graft.assembly.StoreFaults.onWrite(s"$db.band_sigs")
    bandSignatures(minhash(freshSigs, k), r).write
      .mode("append").bucketBy(buckets, "band", "sig")
      .sortBy("band", "sig").format("parquet")
      .saveAsTable(s"$db.band_sigs")
    val freshSh = shBatch.join(
        spark.table(s"$db.shingles").select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
    graft.assembly.StoreFaults.onWrite(s"$db.shingles")
    freshSh.write
      .mode("append").bucketBy(buckets, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(s"$db.shingles")
  }

  /** Per-bucket file counts of one of the persisted index's tables — the
    * compaction pressure signal, the bucketed-table analog of
    * [[graft.assembly.IncrementalReadonly.shardFileCounts]]. Bucketed
    * parquet files carry their bucket id in the file name
    * (`part-…-…_00003.c000…`); every [[appendIndex]] batch adds one file
    * to each bucket its rows land in, so the hottest bucket's count is
    * exactly the per-bucket scan fan-in a [[deltaNearDups]] probe pays. */
  def indexFileCounts(
      spark: org.apache.spark.sql.SparkSession, db: String,
      table: String = "band_sigs"): Map[Int, Int] = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val root = new org.apache.hadoop.fs.Path(s"$warehouse/$db.db/$table")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketId = "_(\\d{5})\\.".r
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).iterator
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .flatMap(f => bucketId.findFirstMatchIn(f.getPath.getName)
        .map(_.group(1).toInt))
      .toSeq.groupBy(identity).map { case (b, xs) => b -> xs.size }
  }

  /** Rewrite one index table to one file per bucket, preserving the
    * bucket spec so later [[appendIndex]] appends and exchange-free
    * probes keep working. Not atomic, but every crash window heals on
    * replay: rewrite lands in a `_compact` side table first (a partial
    * side table is simply overwritten next time), and only then does the
    * original drop + rename swap happen — a crash between those two
    * leaves the side table holding the full index, which the replay
    * detects (original missing) and finishes with just the rename. */
  private def compactTable(
      spark: org.apache.spark.sql.SparkSession, db: String, name: String,
      buckets: Int, keys: Seq[String]): Unit = {
    val tmp = name + "_compact"
    if (spark.catalog.tableExists(s"$db.$name")) {
      spark.catalog.refreshTable(s"$db.$name")
      // repartition on the COMPUTED bucket id, one expression: hash() is
      // the writer's own bucket function (murmur3-pmod), so every
      // bucket's rows land whole in one task and each task writes one
      // file per bucket it holds — 1 file per bucket total. Two quirks
      // force this shape: (a) repartition(n, cols…) with a string column
      // among the exprs silently ignores `n` (Spark 4.1, AQE on or off),
      // and (b) the V1 bucketed-write planner strips a RepartitionByNum
      // over the raw key columns anyway. A future divergence between
      // hash() and the writer's bucket hash (e.g. non-binary collations)
      // degrades only the file count, never correctness — the writer
      // re-derives bucket ids itself.
      graft.assembly.Deploy.saveBucketed(
        spark, spark.table(s"$db.$name")
          .repartition(buckets,
            pmod(hash(keys.map(col): _*), lit(buckets))),
        db, tmp, buckets, keys)
      spark.sql(s"DROP TABLE $db.$name")
    }
    spark.sql(s"ALTER TABLE $db.$tmp RENAME TO $db.$name")
    spark.catalog.refreshTable(s"$db.$name")
  }

  /** Compact a persisted dedup index in place: rewrite `band_sigs` and
    * `shingles` into one file per bucket. Pure layout work — the same
    * rows come back through [[loadIndex]], so probe results are
    * unchanged by construction; what changes is the per-bucket file
    * fan-in accumulated by [[appendIndex]] (each absorbed batch appends
    * a file per touched bucket, the LSM read-cost/write-cost trade as in
    * [[graft.assembly.IncrementalReadonly.compactInto]]). The index
    * stays authoritative and keeps absorbing deltas afterwards. */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession, db: String,
      buckets: Int): Unit = {
    compactTable(spark, db, "band_sigs", buckets, Seq("band", "sig"))
    compactTable(spark, db, "shingles", buckets, Seq("doc_id"))
  }

  /** Compaction policy, as [[graft.assembly.IncrementalReadonly
    * .compactIfNeeded]]: rewrite when the hottest bucket of the probe
    * table has accumulated more than `maxFilesPerBucket` files. Returns
    * true when a compaction ran. */
  def compactIndexIfNeeded(
      spark: org.apache.spark.sql.SparkSession, db: String, buckets: Int,
      maxFilesPerBucket: Int = 8): Boolean = {
    val pressure = indexFileCounts(spark, db).values.maxOption.getOrElse(0)
    val due = pressure > maxFilesPerBucket
    if (due) compactIndex(spark, db, buckets)
    due
  }

  /** End-to-end near-duplicate REMOVAL — what a training pipeline actually
    * runs: near-dup pairs (from any of the pair generators here) become
    * duplicate clusters via connected components, and exactly one document
    * per cluster survives (the min id — deterministic, append-stable for
    * ids that sort by ingest time). Docs in no pair are untouched.
    *
    * Scale shape: the pair graph is tiny next to the corpus (only near-dups
    * appear in it), so the component propagation runs on the small side and
    * the corpus is touched exactly once, by a LEFT ANTI join on the id —
    * text never shuffles. Cluster diameter bounds the label-propagation
    * rounds; near-dup clusters are shallow (dup chains, not paths), so this
    * converges in a few single-shuffle rounds.
    */
  def dedupCorpus(
      df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 30): DataFrame = {
    val comp = graft.assembly.Refinement.connectedComponents(
      pairs.select(col("a_id").as("node"), col("b_id").as("peer")), maxIter)
    val losers = comp.filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Duplicate-cluster size histogram — the dedup-audit summary a corpus
    * card reports (how much of the corpus is duplicated, and in what
    * cluster shapes: many pairs vs few giant boilerplate clusters).
    * Sizes count every clustered doc including the survivor, so
    * sum(size·n_clusters) − sum(n_clusters) is the row count dedup
    * removes. Runs entirely on the pair graph (tiny next to the corpus);
    * two partial-aggregated shuffles, the second over ≤|distinct sizes|
    * rows. Returns (size, n_clusters). */
  def clusterSizeHistogram(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val comp = graft.assembly.Refinement.connectedComponents(
      pairs.select(col("a_id").as("node"), col("b_id").as("peer")), maxIter)
    comp.groupBy("component").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
  }

  /** Incremental MinHash-LSH near-dup: dedup a NEW batch against an
    * existing corpus without re-processing the corpus — the delta shape
    * every growing 100 TB corpus needs (re-running [[minhashNearDups]] over
    * old ∪ new re-pays the whole corpus per batch).
    *
    * `oldSigs` is the persisted [[bandSignatures]] index and `oldShingles`
    * the persisted [[shingleSet]] of the existing corpus. Only buckets the
    * new batch TOUCHES survive the semi-join, so join work scales with the
    * delta, not the corpus: old-only buckets — almost all of them — are
    * pruned before any shuffle, and with the index bucketed by (band, sig)
    * the probe is shuffle-free on the corpus side. Candidates must involve
    * at least one new doc (old-old pairs were already found when the old
    * corpus was built); verification is exact Jaccard over the union
    * shingle sets, as in the batch path.
    *
    * Returns the same (a_id, b_id, jaccard) shape as [[minhashNearDups]];
    * equivalence with the batch run restricted to new-involving pairs is
    * spec-asserted.
    */
  def deltaNearDups(
      newDocs: DataFrame, idCol: String, textCol: String,
      oldSigs: DataFrame, oldShingles: DataFrame,
      n: Int = 3, k: Int = 12, r: Int = 3,
      threshold: Double = 0.6, maxBucket: Long = 1000): DataFrame = {
    // the delta shingle set feeds four sites (signatures, live-id anti
    // joins, verification union) — materialize it once, slimmed to
    // (doc_id, sh_hash). Downstream joins stay plan-transparent, so the
    // bucket-pruning semi join below remains visible/assertable.
    val newSh = shingleHashes(newDocs, idCol, textCol, n)
      .boundary()
    val newSigs = bandSignatures(minhash(newSh, k), r).boundary()
    // a re-ingested id (present in old AND new) means an updated doc: the
    // new version REPLACES the old rows — without this, union'd shingle
    // sets double-count and Jaccard exceeds 1
    val newIds = newSh.select("doc_id").distinct()
    val oldSigsLive = oldSigs.join(newIds, Seq("doc_id"), "left_anti")
    val oldShLive = oldShingles.join(newIds, Seq("doc_id"), "left_anti")
    val all = newSigs.withColumn("is_new", lit(true))
      .unionByName(oldSigsLive.withColumn("is_new", lit(false)))
    // prune to buckets the delta touches BEFORE capping/joining
    val touched = all.join(newSigs.select("band", "sig").distinct(),
      Seq("band", "sig"), "left_semi")
    val cands = bandPairs(touched, maxBucket,
      col("x.is_new") || col("y.is_new"))
    // verification must stay delta-shaped too: only candidate docs'
    // shingle sets participate (sizes are still exact per doc — the semi
    // join keeps whole documents, never partial sets). Without this the
    // size aggregation and intersection joins re-pay the full corpus.
    val candIds = cands.select(col("a_id").as("doc_id"))
      .unionByName(cands.select(col("b_id").as("doc_id"))).distinct()
    val candSh = oldShLive.select("doc_id", "sh_hash").unionByName(newSh)
      .join(candIds, Seq("doc_id"), "left_semi")
      .boundary()
    jaccard(cands, candSh)
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** 32-bit SimHash from token hashes — single pass over the token rows:
    * the per-bit majority votes are `bits` conditional sums inside ONE
    * doc-keyed aggregation (full map-side partial agg, all codegen'd).
    * The earlier shape joined a broadcast (bit, mask) dimension, inflating
    * every token row 32× before the partial aggregate. Bit b is set where
    * 2 × set-bit-count > token count — exactly the positive-majority vote
    * (ties clear the bit, as before). Token hashes pass through
    * [[TextAnalysis.mix32]]: the raw mod-1e9+7 rolling hash leaves bits
    * 30-31 dead, which deadened those fingerprint bits and starved byte 3
    * of the byte-block candidate key of entropy. */
  def simhash(tokens: DataFrame, bits: Int = 32): DataFrame = {
    val counts = (0 until bits).map(b =>
      sum(shiftright(col("th"), b).bitwiseAND(lit(1L))).as(s"c$b"))
    tokens
      .withColumn("th",
        TextAnalysis.mix32(TextAnalysis.rollingHash(col("tok"))))
      .groupBy("doc_id")
      .agg(counts.head, (counts.tail :+ count(lit(1)).as("n")): _*)
      .select(col("doc_id"),
        (0 until bits)
          .map(b => when(col(s"c$b") * 2 > col("n"), lit(1L << b))
            .otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: candidates sharing at least one of the four
    * 8-bit bytes of the fingerprint (guarantees recall for Hamming
    * distance <= 3 across the other bytes), verified at `maxHamming`.
    * Byte buckets larger than `maxBucket` are dropped before the self-join
    * ([[capBucketDf]]); a pair whose FOUR byte buckets are all hot loses
    * the ≤3-Hamming recall guarantee — boilerplate-heavy corpora hit this
    * on common byte values, which is exactly the all-pairs blowup the cap
    * exists to stop. */
  def simhashNearDups(
      simhashes: DataFrame, maxHamming: Int = 3,
      maxBucket: Long = 1000): DataFrame = {
    val spark = simhashes.sparkSession
    import spark.implicits._
    // materialize the (doc_id, simhash) rows once: the byte expansion is
    // consumed by the hot-bucket count AND its anti-join, and the capped
    // result by both self-join sides — without the boundaries the caller's
    // tokenize + 32-vote fingerprint aggregation re-executes 4× (guide
    // §3.3; lshCandidates already does the same for band signatures).
    val sh = simhashes.boundary()
    val bytes = (0 until 4).map(i => (i, 255L << (8 * i))).toDF("byte_idx", "byte_mask")
    val keyed0 = sh.join(broadcast(bytes))
      .withColumn("byte_val", col("simhash").bitwiseAND(col("byte_mask")))
    val keyed = capBucketDf(keyed0, Seq("byte_idx", "byte_val"), maxBucket)
      .boundary()
    keyed.as("x").join(keyed.as("y"),
        col("x.byte_idx") === col("y.byte_idx") &&
          col("x.byte_val") === col("y.byte_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Duplicated token-span occurrences for exact-substring dedup (Lee et
    * al. 2022, arXiv:2107.06499: repeated long substrings across a corpus
    * are memorization hazards and get removed at span granularity, not doc
    * granularity). A span is a length-`n` token window; every occurrence of
    * a window text except the corpus-globally first one (smallest
    * (doc_id, pos)) is duplicated. Returns (doc_id, pos, gram) of the
    * duplicated occurrences, pos 1-based.
    *
    * Scale shape: windows come from ONE generate over the token array per
    * document (`sequence` + `slice` — no token self-join), first-occurrence
    * ranking is ONE hash shuffle on the window text with a row_number
    * window, and nothing is ever all-pairs: cost is O(total tokens × n)
    * map-side plus one corpus-wide shuffle keyed on the gram. */
  def duplicatedSpans(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    duplicatedSpansFromToks(
      df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks")), n)

  /** [[duplicatedSpans]] over pre-tokenized (doc_id, toks) rows — the
    * shared core that lets [[exactSubstrDedup]] tokenize the corpus once
    * for all three of its passes. */
  private def duplicatedSpansFromToks(tokArr: DataFrame, n: Int): DataFrame = {
    val d = tokArr.filter(size(col("toks")) >= n)
    val grams = d
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - n + 1)).as("pos"))
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("toks"), col("pos"), lit(n)), " ").as("gram"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("gram").orderBy(col("doc_id"), col("pos"))
    grams
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("gram"))
  }

  /** Exact-substring dedup of a corpus: remove every token covered by a
    * duplicated length-`n` span ([[duplicatedSpans]]) and reassemble the
    * remaining tokens in order — the reference pipeline of Lee et al.
    * 2022 re-expressed relationally. Overlapping duplicated spans merge
    * naturally because coverage is a DISTINCT (doc, position) set, and the
    * globally-first occurrence of any repeated span survives verbatim.
    * Documents fully covered come back with empty text, never vanish.
    * Returns (doc_id, text_deduped, kept_tokens, total_tokens).
    *
    * All four stages shuffle on bounded keys (gram, then doc_id); the
    * rebuild is one doc-keyed aggregation over surviving tokens. */
  def exactSubstrDedup(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // tokenize the corpus ONCE: the token arrays feed the gram window,
    // the per-token explode AND the total count — previously three full
    // regex-tokenize passes over every document (guide §3.3 / the house
    // fan-out boundary). The gram window's shuffle is the operator's
    // honest core and is unchanged.
    val tokArr = df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .boundary()
    val covered = duplicatedSpansFromToks(tokArr, n)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + n - 1)).as("pos"))
      .distinct()
    val toks = tokArr
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
    val rebuilt = toks
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          _.getField("tok")), " ").as("text_deduped"),
        count(lit(1)).as("kept_tokens"))
    tokArr.select(col("doc_id"),
        size(col("toks")).cast("long").as("total_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        col("total_tokens"))
  }

  /** Distinct (doc_id, lh) line-hash pairs of a corpus — the unit the
    * line-frequency index stores (df counts distinct documents). */
  def docLineHashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n")).as("line"))
      .select(col("doc_id"), TextAnalysis.rollingHash(col("line")).as("lh"))
      .distinct()

  /** Incremental [[lineDedup]]: dedup a delta batch against the
    * ACCUMULATED line frequencies — a batch doc's line drops iff its
    * corpus-wide document frequency (stored pairs + this batch) reaches
    * `minDf`. Stream semantics: earlier-emitted documents are not
    * revisited, so a line that becomes boilerplate later stops appearing
    * in FUTURE output only (same contract as [[deltaNearDups]] vs the
    * batch run).
    *
    * Delta-shaped: only line hashes PRESENT IN THE BATCH matter, so the
    * stored side is semi-joined down to them before any counting — work
    * scales with the batch's lines times their index fan-in, never the
    * corpus. With `storedLineDocs` loaded from [[writeLineIndex]]'s
    * lh-bucketed table, both the semi join and the df aggregation
    * co-locate without an exchange. */
  def lineDedupDelta(
      batch: DataFrame, idCol: String, textCol: String,
      storedLineDocs: DataFrame, minDf: Long): DataFrame = {
    val lines = batch
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", TextAnalysis.rollingHash(col("line")))
    val batchPairs = lines.select("doc_id", "lh").distinct()
      .boundary()
    val hot = storedLineDocs.select("doc_id", "lh")
      .join(batchPairs.select("lh").distinct(), Seq("lh"), "left_semi")
      .unionByName(batchPairs)
      .distinct()
      .groupBy("lh").agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDf)
      .select("lh")
    val rebuilt = lines
      .join(broadcast(hot), Seq("lh"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          _.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
    batch.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Persist the line-frequency index: distinct (doc_id, lh) pairs
    * bucketed by lh — the probe key, so [[lineDedupDelta]]'s semi join
    * and df aggregation run bucket-local. */
  def writeLineIndex(
      df: DataFrame, idCol: String, textCol: String,
      db: String, buckets: Int): Unit =
    graft.assembly.Deploy.saveBucketed(df.sparkSession,
      docLineHashes(df, idCol, textCol), db, "line_docs", buckets,
      Seq("lh"))

  /** Reload the persisted line-frequency index (catalog refreshed, like
    * [[loadIndex]]). */
  def loadLineIndex(
      spark: org.apache.spark.sql.SparkSession, db: String): DataFrame = {
    spark.catalog.refreshTable(s"$db.line_docs")
    spark.table(s"$db.line_docs")
  }

  /** Append one batch's line pairs — first-wins per doc_id (the id space
    * is append-only by contract), so an at-least-once replay heals
    * instead of double-counting a doc into every line's df. The guard
    * scans only the slim (doc_id) column of the index; a doc-bucketed
    * twin table would prune it further at extreme scale. */
  def appendLineIndex(
      batch: DataFrame, idCol: String, textCol: String,
      db: String, buckets: Int): Unit = {
    val spark = batch.sparkSession
    spark.catalog.refreshTable(s"$db.line_docs")
    val fresh = docLineHashes(batch, idCol, textCol)
      .boundary()
      .join(spark.table(s"$db.line_docs").select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
    graft.assembly.StoreFaults.onWrite(s"$db.line_docs")
    fresh.write.mode("append").bucketBy(buckets, "lh").sortBy("lh")
      .format("parquet").saveAsTable(s"$db.line_docs")
  }

  /** Cross-corpus line (paragraph) deduplication: a line whose hash occurs
    * in at least `minDf` distinct documents is boilerplate and is dropped
    * from EVERY document; the remaining lines reassemble in original order.
    * This is the ccnet/RefinedWeb "remove duplicated lines" stage, distinct
    * from [[exactSubstrDedup]] (which removes long repeated token spans
    * wherever they recur — here the unit is a whole line and the trigger is
    * corpus-wide document frequency, so one repeat inside a single doc is
    * kept).
    *
    * Scale shape: the per-line aggregation shuffles 8-byte hashes, not
    * text; the resulting hot-line set is tiny by construction (boilerplate
    * is what repeats corpus-wide), so it broadcasts and the corpus probe is
    * a map-side anti-join — the only text-bearing shuffle is the final
    * doc-keyed reassembly.
    *
    * Returns (doc_id, clean_text, n_lines, n_dropped); a fully-boilerplate
    * document comes back with empty text, never vanishes. */
  def lineDedup(
      df: DataFrame, idCol: String, textCol: String, minDf: Long): DataFrame = {
    // the exploded line rows feed the document-frequency aggregation AND
    // the anti-join + reassembly: materialized so the split + hash pass
    // runs once (guide §3.3; lineDedupDelta's batchPairs convention).
    val lines = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", TextAnalysis.rollingHash(col("line")))
      .boundary()
    val hot = lines
      .groupBy("lh").agg(countDistinct(col("doc_id")).as("line_df"))
      .filter(col("line_df") >= minDf)
      .select("lh")
    val rebuilt = lines
      .join(broadcast(hot), Seq("lh"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          _.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }
}
