package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.BlockScope.Boundary

/** Similarity search over an embedding column (Array[Float]).
  *
  * The dot product / norm folds use `aggregate` over the array — a
  * sequential, codegen'd fold in array order, so float->double math is
  * bit-reproducible across engines (an explode+SUM would not be: shuffle
  * order changes float addition).
  *
  * Scale path: brute force is O(n²) in candidate pairs; `signBuckets`
  * provides the LSH route — deterministic ±1 hyperplanes bucket vectors by
  * sign pattern, confining the quadratic join to same-bucket groups (the
  * same blocking idea an IVF index applies with learned centroids).
  */
object Similarity {

  /** Sequential fold dot product of two equal-length float arrays, in
    * double — compiled kernel (graft.functions.FloatDot); identical bits
    * to the interpreted `aggregate(zip_with(...))` fold. */
  def dot(a: Column, b: Column): Column =
    graft.functions.vectors.float_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k neighbors for each query row. `queries` and
    * `corpus` need (id, embedding); block the corpus beforehand if O(|q|·|c|)
    * is too large. Norms are computed once per vector (not per pair) —
    * O(n·d) instead of O(n²·d) norm work. Scores rounded to `scale` for
    * deterministic ranking with id tie-breaks. */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int, scale: Int = 4): DataFrame = {
    val q = queries.select(col("id").as("q_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_nrm"))
    val c = corpus.select(col("id").as("c_id"), col("embedding").as("c_emb"),
      norm(col("embedding")).as("c_nrm"))
    val scored = q.join(c, col("q_id") =!= col("c_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), scale))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rn").cast("long").as("rn"))
  }

  /** Sign-LSH bucket id from `planes` hyperplanes: bit p set iff
    * dot(v, plane_p) > 0. Compiled kernel (graft.functions.SignLshBucket);
    * `dim` is taken from the array itself. */
  def signBucket(emb: Column, planes: Int, dim: Int): Column =
    graft.functions.vectors.sign_lsh_bucket(emb, planes)

  /** IVF (inverted-file) index: assign every vector to its nearest
    * centroid cell; top-k search probes only the `nProbe` nearest cells —
    * the coarse-quantization scale path (vs sign-LSH's hyperplane
    * buckets). Centroids here are the deterministic seed set (vectors with
    * id < nCells); a k-means refinement can replace the seeding without
    * changing the search.
    *
    * Returns (id, embedding, nrm, cell) — the vector norm is part of the
    * index so searches never recompute it per candidate pair. Assignment is
    * by max rounded cosine with centroid-id tie-break, so it is
    * engine-portable.
    */
  def ivfIndex(vectors: DataFrame, nCells: Int, scale: Int = 4): DataFrame = {
    val cents = vectors.filter(col("id") < nCells)
      .select(col("id").as("cent_id"), col("embedding").as("cent_emb"),
        norm(col("embedding")).as("cent_nrm"))
    val scored = vectors
      .select(col("id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .join(broadcast(cents))
      .withColumn("cos", round(
        dot(col("embedding"), col("cent_emb")) / (col("nrm") * col("cent_nrm")),
        scale))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("cos").desc, col("cent_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("embedding"), col("nrm"), col("cent_id").as("cell"))
  }

  /** Sequential-fold dot product over arrays of any numeric element type
    * (the centroid arrays are double after a k-means update). Same
    * deterministic in-order fold as the compiled float kernel. */
  private def ddot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Assign every vector to its nearest centroid by rounded cosine with
    * centroid-id tie-break (engine-portable, like [[ivfIndex]]). `cents`
    * needs (cent_id, cent_emb, cent_nrm). Returns (id, embedding, nrm,
    * cell). */
  def assignCells(vectors: DataFrame, cents: DataFrame, scale: Int = 4): DataFrame = {
    val scored = vectors
      .select(col("id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .join(broadcast(cents))
      .withColumn("cos", round(
        ddot(col("embedding"), col("cent_emb")) / (col("nrm") * col("cent_nrm")),
        scale))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("cos").desc, col("cent_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("embedding"), col("nrm"), col("cent_id").as("cell"))
  }

  /** Lloyd (k-means) refinement of the IVF seed centroids — the learned-
    * quantizer upgrade the ivfIndex doc promises. Each iteration assigns
    * every vector to its nearest centroid and recomputes the cell mean.
    *
    * The element-wise mean sums the inputs scaled to integers at
    * `meanScale` digits (one deterministic double rounding each), so the
    * aggregation is a LONG sum — exact, shuffle-order-independent, and far
    * cheaper than decimal at corpus scale; a raw double sum would drift
    * with shuffle order and break both determinism and the DuckDB oracle.
    * Empty cells drop out (their seed attracts no vectors), exactly like a
    * Lloyd step.
    *
    * Returns (cent_id, cent_emb array<double>, cent_nrm).
    */
  def kmeansCentroids(
      vectors: DataFrame, nCells: Int, iters: Int,
      scale: Int = 4, meanScale: Int = 6): DataFrame = {
    var cents = vectors.filter(col("id") < nCells)
      .select(col("id").as("cent_id"),
        col("embedding").cast("array<double>").as("cent_emb"),
        norm(col("embedding")).as("cent_nrm"))
    for (_ <- 1 to iters) {
      val assigned = assignCells(vectors, cents, scale)
      val fac = math.pow(10, meanScale)
      cents = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(round(
          sum(round(col("v").cast("double") * fac).cast("long")).cast("double")
            / (count(lit(1)) * fac),
          meanScale).as("m"))
        .groupBy("cell")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("cent_emb"))
        .select(col("cell").as("cent_id"), col("cent_emb"),
          sqrt(ddot(col("cent_emb"), col("cent_emb"))).as("cent_nrm"))
        .boundary(eager = true) // truncate the per-iteration lineage
        .toDF("cent_id", "cent_emb", "cent_nrm")
    }
    cents
  }

  // --- product quantization (vector compression for 100 TB ANN) ----------

  /** Subvector rows: (id, extra..., sub, svec) — each `dim`-float embedding
    * split into `m` contiguous subvectors of dim/m, built map-side with one
    * transform + posexplode (no joins). `extra` columns (e.g. the IVF cell)
    * ride along so encoders can carry them through without re-joining. */
  private def subvectorRows(
      vectors: DataFrame, m: Int, dim: Int,
      extra: Seq[String] = Nil): DataFrame = {
    require(dim % m == 0, s"PQ needs m to divide dim (got dim=$dim, m=$m)")
    val sub = dim / m
    vectors.select((col("id") +: extra.map(col)) :+
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(col("embedding"), s * sub + 1, lit(sub)))): _*)
      .toDF((Seq("id") ++ extra ++ Seq("sub", "svec")): _*)
  }

  /** Integer-scaled squared L2 between two subvectors: a sequential
    * in-order fold, quantized to 10^scale — deterministic across engines
    * and immune to shuffle-order float drift once summed. */
  private def subDist(a: Column, b: Column, scale: Int): Column =
    round(aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (acc, v) => acc + v) * math.pow(10, scale)).cast("long")

  /** Product-quantization codebooks: per subspace, `ksub` centroids seeded
    * from the subvectors of ids < ksub (the same deterministic convention
    * as [[ivfIndex]]; k-means-refine per subspace to taste — search is
    * unchanged). Output: (sub, cent_id, cent). */
  def pqCodebooks(vectors: DataFrame, m: Int, dim: Int, ksub: Int): DataFrame =
    subvectorRows(vectors.filter(col("id") < ksub), m, dim)
      .select(col("sub"), col("id").as("cent_id"), col("svec").as("cent"))

  /** PQ encoding: each vector becomes `m` small centroid ids — the
    * 32×-compression that lets a 100 TB vector corpus sit in RAM-scale
    * code tables (a 64-float embedding -> 8 bytes of codes here). Nearest
    * centroid per subspace by integer-scaled L2 with centroid-id
    * tie-break. Codebooks broadcast; the argmin is a map-side min_by after
    * one joined projection; one groupBy(id) assembles the code array.
    * Output: (id, codes array of centroid ids ordered by subspace) — plus
    * `cell` when the input carries one (an IVF-assigned corpus): like
    * [[pqEncodeResidual]], the cell rides the encode aggregation as a
    * grouping key (functionally dependent on id), so composed IVF·PQ
    * search never has to re-join the corpus-wide index to recover it. */
  def pqEncode(
      vectors: DataFrame, codebooks: DataFrame,
      m: Int, dim: Int, scale: Int = 4): DataFrame = {
    val extra = if (vectors.columns.contains("cell")) Seq("cell") else Nil
    val idCols = ("id" +: extra).map(col)
    subvectorRows(vectors, m, dim, extra)
      .join(broadcast(codebooks), "sub")
      .withColumn("d", subDist(col("svec"), col("cent"), scale))
      .groupBy(idCols :+ col("sub"): _*)
      .agg(min_by(col("cent_id"), struct(col("d"), col("cent_id")))
        .as("code"))
      .groupBy(idCols: _*)
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        e => e.getField("code")).as("codes"))
  }

  /** PQ top-k by asymmetric distance (ADC): the query stays exact, the
    * corpus is its codes. Each (query-subvector × centroid) distance is
    * computed ONCE (a broadcast-sized table: |queries|·m·ksub rows) and
    * joined to the code rows on (sub, cent_id) — the relational form of
    * the per-query lookup table; ADC = the integer SUM over the m
    * subspaces, so the aggregation is shuffle-order-proof. Returns the k
    * nearest (q_id, id, adc, rn), self-matches excluded, ranked by
    * (adc asc, id asc).
    *
    * Scale shape: the scan is |corpus|·m code rows per query batch —
    * exactly the PQ trade (compressed scan, no full-vector I/O); codes
    * and distances broadcast/shuffle as 8-byte keys and longs. Compose
    * with IVF cells to prune the scan to probed cells. */
  def pqTopK(
      queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
      m: Int, dim: Int, ksub: Int, k: Int, scale: Int = 4): DataFrame = {
    val qdist = subvectorRows(queries, m, dim)
      .join(broadcast(codebooks), "sub")
      .select(col("id").as("q_id"), col("sub"), col("cent_id"),
        subDist(col("svec"), col("cent"), scale).as("d"))
    val codeRows = codes.select(col("id"),
      posexplode(col("codes"))).toDF("id", "sub", "cent_id")
    val adc = codeRows
      .join(broadcast(qdist), Seq("sub", "cent_id"))
      .filter(col("q_id") =!= col("id"))
      .groupBy("q_id", "id")
      .agg(sum("d").as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adc").asc, col("id").asc)
    adc.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Two-stage ANN search: a cheap ADC shortlist re-ranked EXACTLY — the
    * standard production pattern (PQ compresses 100 TB of vectors into
    * RAM-scale codes; the exact pass then touches only `shortlist` full
    * vectors per query, restoring exact-cosine quality at approximate-scan
    * cost). Stage 1 is [[pqTopK]] with k = shortlist; stage 2 joins the
    * shortlist back to the full vectors — a key join against the corpus
    * whose probe side is |queries|·shortlist rows, so the full-vector scan
    * never exceeds the shortlist budget — and re-ranks by rounded exact
    * cosine with id tie-breaks.
    *
    * Returns (q_id, id, cos, rn) with rn ≤ k. */
  def pqRerankTopK(
      queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
      corpus: DataFrame,
      m: Int, dim: Int, ksub: Int, shortlist: Int, k: Int,
      scale: Int = 4): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val cand = pqTopK(queries, codes, codebooks, m, dim, ksub, shortlist,
      scale).select(col("q_id"), col("id"))
    val qn = queries.select(col("id").as("q_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_nrm"))
    val cn = corpus.select(col("id"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("id").asc)
    cand.join(broadcast(qn), "q_id")
      .join(cn, "id")
      .withColumn("cos", round(
        ddot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")),
        scale))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "id", "cos", "rn")
  }

  /** Lloyd-refined PQ codebooks: per subspace, each iteration assigns
    * every subvector to its nearest centroid (integer-scaled L2,
    * centroid-id tie-break) and recomputes the centroid as the element
    * mean — the same integer-scaled, shuffle-order-proof mean as
    * [[kmeansCentroids]], run across all m subspaces in ONE assignment
    * join + ONE aggregation per iteration (subspace is just another key).
    * Seeds come from [[pqCodebooks]]; empty centroids drop out. Output:
    * (sub, cent_id, cent array<double>) — feed to [[pqEncode]]/
    * [[pqTopK]]/[[ivfPqTopK]] unchanged. */
  def pqKmeansCodebooks(
      vectors: DataFrame, m: Int, dim: Int, ksub: Int, iters: Int,
      scale: Int = 4, meanScale: Int = 6): DataFrame = {
    val sv = subvectorRows(vectors, m, dim).boundary()
    var cb = pqCodebooks(vectors, m, dim, ksub)
      .select(col("sub"), col("cent_id"),
        col("cent").cast("array<double>").as("cent"))
    val fac = math.pow(10, meanScale)
    for (_ <- 1 to iters) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id", "sub").orderBy(col("d"), col("cent_id"))
      // sv holds exactly one row per (id, sub), so rn=1 IS the assignment
      cb = sv.join(broadcast(cb), "sub")
        .withColumn("d", subDist(col("svec"), col("cent"), scale))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("sub"), col("cent_id"),
          posexplode(col("svec")).as(Seq("pos", "v")))
        .groupBy("sub", "cent_id", "pos")
        .agg(round(
          sum(round(col("v").cast("double") * fac).cast("long")).cast("double")
            / (count(lit(1)) * fac),
          meanScale).as("mv"))
        .groupBy("sub", "cent_id")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mv")))),
          e => e.getField("mv")).as("cent"))
        .boundary(eager = true) // truncate per-iteration lineage
        .toDF("sub", "cent_id", "cent")
    }
    cb
  }

  /** Deterministic dimension interleave — the cheap orthogonal stand-in
    * for OPQ's learned rotation: new[i] = old[(i·stride) mod dim], with
    * gcd(stride, dim) = 1 so the map is a permutation. A permutation is
    * orthogonal (exact distances are untouched), but adjacent — typically
    * correlated — dimensions scatter across PQ subspaces, balancing
    * per-subspace variance and tightening the codes. Apply to corpus AND
    * queries before any PQ build/search; purely map-side. */
  def interleaveDims(emb: Column, dim: Int, stride: Int): Column = {
    require(BigInt(stride).gcd(BigInt(dim)) == 1,
      s"stride $stride must be coprime with dim $dim to permute")
    transform(sequence(lit(0), lit(dim - 1)),
      i => element_at(emb, (i * stride) % dim + 1))
  }

  /** True OPQ-style orthogonal ROTATION (not just a permutation): the
    * signed Walsh-Hadamard transform y = (H · D · x)/sqrt(dim), compiled
    * ([[graft.functions.RotateKernel]]). Where [[interleaveDims]] only
    * re-buckets dimensions — a shared component across ALL dims stays
    * concentrated in every subspace — the rotation mixes every input dim
    * into every output dim, so rank-dominant structure collapses into few
    * coordinates and per-subspace variance evens out: the standard
    * pre-conditioner PQ wants. Exactly distance-preserving (dim is a
    * power of two, so the normalization is exact) and engine-portable
    * (in-order fold; the oracle replays it). Apply to corpus AND queries
    * before any PQ build/search; purely map-side, codegen'd. */
  def rotateDims(emb: Column, dim: Int): Column =
    graft.functions.vectors.hadamard_rotate(emb, dim)

  /** Residual vectors: each indexed vector minus its cell centroid (as
    * array<double>, emitted under the standard `embedding` name so the
    * PQ helpers apply unchanged). The IVF-residual refinement: residuals
    * concentrate near zero, so the same ksub codebook quantizes them far
    * more tightly than raw vectors. */
  private def residualRows(index: DataFrame, cents: DataFrame): DataFrame =
    index.join(broadcast(cents), col("cell") === col("cent_id"))
      .select(col("id"), col("cell"),
        zip_with(col("embedding"), col("cent_emb"),
          (x, y) => x.cast("double") - y.cast("double")).as("embedding"))

  /** Residual-PQ codebooks. Seeds come from ids in
    * [nCells, nCells + ksub): the first nCells ids ARE the cell centroids,
    * so their residuals are all-zero and would degenerate the codebook. */
  def pqResidualCodebooks(
      index: DataFrame, cents: DataFrame,
      nCells: Int, m: Int, dim: Int, ksub: Int): DataFrame =
    subvectorRows(residualRows(index, cents)
        .filter(col("id") >= nCells && col("id") < nCells + ksub), m, dim)
      .select(col("sub"), col("id").as("cent_id"), col("svec").as("cent"))

  /** Residual-PQ encoding: (id, cell, codes). The cell rides through the
    * encode aggregation as a grouping key (it is functionally dependent on
    * id) — re-joining the corpus-wide index to recover it would cost an
    * extra shuffle over every encoded vector. */
  def pqEncodeResidual(
      index: DataFrame, cents: DataFrame, codebooks: DataFrame,
      m: Int, dim: Int, scale: Int = 4): DataFrame = {
    val sub = dim / m
    residualRows(index, cents)
      .select(col("id"), col("cell"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(col("embedding"), s * sub + 1, lit(sub)))))
      .toDF("id", "cell", "sub", "svec")
      .join(broadcast(codebooks), "sub")
      .withColumn("d", subDist(col("svec"), col("cent"), scale))
      .groupBy("id", "cell", "sub")
      .agg(min_by(col("cent_id"), struct(col("d"), col("cent_id")))
        .as("code"))
      .groupBy("id", "cell")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        e => e.getField("code")).as("codes"))
  }

  /** IVF + residual-PQ top-k: like [[ivfPqTopK]], but ADC runs between the
    * QUERY'S residual against each probed cell and the residual codebook —
    * the distance table is keyed per (query, cell), still broadcast-sized
    * (|queries|·nProbe·m·ksub rows). */
  def ivfPqResidualTopK(
      queries: DataFrame, codes: DataFrame,
      cents: DataFrame, codebooks: DataFrame,
      m: Int, dim: Int, ksub: Int,
      nProbe: Int, k: Int, scale: Int = 4): DataFrame = {
    val sub = dim / m
    val probes = queries
      .select(col("id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
      .join(broadcast(cents))
      .withColumn("cos", round(
        ddot(col("q_emb"), col("cent_emb")) / (col("q_nrm") * col("cent_nrm")),
        scale))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cent_id").asc)
    // probed feeds both the distance table and the candidate join —
    // materialize the cross-join + window once
    val probed = probes.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("cent_id").as("cell"),
        zip_with(col("q_emb"), col("cent_emb"),
          (x, y) => x.cast("double") - y.cast("double")).as("q_res"))
      .boundary()
    val qdist = probed
      .select(col("q_id"), col("cell"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(col("q_res"), s * sub + 1, lit(sub)))))
      .toDF("q_id", "cell", "sub", "svec")
      .join(broadcast(codebooks), "sub")
      .select(col("q_id"), col("cell"), col("sub"), col("cent_id"),
        subDist(col("svec"), col("cent"), scale).as("d"))
    val candRows = codes
      .join(broadcast(probed.select("q_id", "cell")), "cell")
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id"), col("cell"), col("id"), posexplode(col("codes")))
      .toDF("q_id", "cell", "id", "sub", "cent_id")
    val adc = candRows
      .join(broadcast(qdist), Seq("q_id", "cell", "sub", "cent_id"))
      .groupBy("q_id", "id")
      .agg(sum("d").as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adc").asc, col("id").asc)
    adc.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Persist the ANN index: cell assignments bucketed by the probe key
    * (cell) so a search reads only probed buckets in place, PQ codes
    * bucketed by id for the assignment join, and the small centroid /
    * codebook tables as plain parquet (they broadcast at search time).
    * The full-vector `embedding`/`nrm` columns ride with the assignment
    * rows so both exact in-cell search ([[ivfTopKWith]]) and compressed
    * search ([[ivfPqTopK]]) run off the same persisted layer. */
  def writeAnnIndex(
      vectors: DataFrame, db: String, buckets: Int,
      nCells: Int, m: Int, dim: Int, ksub: Int): Unit = {
    val spark = vectors.sparkSession
    val index = ivfIndex(vectors, nCells).boundary()
    val cb = pqCodebooks(vectors, m, dim, ksub).boundary()
    graft.assembly.Deploy.saveBucketed(
      spark, index, db, "cells", buckets, Seq("cell"))
    // encode from the assigned index, not the raw vectors: the codes then
    // carry their cell, and [[ivfPqTopK]] needs no codes-side index join
    graft.assembly.Deploy.saveBucketed(
      spark, pqEncode(index.select("id", "cell", "embedding"), cb, m, dim),
      db, "codes", buckets, Seq("id"))
    // broadcast-sized side tables: single-bucket through the same writer
    graft.assembly.Deploy.saveBucketed(
      spark, cb, db, "codebooks", 1, Seq("sub"))
    graft.assembly.Deploy.saveBucketed(
      spark,
      vectors.filter(col("id") < nCells)
        .select(col("id").as("cent_id"), col("embedding").as("cent_emb"),
          norm(col("embedding")).as("cent_nrm")),
      db, "centroids", 1, Seq("cent_id"))
  }

  /** Reload a persisted ANN index: (cells, codes, centroids, codebooks) —
    * feed straight into [[ivfTopKWith]] / [[ivfPqTopK]]. Catalog entries
    * refreshed like [[Dedup.loadIndex]]. */
  def loadAnnIndex(spark: org.apache.spark.sql.SparkSession, db: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    Seq("cells", "codes", "centroids", "codebooks")
      .foreach(t => spark.catalog.refreshTable(s"$db.$t"))
    (spark.table(s"$db.cells"), spark.table(s"$db.codes"),
      spark.table(s"$db.centroids"), spark.table(s"$db.codebooks"))
  }

  /** IVF + PQ — the composed 100 TB ANN shape: the IVF cell prunes the
    * scan to `nProbe` cells per query, and within them candidates are
    * scored by PQ asymmetric distance over their codes — full vectors are
    * touched NOWHERE in the search (queries exact, corpus compressed,
    * centroids/codebooks broadcast). `index` is (id, ..., cell) from
    * [[ivfIndex]]/[[assignCells]], `codes` from [[pqEncode]], `cents`
    * the full-dim (cent_id, cent_emb, cent_nrm) centroid set. Probing
    * ranks cells by rounded cosine (same convention as [[ivfTopKWith]]);
    * ADC is the integer micro-scaled L2 sum of [[pqTopK]]. */
  def ivfPqTopK(
      queries: DataFrame, index: DataFrame, codes: DataFrame,
      cents: DataFrame, codebooks: DataFrame,
      m: Int, dim: Int, ksub: Int,
      nProbe: Int, k: Int, scale: Int = 4): DataFrame = {
    val probes = queries
      .select(col("id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
      .join(broadcast(cents))
      .withColumn("cos", round(
        ddot(col("q_emb"), col("cent_emb")) / (col("q_nrm") * col("cent_nrm")),
        scale))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cent_id").asc)
    val probed = probes.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("cent_id").as("cell"))
    val qdist = subvectorRows(queries, m, dim)
      .join(broadcast(codebooks), "sub")
      .select(col("id").as("q_id"), col("sub"), col("cent_id"),
        subDist(col("svec"), col("cent"), scale).as("d"))
    // each corpus id sits in exactly one cell, so the probe join yields
    // each (query, candidate) at most nProbe times -> once per cell hit;
    // with one cell per id it is unique already. Codes written by
    // [[pqEncode]] over an IVF-assigned corpus already carry the cell —
    // use it directly; re-joining the corpus-wide index to recover it
    // would shuffle every (id, cell) row per search batch. The index join
    // remains only as the fallback for cell-less code tables.
    val celledCodes =
      if (codes.columns.contains("cell")) codes
      else codes.join(index.select(col("id"), col("cell")), "id")
    val candRows = celledCodes
      .join(broadcast(probed), "cell")
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"), posexplode(col("codes")))
      .toDF("q_id", "id", "sub", "cent_id")
    val adc = candRows
      .join(broadcast(qdist), Seq("q_id", "sub", "cent_id"))
      .groupBy("q_id", "id")
      .agg(sum("d").as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adc").asc, col("id").asc)
    adc.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Top-k probing the `nProbe` cells nearest to each query under an
    * EXPLICIT centroid set (the k-means-refined path; [[ivfTopK]] keeps
    * the seed-centroid convention). `index` is (id, embedding, nrm, cell)
    * as produced by [[assignCells]] over the same centroids. */
  def ivfTopKWith(
      index: DataFrame, cents: DataFrame, queries: DataFrame,
      nProbe: Int, k: Int, scale: Int = 4): DataFrame = {
    val probes = queries
      .select(col("id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
      .join(broadcast(cents))
      .withColumn("cos", round(
        ddot(col("q_emb"), col("cent_emb")) / (col("q_nrm") * col("cent_nrm")),
        scale))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cent_id").asc)
    val probeCells = probes
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("cent_id").as("cell"))
    val cands = probeCells.join(
      index.select(col("id").as("c_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"), col("cell")),
      Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")),
        scale))
      .dropDuplicates("q_id", "c_id")
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id").asc)
    cands
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rn").cast("long").as("rn"))
  }

  /** Top-k within the query vector's `nProbe` nearest cells. */
  def ivfTopK(
      index: DataFrame, queries: DataFrame,
      nCells: Int, nProbe: Int, k: Int, scale: Int = 4): DataFrame = {
    val cents = index.filter(col("id") < nCells)
      .select(col("id").as("cent_id"), col("embedding").as("cent_emb"),
        col("nrm").as("cent_nrm"))
    // probe list per query: nProbe nearest centroids
    val probes = queries
      .select(col("id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
      .join(broadcast(cents))
      .withColumn("cos", round(
        dot(col("q_emb"), col("cent_emb")) / (col("q_nrm") * col("cent_nrm")),
        scale))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cent_id").asc)
    val probeCells = probes
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("cent_id").as("cell"))
    // search only the probed cells; the corpus norm comes from the index
    // row (never recomputed per candidate pair)
    val cands = probeCells.join(
      index.select(col("id").as("c_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"), col("cell")),
      Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")),
        scale))
      // a candidate reachable through two probed cells must count once
      .dropDuplicates("q_id", "c_id")
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id").asc)
    cands
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rn").cast("long").as("rn"))
  }

  /** Embedding-cosine near-duplicate groups: sign-LSH candidate pairs at
    * `minCos`, canonicalized to (canonical_id = smaller id, dup_id). The
    * embedding-space member of the dedup family (exact / MinHash / SimHash
    * / n-gram Jaccard / embedding-cosine). */
  def embeddingNearDups(
      vectors: DataFrame, planes: Int, dim: Int, minCos: Double,
      maxBucket: Long = 1000): DataFrame =
    lshPairs(vectors, planes, dim, minCos, maxBucket = maxBucket)
      .select(col("a_id").as("canonical_id"), col("b_id").as("dup_id"),
        col("cos"))

  /** Same-bucket candidate pairs with exact cosine — the scale path for
    * near-neighbor pairs. Sign buckets larger than `maxBucket` are dropped
    * before the self-join ([[Dedup.capBucketDf]]): a bucket capturing a
    * dense direction of the embedding space (boilerplate/template content)
    * otherwise contributes df² candidate pairs. */
  def lshPairs(
      vectors: DataFrame, planes: Int, dim: Int,
      minCos: Double, scale: Int = 4, maxBucket: Long = 1000): DataFrame = {
    val b0 = vectors.select(col("id"), col("embedding"),
      signBucket(col("embedding"), planes, dim).as("bucket"),
      norm(col("embedding")).as("nrm")) // once per vector, not per pair
    val b = Dedup.capBucketDf(b0, Seq("bucket"), maxBucket)
    b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .withColumn("cos", round(
        dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm")), scale))
      .filter(col("cos") >= minCos)
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"), col("cos"))
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space coarsely, then compare
    * pairs ONLY within a cluster — the published recipe for semantic dedup
    * at web-corpus scale, where sign-LSH ([[lshPairs]]) keys on direction
    * buckets but k-means cells adapt to the corpus's actual density. The
    * within-cell self-join shuffles on the cell id, so candidate
    * generation is df-bounded per cell, never all-pairs; cells larger than
    * `maxCell` are dropped before pairing ([[Dedup.capBucketDf]]), the
    * same hot-bucket guard as every other dedup family member.
    *
    * Cells are the deterministic seed assignment ([[ivfIndex]]); a
    * [[kmeansCentroids]] refinement can replace the seeding via
    * [[assignCells]] without changing the pairing. Returns
    * (a_id, b_id, cell, cos) with a_id < b_id.
    */
  def semanticNearDups(
      vectors: DataFrame, nCells: Int, minCos: Double,
      scale: Int = 4, maxCell: Long = 1000): DataFrame = {
    val idx = ivfIndex(vectors, nCells, scale)
    val b = Dedup.capBucketDf(idx, Seq("cell"), maxCell)
    b.as("x").join(b.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .withColumn("cos", round(
        dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm")), scale))
      .filter(col("cos") >= minCos)
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        col("x.cell").as("cell"), col("cos"))
  }

  /** SemDeDup survivor selection: every vector keeps or drops by whether a
    * LOWER-id near-duplicate shares its cell — the deterministic stand-in
    * for the paper's "keep one example per intra-cluster duplicate group"
    * (the paper picks by distance to centroid; id-order is engine-portable
    * and equally one-per-group on exact-duplicate groups). Returns every
    * input id with its cell and a `kept` flag, so downstream filtering is
    * one semi-join — the corpus-removal shape of [[Dedup.dedupCorpus]] in
    * embedding space. */
  def semanticDedup(
      vectors: DataFrame, nCells: Int, minCos: Double,
      scale: Int = 4, maxCell: Long = 1000): DataFrame = {
    val dropped = semanticNearDups(vectors, nCells, minCos, scale, maxCell)
      .select(col("b_id").as("id")).distinct()
      .withColumn("hit", lit(true))
    ivfIndex(vectors, nCells, scale)
      .join(dropped, Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(!col("hit"), lit(true)).as("kept"))
  }

  // --- SQ8 scalar quantization ------------------------------------------

  /** Per-dimension corpus [min, max] for SQ8 scalar quantization, packed
    * into one broadcastable row (mins, maxs). min/max are order-independent
    * aggregates, so the trained stats are engine-portable bit-for-bit —
    * unlike a mean/variance formulation, whose float sums would depend on
    * shuffle order. */
  def sqStats(corpus: DataFrame, dim: Int): DataFrame =
    corpus
      .select(posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy("p")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("p"), col("mn")))),
          _.getField("mn")).as("mins"),
        transform(array_sort(collect_list(struct(col("p"), col("mx")))),
          _.getField("mx")).as("maxs"))

  /** SQ8 encode: one uint8 code per dimension (stored int in [0,255]) —
    * a 4x smaller index than float32, the classic faiss SQ8 layout. A
    * degenerate dimension (mx == mn) codes to 0 and decodes back to mn.
    * Returns (id, codes); the stats row rides along broadcast. */
  def sqEncode(vectors: DataFrame, stats: DataFrame, dim: Int): DataFrame =
    vectors.crossJoin(broadcast(stats))
      .select(col("id"),
        transform(sequence(lit(1), lit(dim)), p => {
          val x = element_at(col("embedding"), p).cast("double")
          val mn = element_at(col("mins"), p)
          val mx = element_at(col("maxs"), p)
          when(mx === mn, lit(0L)).otherwise(
            least(lit(255L), greatest(lit(0L),
              round((x - mn) * lit(255.0) / (mx - mn), 0).cast("long"))))
        }).as("codes"))

  /** Persist the SQ8 index: uint8 codes bucketed by id plus the one-row
    * per-dimension stats table (it broadcasts at search time). A
    * persisted [[sqTopK]] reads 1 byte/dim of corpus data and nothing
    * else — the same serving shape as [[writeAnnIndex]] one memory tier
    * up. */
  def writeSqIndex(
      vectors: DataFrame, db: String, buckets: Int, dim: Int): Unit = {
    val spark = vectors.sparkSession
    val stats = sqStats(vectors, dim).boundary()
    graft.assembly.Deploy.saveBucketed(
      spark, sqEncode(vectors, stats, dim), db, "sq_codes", buckets,
      Seq("id"))
    graft.assembly.Deploy.saveBucketed(
      spark, stats.withColumn("p0", lit(0)), db, "sq_stats", 1, Seq("p0"))
  }

  /** Reload a persisted SQ8 index: (codes, stats) for [[sqTopK]]. */
  def loadSqIndex(spark: org.apache.spark.sql.SparkSession, db: String)
      : (DataFrame, DataFrame) = {
    Seq("sq_codes", "sq_stats")
      .foreach(t => spark.catalog.refreshTable(s"$db.$t"))
    (spark.table(s"$db.sq_codes"), spark.table(s"$db.sq_stats").drop("p0"))
  }

  /** Asymmetric SQ8 top-k: queries stay float, candidates decode from
    * their uint8 codes (dec_p = mn_p + code_p·(mx_p−mn_p)/255) — the
    * asymmetric-distance trick that keeps query precision while the
    * corpus side reads 1 byte/dim. Decoded norms are computed once per
    * candidate. Output (q_id, c_id, cos, rn) like [[topK]]. */
  def sqTopK(
      queries: DataFrame, codes: DataFrame, stats: DataFrame,
      dim: Int, k: Int, scale: Int = 4): DataFrame = {
    val dec = codes.crossJoin(broadcast(stats))
      .select(col("id").as("c_id"),
        transform(sequence(lit(1), lit(dim)), p => {
          val mn = element_at(col("mins"), p)
          val mx = element_at(col("maxs"), p)
          mn + element_at(col("codes"), p).cast("double") * (mx - mn) / lit(255.0)
        }).as("d"))
      .withColumn("d_nrm", sqrt(ddot(col("d"), col("d"))))
    val q = queries.select(col("id").as("q_id"), col("embedding").as("q_emb"),
      sqrt(ddot(col("embedding"), col("embedding"))).as("q_nrm"))
    val scored = q.join(dec, col("q_id") =!= col("c_id"))
      .withColumn("cos", round(
        ddot(col("q_emb"), col("d")) / (col("q_nrm") * col("d_nrm")), scale))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rn").cast("long").as("rn"))
  }
}
