package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

/** Semantics the DuckDB gate can't express: recall guarantees of the LSH
  * paths against planted duplicates, and basic metric properties.
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("dedup-test")
  val dir = "/root/testdata/sf0.001"

  def docs = Tables.table(spark, dir, "documents").select("doc_id", "text")

  def withExactCopies = {
    val copies = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
    docs.unionByName(copies)
  }

  test("fused shingle_hashes kernel == word_shingles + poly_hash, per position") {
    import spark.implicits._
    // whitespace runs, leading/trailing space, tabs, sub-n docs, empty
    // and blank text, surrogate-pair code points, repeated windows
    val texts = Seq(
      "  the   quick brown\tfox jumps over the lazy dog  ",
      "one two", "single", "", "   ",
      "unicode κόσμος emoji 😀 mix 漢字 ok end",
      "a b a b a b").toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      val rows = texts.select(
        graft.functions.vectors.shingle_hashes(col("text"), n).as("fused"),
        transform(graft.functions.vectors.word_shingles(col("text"), n),
          s => graft.functions.exprs.poly_hash(s)).as("viaStrings"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"n=$n fused=${r.getSeq[Long](0)} strings=${r.getSeq[Long](1)}")
      }
    }
  }

  test("per-document MinHash near-dups == the per-shingle chain (law)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf((0 until 40).map(i => s"w$i"))
    val doc = Gen.choose(12, 30).flatMap(Gen.listOfN(_, word))
    val corpus = for {
      bases <- Gen.listOfN(10, doc)
      edits <- Gen.listOfN(10, Gen.choose(0, 29))
      hot <- doc
      warm <- doc
      extra <- Gen.listOfN(3, word)
    } yield {
      def near(ws: List[String], e: Int) = ws.updated(e % ws.size, "zz")
      val rows = bases.zipWithIndex.map { case (ws, i) => (Option(i + 1L), ws) } ++
        // planted near-copies: one token changed
        bases.zip(edits).zipWithIndex.map { case ((ws, e), i) =>
          (Option(i + 11L), near(ws, e)) } ++
        // a hot band: five identical documents, every bucket over the cap
        (21L to 25L).map(i => (Option(i), hot)) ++
        // three copies plus a null-id copy: its buckets hold four rows
        (26L to 28L).map(i => (Option(i), warm)) :+ (None, warm)
      rows.map { case (id, ws) => (id, Option(ws.mkString(" "))) } ++ Seq(
        // one id over two rows: a copy of doc 1 and a short extra doc
        (Option(29L), Option(bases.head.mkString(" "))),
        (Option(29L), Option(extra.mkString(" "))),
        // null, empty, blank and sub-n text: no shingles, no row
        (Option(30L), None), (Option(31L), Option("")),
        (Option(32L), Option("   ")), (Option(33L), Option("w1 w2")))
    }
    var nearFound = 0
    var repeatedPaired = 0
    // (n, r) per seed; r = 5 leaves a two-minhash tail band at k = 12
    for ((seed, n, r) <- Seq((1L, 3, 3), (2L, 2, 5), (3L, 3, 2))) {
      val df = corpus.pureApply(Gen.Parameters.default, Seed(seed))
        .toDF("doc_id", "text")
      val maxBucket = 3L
      // the per-shingle reference: shingleHashes -> minhash ->
      // lshCandidates -> jaccard
      val sh = Dedup.shingleHashes(df, "doc_id", "text", n).localCheckpoint()
      val ref = Dedup.jaccard(
          Dedup.lshCandidates(Dedup.minhash(sh, 12), r, maxBucket), sh)
        .withColumn("containment",
          col("inter").cast("double") /
            least(col("sz_a"), col("sz_b")).cast("double"))
        .localCheckpoint()
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
          .toSeq.sorted
      for (t <- Seq(0.0, 0.5)) {
        val want = rows(ref.where(col("jaccard") >= t)
          .select("a_id", "b_id", "jaccard"))
        assert(rows(Dedup.minhashNearDups(df, "doc_id", "text", n = n, k = 12,
          r = r, threshold = t, maxBucket = maxBucket)) == want,
          s"seed $seed jaccard >= $t")
        val wantC = rows(ref.where(col("containment") >= t)
          .select("a_id", "b_id", "containment"))
        assert(rows(Dedup.containmentNearDups(df, "doc_id", "text", n = n,
          k = 12, r = r, threshold = t, maxBucket = maxBucket)) == wantC,
          s"seed $seed containment >= $t")
        if (t == 0.0) {
          nearFound += want.count { case (a, b, _) => b == a + 10 }
          if (want.exists(p => p._1 == 29L || p._2 == 29L)) repeatedPaired += 1
          assert(!want.exists(p => p._1 >= 21L && p._2 <= 28L),
            s"seed $seed: a capped group paired")
        }
      }
    }
    // the planted shapes reached the comparison: near-copy pairs found and
    // the repeated id paired (both are probabilistic per seed)
    assert(nearFound >= 10, s"$nearFound near-copy pairs over three seeds")
    assert(repeatedPaired >= 1, "the repeated id was never a candidate")
  }

  test("SimHashSig over a token array == Dedup.simhash over its token rows") {
    import spark.implicits._
    // negative ids: the documents table holds the positive ones
    val texts = Seq(
      (-1L, "a a a b b c"), (-2L, "the quick brown fox the lazy dog the end"),
      (-3L, ""), (-4L, "   "), (-5L, "unicode κόσμος emoji 😀 漢字 ok"),
      (-6L, "repeat repeat repeat repeat")).toDF("doc_id", "text")
      .unionByName(docs)
    val arrays = texts.select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("toks"))
      // a null token and an empty array, which tokens() never yields
      .unionByName(Seq(-7L).toDF("doc_id").select(col("doc_id"),
        array(lit("x"), lit(null).cast("string"), lit("y")).as("toks")))
      .unionByName(Seq(-8L).toDF("doc_id").select(col("doc_id"),
        array().cast("array<string>").as("toks")))
    val kernel = arrays.select(col("doc_id"),
        graft.functions.vectors.simhash_sig(col("toks")).as("k"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val viaRows = Dedup.simhash(arrays.select(col("doc_id"),
        explode(col("toks")).as("tok")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel.size > 50)
    kernel.foreach { case (id, k) =>
      assert(k == viaRows.get(id), s"doc $id: kernel $k, token rows ${viaRows.get(id)}")
    }
    assert(kernel(-8L).isEmpty, "an empty array has no fingerprint")
    assert(kernel(-3L).isDefined, "the \"\" token of empty text votes")
    for (b <- Seq(30, 31))
      assert(viaRows.values.exists(v => ((v >>> b) & 1L) == 1L) &&
        viaRows.values.exists(v => ((v >>> b) & 1L) == 0L), s"bit $b constant")
  }

  test("exact dedup finds exactly the planted copies") {
    val expected = docs.filter(col("doc_id") % 10 === 0).count()
    val dups = Dedup.exact(withExactCopies, "doc_id", "text").collect()
    assert(dups.length == expected)
    assert(dups.forall(r => r.getLong(1) == r.getLong(0) + 100000))
  }

  test("minhash LSH recall: every exact copy is found with jaccard 1.0") {
    val found = Dedup.minhashNearDups(withExactCopies, "doc_id", "text",
        n = 3, k = 12, r = 3, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(0) + 100000)).toSet
    assert(planted.subsetOf(found),
      s"missing: ${planted -- found}") // identical docs collide in every band
  }

  test("containment catches excerpts that Jaccard misses") {
    // plant an "excerpt" (first half of the tokens) of every 4th doc;
    // its shingles are a subset of the host's, so containment reads 1.0
    // while Jaccard reads ~0.5. r=1 bands (single-minhash buckets) give
    // the Jaccard-tuned index enough collision probability at J≈0.5.
    val toks = TextAnalysis.tokens(col("text"))
    val excerpts = docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 500000).as("doc_id"),
        array_join(slice(toks, lit(1), (size(toks) / 2)), " ").as("text"))
    val corpus = docs.unionByName(excerpts)
    val found = Dedup.containmentNearDups(corpus, "doc_id", "text",
        n = 3, k = 12, r = 1, threshold = 0.9)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("containment")))
    val planted = excerpts.select("doc_id").collect().map(_.getLong(0)).toSet
    val hits = found.filter(t => planted(t._2) && t._2 - 500000 == t._1)
    assert(hits.length >= planted.size * 8 / 10,
      s"found ${hits.length} of ${planted.size} planted excerpts")
    hits.foreach { case (a, b, c) =>
      assert(c == 1.0, s"excerpt ($a,$b) containment $c != 1.0")
    }
    // the same pairs fail a Jaccard threshold that containment clears
    val jac = Dedup.minhashNearDups(corpus, "doc_id", "text",
        n = 3, k = 12, r = 1, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    hits.foreach { case (a, b, _) =>
      assert(!jac.contains((a, b)),
        s"excerpt pair ($a,$b) unexpectedly clears Jaccard 0.9")
    }
  }

  test("nameMatch links perturbed names back to their source rows") {
    val p = Tables.table(spark, dir, "part").select("p_partkey", "p_name")
    val variants = p.select((col("p_partkey") + 1000000L).as("v_key"),
      concat(col("p_name"), lit("s")).as("v_name"))
    val matched = Dedup.nameMatch(variants, "v_key", "v_name",
        p, "p_partkey", "p_name")
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(matched.nonEmpty)
    // TPC-H part names repeat word combinations, so a variant can
    // legitimately tie onto a different row with the identical name —
    // count a link as correct when the matched name EQUALS the source's
    val names = p.collect()
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[String]("p_name"))
      .toMap
    val correct = matched.count { case (a, b) =>
      b == a - 1000000L || names(b) == names(a - 1000000L)
    }
    assert(correct >= matched.length * 9 / 10,
      s"only $correct of ${matched.length} links point at the source name")
  }

  test("clusterSizeHistogram accounts exactly for dedupCorpus removals") {
    val corpus = withExactCopies
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text",
      n = 3, k = 12, r = 3, threshold = 0.6)
    val hist = Dedup.clusterSizeHistogram(pairs).collect()
      .map(r => (r.getAs[Long]("size"), r.getAs[Long]("n_clusters")))
    assert(hist.forall(_._1 >= 2), "singleton clusters must not appear")
    val removed = hist.map { case (sz, n) => (sz - 1) * n }.sum
    val kept = Dedup.dedupCorpus(corpus, "doc_id", pairs).count()
    assert(kept == corpus.count() - removed,
      s"histogram says $removed removals; dedupCorpus kept $kept")
  }

  test("incremental near-dup equals the batch run restricted to new pairs") {
    val toks = TextAnalysis.tokens(col("text"))
    val newBatch = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        array_join(slice(toks, lit(1), size(toks) - 2), " ").as("text"))
    val full = docs.unionByName(newBatch)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = pairs(
      Dedup.minhashNearDups(full, "doc_id", "text", n = 3, k = 12, r = 3,
          threshold = 0.6)
        .filter(col("a_id") >= 100000 || col("b_id") >= 100000)
        .select("a_id", "b_id"))
    val oldSh = Dedup.shingleSet(docs, "doc_id", "text", 3)
    val oldSigs = Dedup.bandSignatures(Dedup.minhash(oldSh, 12), 3)
    val delta = pairs(
      Dedup.deltaNearDups(newBatch, "doc_id", "text", oldSigs, oldSh,
          n = 3, k = 12, r = 3, threshold = 0.6)
        .select("a_id", "b_id"))
    assert(delta == batch)
    assert(delta.nonEmpty)
  }

  test("deltaNearDups treats a re-ingested id as a replacement") {
    // re-ingest the whole corpus under the SAME ids: old rows must be
    // replaced, not unioned — otherwise shingle sets double-count and
    // jaccard exceeds 1
    val oldSh = Dedup.shingleSet(docs, "doc_id", "text", 3)
    val oldSigs = Dedup.bandSignatures(Dedup.minhash(oldSh, 12), 3)
    val delta = Dedup.deltaNearDups(docs, "doc_id", "text", oldSigs, oldSh,
      n = 3, k = 12, r = 3, threshold = 0.6)
    assert(delta.filter(col("jaccard") > 1.0).count() == 0)
    val batch = Dedup.minhashNearDups(docs, "doc_id", "text",
      n = 3, k = 12, r = 3, threshold = 0.6)
    assert(delta.select("a_id", "b_id").collect().toSet ==
      batch.select("a_id", "b_id").collect().toSet)
  }

  test("simhash of identical texts is identical; near-dup pairs found") {
    val sh = Dedup.simhash(Dedup.tokenSet(withExactCopies, "doc_id", "text"))
    val pairs = Dedup.simhashNearDups(sh, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(0) + 100000)).toSet
    assert(planted.subsetOf(pairs))
  }

  test("simhash fingerprint bits 30-31 carry entropy (full-width mixer)") {
    // with the raw mod-1e9+7 token hash (< 2^30) these bits were ~always
    // zero, so byte 3 of the byte-block candidate key ran hot and leaned
    // on the bucket cap; mix32 restores a ~balanced per-bit vote
    val sh = Dedup.simhash(Dedup.tokenSet(docs, "doc_id", "text"))
      .localCheckpoint(false)
    val n = sh.count()
    for (b <- Seq(30, 31)) {
      val set = sh.filter(
        shiftright(col("simhash"), b).bitwiseAND(lit(1L)) === 1L).count()
      assert(set > n / 10 && set < n * 9 / 10,
        s"fingerprint bit $b is near-constant: $set of $n docs set")
    }
    val distinctB3 = sh.select(
      shiftright(col("simhash"), 24).bitwiseAND(lit(255L)).as("b3"))
      .distinct().count()
    assert(distinctB3 >= 16, s"byte 3 collapsed to $distinctB3 values")
  }

  test("df cap bounds candidates under a planted stop shingle") {
    import spark.implicits._
    // 40 docs all share one stop phrase (its shingles hit df=40); docs 1
    // and 2 additionally share rare content. Uncapped, the stop shingle
    // alone yields all 40*39/2 = 780 pairs; capped at df<=10 only the true
    // near-dup pair survives candidate generation.
    val stop = "alpha beta gamma delta"
    val rows = (1 to 40).map { i =>
      val rare = if (i <= 2) "unique shared rare tail content here"
      else s"filler$i word$i token$i extra$i more$i"
      (i.toLong, s"$stop $rare")
    }
    val df = rows.toDF("doc_id", "text")
    val sh = Dedup.shingleSet(df, "doc_id", "text", 3)
    val capped = Dedup.capShingleDf(sh, maxDf = 10)
    def cands(s: org.apache.spark.sql.DataFrame) =
      s.as("p").join(s.as("q"),
          col("p.sh_hash") === col("q.sh_hash") &&
            col("p.doc_id") < col("q.doc_id"))
        .select(col("p.doc_id").as("a"), col("q.doc_id").as("b"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = cands(sh)
    val bounded = cands(capped)
    assert(uncapped.size == 780, s"expected all-pairs blowup, got ${uncapped.size}")
    assert(bounded == Set((1L, 2L)), s"got $bounded")
    // verification still runs on FULL sets: jaccard counts stop shingles
    val j = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      n = 3, maxDf = 10, minIntersect = 1, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(j == Set((1L, 2L)))
  }

  test("hot-bucket cap bounds every LSH candidate path") {
    import spark.implicits._
    // A degenerate bucket on each path: identical texts put all docs in the
    // same band signature and the same simhash bytes; identical embeddings
    // put all vectors in one sign bucket. Uncapped, each self-join yields
    // n*(n-1)/2 pairs from that one bucket; capped below n, zero candidates
    // survive (the planted degenerate content IS the hot bucket).
    val n = 30
    val same = (1 to n).map(i => (i.toLong, "same same text for every doc"))
      .toDF("doc_id", "text")
    // minhash banding: all docs share every band signature
    val mh = Dedup.minhash(Dedup.shingleSet(same, "doc_id", "text", 3), 12)
    assert(Dedup.lshCandidates(mh, r = 3).count() == n.toLong * (n - 1) / 2)
    assert(Dedup.lshCandidates(mh, r = 3, maxBucket = 10).count() == 0)
    // simhash bytes: identical fingerprints, all four byte buckets hot
    val sh = Dedup.simhash(Dedup.tokenSet(same, "doc_id", "text"))
    assert(Dedup.simhashNearDups(sh).count() == n.toLong * (n - 1) / 2)
    assert(Dedup.simhashNearDups(sh, maxBucket = 10).count() == 0)
    // sign-LSH: identical embeddings, one hot sign bucket
    val vecs = (1 to n).map(i => (i.toLong, Array.fill(8)(0.5f)))
      .toDF("id", "embedding")
    assert(Similarity.lshPairs(vecs, planes = 4, dim = 8, minCos = 0.0)
      .count() == n.toLong * (n - 1) / 2)
    assert(Similarity.lshPairs(vecs, planes = 4, dim = 8, minCos = 0.0,
      maxBucket = 10).count() == 0)
    // hotBuckets reports exactly what the cap dropped (auditable, not silent)
    val hot = Dedup.hotBuckets(
      vecs.select(col("id"),
        Similarity.signBucket(col("embedding"), 4, 8).as("bucket")),
      Seq("bucket"), 10).collect()
    assert(hot.length == 1 && hot.head.getAs[Long]("df") == n.toLong)
  }

  test("cosine is 1.0 for identical vectors and within [-1,1] everywhere") {
    val emb = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val self = emb.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .agg(min("c"), max("c")).collect().head
    assert(math.abs(self.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(self.getDouble(1) - 1.0) < 1e-9)
    val topk = Similarity.topK(emb.filter(col("id") < 5), emb, k = 3)
    val rows = topk.collect()
    assert(rows.length == 15) // 5 queries x k=3
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }

  test("kmeans refinement recovers planted clusters; refined IVF is exact") {
    import spark.implicits._
    import graft.operators.Similarity
    // two tight cosine clusters along axes e0/e1; even ids in A, odd in B,
    // so the seed set {0, 1} lands one seed per cluster
    def vec(axis: Int, jitter: Float): Array[Float] = {
      val v = Array.fill(4)(jitter)
      v(axis) = 1.0f
      v
    }
    val rows = (0 until 20).map { i =>
      (i.toLong, vec(i % 2, 0.01f * (1 + i / 2)))
    }
    val emb = rows.toDF("id", "embedding")
    val cents = Similarity.kmeansCentroids(emb, nCells = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // each refined centroid points along its cluster's axis
    assert(cents(0L).zipWithIndex.maxBy(_._1)._2 == 0)
    assert(cents(1L).zipWithIndex.maxBy(_._1)._2 == 1)
    // well-separated clusters: probing 1 refined cell reproduces the exact
    // brute-force top-k for every query
    val centDf = Similarity.kmeansCentroids(emb, nCells = 2, iters = 2)
    val index = Similarity.assignCells(emb, centDf)
    val ivf = Similarity.ivfTopKWith(index, centDf, emb, nProbe = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val brute = Similarity.topK(emb, emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(ivf == brute)
  }

  test("PQ encodes seed vectors to themselves; ADC search finds planted twins") {
    import spark.implicits._
    import graft.operators.Similarity
    // 16 base vectors spread over 4 axes, plus near-twins of ids 0-3 at
    // ids 100-103: the twin must be each query's ADC nearest neighbor
    def vec(axis: Int, jitter: Float): Array[Float] = {
      val v = Array.fill(8)(jitter)
      v(axis) = 1.0f
      v
    }
    // unique jitter per id: every seed's subvectors are distinct, so each
    // seed's nearest centroid is provably itself in every subspace
    val base = (0 until 16).map(i => (i.toLong, vec(i % 4, 0.01f * i)))
    val twins = (0 until 4).map(i => (100L + i, vec(i, 0.001f)))
    val emb = (base ++ twins).toDF("id", "embedding")
    val cb = Similarity.pqCodebooks(emb, m = 4, dim = 8, ksub = 16)
    val codes = Similarity.pqEncode(emb, cb, m = 4, dim = 8)
    // a seed vector's subvectors ARE centroids: distance 0 to itself
    val codeMap = codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    (0 until 16).foreach { i =>
      assert(codeMap(i.toLong).forall(_ == i.toLong),
        s"seed $i -> ${codeMap(i.toLong)}")
    }
    val top = Similarity.pqTopK(
      emb.filter(col("id") >= 100), codes, cb,
      m = 4, dim = 8, ksub = 16, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0 until 4).foreach { i =>
      assert(top(100L + i) == i.toLong,
        s"twin of $i not recovered: ${top(100L + i)}")
    }
  }

  test("Hadamard rotation beats the interleave on permutation-proof structure") {
    import spark.implicits._
    import graft.operators.Similarity
    // all the variance lives on dims {0,3,6,9} — exactly the dims the
    // stride-3 interleave gathers INTO one subspace (new[i]=old[3i%16]),
    // so no re-bucketing can spread it; the rotation mixes every input
    // dim into every output dim and must quantize tighter
    val rows = (0 until 120).map { i =>
      val v = Array.tabulate(16) { d =>
        if (d % 3 == 0 && d < 12) ((i * 31 + d * 17) % 19 - 9) * 0.5f
        else ((i + d) % 3) * 0.01f
      }
      (i.toLong, v)
    }
    val emb = rows.toDF("id", "embedding")
    def quantError(embT: org.apache.spark.sql.DataFrame): Double = {
      val (m, dim, ksub) = (4, 16, 8)
      val subLen = dim / m
      val cb = Similarity.pqCodebooks(embT, m, dim, ksub)
      val codes = Similarity.pqEncode(embT, cb, m, dim)
      val sv = embT.select(col("id"),
          posexplode(transform(sequence(lit(0), lit(m - 1)),
            s => slice(col("embedding"), s * subLen + 1, lit(subLen)))))
        .toDF("id", "sub", "svec")
      val dec = codes.select(col("id"), posexplode(col("codes")))
        .toDF("id", "sub", "code")
        .join(cb.withColumnRenamed("cent_id", "code"), Seq("sub", "code"))
      sv.join(dec, Seq("id", "sub"))
        .select(aggregate(zip_with(col("svec"), col("cent"), (x, y) => {
          val d = x.cast("double") - y.cast("double"); d * d
        }), lit(0.0), (a, v) => a + v).as("e"))
        .agg(sum("e")).collect()(0).getDouble(0)
    }
    val errInt = quantError(emb.select(col("id"),
      Similarity.interleaveDims(col("embedding"), 16, 3).as("embedding")))
    val errRot = quantError(emb.select(col("id"),
      Similarity.rotateDims(col("embedding"), 16).as("embedding")))
    assert(errInt > 0)
    assert(errRot <= errInt,
      s"rotation distortion $errRot exceeds interleave $errInt")
  }

  test("HLL sketch stays within its error bound of the exact count") {
    // the gate itself now carries the bound: (l_returnflag, exact_parts,
    // within_rsd) where within_rsd asserts the estimate landed within
    // 3x the configured rsd — every row must report true
    val rows = graft.SparkEntry.queries("q_approx_distinct")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_rsd"),
        s"HLL estimate out of bounds for ${r.getAs[String]("l_returnflag")}")
      assert(r.getAs[Long]("exact_parts") > 0)
    }
  }

  test("langId returns a profile language on English-marker text") {
    import spark.implicits._
    val df = Seq(
      ("the cat sat on the mat and a dog", "en"),
      ("der hund und die katze ist das", "de"),
      ("xyzzy qwerty", "und"),
    ).toDF("text", "expected")
    val got = df.select(TextAnalysis.langId(col("text")).as("got"), col("expected"))
      .collect()
    assert(got.forall(r => r.getString(0) == r.getString(1)))
  }

  // --- exact-substring dedup (Lee et al. 2022) ---------------------------

  test("duplicatedSpans flags every occurrence except the global first") {
    import spark.implicits._
    val span = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"head $span tail"),
      (2L, s"$span middle words $span"),
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(df, "doc_id", "text", n = 8)
      .filter(col("gram") === span)
      .select("doc_id", "pos").as[(Long, Long)].collect().toSet
    // doc 1 pos 2 is the corpus-global first (smallest doc_id, pos): only
    // the two occurrences in doc 2 are duplicated
    assert(got == Set((2L, 1L), (2L, 11L)))
  }

  test("exactSubstrDedup removes only the repeated span, overlaps merged") {
    import spark.implicits._
    val span = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"head $span tail"),
      // nine-token repeat: two overlapping 8-windows whose coverage must
      // merge to exactly nine removed tokens, not 16
      (2L, s"$span nine unique2 words2"),
      (3L, s"$span nine unique3 words3"),
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrDedup(df, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 holds the global first occurrence: survives verbatim
    assert(got(1L) == (s"head $span tail", 10L, 10L))
    // doc 2's first 8-window repeats doc 1, and "two three ... nine"
    // windows repeat between docs 2 and 3; doc 2 keeps only its
    // non-covered tail
    assert(got(2L) == ("nine unique2 words2", 3L, 11L), s"got ${got(2L)}")
    assert(got(3L)._1 == "unique3 words3", s"got ${got(3L)}")
    // no token is ever invented: kept <= total, and kept tokens are a
    // subsequence of the original
    assert(got.values.forall { case (_, kept, total) => kept <= total })
  }

  test("exactSubstrDedup keeps fully-covered docs with empty text") {
    import spark.implicits._
    val span = "one two three four five six seven eight"
    val df = Seq((1L, span), (2L, span)).toDF("doc_id", "text")
    val got = Dedup.exactSubstrDedup(df, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (span, 8L, 8L))
    assert(got(2L) == ("", 0L, 8L)) // present, empty — never vanishes
  }

  test("exactSubstrDedup passes short docs through untouched") {
    import spark.implicits._
    val df = Seq((1L, "too short to window"), (2L, "too short to window"))
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstrDedup(df, "doc_id", "text", n = 8).collect()
    assert(got.length == 2)
    assert(got.forall(_.getString(1) == "too short to window"))
  }

  // --- SemDeDup (Abbas et al. 2023) --------------------------------------

  def plantedVecs = {
    import spark.implicits._
    // 8 well-separated seed directions (ids 0-7 are the ivfIndex seeds),
    // plus exact copies of seeds 0 and 3 under higher ids
    val dim = 8
    val rows = (0 until 8).map { i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == i) 1f else 0f))
    } ++ Seq(
      (100L, Array.tabulate(dim)(j => if (j == 0) 1f else 0f)),
      (101L, Array.tabulate(dim)(j => if (j == 3) 1f else 0f)))
    rows.toDF("id", "embedding")
  }

  test("semanticNearDups pairs exact copies within their cell only") {
    val pairs = Similarity.semanticNearDups(plantedVecs, nCells = 8,
        minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(pairs == Set((0L, 100L, 1.0), (3L, 101L, 1.0)))
  }

  test("semanticDedup keeps the lowest id of each duplicate group") {
    val kept = Similarity.semanticDedup(plantedVecs, nCells = 8, minCos = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(kept.size == 10) // every input id present with a verdict
    assert(kept(100L) == false && kept(101L) == false)
    assert((0L to 7L).forall(kept(_)))
  }

  test("semanticNearDups hot-cell cap bounds the within-cell join") {
    import spark.implicits._
    // 60 copies of direction 0 in one cell: uncapped that is 60*59/2
    // pairs from a single cell; capped at maxCell=10 the cell is dropped
    // before pairing, so candidate generation stays bounded
    val dim = 4
    val seeds = (0 until 4).map { i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == i) 1f else 0f))
    }
    val hot = (10 until 70).map { i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == 0) 1f else 0f))
    }
    val df = (seeds ++ hot).toDF("id", "embedding")
    val capped = Similarity.semanticNearDups(df, nCells = 4, minCos = 0.9,
      maxCell = 10)
    assert(capped.count() == 0)
    val uncapped = Similarity.semanticNearDups(df, nCells = 4, minCos = 0.9,
      maxCell = 100000)
    assert(uncapped.count() == 61L * 60 / 2)
  }

  test("lineDedup strips corpus-wide boilerplate, keeps unique lines in order") {
    import spark.implicits._
    val docs = (1L to 5L).map { i =>
      (i, s"header line\nbody $i one\nbody $i two\nfooter line")
    }.toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text", minDf = 4)
      .orderBy("doc_id").collect()
    assert(out.length == 5)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("clean_text") == s"body $id one\nbody $id two")
      assert(r.getAs[Long]("n_lines") == 4L)
      assert(r.getAs[Long]("n_dropped") == 2L)
    }
  }

  test("lineDedup: intra-doc repeats survive; fully-boilerplate doc stays") {
    import spark.implicits._
    val docs = Seq(
      (1L, "dup\nown a\nown a\nown b"), // 'own a' repeats inside ONE doc
      (2L, "dup\nown c"),
      (3L, "dup")) // fully boilerplate once 'dup' is hot
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text", minDf = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("clean_text") == "own a\nown a\nown b")
    assert(out(1).getAs[String]("clean_text") == "own c")
    assert(out(2).getAs[String]("clean_text") == "" &&
      out(2).getAs[Long]("n_dropped") == 1L)
  }

  test("lineDedupDelta == batch lineDedup restricted to the delta docs") {
    import graft.sources.Tables
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        concat(lit("shared header\n"), col("text"),
          lit("\nshared footer")).as("text"))
    val stored = Dedup.docLineHashes(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      .localCheckpoint(false)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val inc = rows(Dedup.lineDedupDelta(delta, "doc_id", "text", stored, 30L))
    val batch = rows(Dedup.lineDedup(docs, "doc_id", "text", 30L)
      .filter(col("doc_id") % 2 === 1))
    assert(inc.nonEmpty && inc == batch)
  }

  test("appendLineIndex is idempotent per doc; persisted delta == stand-in") {
    import graft.sources.Tables
    val db = "graft_line_idx_spec"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    // Deploy.saveBucketed (inside writeLineIndex) clears any stale location
    spark.sql(s"CREATE DATABASE $db")
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        concat(lit("shared header\n"), col("text")).as("text"))
    val half = docs.filter(col("doc_id") % 2 === 0)
    Dedup.writeLineIndex(half.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", db, buckets = 4)
    val b2 = half.filter(col("doc_id") % 4 === 2)
    Dedup.appendLineIndex(b2, "doc_id", "text", db, buckets = 4)
    val n1 = Dedup.loadLineIndex(spark, db).count()
    // a replayed append must not double-count any doc into the df
    Dedup.appendLineIndex(b2, "doc_id", "text", db, buckets = 4)
    assert(Dedup.loadLineIndex(spark, db).count() == n1)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val fromStore = rows(Dedup.lineDedupDelta(delta, "doc_id", "text",
      Dedup.loadLineIndex(spark, db), 30L))
    val standIn = rows(Dedup.lineDedupDelta(delta, "doc_id", "text",
      Dedup.docLineHashes(half, "doc_id", "text"), 30L))
    assert(fromStore == standIn)
  }

  test("SQ8 round-trips within one quantization step; topk finds exact twin") {
    import spark.implicits._
    val base = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(d => (math.sin(i * 8 + d) * 5).toFloat))
    }
    // plant an exact copy of vector 3 at id 100
    val df = (base :+ (100L, base(3)._2)).toDF("id", "embedding")
    val stats = Similarity.sqStats(df, 8)
    val codes = Similarity.sqEncode(df, stats, 8)
    val Array(st) = stats.collect()
    val mins = st.getSeq[Double](0)
    val maxs = st.getSeq[Double](1)
    val codeMap = codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // decode error bounded by half a step per dim
    base.foreach { case (id, v) =>
      val cs = codeMap(id)
      v.zipWithIndex.foreach { case (x, d) =>
        val step = (maxs(d) - mins(d)) / 255.0
        val dec = mins(d) + cs(d) * step
        assert(math.abs(dec - x) <= step / 2 + 1e-9,
          s"id=$id dim=$d x=$x dec=$dec step=$step")
      }
    }
    val top = Similarity.sqTopK(
      df.filter(col("id") === 3), codes, stats, 8, k = 1).collect()
    assert(top.length == 1 && top.head.getAs[Long]("c_id") == 100L,
      s"expected exact twin 100, got ${top.toSeq}")
  }
}
