package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curate
import graft.sources.Tables

/** Curation-operator semantics the DuckDB gate can't express: the planted
  * leak is flagged at full overlap, redaction removes every planted
  * pattern, sampling is deterministic/append-stable, and the sampled rate
  * tracks the target.
  */
class CurateSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("curate-test")
  val dir = "/root/testdata/sf0.001"

  def docs = Tables.table(spark, dir, "documents").select("doc_id", "text")

  test("decontamination flags every benchmark member at overlap 1.0") {
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val flagged = Curate.contaminated(docs, bench, "doc_id", "text",
      n = 3, minFrac = 1.0)
    val benchIds = bench.collect().map(_.getLong(0)).toSet
    val flaggedIds = flagged.collect().map(_.getLong(0)).toSet
    assert(benchIds.subsetOf(flaggedIds),
      s"bench members not flagged: ${benchIds -- flaggedIds}")
  }

  test("bloom decontamination: no false negatives, FP-prone at tiny widths") {
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val out = Curate.bloomContaminated(docs, bench, "doc_id", "text",
      n = 3, bits = 4096, nHash = 3).collect()
    assert(out.nonEmpty)
    // one-sided error: every exact hit is flagged
    out.foreach { r =>
      assert(r.getAs[Long]("n_flagged") >= r.getAs[Long]("n_exact"),
        s"false negative on doc ${r.getAs[Long]("doc_id")}")
    }
    // bench members are fully flagged (their shingles are all in the set)
    val benchIds = bench.collect().map(_.getLong(0)).toSet
    out.filter(r => benchIds(r.getAs[Long]("doc_id"))).foreach { r =>
      assert(r.getAs[Long]("n_flagged") == r.getAs[Long]("n_shingles"))
    }
    // a wide-enough filter converges to the exact counts
    val wide = Curate.bloomContaminated(docs, bench, "doc_id", "text",
      n = 3, bits = 1 << 22, nHash = 3).collect()
    wide.foreach { r =>
      assert(r.getAs[Long]("n_flagged") == r.getAs[Long]("n_exact"),
        s"doc ${r.getAs[Long]("doc_id")}: " +
          s"${r.getAs[Long]("n_flagged")} != ${r.getAs[Long]("n_exact")}")
    }
  }

  test("chunkSliding: overlap, coverage, and short-doc passthrough") {
    import spark.implicits._
    val doc = (1L, (1 to 100).map(i => s"t$i").mkString(" "))
    val short = (2L, "a b c")
    val out = Curate.chunkSliding(Seq(doc, short).toDF("doc_id", "text"),
      "doc_id", "text", window = 48, stride = 32)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    // 100 tokens, W=48, S=32 -> 1 + ceil(52/32) = 3 chunks
    val chunks = out(1L).sortBy(_.getAs[Long]("chunk_id"))
    assert(chunks.length == 3)
    assert(chunks.map(_.getAs[Long]("tok_start")).toSeq == Seq(1L, 33L, 65L))
    assert(chunks.map(_.getAs[Long]("chunk_len")).toSeq == Seq(48L, 48L, 36L))
    // consecutive chunks overlap by W-S = 16 tokens
    val w1 = chunks(0).getAs[String]("chunk_text").split(" ")
    val w2 = chunks(1).getAs[String]("chunk_text").split(" ")
    assert(w1.takeRight(16).toSeq == w2.take(16).toSeq)
    // stride-deduped reassembly covers the doc exactly
    val rebuilt = chunks.flatMap { r =>
      val ws = r.getAs[String]("chunk_text").split(" ")
      if (r.getAs[Long]("chunk_id") == 1L) ws else ws.drop(16)
    }
    assert(rebuilt.toSeq == (1 to 100).map(i => s"t$i"))
    // a doc shorter than the window is one whole chunk
    val s2 = out(2L)
    assert(s2.length == 1 && s2.head.getAs[String]("chunk_text") == "a b c" &&
      s2.head.getAs[Long]("chunk_len") == 3L)
  }

  test("DSIR ranks on-distribution docs above off-distribution docs") {
    import spark.implicits._
    val target = (1L to 5L).map(i => (100L + i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta"), // matches the target distribution
      (2L, "zeta eta theta iota"), // fully off-distribution
      (3L, "alpha beta zeta eta")) // mixed
      .toDF("doc_id", "text")
    val out = Curate.dsirSelect(corpus, target, "doc_id", "text",
      buckets = 1024, topK = 1).collect()
    val score = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("score_micro")).toMap
    assert(score(1L) > score(3L) && score(3L) > score(2L),
      s"importance order wrong: $score")
    assert(out.filter(_.getAs[Boolean]("selected"))
      .map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
  }

  test("a doc sharing no shingle with the benchmark has zero hits") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val bench = Seq((2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val row = Curate.ngramOverlap(corpus, bench, "doc_id", "text").collect()
    assert(row.length == 1 && row.head.getAs[Long]("n_hits") == 0L)
  }

  test("piiScrub counts and redacts every planted pattern") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a.b@x-corp.io and c@d.org call 555-123-4567 at 10.0.0.1"),
      (2L, "clean text with no identifiers at all"),
    ).toDF("doc_id", "text")
    val out = Curate.piiScrub(df, "text")
      .select("doc_id", "n_email", "n_phone", "n_ip", "clean")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 2 && out(1L).getLong(2) == 1 &&
      out(1L).getLong(3) == 1)
    val clean = out(1L).getString(4)
    assert(clean == "mail [EMAIL] and [EMAIL] call [PHONE] at [IP]")
    assert(out(2L).getString(4) == "clean text with no identifiers at all")
  }

  test("repetitionStats: planted duplicate lines and ellipsis line") {
    import spark.implicits._
    val df = Seq((1L, "a b c\na b c\nto be continued...")).toDF("doc_id", "text")
    val r = Curate.repetitionStats(df, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_lines") == 3L)
    assert(math.abs(r.getAs[Double]("dup_line_frac") - 2.0 / 3) < 1e-9)
    assert(math.abs(r.getAs[Double]("ellipsis_line_frac") - 1.0 / 3) < 1e-9)
  }

  test("mixtureSample is deterministic, append-stable, and rate-tracking") {
    val base = docs.withColumn("stratum", lit("s"))
    val once = Curate.mixtureSample(base, "stratum", "doc_id",
      Map("s" -> 0.5)).collect().map(_.getLong(0)).toSet
    val again = Curate.mixtureSample(base, "stratum", "doc_id",
      Map("s" -> 0.5)).collect().map(_.getLong(0)).toSet
    assert(once == again)
    // appending rows never flips an existing row's decision
    val appended = Curate.mixtureSample(
      base.unionByName(base.withColumn("doc_id", col("doc_id") + 500000)),
      "stratum", "doc_id", Map("s" -> 0.5))
      .collect().map(_.getLong(0)).toSet
    assert(once.subsetOf(appended))
    val n = base.count().toDouble
    assert(math.abs(once.size / n - 0.5) < 0.2, s"rate ${once.size / n}")
  }

  test("filterFunnel tags each row with the FIRST rejecting stage") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, "en"),  // fails both stages -> first one wins
      (2L, 100L, "de"), // fails only lang
      (3L, 100L, "en"), // kept
    ).toDF("doc_id", "n_tokens", "lang")
    val tagged = Curate.filterFunnel(df, Seq(
        Curate.FilterStage("short", col("n_tokens") >= 60),
        Curate.FilterStage("lang", col("lang") === "en")))
      .select("doc_id", "verdict")
      .as[(Long, String)].collect().toMap
    assert(tagged == Map(1L -> "short", 2L -> "lang", 3L -> "kept"))
    val report = Curate.funnelReport(Curate.filterFunnel(df, Seq(
        Curate.FilterStage("short", col("n_tokens") >= 60),
        Curate.FilterStage("lang", col("lang") === "en"))))
      .as[(String, Long)].collect().toMap
    assert(report == Map("short" -> 1L, "lang" -> 1L, "kept" -> 1L))
  }

  test("packSequences: offsets are contiguous within a shard") {
    import spark.implicits._
    val df = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.approxBpeTokens(col("text")).as("n_tokens"))
    val out = Curate.packSequences(df, "doc_id", "n_tokens",
        budget = 512L, shards = 4)
      .select("shard", "doc_id", "n_tokens", "tok_offset", "seq_id")
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).values
    out.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      sorted.foldLeft(0L) { case (expectOff, (_, _, nTok, off, seqId)) =>
        assert(off == expectOff, s"gap at offset $off")
        assert((seqId & ((1L << 40) - 1)) == off / 512L)
        expectOff + nTok
      }
    }
  }

  test("packSpans conserves tokens and bounds every span by the budget") {
    import spark.implicits._
    val df = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.approxBpeTokens(col("text")).as("n_tokens"))
    val packed = Curate.packSequences(df, "doc_id", "n_tokens",
      budget = 64L, shards = 4)
    val spans = Curate.packSpans(packed, budget = 64L)
    val total = df.agg(sum("n_tokens")).as[Long].collect().head
    assert(spans.agg(sum("span_len")).as[Long].collect().head == total)
    val bad = spans.filter(col("span_len") < 1 || col("span_len") > 64)
    assert(bad.count() == 0)
    // within a sequence, spans tile without overlap: per (seq, doc) spans
    // sum to the doc's tokens across sequences
    val perDoc = spans.groupBy("doc_id").agg(sum("span_len").as("s"))
      .join(df, "doc_id").filter(col("s") =!= col("n_tokens")).count()
    assert(perDoc == 0)
  }

  test("packBestFit: bins respect the budget, docs never split, fills tile") {
    import spark.implicits._
    val df = docs.select(col("doc_id"),
      (col("doc_id") % 97 + 1).cast("long").as("n_tokens"))
    // a tight open-bin pool forces mid-stream bin retirement too
    val out = Curate.packBestFit(df, "doc_id", "n_tokens",
        budget = 100L, shards = 4, maxOpenBins = 8)
      .select("seq_id", "doc_id", "n_tokens", "bin_offset")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == df.count())
    out.groupBy(_._1).values.foreach { bin =>
      val sorted = bin.sortBy(_._4)
      val total = sorted.foldLeft(0L) { case (fill, (_, _, n, off)) =>
        assert(off == fill, s"fill gap: offset $off at fill $fill")
        fill + n
      }
      assert(total <= 100L, s"bin overflow: $total")
    }
  }

  test("packBestFit: an oversized doc gets a dedicated bin; BFD is stable") {
    import spark.implicits._
    val df = Seq((1L, 150L), (2L, 60L), (3L, 60L), (4L, 30L), (5L, 30L),
      (6L, 30L), (7L, 30L)).toDF("doc_id", "n_tokens")
    val out = Curate.packBestFit(df, "doc_id", "n_tokens",
        budget = 100L, shards = 1)
      .select("doc_id", "seq_id", "bin_offset")
      .as[(Long, Long, Long)].collect().toSeq
    val byBin = out.groupBy(_._2)
    val big = out.find(_._1 == 1L).get
    assert(big._3 == 0L && byBin(big._2).size == 1, "oversized doc must sit alone")
    // the two 60s each seed a bin, each then takes one 30 at offset 60;
    // the remaining two 30s share a fresh bin — deterministic BFD
    assert(byBin.size == 4)
    assert(out.count(_._3 == 60L) == 2)
    val rerun = Curate.packBestFit(df, "doc_id", "n_tokens",
        budget = 100L, shards = 1)
      .select("doc_id", "seq_id", "bin_offset")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rerun.sortBy(_._1) == out.sortBy(_._1), "re-run must agree")
  }

  test("hashSplit is a partition with stable, roughly-sized buckets") {
    val out = Curate.hashSplit(docs, "doc_id")
    assert(out.count() == docs.count())
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts("train") > counts.getOrElse("val", 0L))
  }

  test("seededShuffle is a deterministic permutation; seeds decorrelate") {
    val a = Curate.seededShuffle(docs.select("doc_id"), "doc_id", "epoch1")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val n = docs.count()
    // pos is exactly 1..N (a permutation, no gaps or dups across buckets)
    assert(a.values.toSeq.sorted == (1L to n).toSeq)
    // pure function of (seed, id): a re-run agrees row-for-row
    val a2 = Curate.seededShuffle(docs.select("doc_id"), "doc_id", "epoch1")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a2 == a)
    // the two-phase cumsum equals the straightforward local rank
    val keyed = Curate.seededShuffle(docs.select("doc_id"), "doc_id", "epoch1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = keyed.sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((id, _, _), i) => id -> (i + 1L) }.toMap
    assert(keyed.map(t => t._1 -> t._3).toMap == expected)
    // a different seed is a genuinely different permutation
    val b = Curate.seededShuffle(docs.select("doc_id"), "doc_id", "epoch2")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a.count { case (id, p) => b(id) == p } < n / 10)
  }

  test("tokenBudgetSelect takes best-first until the budget, then stops") {
    import spark.implicits._
    val cand = Seq(
      (1L, 100L, 0.9), (2L, 200L, 0.8), (3L, 300L, 0.7),
      (4L, 400L, 0.6), (5L, 500L, 0.5),
    ).toDF("doc_id", "toks", "score")
    val out = Curate.tokenBudgetSelect(cand, "doc_id", "toks", "score", 550L)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4)))
      .sortBy(_._1)
    // greedy by score desc: 100, 300, 600 cumulative; doc 3 starts at 300
    // < 550 so it overshoots in (the at-most-one-doc overshoot), doc 4
    // starts at 600 >= 550 so it and everything after is out
    assert(out.toSeq == Seq((1L, 100L, true), (2L, 300L, true),
      (3L, 600L, true), (4L, 1000L, false), (5L, 1500L, false)))
    // audit-trail invariant: selection is a prefix of the quality order
    val byScore = out.sortBy(_._2)
    assert(byScore.dropWhile(_._3).forall(!_._3))
  }
  test("stratifiedSample: exact n per stratum, two-phase == single window") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "lang")
    val n = 15
    val out = Curate.stratifiedSample(docs, "lang", "doc_id", n, "seedA")
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("sample_key")))
    // exact n per stratum (every lang has >= n docs in the fixture)
    out.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.length == n, s"$lang: ${rows.length} != $n")
    }
    // equals the single-window reference regardless of salt count
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(col("sample_key").asc, col("doc_id").asc)
    val reference = Curate.stratifiedSample(docs, "lang", "doc_id", n, "seedA",
        salts = 1)
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("sample_key"))).toSet
    assert(out.toSet == reference)
    // a different seed draws a different sample
    val other = Curate.stratifiedSample(docs, "lang", "doc_id", n, "seedB")
      .collect().map(r => r.getAs[Long]("doc_id")).toSet
    assert(other != out.map(_._2).toSet)
  }

  test("stratifiedSample: short strata keep everything; append-stable") {
    import spark.implicits._
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "g")
    val out = Curate.stratifiedSample(tiny, "g", "doc_id", 5, "s")
    assert(out.count() == 3)
    // appending rows to stratum b never evicts an already-chosen a-row
    val before = Curate.stratifiedSample(tiny, "g", "doc_id", 2, "s")
      .where(col("g") === "a").collect().map(_.getLong(0)).toSet
    val grown = tiny.union(Seq((4L, "b"), (5L, "b")).toDF("doc_id", "g"))
    val after = Curate.stratifiedSample(grown, "g", "doc_id", 2, "s")
      .where(col("g") === "a").collect().map(_.getLong(0)).toSet
    assert(before == after)
  }
  test("cdcChunks: tokens conserved in order; edits don't shift distant chunks") {
    import spark.implicits._
    val core = (1 to 120).map(i => s"w${i % 37}").mkString(" ")
    def chunksOf(prefix: String, id: Long): Array[(Long, Long, String)] =
      Curate.cdcChunks(Seq((id, s"$prefix $core")).toDF("doc_id", "text"),
          "doc_id", "text")
        .collect()
        .map(r => (r.getAs[Long]("chunk_idx"), r.getAs[Long]("n_tokens"),
          r.getAs[String]("chunk_text")))
        .sortBy(_._1)
        .map(t => (t._1, t._2, t._3))
    val c1 = chunksOf("aaa bbb", 1L)
    val c2 = chunksOf("xxx yyy zzz qqq vvv", 2L)
    // conservation: chunk concatenation rebuilds the document exactly
    assert(c1.map(_._3).mkString(" ") == s"aaa bbb $core")
    assert(c1.map(_._2).sum == 2 + 120)
    // chunk ids are dense from 0
    assert(c1.map(_._1).toSeq == (0L until c1.length.toLong))
    // content-defined stability: different-length prefixes, yet the two
    // documents share identical chunks once past the first boundary
    // beyond the edit's 3-token neighborhood
    val shared = c1.map(_._3).toSet.intersect(c2.map(_._3).toSet)
    assert(shared.nonEmpty, "no shared chunks — boundaries are not content-defined")
    // and a fixed-stride chunking of the same pair shares nothing
    // (prefix length difference shifts every window)
    val s1 = Curate.chunkSliding(
        Seq((1L, s"aaa bbb $core")).toDF("doc_id", "text"),
        "doc_id", "text", window = 16, stride = 16)
      .collect().map(_.getAs[String]("chunk_text")).toSet
    val s2 = Curate.chunkSliding(
        Seq((2L, s"xxx yyy zzz qqq vvv $core")).toDF("doc_id", "text"),
        "doc_id", "text", window = 16, stride = 16)
      .collect().map(_.getAs[String]("chunk_text")).toSet
    assert(s1.intersect(s2).size < shared.size,
      "CDC should beat fixed-stride chunk reuse under a prefix edit")
  }

  test("soft404Flags: phrase lead window, template cluster bar, stub safety") {
    import spark.implicits._
    val long = ("word " * 50).trim // 249 chars, past minMainLen
    val rows = Seq(
      // declared error: phrase in the title
      (1L, "a.com", "404 Error", "whatever short body"),
      // phrase buried PAST the 240-char lead window: NOT a phrase hit
      (2L, "b.com", "Article", long + " mentions a 404 error in prose " +
        ("pad " * 20)),
      // error template: identical short body on one domain, 3 copies
      (3L, "t.com", "Notice", "service offline"),
      (4L, "t.com", "Notice", "service offline"),
      (5L, "t.com", "Notice", "service offline"),
      // same body but only TWO copies on this domain: under the bar
      (6L, "u.com", "Notice", "service offline"),
      (7L, "u.com", "Notice", "service offline"),
      // unique near-empty stub: never a soft404
      (8L, "c.com", "Stub", "tiny unique note"),
      // null title tolerated
      (9L, "d.com", null.asInstanceOf[String], long)
    ).toDF("id", "domain", "title", "text")
    val out = Curate.soft404Flags(rows, "id", "domain", "title", "text")
      .select("id", "phrase_hit", "near_empty", "template_dup", "soft404")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))
      .toMap
    assert(out(1L) == ((true, true, false, true)))
    assert(out(2L) == ((false, false, false, false))) // deep 404 mention safe
    for (i <- 3L to 5L) assert(out(i) == ((false, true, true, true)), i)
    for (i <- 6L to 7L) assert(out(i) == ((false, true, false, false)), i)
    assert(out(8L) == ((false, true, false, false)))
    assert(out(9L) == ((false, false, false, false)))
  }

  test("soft404Flags: null/empty text rows survive with flags") {
    import spark.implicits._
    // null text is what httpPages produces when a dechunk/decompress
    // layer fails — the PRIME soft-404 candidate; it must come back
    // flagged, not silently vanish from the output
    val rows = Seq(
      // three decode-failed pages on one domain: a template signal
      (1L, "f.com", "T", null.asInstanceOf[String]),
      (2L, "f.com", "T", null.asInstanceOf[String]),
      (3L, "f.com", "T", null.asInstanceOf[String]),
      // a lone null-text page: near-empty but unique, not flagged
      (4L, "g.com", "T", null.asInstanceOf[String]),
      // empty string behaves like null (same fingerprint class)
      (5L, "f.com", "T", ""),
      // error phrase in the title flags even with a null body
      (6L, "h.com", "404 Not Found", null.asInstanceOf[String])
    ).toDF("id", "domain", "title", "text")
    val out = Curate.soft404Flags(rows, "id", "domain", "title", "text")
      .select("id", "phrase_hit", "near_empty", "template_dup", "soft404")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))
      .toMap
    assert(out.size == 6, "every input row must survive")
    for (i <- 1L to 3L) assert(out(i) == ((false, true, true, true)), i)
    assert(out(4L) == ((false, true, false, false)))
    assert(out(5L) == ((false, true, true, true))) // clusters with 1-3
    assert(out(6L) == ((true, true, false, true)))
  }

  test("soft404Flags: a repeated id shares one fingerprint; null id and " +
      "null domain never cluster") {
    import spark.implicits._
    import graft.operators.{Dedup, TextAnalysis}
    // the token-row formulation: explode, Dedup.simhash per id, join back,
    // count per (domain, simhash), join again
    def reference(df: org.apache.spark.sql.DataFrame) = {
      val toks = df.select(col("id").as("doc_id"),
        explode(TextAnalysis.tokens(coalesce(col("text"), lit("")))).as("tok"))
      val keyed = df.join(Dedup.simhash(toks).withColumnRenamed("doc_id", "id"),
        Seq("id"), "left")
      val clusters = keyed.where(col("simhash").isNotNull)
        .groupBy(col("domain"), col("simhash")).agg(count(lit(1)).as("cluster_n"))
      val lead = lower(concat(coalesce(col("title"), lit("")), lit(" "),
        substring(coalesce(col("text"), lit("")), 1, Curate.Soft404LeadChars)))
      keyed.join(clusters, Seq("domain", "simhash"), "left")
        .withColumn("phrase_hit",
          Curate.Soft404Phrases.map(p => instr(lead, p) > 0).reduce(_ || _))
        .withColumn("near_empty", length(coalesce(col("text"), lit(""))) < 200)
        .withColumn("template_dup",
          coalesce(col("cluster_n") >= 3L, lit(false)))
        .withColumn("soft404",
          col("phrase_hit") || (col("near_empty") && col("template_dup")))
    }
    val off = "service offline"
    val rows = Seq[(Option[Long], String, String, String)](
      // id 1 over two identical rows + id 2: a cluster of three rows
      (Some(1L), "u.com", "T", off), (Some(1L), "u.com", "T", off),
      (Some(2L), "u.com", "T", off),
      // id 3 pools a second body, so its fingerprint leaves ids 4-5's
      // cluster of two: no row of v.com is a template
      (Some(3L), "v.com", "T", off), (Some(3L), "v.com", "T", "other words here"),
      (Some(4L), "v.com", "T", off), (Some(5L), "v.com", "T", off),
      // null ids: no fingerprint, never a template
      (None, "w.com", "T", off), (None, "w.com", "T", off),
      (None, "w.com", "404 Not Found", off),
      // null domain: fingerprinted but never clustered
      (Some(6L), null, "T", off), (Some(7L), null, "T", off),
      (Some(8L), null, "T", off),
      // null and empty text pooled under one id
      (Some(9L), "x.com", "T", null), (Some(9L), "x.com", "T", ""),
      (Some(10L), "x.com", "T", null)
    ).toDF("id", "domain", "title", "text")
    def flags(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "domain", "text", "phrase_hit", "near_empty",
          "template_dup", "soft404")
        .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val got = flags(Curate.soft404Flags(rows, "id", "domain", "title", "text"))
    assert(got == flags(reference(rows)))
    assert(got.size == rows.count())
    val dup = Curate.soft404Flags(rows, "id", "domain", "title", "text")
      .groupBy("domain").agg(max(col("template_dup").cast("int")).as("d"))
      .collect().map(r => Option(r.getString(0)) -> r.getInt(1)).toMap
    assert(dup == Map(Some("u.com") -> 1, Some("v.com") -> 0,
      Some("w.com") -> 0, None -> 0, Some("x.com") -> 1))
  }

  test("dedupCorpus survivors are their own leakage-safe roots; the split " +
      "is hashSplit") {
    import graft.operators.Dedup
    // exact copies in clusters of three, plus near-copies (one token
    // dropped) so the pair graph has chains, not only cliques
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    val corpus = docs
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 200000))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          array_join(slice(toks, 2, 1000), " ").as("text")))
      .localCheckpoint()
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text",
      threshold = 0.6).localCheckpoint()
    val survivors = Dedup.dedupCorpus(corpus, "doc_id", pairs).localCheckpoint()
    assert(survivors.count() < corpus.count(), "no near-dup was removed")
    val clustered = pairs.select(col("a_id").as("doc_id"))
      .unionByName(pairs.select(col("b_id").as("doc_id"))).distinct()
    assert(survivors.join(clustered, "doc_id").count() > 0,
      "no survivor is in a pair")
    val safe = Curate.leakageSafeSplit(survivors.select("doc_id"), "doc_id", pairs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    val plain = Curate.hashSplit(survivors.select("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(safe.keySet == plain.keySet)
    safe.foreach { case (id, (root, split)) =>
      assert(root == id, s"survivor $id has root $root")
      assert(split == plain(id), s"survivor $id: split $split, hashSplit ${plain(id)}")
    }
  }
}
