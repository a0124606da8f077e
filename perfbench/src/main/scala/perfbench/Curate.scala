package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.web
import graft.operators.{Crawl => CrawlOps, Curate => CurateOps, Dedup, TextAnalysis}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Crawl-to-training-rows curation: Crawl.crawlPipeline over seeded WARC
  * chunks. */
object CurateWorkload {
  // crawlPipeline's arguments, shared by the plain and the traced run
  val n = 5
  val contamFrac = 0.5

  def frames(c: Ctx, crawl: Crawl): (DataFrame, DataFrame) = {
    val chunks = c.spark.createDataFrame(
      crawl.pages.map(p => Row(p.id, CrawlGen.warc(p))).asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("chunk", BinaryType))))
      .repartition(c.o.cores).persist()
    val bench = c.spark.createDataFrame(crawl.bench.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .persist()
    chunks.count(); bench.count()
    (chunks, bench)
  }

  /** Planted truth: each exact-duplicate cluster and each tracking-variant
    * group keeps exactly one page; noindex, non-English, contaminated and
    * soft-404 pages are gone; every base page without a planted variant
    * survives. */
  def verify(crawl: Crawl, out: Array[Row]): (Seq[(String, Boolean)], String) = {
    val kept = out.map(_.getLong(0)).toSet
    val planted = (crawl.exactClusters.flatten ++ crawl.trackingVariants.flatten).toSet
    val dropped = crawl.noindex ++ crawl.nonEnglish ++ crawl.contaminated ++ crawl.soft404
    val base = crawl.params("base_docs").asInstanceOf[Int]
    val nearDupBases = crawl.pages.filter(_.url.startsWith("https://near.")).map(
      _.url.split("/").last.toLong + 1)
    val clean = (1L to base).filterNot(i => planted(i) || nearDupBases.contains(i))
    val checks = Seq(
      "exact duplicates collapse to one" ->
        crawl.exactClusters.forall(_.count(kept) == 1),
      "tracking-param variants collapse to one" ->
        crawl.trackingVariants.forall(_.count(kept) == 1),
      "noindex pages dropped" -> crawl.noindex.forall(!kept(_)),
      "non-English pages dropped" -> crawl.nonEnglish.forall(!kept(_)),
      "contaminated pages dropped" -> crawl.contaminated.forall(!kept(_)),
      "soft-404 pages dropped" -> crawl.soft404.forall(!kept(_)),
      s"clean pages kept (${clean.count(kept)}/${clean.size})" -> clean.forall(kept),
      "no page twice" -> (kept.size == out.length),
      "nothing planted to drop survives" -> !dropped.exists(kept))
    val digest = Stats.sha(out.map(r =>
      s"${r.getLong(0)},${r.getString(2)},${r.get(4)},${r.get(5)}").sorted)
    (checks, digest)
  }

  def run(c: Ctx): Outcome = {
    val base = math.max(60, (800 * c.o.scale).toInt)
    var crawl: Crawl = null
    var chunks: DataFrame = null
    var bench: DataFrame = null
    val setups = (1 to 3).map { _ =>
      if (chunks != null) c.release(Seq(chunks, bench))
      Stats.timeMs {
        crawl = CrawlGen.generate(c.o.seed, base)
        val f = frames(c, crawl)
        chunks = f._1; bench = f._2
      }._2
    }
    def op(): (Array[Row], Double) = Stats.timeMs(
      CrawlOps.crawlPipeline(chunks, "doc_id", "chunk", bench, n = n,
        contamFrac = contamFrac).collect())
    def checked(out: Array[Row], what: String): String = {
      val (checks, digest) = verify(crawl, out)
      c.checks.op(what, checks)
      digest
    }
    // a traced run makes a second, warm plain operation before its traced
    // copy
    var digest = ""
    val lat = mutable.ArrayBuffer[Double]()
    def plainOp(): Double = {
      val (out, ms) = op()
      lat += ms
      digest = checked(out, s"curate op ${lat.size}")
      c.log(f"curate op ${lat.size}: ${ms / 1000}%.1fs")
      ms
    }
    val minOps = if (c.o.trace) 2 else 1
    val phaseMs = if (c.o.trace) c.o.seconds * 500 else c.o.seconds * 1000
    val t0 = System.nanoTime()
    while (lat.size < minOps || (System.nanoTime() - t0) / 1e6 + lat.last < phaseMs) plainOp()
    var tracedDigest = ""
    val layers = if (!c.o.trace) Map.empty[String, Double] else {
      // traced: the pipeline's copy layer by layer, checked to pack the
      // same rows as the plain run; then one delta batch absorbed by the
      // program's stream and by its traced copy (streaming and incremental
      // layers). The supplement workload is too slow to run as often as
      // the benchmark runs its workloads, so its layers are traced here.
      val before = lat.last
      val ((out, kept, deduped), tracedMs) = Stats.timeMs(tracedRun(c, chunks, bench))
      c.log(f"curate traced copy: ${tracedMs / 1000}%.1fs")
      tracedDigest = checked(out, "curate traced copy")
      c.checks.op("traced copy packs the plain run's rows", Seq(
        s"digest $tracedDigest == $digest" -> (tracedDigest == digest)))
      // the copy is compared with the mean of the plain operations just
      // before and after it, which cancels the JIT's warming in between
      val plainMs = (before + plainOp()) / 2
      val keptFrac = deduped.count().toDouble / math.max(1L, kept.count())
      c.release(Seq(chunks, bench))
      val st = new SupplementWorkload.Cycles(c, Supplement.plan(c.o.seed, c.o.scale, 1))
        .traced()
      Layers.summarize(c, math.max(plainMs, tracedMs) + st.coveredMs, plainMs, tracedMs,
        st.extra + ("operators.dedup.kept_per_input" -> keptFrac))
    }
    val p50 = Stats.median(lat.toSeq)
    Outcome(c.checks.attempted, c.checks.failed,
      e2e = Seq(
        ("setup_s", Stats.median(setups) / 1000, "s"),
        ("op_p50_ms", p50, "ms"),
        ("throughput_per_s", crawl.pages.size / (p50 / 1000), "1/s")),
      named = Seq(
        ("curate_docs_per_s", crawl.pages.size / (p50 / 1000), "1/s"),
        ("curate_run_p50_s", p50 / 1000, "s"),
        ("curate_runs", lat.size.toDouble, "count")),
      layers = layers, digest = digest, tracedDigest = tracedDigest,
      sizes = crawl.params ++ Map("pages" -> crawl.pages.size,
        "exact_clusters" -> crawl.exactClusters.size,
        "tracking_groups" -> crawl.trackingVariants.size,
        "noindex" -> crawl.noindex.size, "non_english" -> crawl.nonEnglish.size,
        "contaminated" -> crawl.contaminated.size, "soft404" -> crawl.soft404.size,
        "chunk_mb" -> crawl.pages.map(p => CrawlGen.warc(p).length.toLong).sum / 1048576.0),
      failures = c.checks.failures.toSeq)
  }

  /** Crawl.crawlPipeline made from the same public calls with its default
    * parameters, one span per layer. It keeps crawlPipeline's plan: it
    * places the lazy local checkpoints crawlPipeline places (`kept`,
    * `pairs`, `clean`, and soft404Flags' own checkpoint of its input, here
    * `main`) and counts each inside the span that defines it, so each
    * layer's work runs in its span; soft404Flags then checkpoints the
    * filled `main` once more. The caller checks that the packed rows
    * match the plain run's. Returns the packed rows and dedup's input and
    * output. */
  def tracedRun(c: Ctx, chunks: DataFrame, bench: DataFrame)
      : (Array[Row], DataFrame, DataFrame) = {
    val t = c.tracer
    def mat(df: DataFrame): DataFrame = Boundary.filled(df)
    val idCol = "doc_id"
    val main = t.span("sources.ingest") {
      val pages = graft.sources.Content.httpPages(chunks, idCol, "chunk")
        .withColumn("url", web.url_canonical(
          graft.functions.codecs.header_get(col("warc_headers"), lit("WARC-Target-URI"))))
        .where(col("status") === 200 && col("text").isNotNull && col("url").isNotNull)
      val uniq = pages
        .withColumn("_urn", row_number().over(
          Window.partitionBy(col("url")).orderBy(col(idCol).asc, col("member_idx").asc)))
        .where(col("_urn") === 1)
      val indexable = uniq.where(!coalesce(
        lower(element_at(web.html_meta(col("text")), "robots")).contains("noindex"),
        lit(false)))
      mat(indexable.select(col(idCol), col("url"),
        web.url_parse(col("url")).getField("host").as("domain"),
        web.html_title(col("text")).as("title"),
        web.html_main_text(col("text")).as("main")))
    }
    val kept = t.span("operators.quality") {
      val s404 = CurateOps.soft404Flags(main, idCol, "domain", "title", "main", 200, 3L)
        .where(!col("soft404"))
      mat(TextAnalysis.qualityStats(s404, "main", Nil)
        .withColumn("lang_pred", TextAnalysis.langId(col("main"), Nil))
        .where(col("n_tokens") >= 30L && col("lang_pred") === "en" && col("ttr") >= 0.2)
        .select(col(idCol), col("url"), col("main"), col("n_tokens").cast("long").as("n_tokens")))
    }
    val (pairs, deduped) = t.span("operators.dedup") {
      val pairs = mat(Dedup.minhashNearDups(kept.select(idCol, "main"), idCol, "main",
        n = n, k = 12, r = 3, threshold = 0.6))
      (pairs, Dedup.dedupCorpus(kept, idCol, pairs))
    }
    val out = t.span("operators.curate") {
      val clean = mat(deduped.join(
        CurateOps.contaminated(deduped.select(idCol, "main"),
          bench.select(col(idCol), col("text").as("main")), idCol, "main",
          n = n, minFrac = contamFrac).select(col("doc_id").as(idCol)),
        Seq(idCol), "left_anti")
        .select(col(idCol), col("url"), col("n_tokens")))
      val split = CurateOps.leakageSafeSplit(clean.select(col(idCol)), idCol, pairs)
      CurateOps.packSequences(
          clean.join(split.select(col(idCol), col("split")), Seq(idCol))
            .select(col(idCol), col("url"), col("split"), col("n_tokens")),
          idCol, "n_tokens", 512L, 8)
        .select(col(idCol), col("url"), col("split"), col("n_tokens"), col("shard"),
          col("seq_id"))
        .collect()
    }
    (out, kept, deduped)
  }
}
