package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.BlockScope.Boundary

/** Scale dress rehearsal: the sf tests prove CORRECTNESS; this harness
  * MEASURES the 100 TB design claims on synthetically scaled data.
  *
  * Each workload runs at replication 1 and at `SPARK_GRAFT_STRESS_X`
  * (default 8): the input tables replicate in-engine (explode + id
  * re-salting — no files written) and a Zipf-style hot key is PLANTED
  * (25% of all event rows collapse onto one user), the adversarial shape
  * real clickstreams have. For every run the harness records, from a
  * task-metrics listener and the executed adaptive plan:
  *
  *   - wall seconds and output rows;
  *   - total shuffle write bytes (does data movement scale linearly?);
  *   - max single-task shuffle read and its share of the total — the
  *     skew signal: a share that GROWS with replication means some task
  *     absorbs the hot key and the job stops scaling out; flat share
  *     means the operator sheds the skew;
  *   - post-AQE shuffle/broadcast stage counts.
  *
  * The paired workloads make the design claims falsifiable:
  * `asof_plain` funnels the hot key into one window task while
  * `asof_bucketed` splits it by time bucket (SURVEY/SCALE: the bucketed
  * variant is the 100 TB path) — the artifact must show the bucketed
  * max-task share staying flat at higher replication while the plain one
  * grows. `range_auto` runs the auto-rewritten theta join WITH planted
  * open-interval sentinels, exercising the bounded-overflow split at
  * scale. Results land in the bench artifact under "stress"
  * ([[Bench]] runs this after the query chain; standalone: `runMain
  * graft.Stress`).
  */
object Stress {

  final case class M(
      sec: Double, rows: Long, shufWriteBytes: Long,
      maxTaskReadBytes: Long, sumTaskReadBytes: Long,
      shuffleStages: Int, broadcastStages: Int, err: String = null) {
    def maxTaskShare: Double =
      if (sumTaskReadBytes <= 0) 0.0
      else maxTaskReadBytes.toDouble / sumTaskReadBytes
    /** Sub-8MB total exchange: AQE coalesces it to one (or very few)
      * tasks, so max_task_share reads ~1.0 BY CONSTRUCTION — it is not a
      * skew signal there. Flagged in the emitted JSON so a reader does
      * not misread a tiny workload as a hot key. */
    def tinyExchange: Boolean = sumTaskReadBytes < (8L << 20)
  }

  private final class TaskListener extends SparkListener {
    private val sum = new java.util.concurrent.atomic.AtomicLong
    private val max = new java.util.concurrent.atomic.AtomicLong
    private val write = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = { sum.set(0); max.set(0); write.set(0) }
    def snapshot: (Long, Long, Long) = (sum.get, max.get, write.get)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val r = m.shuffleReadMetrics.totalBytesRead
        sum.addAndGet(r)
        max.accumulateAndGet(r, (a: Long, b: Long) => math.max(a, b))
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private def occ(s: String, pat: String): Int =
    (pat + " (\\d+)").r.findAllMatchIn(s).map(_.group(1)).toSet.size

  /** Replicate `rep`-fold with re-salted id columns; every replica keeps
    * the original's key/text payload, so replication multiplies per-key
    * row counts (the scale axis) without inventing new key cardinality. */
  private def replicate(df: DataFrame, rep: Int, idCols: Seq[String]): DataFrame =
    if (rep <= 1) df
    else {
      val r = df.withColumn("__rep",
        explode(sequence(lit(0L), lit(rep - 1L))))
      idCols.foldLeft(r)((d, c) =>
        d.withColumn(c, col(c) * rep + col("__rep"))).drop("__rep")
    }

  /** Events with the planted Zipf head: 25% of all rows on user -42. */
  private def hotEvents(spark: SparkSession, dir: String, rep: Int): DataFrame =
    replicate(graft.sources.Tables.events(spark, dir), rep, Seq("event_id"))
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(4)) === 0, lit(-42L))
          .otherwise(col("user_id")))

  def run(spark: SparkSession, dir: String, repx: Int): Seq[(String, M)] = {
    val listener = new TaskListener
    spark.sparkContext.addSparkListener(listener)
    // test-scale shuffles are megabytes, so AQE's 64 MB advisory target
    // would coalesce every exchange into one task and HIDE the planted
    // skew; 1 MB targets keep the exchange multi-task, so the max-task
    // share is the same signal it would be at 100 TB with 64 MB targets
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val minPart = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val saved = Seq(advisory, minPart)
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set(advisory, "1m")
    spark.conf.set(minPart, "1m")
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, M)]
      def measure(name: String)(dfByName: => DataFrame): Unit = {
        // hash every output column: a bare count(1) would let Catalyst
        // prune the operator's payload (and with it the windows/joins
        // being measured) out of the plan
        def mk(): DataFrame = {
          val df = dfByName
          df.select(pmod(xxhash64(struct(df.columns.map(col): _*)),
            lit(1000000007L)).as("h"))
            .agg(count(lit(1)).as("n"),
              org.apache.spark.sql.functions.sum(col("h"))) // ANSI-safe
        }
        // NonFatal only: an OOM or other fatal JVM error must crash the
        // harness loudly, not be recorded as a normal-looking entry. A
        // recoverable failure is surfaced as an explicit err marker in
        // the emitted JSON so a dead workload can't read as a fast one.
        var lastErr: String = null
        def once(probe: DataFrame): Long =
          try probe.collect().head.getLong(0)
          catch {
            case scala.util.control.NonFatal(e) =>
              lastErr = s"${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage).take(200)
              -1L
          }
        // warmup on a THROWAWAY plan instance: codegen + JIT paid, but the
        // timed run rebuilds the Dataset so no materialized AQE stage from
        // the warmup is reused
        once(mk())
        val probe = mk()
        // the listener bus delivers TaskEnd asynchronously: without this
        // drain, straggler WARMUP events can land after reset() and
        // inflate the measured run's shuffle/max-task numbers — the same
        // lag the post-run sleep below absorbs
        Thread.sleep(1500)
        listener.reset()
        val t0 = System.nanoTime()
        val rows = once(probe)
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1500) // listener bus drains asynchronously
        val (sum, max, write) = listener.snapshot
        val plan = probe.queryExecution.executedPlan.toString
        out += name -> M(sec, rows, write, max, sum,
          occ(plan, "ShuffleQueryStage"), occ(plan, "BroadcastQueryStage"),
          err = lastErr)
        System.err.println(s"[stress] $name done in ${fmt(sec)}s")
      }

      for (rep <- Seq(1, repx).distinct) {
        // events are the smallest table, so the as-of pair runs at 4x the
        // tier — deep enough that the hot key's single window task also
        // dominates WALL time for the plain variant, not just task bytes
        val asofRep = rep * 4
        val ev = hotEvents(spark, dir, asofRep).boundary(eager = true)
        val purchases = ev.where(col("event_type") === "purchase")
          .select("user_id", "event_id", "ts")
        val touches = ev.where(col("event_type") =!= "purchase")
          .select(col("user_id"), col("ts"),
            col("event_id").as("t_id"), col("event_type").as("t_type"))

        // one window task absorbs the hot key...
        measure(s"asof_plain@$asofRep") {
          graft.operators.Temporal.asofJoin(
            purchases, "user_id", "ts", touches, "user_id", "ts",
            payload = Seq("t_id", "t_type"), rightTieBreak = "t_id")
        }
        // ...vs the time-bucketed variant that splits it (1h buckets)
        measure(s"asof_bucketed@$asofRep") {
          graft.operators.Temporal.asofJoinBucketed(
            purchases, "user_id", "ts", touches, "user_id", "ts",
            payload = Seq("t_id", "t_type"), rightTieBreak = "t_id",
            bucketUs = 3600L * 1000000L)
        }

        // auto theta->binned rewrite WITH planted open-interval sentinels
        // (0.2% of intervals end at 9999-12-31): the bounded branch hash-
        // joins, the sentinel branch nested-loops over that sliver only.
        // Replication here shifts each replica onto a DISJOINT time range
        // ("more data over more time"): replicating both sides onto the
        // SAME dates would square the per-bin density — a join-output
        // property of the synthetic data, not an engine behavior. The
        // 30-day recency conjunct bounds what a sentinel may match, as a
        // real SCD point-in-time query would.
        measure(s"range_auto@$rep") {
          def shift(c: org.apache.spark.sql.Column) =
            when(c >= lit("9990-01-01 00:00:00").cast("timestamp_ntz"), c)
              .otherwise(c + expr("make_dt_interval(__rep * 3000, 0, 0, 0)"))
          def timeShifted(df: DataFrame, idCol: String,
              tsCols: Seq[String]): DataFrame = {
            val r = df.withColumn("__rep",
              explode(sequence(lit(0L), lit(rep - 1L))))
            tsCols.foldLeft(
              r.withColumn(idCol, col(idCol) * rep + col("__rep")))(
              (d, c) => d.withColumn(c, shift(col(c)))).drop("__rep")
          }
          timeShifted(
            graft.sources.Tables.table(spark, dir, "orders")
              .select(col("o_orderkey"), col("o_orderdate")),
            "o_orderkey", Seq("o_orderdate"))
            .repartition(32) // a cluster scan has many splits; mirror it
            .createOrReplaceTempView("stress_points")
          timeShifted(
            graft.sources.Tables.table(spark, dir, "lineitem")
              .where(col("l_quantity") > 49)
              .select(col("l_orderkey"), col("l_linenumber"),
                col("l_shipdate").as("s"),
                when(pmod(col("l_orderkey"), lit(500)) === 0,
                  lit("9999-12-31 00:00:00").cast("timestamp_ntz"))
                  .otherwise(col("l_shipdate") + expr("INTERVAL 3 DAYS"))
                  .as("e")),
            "l_orderkey", Seq("s", "e"))
            .repartition(32)
            .createOrReplaceTempView("stress_iv")
          spark.sql("""SELECT p.o_orderkey, iv.l_orderkey
            FROM stress_points p JOIN stress_iv iv
            ON p.o_orderdate >= iv.s AND p.o_orderdate <= iv.e
            AND p.o_orderdate <= iv.s + INTERVAL 30 DAYS""")
        }

        // replicate() is a map-side explode: it inherits the SMALL input
        // table's split count, so without a spread the replicated corpus
        // would run the shingle/decode work on a handful of tasks and the
        // per-core scaling claim would never be exercised. A cluster scan
        // of the same volume has many splits; mirror it (range_auto does
        // the same)
        val cores = spark.sparkContext.defaultParallelism
        val docs = replicate(
          graft.sources.Tables.table(spark, dir, "documents")
            .select("doc_id", "text"),
          rep, Seq("doc_id"))
          .repartition(cores)

        // exact dedup: hash agg on digests; replicas are planted dups
        measure(s"dedup_exact@$rep") {
          graft.operators.Dedup.exact(docs, "doc_id", "text")
        }

        // near-dup graph + survivor pick over the replicated corpus
        // (every replica group is a planted duplicate cluster of size rep)
        measure(s"dedup_corpus@$rep") {
          val pairs = graft.operators.Dedup.minhashNearDups(
            docs, "doc_id", "text", maxBucket = 10L * repx * repx)
          graft.operators.Dedup.dedupCorpus(docs, "doc_id", pairs)
        }

        // perceptual near-dup over REAL compressed payloads: synthesize,
        // PNG-encode (deflate + filters + CRCs), then pngNearDups decodes
        // and dHashes inside codegen — the payload bytes never reach an
        // exchange, only 16-byte signature rows do. Replicas share a
        // 64-bit-spread group seed, so every replica group is a planted
        // duplicate cluster of size rep and the band buckets stay
        // group-sized (max-task share must hold flat as rep grows)
        measure(s"png_neardup@$rep") {
          val media = replicate(
            graft.sources.Tables.table(spark, dir, "documents")
              .select("doc_id"),
            rep, Seq("doc_id"))
            // spread BEFORE the synth+encode so the whole codec path
            // (encode here, decode+dHash inside pngNearDups) runs at the
            // session's parallelism — the shuffle moves 8-byte ids, not
            // payloads
            .repartition(cores)
            .withColumn("seed",
              xxhash64((col("doc_id") / lit(math.max(rep, 1))).cast("long")))
            .select(col("doc_id"),
              graft.functions.images.png_encode_gray(
                graft.functions.images.synth_image(col("seed"),
                  lit(32), lit(16), pmod(col("doc_id"), lit(3)).cast("int")),
                lit(32), lit(16),
                pmod(col("doc_id"), lit(6)).cast("int")).as("data"))
          graft.operators.Multimodal.pngNearDups(media, "doc_id", "data")
        }

        // ADVERSARIAL variant: a quarter of the corpus is dHash-identical
        // (one shared seed — the solid-thumbnail / black-frame shape of a
        // real crawl). Uncapped, that cluster's band buckets square the
        // candidate row count as rep grows; the hot-bucket cap drops them
        // before the join, so wall and max-task share must hold flat
        // while the remaining replica groups keep pairing normally
        measure(s"png_neardup_degen@$rep") {
          val media = replicate(
            graft.sources.Tables.table(spark, dir, "documents")
              .select("doc_id"),
            rep, Seq("doc_id"))
            .repartition(cores)
            .withColumn("seed",
              when(pmod(col("doc_id"), lit(4)) === 0, lit(0L)).otherwise(
                xxhash64((col("doc_id") / lit(math.max(rep, 1)))
                  .cast("long"))))
            .select(col("doc_id"),
              graft.functions.images.png_encode_gray(
                graft.functions.images.synth_image(col("seed"),
                  lit(32), lit(16), pmod(col("doc_id"), lit(3)).cast("int")),
                lit(32), lit(16),
                pmod(col("doc_id"), lit(6)).cast("int")).as("data"))
          graft.operators.Multimodal.pngNearDups(media, "doc_id", "data",
            maxPerBucket = 1L << 10)
        }

        // full crawl-ingest chain over replicated chunks: build a
        // 3-record concatenated-gzip WARC chunk per row (deflate inside
        // the projection), split members, parse records, extract HTML
        // text and canonical URLs. Every stage is a map-side expression:
        // wall must scale ~linearly with rep and max-task share stay
        // flat — compressed chunk bytes never reach an exchange.
        measure(s"content_ingest@$rep") {
          val rec = (i: Int) =>
            graft.functions.codecs.compress_bytes(concat(
              lit("WARC/1.0\r\nWARC-Target-URI: HTTP://Site"),
              pmod(col("doc_id"), lit(97)).cast("string"),
              lit(s".Example.COM:80/p/$i?utm_source=s&id="),
              col("doc_id").cast("string"),
              lit("\r\n\r\n<html><head><title>T</title>" +
                "<script>if(1<2){}</script></head><body><p>"),
              col("text"), lit("</p></body></html>")).cast("binary"),
              lit("gzip"))
          docs
            .select(col("doc_id"),
              concat(rec(0), rec(1), rec(2)).as("chunk"))
            .select(col("doc_id"), explode(
              graft.functions.codecs.gzip_members(col("chunk"))).as("m"))
            .select(col("doc_id"),
              graft.functions.codecs.warc_record(col("m")).as("r"))
            .select(col("doc_id"),
              graft.functions.web.url_canonical(
                element_at(col("r.headers"), "WARC-Target-URI")).as("url"),
              graft.functions.web.html_text(
                col("r.body").cast("string")).as("text"))
        }

        // the HTTP-envelope variant of the same chain (the CommonCrawl
        // record shape): WARC response records whose bodies carry a full
        // HTTP message with a gzip Content-Encoding entity — so the
        // chain pays member split + WARC parse + HTTP parse + entity
        // decompress + charset decode + boilerplate removal per row.
        // Same law: every stage map-side, wall ~linear in rep, max-task
        // share flat, payload bytes never reach an exchange.
        measure(s"http_ingest@$rep") {
          val entity = graft.functions.codecs.compress_bytes(concat(
            lit("<html><head><title>T</title></head><body>" +
              "<nav><a href=\"/\">Home</a> <a href=\"/a\">About us</a>" +
              "</nav><p>"),
            col("text"),
            lit("</p><footer>All rights reserved</footer></body></html>"))
            .cast("binary"), lit("gzip"))
          val chunk = graft.functions.codecs.compress_bytes(concat(
            lit("WARC/1.0\r\nWARC-Type: response\r\n\r\n" +
              "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8" +
              "\r\nContent-Encoding: gzip\r\n\r\n").cast("binary"),
            entity), lit("gzip"))
          graft.sources.Content.httpPages(
              docs.select(col("doc_id"), chunk.as("chunk")),
              "doc_id", "chunk")
            .select(col("doc_id"), col("status"), col("charset"),
              graft.functions.web.html_main_text(col("text")).as("main"))
        }

        // the composed flagship funnel
        measure(s"curation_pipeline@$rep") {
          graft.operators.Curate.curationPipeline(
            docs, "doc_id", "text",
            bench = graft.sources.Tables.table(spark, dir, "documents")
              .where(col("doc_id") % 50 === 0).select("doc_id", "text"))
        }

        // the composed flagship CRAWL pipeline: WARC-gzip chunks in,
        // packed training rows out — ingest chain map-side in the scan
        // stage, then the same dedup/decontaminate/split/pack shape as
        // curation_pipeline. Wall ~linear in rep, max-task share flat.
        measure(s"crawl_pipeline@$rep") {
          val entity = graft.functions.codecs.compress_bytes(concat(
            lit("<html><head><title>T</title></head><body>" +
              "<nav><a href=\"/\">Home</a> <a href=\"/a\">About us</a>" +
              "</nav><p>"),
            col("text"),
            lit("</p><footer>All rights reserved</footer></body></html>"))
            .cast("binary"), lit("gzip"))
          val chunk = graft.functions.codecs.compress_bytes(concat(
            concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
              "WARC-Target-URI: HTTP://Site"),
              pmod(col("doc_id"), lit(97)).cast("string"),
              lit(".Example.COM:80/p?utm_source=s&id="),
              col("doc_id").cast("string"),
              lit("\r\n\r\nHTTP/1.1 200 OK\r\n" +
                "Content-Type: text/html; charset=utf-8\r\n" +
                "Content-Encoding: gzip\r\n\r\n")).cast("binary"),
            entity), lit("gzip"))
          graft.operators.Crawl.crawlPipeline(
            docs.select(col("doc_id"), chunk.as("chunk")),
            "doc_id", "chunk",
            bench = graft.sources.Tables.table(spark, dir, "documents")
              .where(col("doc_id") % 50 === 0).select("doc_id", "text"))
        }
        ev.unpersist()
      }
      out.toSeq
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** Full-detail JSON object (one entry per workload@rep). */
  def detailJson(results: Seq[(String, M)]): String =
    results.map { case (k, m) =>
      s""""$k":{"sec":${fmt(m.sec)},"rows":${m.rows},""" +
        s""""shuffle_write_mb":${fmt(m.shufWriteBytes / 1e6)},""" +
        s""""max_task_read_mb":${fmt(m.maxTaskReadBytes / 1e6)},""" +
        s""""max_task_share":${fmt(m.maxTaskShare)},""" +
        s""""shuffles":${m.shuffleStages},"broadcasts":${m.broadcastStages}""" +
        (if (m.tinyExchange) s""","tiny_exchange":true""" else "") +
        (if (m.err == null) "}"
         else s""","err":${jsonStr(m.err)}}""")
    }.mkString("{", ",", "}")

  /** Compact form for the tail-trimmed final bench line: seconds + the
    * skew signal only. */
  def compactJson(results: Seq[(String, M)]): String =
    results.map { case (k, m) =>
      s""""$k":{"sec":${fmt(m.sec)},"mts":${fmt(m.maxTaskShare)}""" +
        (if (m.tinyExchange) s""","tiny":true""" else "") +
        (if (m.err == null) "}" else s""","err":${jsonStr(m.err)}}""")
    }.mkString("{", ",", "}")

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repx = sys.env.get("SPARK_GRAFT_STRESS_X").map(_.toInt).getOrElse(8)
    val spark = GraftSession.local("graft-stress")
    val results = run(spark, dir, repx)
    println(s"""{"diag":"stress_detail","sf":"$dir","repx":$repx,""" +
      s""""stress":${detailJson(results)}}""")
    println(s"""{"metric":"stress","sf":"$dir","repx":$repx,""" +
      s""""stress":${compactJson(results)}}""")
    spark.stop()
  }
}
