package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.BlockScope.Boundary

/** Streaming / incremental operators.
  *
  * The reference has no streaming engine — its incremental path is the
  * batch "supplement" (preassemble_db.py:481-615): find raw statements not
  * yet linked, run the pipeline on the delta, merge counts. Both shapes are
  * here: the batch-incremental anti-join/merge, and a Structured-Streaming
  * event rollup whose transform is shared verbatim between the batch gate
  * query and the readStream path (same plan, two execution modes).
  */
object Streams {

  /** Event-time hourly rollup: tumbling-window aggregation with a 1-hour
    * watermark. Works identically over a batch DataFrame (watermark is a
    * no-op) and a streaming one (late data beyond 1h dropped, state
    * bounded). */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("sum_value"))

  /** Ordered conversion funnel: for each step i, the users whose FIRST
    * step-i event strictly follows their first qualifying step-(i-1)
    * event — the classic product-analytics funnel (view → click →
    * purchase) computed without per-user sorting. Each stage is one
    * filtered aggregation joined to the previous survivors by user_id
    * (the funnel length bounds the join count, not the data); counts are
    * exact, so the result is engine-portable.
    *
    * Returns (step_idx, step, n_users), one row per step. */
  def eventFunnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    var reached = e.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(col("ts")).as("t"))
    def counted(step: String, i: Int, r: DataFrame): DataFrame =
      r.agg(count(lit(1)).as("n_users"))
        .select(lit(i.toLong).as("step_idx"), lit(step).as("step"),
          col("n_users"))
    var out = Seq(counted(steps.head, 0, reached))
    steps.tail.zipWithIndex.foreach { case (s, i) =>
      reached = e.filter(col("event_type") === s)
        .join(reached, "user_id")
        .filter(col("ts") > col("t"))
        .groupBy("user_id").agg(min(col("ts")).as("t"))
      out = out :+ counted(s, i + 1, reached)
    }
    out.reduce(_ unionByName _)
  }

  /** Cohort retention: users grouped by their first-active date, counted
    * on each later day they return — the product-analytics retention
    * triangle. Two partial-aggregated shuffles over the distinct
    * (user, day) activity set plus one user-keyed join; day counts are
    * exact, nothing driver-side. Returns (cohort, day_offset, n_users)
    * with cohort formatted as a string so the value is engine-portable. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val first = days.groupBy("user_id").agg(min(col("day")).as("cohort"))
    days.join(first, "user_id")
      .groupBy(col("cohort"),
        datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        col("day_offset"), col("n_users"))
  }

  /** Last-touch attribution: each conversion event is credited to the
    * user's nearest strictly-earlier non-conversion event — one window
    * per user over the (ts, event_id) total order (last ignoreNulls over
    * the preceding frame), then a per-touch-type rollup. Conversions
    * with no prior touch report as 'none'. One user-partitioned window +
    * one partial-aggregated groupBy. Returns (touch_type,
    * n_conversions). */
  def lastTouchAttribution(
      events: DataFrame, conversionType: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .withColumn("last_touch",
        last(when(col("event_type") =!= conversionType, col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === conversionType)
      .groupBy(coalesce(col("last_touch"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("n_conversions"))
  }

  /** User-journey transition counts: for each user's time-ordered event
    * stream, count (previous event type -> event type) edges — the Markov
    * transition table behind funnel discovery and next-action analysis.
    * Stream starts contribute a '^start' source state so row counts
    * reconcile (every event is the target of exactly one edge).
    *
    * One window per user (lag over the (ts, event_id) total order), one
    * grouped count — the same two-shuffle shape as sessionization. */
  def transitionCounts(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .withColumn("prev_type",
        coalesce(lag(col("event_type"), 1).over(w), lit("^start")))
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Robust per-group outlier detection: flag rows whose value deviates
    * from the group median by more than `k` times the group MAD (median
    * absolute deviation). Median/MAD instead of mean/stddev because the
    * outliers being hunted would drag a mean-based threshold toward
    * themselves — the standard telemetry/metric-quality screen.
    *
    * Scale shape: two grouped exact-percentile aggregations (Spark's
    * `percentile`, partial-aggregated per group) and two joins on the
    * group key. The stats sides broadcast ONLY while the group
    * cardinality is provably dimension-sized: a cheap column-pruned
    * approx_count_distinct pre-pass checks it against
    * `maxBroadcastGroups`, and above the threshold both joins fall back
    * to shuffle joins — the contract is enforced, not advisory, so a
    * high-cardinality group key degrades to one extra exchange instead
    * of OOMing the driver. The pre-pass runs a Spark job at
    * plan-construction time; a caller composing the transform lazily (or
    * feeding a STREAMING frame, where an eager job cannot run) passes
    * `broadcastStats` explicitly and no pre-pass job fires. The
    * comparisons are the same IEEE ops on both engines, so flagged
    * membership is exact either way.
    *
    * Returns the flagged rows: (idCol, groupCol, valueCol, med, mad). */
  def robustAnomalies(
      df: DataFrame, idCol: String, groupCol: String, valueCol: String,
      k: Double, maxBroadcastGroups: Long = 262144L,
      broadcastStats: Option[Boolean] = None): DataFrame = {
    val bcast = broadcastStats.getOrElse {
      !df.isStreaming && {
        df.select(approx_count_distinct(col(groupCol)).as("n"))
          .head.getLong(0) <= maxBroadcastGroups
      }
    }
    val dim = (s: DataFrame) => if (bcast) broadcast(s) else s
    val med = df.groupBy(groupCol)
      .agg(percentile(col(valueCol), lit(0.5)).as("med"))
    val dev = df.select(col(idCol), col(groupCol), col(valueCol))
      .join(dim(med), Seq(groupCol))
      .withColumn("absdev", abs(col(valueCol) - col("med")))
    val mad = dev.groupBy(groupCol)
      .agg(percentile(col("absdev"), lit(0.5)).as("mad"))
    dev.join(dim(mad), Seq(groupCol))
      .where(col("absdev") > lit(k) * col("mad"))
      .select(col(idCol), col(groupCol), col(valueCol),
        col("med"), col("mad"))
  }

  /** Streaming as-of enrichment: each micro-batch of fact rows is matched
    * against a static dimension snapshot with backward as-of semantics
    * ([[graft.operators.Temporal.asofJoin]]) and written exactly-once
    * (batch_id dynamic partition overwrite, the repo's replay-safe sink
    * convention). No cross-batch state is needed BECAUSE the dimension is
    * a full snapshot: a fact's latest-prior dimension row cannot depend
    * on which micro-batch the fact arrived in. A slowly-changing
    * dimension swaps in a refreshed snapshot between triggers.
    *
    * `normalize` adapts raw file-source types (e.g.
    * [[graft.sources.Tables.normalizeTs]] for the events table's
    * generation-dependent timestamp encoding). */
  def streamingAsofEnrich(
      spark: org.apache.spark.sql.SparkSession,
      factsDir: String,
      factsSchema: org.apache.spark.sql.types.StructType,
      dim: DataFrame,
      factKey: String, factTs: String,
      dimKey: String, dimTs: String,
      payload: Seq[String], dimTieBreak: String,
      outDir: String, checkpointDir: String,
      normalize: DataFrame => DataFrame = identity,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.schema(factsSchema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(factsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Temporal.asofJoin(
            normalize(batch), factKey, factTs,
            dim, dimKey, dimTs, payload, dimTieBreak)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }.start()
  }

  /** Watermarked STREAM-STREAM join: a stream of fact rows against a
    * stream of late-arriving dimension validity intervals — the one
    * streaming shape [[streamingAsofEnrich]]'s stream-static snapshot
    * cannot cover, because there the dimension must be complete before
    * the facts arrive; here both sides trickle in out of order and the
    * engine holds bounded state for both.
    *
    * Inner equi-join on the key plus an event-time containment condition
    * (`factTs` in `[validFrom, validTo]`). Both sides carry watermarks,
    * and the extra `factTs <= validFrom + maxValidity` conjunct gives
    * Spark the two-sided time constraint it needs to EXPIRE join state:
    * fact state older than the dimension watermark minus `maxValidity`
    * and dimension state older than the fact watermark are dropped, so
    * state is bounded by the watermark horizon, not the stream length.
    * `maxValidity` is therefore a CONTRACT: intervals longer than it are
    * truncated (pairs beyond the bound are not emitted) — size it to the
    * dimension's maximum validity window.
    *
    * Column names must be distinct across the two sides. Returns the
    * joined stream (append-mode capable); the caller attaches the sink.
    */
  def streamStreamIntervalJoin(
      facts: DataFrame, factKey: String, factTs: String,
      dims: DataFrame, dimKey: String, validFrom: String, validTo: String,
      watermarkDelay: String, maxValidity: String): DataFrame = {
    val f = facts.withWatermark(factTs, watermarkDelay)
    val d = dims.withWatermark(validFrom, watermarkDelay)
    f.join(d,
      col(factKey) === col(dimKey) &&
        col(factTs) >= col(validFrom) &&
        col(factTs) <= col(validTo) &&
        col(factTs) <= col(validFrom) + expr(s"INTERVAL $maxValidity"))
  }

  /** Batch sessionization: a session breaks after `gapMinutes` of user
    * inactivity. Two windows over the same (user_id, ts) partitioning: lag
    * marks session starts, a running sum numbers them — the batch shape of
    * the flatMapGroupsWithState streaming sessionizer. */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // microsecond arithmetic: second-truncated deltas would misplace
      // session boundaries within 1s of the gap
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            gapMinutes * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum("new_session").over(byUser.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("duration_us"))
  }

  /** Incremental streaming preassembly: a raw-statement directory source
    * drained with Trigger.AvailableNow. Parse/validate/hash are the SAME
    * map-side Preassembly stages as the batch pipeline; first-seen-hash
    * dedup is engine state (streaming dropDuplicates on mk_hash), and the
    * checkpoint makes each drain process only files added since the last
    * run — the reference's supplement watermark (preassemble_db.py:481-543)
    * re-expressed as stream state instead of bookkeeping rows. Append mode:
    * each drain emits exactly the NEW unique statements.
    */
  def streamingPreassembly(
      spark: org.apache.spark.sql.SparkSession,
      rawDir: String,
      checkpointDir: String,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("raw_stmt_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("raw_json",
        org.apache.spark.sql.types.StringType)))
    val raw = spark.readStream.schema(schema).parquet(rawDir)
    val (valid, _) = graft.assembly.Preassembly.partitionValid(
      graft.assembly.Preassembly.parse(raw))
    valid
      .select(col("mk_hash"), col("raw_stmt_id"), col("src"),
        col("matches_key"))
      .dropDuplicates("mk_hash")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
  }

  /** Schema of a (doc_id, text) document directory stream. */
  private val docStreamSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  /** Streaming near-dup over a document directory stream: each micro-batch
    * dedups against the PERSISTED index ([[graft.operators.Dedup.deltaNearDups]]
    * probing [[graft.operators.Dedup.writeIndex]] tables) and then appends
    * its own signatures + shingles, so every batch sees all earlier ones.
    * foreachBatch is the composition point — the delta pipeline is a
    * multi-join batch plan (anti/semi joins + a self-join) that streaming
    * operators cannot express, and the index append is a second sink; both
    * are exactly what foreachBatch exists for. AvailableNow drains what is
    * in the directory and stops; the checkpoint makes the next run resume
    * after the last drained file. Pair output rows carry the micro-batch
    * id, so a replayed batch is auditable (dedup on read when exact-once
    * matters). With `maxFilesPerBucket` > 0, each batch ends by applying
    * [[graft.operators.Dedup.compactIndexIfNeeded]] — the same
    * file-pressure LSM policy as the readonly store's
    * [[graft.assembly.IncrementalReadonly.compactIfNeeded]]. */
  def streamingNearDups(
      spark: org.apache.spark.sql.SparkSession,
      docsDir: String,
      indexDb: String,
      indexBuckets: Int,
      checkpointDir: String,
      pairsOutDir: String,
      n: Int = 3, k: Int = 12, r: Int = 3,
      threshold: Double = 0.6,
      maxFilesPerBucket: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(docStreamSchema).parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.Dedup
        val (sigs, sh) = Dedup.loadIndex(spark, indexDb)
        // dynamic partition overwrite keyed by the batch id makes a
        // replayed batch overwrite ITS OWN output instead of appending a
        // duplicate copy — the sink is exactly-once under at-least-once
        // foreachBatch semantics; appendIndex is idempotent on its own
        Dedup.deltaNearDups(batch, "doc_id", "text", sigs, sh,
            n, k, r, threshold)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(pairsOutDir)
        val batchSh = Dedup.shingleHashes(batch, "doc_id", "text", n)
          .boundary()
        Dedup.appendIndex(batchSh, indexDb, indexBuckets, k, r)
        // in-stream LSM compaction (opt-in): foreachBatch serializes
        // micro-batches, so the rewrite never races a probe of this stream
        if (maxFilesPerBucket > 0)
          Dedup.compactIndexIfNeeded(spark, indexDb, indexBuckets,
            maxFilesPerBucket)
        ()
      }
      .start()

  private val mediaStreamSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("media_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("data",
      org.apache.spark.sql.types.BinaryType),
    org.apache.spark.sql.types.StructField("w",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("h",
      org.apache.spark.sql.types.IntegerType)))

  /** Streaming perceptual media dedup: each micro-batch of images probes
    * the ACCUMULATED banded dHash index
    * ([[graft.operators.Multimodal.deltaDhashNearDups]]) and then appends
    * its own signatures — the media mirror of [[streamingNearDups]], with
    * the same exactly-once shape: the pair sink dynamically overwrites
    * its own batch_id partition on a replay, and the index append is
    * batch_id-partitioned dynamic overwrite too, so a replayed batch
    * rewrites its own index partition instead of double-inserting.
    * Pixels never enter the index — 32 bytes per signature row.
    *
    * Per-batch cost scales with the DELTA: each payload is hashed once
    * (the signature frame is materialized and reused for the pair join
    * and the index append), the index is pruned to the delta's buckets
    * with a broadcast semi-join before any shuffle, and the stale-row
    * dedup for re-ingested ids aggregates only the touched ids'
    * (id, batch_id) projection. If read-side file pressure ever matters
    * after many batches, compact by rewriting the live rows under a new
    * prefix — the same convention as [[streamingCorpusStats]]. */
  def streamingMediaDedup(
      spark: org.apache.spark.sql.SparkSession,
      mediaDir: String,
      indexDir: String,
      checkpointDir: String,
      pairsOutDir: String,
      maxHamming: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    streamingBandSigDedup(spark, mediaDir, mediaStreamSchema,
      b => graft.operators.Multimodal
        .dhashBandSignatures(b, "media_id", "data", "w", "h"),
      indexDir, checkpointDir, pairsOutDir, maxHamming)

  private val audioStreamSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("media_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("data",
      org.apache.spark.sql.types.BinaryType)))

  /** [[streamingMediaDedup]] for AUDIO: the same persisted banded index /
    * delta-probe / exactly-once machinery over the loudness-envelope
    * fingerprint of PCM WAV payloads
    * ([[graft.operators.Multimodal.audioBandSignatures]]). Clips stream
    * as (media_id, data). */
  def streamingAudioDedup(
      spark: org.apache.spark.sql.SparkSession,
      audioDir: String,
      indexDir: String,
      checkpointDir: String,
      pairsOutDir: String,
      maxHamming: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    streamingBandSigDedup(spark, audioDir, audioStreamSchema,
      b => graft.operators.Multimodal
        .audioBandSignatures(b, "media_id", "data"),
      indexDir, checkpointDir, pairsOutDir, maxHamming)

  /** Schema of a (url, score) crawl-discovery directory stream. */
  private val candStreamSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("url",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.LongType)))

  /** Streaming crawl loop: each micro-batch of discovered URLs runs
    * [[graft.operators.Crawl.frontierDelta]] against the budgets ALREADY
    * SPENT by every earlier batch, so continuous discovery becomes a
    * stream with exactly-once spend accounting. The state IS the output:
    * `done` = every URL selected so far, `spent` = its per-domain counts
    * — both reread from the batch_id-partitioned selection sink, so no
    * separate state table can drift from what was actually selected.
    * A replayed batch excludes its OWN prior partition from the state
    * read (otherwise its old output would anti-join its rerun to empty)
    * and dynamically overwrites that partition — exactly-once under
    * foreachBatch's at-least-once contract, the same shape as the other
    * streaming sinks here. Batch law preserved: earlier batches' picks
    * are never revisited, so a later-arriving higher-score URL wins only
    * future budget (`frontierDelta`'s documented stream semantics).
    * The per-drain state reread is bounded by the politeness contract
    * itself: the sink holds only SELECTED rows, and selection is capped
    * at each host's budget — so state is budget-cardinality (hosts ×
    * budget), not discovery-cardinality, no matter how many URLs the
    * stream discovers. */
  def streamingFrontier(
      spark: org.apache.spark.sql.SparkSession,
      candsDir: String,
      agent: String,
      robots: DataFrame,
      budgets: DataFrame,
      defaultBudget: Long,
      checkpointDir: String,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(candStreamSchema).parquet(candsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.Crawl
        val prior =
          try spark.read.parquet(outDir)
            .where(col("batch_id") =!= batchId)
            .select("url", "domain")
          catch { case _: org.apache.spark.sql.AnalysisException =>
            // first batch: no sink yet — zero state, which frontierDelta
            // pins as identical to the batch operator
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("url",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("domain",
                  org.apache.spark.sql.types.StringType))))
          }
        val spent = prior.groupBy("domain")
          .agg(count(lit(1)).as("n_selected"))
        Crawl.frontierDelta(batch, "url", agent, robots, budgets,
            defaultBudget, spent = spent, done = prior.select("url"),
            scoreCol = Some("score"))
          .where(col("selected"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
        ()
      }
      .start()

  /** Shared core of the streaming perceptual-dedup sinks: `sigsOf` turns
    * a raw batch into banded 64-bit signature rows (decode+hash, run
    * exactly once per batch), and everything downstream — index pruning
    * to the delta's buckets, stale-signature replacement, the capped
    * pair join, batch_id-partitioned exactly-once writes — is
    * signature-agnostic. */
  private def streamingBandSigDedup(
      spark: org.apache.spark.sql.SparkSession,
      mediaDir: String,
      schema: org.apache.spark.sql.types.StructType,
      sigsOf: DataFrame => DataFrame,
      indexDir: String,
      checkpointDir: String,
      pairsOutDir: String,
      maxHamming: Int): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(mediaDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.Multimodal
        val empty = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sig",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("band_idx",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("band_val",
              org.apache.spark.sql.types.LongType))))
        // hash each payload exactly ONCE per batch: the materialized
        // signature frame feeds both the pair join and the index append
        val newSigs = sigsOf(batch).boundary()
        val oldSigs =
          try {
            val raw = spark.read.parquet(indexDir)
            // prune to the buckets THIS delta touches before any
            // cross-row work — a scan + broadcast semi-join, so the
            // per-batch shuffles below scale with the delta's bucket
            // footprint, not the accumulated corpus
            val touched = raw.join(
              newSigs.select("band_idx", "band_val").distinct(),
              Seq("band_idx", "band_val"), "left_semi")
            // a re-ingested id leaves stale rows in older batch
            // partitions; only its LATEST batch's signatures are live.
            // The max must range over ALL of an id's rows (its newest
            // signature may live entirely in untouched buckets), so the
            // id/batch_id projection is re-scanned — but restricted to
            // the touched ids, and partial aggregation means only
            // per-id maxima shuffle
            val touchedIds = touched.select("id").distinct()
            val latest = raw.select("id", "batch_id")
              .join(touchedIds, Seq("id"), "left_semi")
              .groupBy("id").agg(max("batch_id").as("batch_id"))
            touched.join(latest, Seq("id", "batch_id"))
              .select("id", "sig", "band_idx", "band_val")
          } catch { case _: org.apache.spark.sql.AnalysisException => empty }
        Multimodal.deltaDhashNearDupsFromSigs(newSigs, oldSigs, maxHamming)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(pairsOutDir)
        newSigs
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(indexDir)
        ()
      }
      .start()

  private val docMetaStreamSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType)))

  /** Streaming corpus card: maintain per-(lang, source) doc/token counts
    * and a count-min sketch of term frequencies as documents arrive — the
    * observability layer an ingest pipeline reads to watch mixture drift
    * and vocabulary heavy-hitters without a full recount.
    *
    * All three structures are MERGEABLE (counts add; CMS cells add —
    * [[graft.operators.TextAnalysis.cmsMerge]]; per-lang Misra–Gries
    * heavy-hitter maps fold under
    * [[graft.operators.Sketches.misraGriesMergeByKey]] with the
    * mergeable-summaries bound intact), so each micro-batch writes only
    * its own DELTA, dynamically overwriting its batch_id partition on a
    * replay (the [[streamingNearDups]] exactly-once shape);
    * [[loadCorpusStats]] folds the deltas at read time. Delta partitions
    * are tiny (|langs×sources| + d·w + |langs|·k rows per batch), so the
    * read-side fold stays cheap for thousands of batches; compact by
    * rewriting the folded tables under a new prefix if file pressure ever
    * matters. */
  def streamingCorpusStats(
      spark: org.apache.spark.sql.SparkSession,
      docsDir: String,
      statsDir: String,
      checkpointDir: String,
      d: Int = 3, w: Int = 1 << 16, hhK: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(docMetaStreamSchema).parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.TextAnalysis
        val b = batch.boundary()
        b.groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(TextAnalysis.tokens(col("text"))).cast("long"))
              .as("n_tokens"))
          .withColumn("batch_id", lit(batchId))
          .coalesce(1)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(s"$statsDir/card")
        TextAnalysis.cmsBuild(b.select("text"), "text", d, w)
          .withColumn("batch_id", lit(batchId))
          .coalesce(1)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(s"$statsDir/sketch")
        graft.operators.Sketches.misraGriesByKey(
            b.select(col("lang"),
              explode(TextAnalysis.tokens(col("text"))).as("tok")),
            "lang", "tok", hhK)
          .withColumnRenamed("key", "lang")
          .withColumn("batch_id", lit(batchId))
          .coalesce(1)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(s"$statsDir/hh")
        ()
      }
      .start()

  /** Fold the [[streamingCorpusStats]] deltas into the current corpus
    * card, sketch, and per-lang heavy hitters: (card(lang, source,
    * n_docs, n_tokens), sketch(j, bucket, cnt),
    * hh(lang, mg map<term,est>)). The heavy-hitter fold carries the
    * k-counter Misra–Gries guarantee over the WHOLE stream per lang —
    * every term above N_lang/(k+1) present with bounded undercount —
    * regardless of how documents split into batches. */
  def loadCorpusStats(
      spark: org.apache.spark.sql.SparkSession,
      statsDir: String, hhK: Int = 32): (DataFrame, DataFrame, DataFrame) = (
    spark.read.parquet(s"$statsDir/card")
      .groupBy("lang", "source")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens")),
    spark.read.parquet(s"$statsDir/sketch")
      .groupBy("j", "bucket").agg(sum(col("cnt")).as("cnt")),
    graft.operators.Sketches.misraGriesMergeByKey(
      spark.read.parquet(s"$statsDir/hh"), "lang", "mg", hhK)
      .withColumnRenamed("key", "lang"),
  )

  /** Streaming line dedup over a document directory stream: each
    * micro-batch dedups against the ACCUMULATED line frequencies
    * ([[graft.operators.Dedup.lineDedupDelta]] probing the persisted
    * [[graft.operators.Dedup.writeLineIndex]] table — the batch's own
    * lines count toward the threshold), then appends its distinct
    * (doc, line-hash) pairs so every later batch sees it. Same
    * exactly-once shape as [[streamingNearDups]]: the cleaned-doc sink
    * dynamically overwrites its own batch partition on a replay, and the
    * index append is first-wins per doc. Stream semantics: a line that
    * becomes boilerplate later stops appearing in FUTURE output only —
    * already-emitted batches are immutable. */
  def streamingLineDedup(
      spark: org.apache.spark.sql.SparkSession,
      docsDir: String,
      indexDb: String,
      indexBuckets: Int,
      checkpointDir: String,
      outDir: String,
      minDf: Long): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(docStreamSchema).parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.Dedup
        val b = batch.boundary()
        Dedup.lineDedupDelta(b, "doc_id", "text",
            Dedup.loadLineIndex(spark, indexDb), minDf)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
        Dedup.appendLineIndex(b, "doc_id", "text", indexDb, indexBuckets)
        ()
      }
      .start()

  /** Streaming ingest-to-training-shards: each micro-batch runs the
    * quality funnel, keeps the survivors, counts their tokens, and packs
    * them into fixed-budget sequences (best-fit-decreasing within the
    * batch's id-hash shards). Bins never span batches, so every emitted
    * shard file is immutable the moment it lands — training can stream
    * shards while ingest continues; rows carry the micro-batch id. The
    * funnel/packing logic is identical to the batch path (shared
    * operators), so batch == streaming on the same input.
    *
    * Keys: seq_id is BATCH-SCOPED (packBestFit's bin counter restarts per
    * micro-batch) — consumers key bins by (batch_id, seq_id). The shard
    * sink uses batch-id dynamic partition overwrite, so a replayed batch
    * overwrites its own partition instead of duplicating docs. */
  def streamingCurateAndPack(
      spark: org.apache.spark.sql.SparkSession,
      docsDir: String,
      checkpointDir: String,
      shardsOutDir: String,
      stages: Seq[graft.operators.Curate.FilterStage],
      budget: Long,
      shards: Int): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(docStreamSchema).parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.{Curate, TextAnalysis}
        val stops = TextAnalysis.langProfiles.head._2
        val stats = TextAnalysis.qualityStats(batch, "text", stops)
          // same stopwords -> same kernel expression as qualityStats, so
          // subexpression elimination runs the kernel once per row
          .withColumn("lang_pred", TextAnalysis.langId(col("text"), stops))
        val kept = Curate.filterFunnel(stats, stages)
          .filter(col("verdict") === "kept")
          .withColumn("n_tokens", TextAnalysis.approxBpeTokens(col("text")))
          .select("doc_id", "text", "n_tokens")
        Curate.packBestFit(kept, "doc_id", "n_tokens", budget, shards)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(shardsOutDir)
        ()
      }
      .start()

  /** Streaming readonly maintenance: each raw-statement micro-batch runs
    * the SAME parse/validate/hash stages as [[streamingPreassembly]] and
    * then upserts the readonly serving layer through
    * [[graft.assembly.IncrementalReadonly.upsert]] — new hashes' rows
    * merge in, touched hashes' flags/counts re-derive, and only the hash
    * shards the batch touches rewrite. This is the reference's supplement
    * semantics carried all the way to the readonly layer, which the
    * reference itself can only reach by a full rebuild
    * (preassemble_db.py:481-615 + readonly_dumping.py RUN_ORDER).
    *
    * Exactly-once: the upsert's principal appends carry per-table guards
    * and the micro-batch id (p_agents keys idempotency on its batch
    * partition), and the derived rewrite is a pure function of the
    * principal store — a replayed batch heals rather than duplicates.
    * Belief is null here (belief maintenance is [[Pipeline]]'s job); a
    * caller wanting scored serving tables feeds the pipeline's statements
    * frame through [[graft.assembly.IncrementalReadonly.upsert]] directly.
    */
  def streamingReadonly(
      spark: org.apache.spark.sql.SparkSession,
      rawDir: String,
      checkpointDir: String,
      db: String,
      shards: Int,
      types: graft.core.TypeRegistry = graft.core.TypeRegistry.indra,
      readerSources: Seq[String] = Seq("reach", "medscan"),
      dbSources: Seq[String] = Seq("signor"),
      complexTypeNum: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("raw_stmt_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("raw_json",
        org.apache.spark.sql.types.StringType)))
    spark.readStream.schema(schema).parquet(rawDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.assembly.{IncrementalReadonly, Preassembly, StatementWorld}
        val (valid, _) = Preassembly.partitionValid(Preassembly.parse(batch))
        // one parse feeds three frames; the slim derived frames checkpoint
        // too so the upsert's many downstream actions analyze LogicalRDDs,
        // not the full statement-JSON parse expression tree (driver-side
        // Catalyst cost per action — see streamingScoredReadonly)
        val v = valid.boundary()
        val statements = v
          .select(col("mk_hash"), col("stmt.type").as("stype")).distinct()
          .withColumn("belief", lit(null).cast("double"))
          .boundary()
        val evidence = v.select(col("raw_stmt_id").as("sid"), col("mk_hash"),
          col("src"), col("raw_stmt_id").as("rid"),
          lit(null).cast("long").as("pmid"))
        val agents = Preassembly.agentRows(v).boundary()
        val mesh = v.select(col("raw_stmt_id").as("sid"),
          lit(0L).as("mesh_num"), lit(0).cast("int").as("is_concept"))
          .limit(0)
        val refs = v.select(col("raw_stmt_id").as("rid"),
          lit(null).cast("long").as("pmid")).limit(0)
        IncrementalReadonly.upsert(batch.sparkSession,
          StatementWorld(statements, evidence, agents, mesh, refs),
          types, readerSources, dbSources, complexTypeNum,
          db, shards, batchId, agentsPerHash = true)
        ()
      }
      .start()
  }

  /** [[streamingReadonly]] with SCORED serving: each micro-batch first
    * flows through [[graft.assembly.IncrementalBelief.upsert]] — which
    * maintains the refinement closure and returns refreshed belief for
    * the batch's hashes AND every refinement ancestor the batch's new
    * evidence lifts — and those updates ride into
    * [[graft.assembly.IncrementalReadonly.upsert]], rewriting belief
    * shard-locally and re-deriving the touched meta rows. The result is
    * the reference's full supplement semantics (refinement + belief +
    * readonly, preassemble_db.py:481-615 + export_assembly.py:680-702 +
    * readonly_dumping.py RUN_ORDER) as one incremental streaming path; the
    * reference reaches the same state only by rebuilding all three layers.
    *
    * Exactly-once composes from the parts: both stores' writes are
    * guarded-append or pure-overwrite (see their scaladocs), so an
    * at-least-once foreachBatch replay heals both. */
  def streamingScoredReadonly(
      spark: org.apache.spark.sql.SparkSession,
      rawDir: String,
      checkpointDir: String,
      db: String,
      beliefDb: String,
      shards: Int,
      types: graft.core.TypeRegistry = graft.core.TypeRegistry.indra,
      readerSources: Seq[String] = Seq("reach", "medscan"),
      dbSources: Seq[String] = Seq("signor"),
      complexTypeNum: Option[Int] = None,
      ontology: Option[DataFrame] = None,
      ontologyDb: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // fail at stream construction, not as an opaque CREATE DATABASE parse
    // error inside the first micro-batch
    require(ontology.isEmpty || ontologyDb.nonEmpty,
      "streamingScoredReadonly: ontology given but ontologyDb is empty")
    // The ontology is a slowly-changing dimension: compute its ancestor
    // closure ONCE at stream construction (an iterative multi-action job),
    // not once per micro-batch, and collect it — it is broadcast-sized by
    // the same argument Refinement.signatures broadcasts it. Each batch
    // rebuilds a LocalRelation on ITS OWN session: foreachBatch runs on a
    // cloned session, and plans referencing another session's DataFrame
    // can't reuse that session's cached exchanges.
    val ontClosure = ontology.map { ont =>
      val c = graft.assembly.Refinement.transitiveClosure(
        ont.select(col("desc"), col("anc")))
      (c.collect().toSeq, c.schema)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("raw_stmt_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("raw_json",
        org.apache.spark.sql.types.StringType)))
    spark.readStream.schema(schema).parquet(rawDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.assembly.{IncrementalBelief, IncrementalReadonly,
          Preassembly, StatementWorld}
        val ses = batch.sparkSession
        val (valid, _) = Preassembly.partitionValid(Preassembly.parse(batch))
        val v = valid.boundary()
        // checkpoint the slim derived frames too, not just v: their plans
        // otherwise carry the full statement-JSON parse expression tree
        // (hundreds of nested CaseWhen/struct nodes), and EVERY action the
        // three store upserts run downstream re-pays Catalyst
        // analysis/AQE-normalization over that tree — at any scale this is
        // driver time, per action, for work done once here
        val stmts = v
          .select(col("mk_hash"), col("stmt.type").as("stype")).distinct()
          .boundary()
        val agents = Preassembly.agentRows(v).boundary()
        val counts = v.groupBy("mk_hash", "src").agg(count(lit(1)).as("cnt"))
          .boundary()
        // ontology dimension: the persisted signature index yields the
        // batch's generalized-match edges, which the closure maintenance
        // composes with stored key-subset pairs
        val ontologyEdges = ontology.map { ont =>
          val closure = ontClosure.map { case (rows, schema) =>
            ses.createDataFrame(
              new java.util.ArrayList(
                scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
              schema)
          }
          graft.assembly.IncrementalOntologyEdges.upsert(
            ses, stmts, agents, ont, ontologyDb, shards,
            ontologyClosure = closure)
        }
        val beliefUpd = IncrementalBelief.upsert(ses, stmts, agents,
          counts, beliefDb, shards, batchId,
          extraEdges = ontologyEdges).boundary()
        val evidence = v.select(col("raw_stmt_id").as("sid"), col("mk_hash"),
          col("src"), col("raw_stmt_id").as("rid"),
          lit(null).cast("long").as("pmid"))
        val mesh = v.select(col("raw_stmt_id").as("sid"),
          lit(0L).as("mesh_num"), lit(0).cast("int").as("is_concept"))
          .limit(0)
        val refs = v.select(col("raw_stmt_id").as("rid"),
          lit(null).cast("long").as("pmid")).limit(0)
        IncrementalReadonly.upsert(ses,
          StatementWorld(
            stmts.withColumn("belief", lit(null).cast("double")),
            evidence, agents, mesh, refs),
          types, readerSources, dbSources, complexTypeNum,
          db, shards, batchId, agentsPerHash = true,
          beliefUpdates = Some(beliefUpd))
        ()
      }
      .start()
  }

  /** Incremental supplement: raw statements not yet represented in the
    * links table (alls EXCEPT olds, preassemble_db.py:527-543). The delta
    * then flows through the normal Preassembly stages. */
  def newRawStatements(raw: DataFrame, links: DataFrame): DataFrame =
    raw.join(links.select("raw_stmt_id"), Seq("raw_stmt_id"), "left_anti")

  /** Pointwise merge of per-hash source-count maps from two pipeline runs
    * (Counter-add, export_assembly.py:517-535): explode both, sum, re-map.
    */
  def mergeSourceCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("mk_hash"), explode(col("src_json")).as(Seq("src", "cnt")))
      .unionByName(
        b.select(col("mk_hash"), explode(col("src_json")).as(Seq("src", "cnt"))))
      .groupBy("mk_hash", "src")
      .agg(sum("cnt").as("cnt"))
      .groupBy("mk_hash")
      .agg(
        map_from_entries(collect_list(struct(col("src"), col("cnt"))))
          .as("src_json"),
        sum("cnt").as("ev_count"))
}
