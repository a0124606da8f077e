package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.assembly._
import graft.querydsl._
import graft.streaming.Streams
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Incremental supplement: delta batches of raw statements land in a raw
  * directory and Streams.streamingScoredReadonly absorbs each with
  * AvailableNow; a fixed read set then runs against the on-disk store. */
object SupplementWorkload {
  val shards = 4
  val readers: Seq[String] = Seq("reach")
  val dbs: Seq[String] = Seq("signor")
  val db = "perfbench_ro"
  val beliefDb = "perfbench_belief"

  val schema: StructType = StructType(Seq(
    StructField("raw_stmt_id", LongType), StructField("src", StringType),
    StructField("raw_json", StringType)))

  final class Store(c: Ctx) {
    val rawDir: String = c.dir("supplement/raw")
    val ckDir: String = c.dir("supplement/checkpoint")

    /** Write one batch as a parquet file; returns the bytes it added. */
    def land(rows: Seq[(Long, String, String)]): Long = {
      val before = bytes()
      c.spark.createDataFrame(rows.map { case (a, b, d) => Row(a, b, d) }.asJava, schema)
        .coalesce(1).write.mode("append").parquet(rawDir)
      bytes() - before
    }

    def bytes(): Long = Option(new java.io.File(rawDir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum

    def absorb(): Unit =
      Streams.streamingScoredReadonly(c.spark, rawDir, ckDir, db, beliefDb, shards,
        readerSources = readers, dbSources = dbs).awaitTermination()

    def reset(): Unit = {
      IncrementalReadonly.reset(c.spark, db)
      IncrementalBelief.reset(c.spark, beliefDb)
      c.deleteDir(rawDir); c.deleteDir(ckDir)
      new java.io.File(rawDir).mkdirs()
    }

    // everything the store keeps on disk: the raw and checkpoint
    // directories and the two databases' table directories
    private val parts: Seq[java.nio.file.Path] = {
      val warehouse = c.spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      Seq(rawDir, ckDir, s"$warehouse/$db.db", s"$warehouse/$beliefDb.db")
        .map(java.nio.file.Paths.get(_))
    }
    private val snapshotDir = java.nio.file.Paths.get(c.dir("supplement/snapshot"))

    /** Copy the store's files aside, for [[restore]]. */
    def snapshot(): Unit = {
      c.deleteDir(snapshotDir.toString)
      parts.zipWithIndex.foreach { case (p, i) => copyTree(p, snapshotDir.resolve(i.toString)) }
    }

    /** Put the files of the last [[snapshot]] back. The tables stay
      * registered; readers refresh them before reading. */
    def restore(): Unit = parts.zipWithIndex.foreach { case (p, i) =>
      c.deleteDir(p.toString)
      copyTree(snapshotDir.resolve(i.toString), p)
    }

    private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      val files = java.nio.file.Files.walk(from)
      try files.iterator().asScala.foreach { f =>
        val dst = to.resolve(from.relativize(f).toString)
        if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(f, dst)
      } finally files.close()
    }
  }

  /** One store, its delta batches and the read-your-writes state. */
  final class Cycles(c: Ctx, val plan: SupplementPlan) {
    val store = new Store(c)
    private val types = graft.core.TypeRegistry.indra
    val readMs = mutable.ArrayBuffer[Double]()
    private var nextBatch = 0
    private var lastBelief = 0.0
    private var seededBelief = 0.0
    private val hub = HasAgent(s"G${plan.hub._1}", role = Some("SUBJECT")) &
      HasAgent(s"G${plan.hub._2}", role = Some("OBJECT")) & HasType(Seq("Activation"))
    private val ancestor = HasAgent(s"G${plan.ancestor._1}") &
      HasAgent(s"G${plan.ancestor._2}") & HasType(Seq("Complex")) & HasNumAgents(Seq(2))

    private def hashesOf(q: StmtQuery): Array[Row] = {
      val ro = IncrementalReadonly.load(c.spark, db)
      Results.hashes(q, ro, types).select("mk_hash", "ev_count", "belief").collect()
    }

    /** Seed the store with the base statements through one stream trigger;
      * returns a digest of the seeded store. */
    def seed(): String = {
      store.reset()
      store.land(plan.base)
      store.absorb()
      nextBatch = 0
      seededBelief = hashesOf(ancestor).headOption.map(_.getDouble(2)).getOrElse(0.0)
      lastBelief = seededBelief
      digest()
    }

    /** Digest of the store's (hash, ev_count, belief) rows. */
    def digest(): String =
      Stats.sha(IncrementalReadonly.load(c.spark, db).sourceMeta
        .select("mk_hash", "ev_count", "belief").distinct().collect()
        .map(r => f"${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)}%.9f").sorted)

    /** Land the next batch, absorb it, then run the read set and check
      * read-your-writes. Returns (batch ms, batch rows, delta bytes). */
    def cycle(absorb: () => Unit, traced: Boolean): (Double, Int, Long) = {
      val d = plan.deltas(nextBatch)
      nextBatch += 1
      val inBytes = store.land(d.rows)
      val (_, ms) = Stats.timeMs(absorb())
      def read[T](f: => T): T = {
        val (r, rms) = Stats.timeMs(
          if (traced) c.tracer.span("querydsl.store_read")(f) else f)
        readMs += rms
        r
      }
      val fresh = read(hashesOf(HasAgent(s"G${d.newAgent}")))
      val hubRows = read(hashesOf(hub))
      val anc = read(hashesOf(ancestor))
      val hubAgent = read(hashesOf(HasAgent(s"G${plan.hub._1}")))
      val belief = anc.headOption.map(_.getDouble(2)).getOrElse(Double.NaN)
      c.checks.op(s"supplement batch ${d.batch}", Seq(
        s"new agent statements ${fresh.length} == ${d.newAgentSpecs}" ->
          (fresh.length == d.newAgentSpecs),
        "hub ev_count" -> (hubRows.length == 1 &&
          hubRows.head.getLong(1) == plan.hubBaseEv + d.batch * plan.hubEvPerBatch),
        s"ancestor belief rises ($lastBelief -> $belief)" ->
          (anc.length == 1 && belief > lastBelief),
        s"hub agent statements ${hubAgent.length} == ${plan.hubAgentSpecsAfter(d.batch - 1)}" ->
          (hubAgent.length == plan.hubAgentSpecsAfter(d.batch - 1))))
      lastBelief = belief
      (ms, d.rows.size, inBytes)
    }

    /** The first delta batch, absorbed by the program's own stream and
      * then, on the seeded store put back from a snapshot, by the traced
      * copy [[tracedAbsorb]]; the copy must leave the store the program
      * left. */
    def traced(): TracedBatch = {
      seed()
      store.snapshot()
      c.log("supplement store seeded")
      val (plainMs, _, _) = cycle(() => store.absorb(), traced = false)
      val plain = digest()
      c.log(f"supplement plain batch: ${plainMs / 1000}%.1fs")
      store.restore()
      nextBatch = 0
      lastBelief = seededBelief
      val ((tracedMs, _, inBytes), wall) =
        Stats.timeMs(cycle(() => tracedAbsorb(c, store), traced = true))
      val copy = digest()
      c.log(f"supplement traced batch: ${tracedMs / 1000}%.1fs")
      c.checks.op("traced stream copy leaves the plain run's store", Seq(
        s"digest $copy == $plain" -> (copy == plain)))
      c.drain()
      val written = c.tracer.jobsOf(c.ledger, "assembly.incremental_readonly")
        .map(_.bytesWritten).sum
      TracedBatch(plainMs, tracedMs, wall - tracedMs + math.max(plainMs, tracedMs), Map(
        "assembly.incremental_readonly.write_amp" -> written.toDouble / math.max(1L, inBytes),
        "assembly.incremental_readonly.shard_files_max" -> fanIn(c)))
    }
  }

  /** A traced batch: the plain and the traced absorb time, the time its
    * spans should cover (the traced cycle, its absorb counted at the longer
    * of the two), and the incremental layers' own ratios. */
  final case class TracedBatch(plainMs: Double, tracedMs: Double, coveredMs: Double,
      extra: Map[String, Double])

  def run(c: Ctx): Outcome = {
    val cy = new Cycles(c, Supplement.plan(c.o.seed, c.o.scale, batches = 40))
    val (digest, setupMs) = Stats.timeMs(cy.seed())
    val phaseMs = if (c.o.trace) c.o.seconds * 500 else c.o.seconds * 1000
    val measured = mutable.ArrayBuffer[(Double, Int, Long)]()
    val t0 = System.nanoTime()
    while (measured.isEmpty ||
        (System.nanoTime() - t0) / 1e6 + measured.last._1 < phaseMs)
      measured += cy.cycle(() => cy.store.absorb(), traced = false)
    val batchMs = measured.map(_._1).toSeq
    val reads = cy.readMs.toList
    val layers = if (!c.o.trace) Map.empty[String, Double] else {
      val tb = cy.traced()
      Layers.summarize(c, tb.coveredMs, tb.plainMs, tb.tracedMs, tb.extra)
    }
    val p50 = Stats.median(batchMs)
    Outcome(c.checks.attempted, c.checks.failed,
      e2e = Seq(
        ("setup_s", setupMs / 1000, "s"),
        ("op_p50_ms", p50, "ms"),
        ("throughput_per_s", measured.map(_._2).sum / (batchMs.sum / 1000), "1/s")),
      named = Seq(
        ("supplement_batch_p50_s", p50 / 1000, "s"),
        ("supplement_read_p50_ms", Stats.median(reads), "ms"),
        ("supplement_batches", measured.size.toDouble, "count"),
        ("supplement_shard_files_max", fanIn(c), "count")),
      layers = layers, digest = digest,
      sizes = cy.plan.params ++ Map("shards" -> shards,
        "base_rows" -> cy.plan.base.size, "delta_rows" -> cy.plan.deltas.head.rows.size),
      failures = c.checks.failures.toSeq)
  }

  def fanIn(c: Ctx): Double =
    IncrementalReadonly.shardFileCounts(c.spark, db).values.maxOption.getOrElse(0).toDouble

  /** The body of Streams.streamingScoredReadonly (without the ontology
    * dimension) made from the same public calls, with the belief and
    * readonly upserts in spans of their own under `streaming.batch`. The
    * belief update's lazy local checkpoint is counted inside its span, so
    * its work runs there; the caller checks that the store matches the
    * plain stream's. */
  def tracedAbsorb(c: Ctx, store: Store): Unit = {
    val t = c.tracer
    t.span("streaming.batch", adopts = true) {
      val parent = t.current
      c.spark.readStream.schema(schema).parquet(store.rawDir)
        .writeStream
        .option("checkpointLocation", store.ckDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val ses = batch.sparkSession
          val (valid, _) = Preassembly.partitionValid(Preassembly.parse(batch))
          val v = valid.localCheckpoint(false)
          val stmts = v.select(col("mk_hash"), col("stmt.type").as("stype")).distinct()
            .localCheckpoint(false)
          val agents = Preassembly.agentRows(v).localCheckpoint(false)
          val counts = v.groupBy("mk_hash", "src").agg(count(lit(1)).as("cnt"))
            .localCheckpoint(false)
          val beliefUpd = t.spanUnder(parent, "assembly.incremental_belief") {
            Boundary.filled(
              IncrementalBelief.upsert(ses, stmts, agents, counts, beliefDb, shards, batchId))
          }
          val evidence = v.select(col("raw_stmt_id").as("sid"), col("mk_hash"),
            col("src"), col("raw_stmt_id").as("rid"), lit(null).cast("long").as("pmid"))
          val mesh = v.select(col("raw_stmt_id").as("sid"), lit(0L).as("mesh_num"),
            lit(0).cast("int").as("is_concept")).limit(0)
          val refs = v.select(col("raw_stmt_id").as("rid"),
            lit(null).cast("long").as("pmid")).limit(0)
          t.spanUnder(parent, "assembly.incremental_readonly") {
            IncrementalReadonly.upsert(ses,
              StatementWorld(stmts.withColumn("belief", lit(null).cast("double")),
                evidence, agents, mesh, refs),
              graft.core.TypeRegistry.indra, readers, dbs, None,
              db, shards, batchId, agentsPerHash = true, beliefUpdates = Some(beliefUpd))
          }
          ()
        }
        .start()
        .awaitTermination()
    }
  }
}
