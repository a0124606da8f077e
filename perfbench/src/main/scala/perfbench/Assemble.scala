package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.assembly._
import graft.core.TypeRegistry
import graft.querydsl.ReadonlyTables
import scala.jdk.CollectionConverters._

/** The batch assembly lifecycle: Pipeline.run over a seeded principal
  * dump, then materializeAll() on the readonly tables. */
object Assemble {
  val types: TypeRegistry = TypeRegistry.indra

  /** The dump as the engine's input DataFrames, cached. */
  def frames(spark: SparkSession, d: Dump): PrincipalDump = {
    def df(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(rows.asJava, schema).persist()
    val raw = df(d.rows.map { r =>
      Row(r.sid, r.readingId.orNull, r.dbInfoId.orNull, r.src, d.specs(r.spec).json)
    }, StructType(Seq(
      StructField("raw_stmt_id", LongType, nullable = false),
      StructField("reading_id", LongType), StructField("db_info_id", LongType),
      StructField("src", StringType), StructField("raw_json", StringType))))
    val readings = df(d.readings.map(r =>
      Row(r.rid, r.trid, r.reader, r.version, "pubmed", "abstract")), StructType(Seq(
      StructField("rid", LongType), StructField("trid", LongType),
      StructField("reader", StringType), StructField("reader_version", DoubleType),
      StructField("source", StringType), StructField("text_type", StringType))))
    val refs = df((0 until d.params.papers).map(p => Row(d.trid(p), d.pmid(p))),
      StructType(Seq(StructField("trid", LongType), StructField("pmid", LongType))))
    val mesh = df(d.mesh.map { case (p, m, c) => Row(p, m, c) }, StructType(Seq(
      StructField("pmid", LongType), StructField("mesh_num", LongType),
      StructField("is_concept", IntegerType))))
    val pd = PrincipalDump(raw, readings, refs, mesh)
    pd.productIterator.foreach { case f: DataFrame => f.count() }
    pd
  }

  def unpersist(pd: PrincipalDump): Unit =
    pd.productIterator.foreach { case f: DataFrame => f.unpersist(blocking = true) }

  def tables(ro: ReadonlyTables): Seq[DataFrame] =
    ro.productIterator.collect { case f: DataFrame => f }.toSeq

  /** Checks against the planted truth: the raw ids each spec was planted
    * with. Every surviving raw id is linked, no stale one is, the ids of a
    * spec share one hash and no other spec's, the unique count matches, and
    * each hash's ev_count is its spec's surviving row count. Returns the
    * checks and a digest of (hash, ev_count, belief). */
  def verify(d: Dump, ro: ReadonlyTables): (Seq[(String, Boolean)], String, Map[Int, Long]) = {
    val link = ro.fastRawPaLink.select("sid", "mk_hash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val meta = ro.sourceMeta.select("mk_hash", "ev_count", "belief").distinct().collect()
    val ev = meta.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val surviving = d.survivors.values.flatten.toSet
    val hashOf = d.survivors.map { case (spec, sids) => spec -> link.get(sids.head) }
    val grouped = d.survivors.forall { case (spec, sids) =>
      sids.forall(s => link.get(s) == hashOf(spec)) && hashOf(spec).isDefined
    }
    val hashes = hashOf.values.flatten.toSeq
    val checks = Seq(
      s"unique count ${ev.size} == ${d.uniqueCount}" -> (ev.size == d.uniqueCount),
      "linked raw ids == planted survivors" -> (link.keySet == surviving),
      "no stale-reading raw id survives distill" -> !link.keySet.exists(d.staleSids),
      "duplicate groups share one hash" -> grouped,
      "distinct specs have distinct hashes" -> (hashes.distinct.size == hashes.size),
      "ev_count per planted hash" -> d.survivors.forall { case (spec, sids) =>
        hashOf(spec).flatMap(ev.get).contains(sids.size.toLong)
      })
    val digest = Stats.sha(meta.map(r =>
      f"${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)}%.9f").sorted)
    (checks, digest, hashOf.collect { case (k, Some(h)) => k -> h })
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val params = DumpParams.at(c.o.scale)
    var dump: Dump = null
    var pd: PrincipalDump = null
    val setups = (1 to 3).map { _ =>
      if (pd != null) unpersist(pd)
      Stats.timeMs {
        dump = Dump.generate(c.o.seed, params)
        pd = frames(spark, dump)
      }._2
    }
    c.log(f"set-up: ${Stats.median(setups) / 1000}%.2fs")
    def op(): (ReadonlyTables, Double) = Stats.timeMs {
      Pipeline.run(spark, pd, types, Dump.readers, Dump.dbs).materializeAll()
    }
    def checked(ro: ReadonlyTables, what: String): (String, Map[Int, Long]) = {
      val (checks, digest, hashOf) = verify(dump, ro)
      c.checks.op(what, checks)
      (digest, hashOf)
    }
    // no warm-up: every run is a fresh JVM, so the first operation pays JIT
    // and codegen the same way in every run, and one operation already
    // outlasts the run's measuring time. A traced run makes a second, warm
    // plain operation before its traced copy.
    var digest = ""
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    def plainOp(): (ReadonlyTables, Map[Int, Long]) = {
      val (ro, ms) = op()
      lat += ms
      val (d, hashOf) = checked(ro, s"assemble op ${lat.size}")
      digest = d
      c.log(f"assemble op ${lat.size}: ${ms / 1000}%.1fs")
      (ro, hashOf)
    }
    val minOps = if (c.o.trace) 2 else 1
    val phaseMs = if (c.o.trace) c.o.seconds * 500 else c.o.seconds * 1000
    val t0 = System.nanoTime()
    while (lat.size < minOps || (System.nanoTime() - t0) / 1e6 + lat.last < phaseMs)
      c.release(tables(plainOp()._1))
    var tracedDigest = ""
    val layers = if (!c.o.trace) Map.empty[String, Double] else {
      // traced: the pipeline's copy layer by layer, checked to build the
      // same tables as the plain run; then a short closed loop of HTTP
      // requests over the layer the next plain run builds (query and
      // service layers). The serve workload is too slow to run as often as
      // the benchmark runs its workloads, so its layers are traced here.
      val before = lat.last
      val ((copy, uniq, agents), tracedMs) = Stats.timeMs(tracedRun(c, pd))
      tracedDigest = checked(copy, "assemble traced copy")._1
      c.checks.op("traced copy builds the plain run's tables", Seq(
        s"digest $tracedDigest == $digest" -> (tracedDigest == digest)))
      c.release(tables(copy))
      c.log(f"assemble traced copy: ${tracedMs / 1000}%.1fs")
      // the copy is compared with the mean of the plain operations just
      // before and after it, which cancels the JIT's warming in between
      val (ro, hashOf) = plainOp()
      val plainMs = (before + lat.last) / 2
      val server = graft.service.HttpApi.start(ro, types, maxRows = Serve.maxRows)
      val (_, serveWall, serveExtra) = try {
        // round-robin over result types, so the short loop reaches every route
        val reqs = Requests.generate(c.o.seed * 7919 + 17, 400, dump, hashOf, Serve.maxRows)
          .groupBy(_.resultType).values.flatMap(_.zipWithIndex).toVector
          .sortBy(_._2).map(_._1)
        Serve.tracedPhase(c, ro, reqs, server.getAddress.getPort,
          new java.util.concurrent.atomic.AtomicInteger(0), phaseMs)
      } finally server.stop(0)
      c.release(tables(ro))
      c.log("serve phase done")
      Layers.summarize(c, math.max(plainMs, tracedMs) + serveWall, plainMs, tracedMs,
        refinementStats(uniq, agents) ++ serveExtra)
    }
    val p50 = Stats.median(lat.toSeq)
    Outcome(c.checks.attempted, c.checks.failed,
      e2e = Seq(
        ("setup_s", Stats.median(setups) / 1000, "s"),
        ("op_p50_ms", p50, "ms"),
        ("throughput_per_s", dump.rows.size / (p50 / 1000), "1/s")),
      named = Seq(
        ("assemble_stmts_per_s", dump.rows.size / (p50 / 1000), "1/s"),
        ("assemble_run_p50_s", p50 / 1000, "s"),
        ("assemble_runs", lat.size.toDouble, "count")),
      layers = layers, digest = digest, tracedDigest = tracedDigest,
      sizes = params.toMap ++ Map("raw_statements" -> dump.rows.size,
        "unique_statements" -> dump.uniqueCount, "readings" -> dump.readings.size,
        "stale_rows" -> dump.staleSids.size,
        "stale_share" -> dump.staleSids.size.toDouble / dump.rows.size,
        "mesh_rows" -> dump.mesh.size,
        "hub_stmt_share_top3" -> (0 until 3).map(dump.stmtShare)),
      failures = c.checks.failures.toSeq)
  }

  /** Pipeline.run's steps 1-7 (without the optional checkpoint directory
    * and ontology), made from the same public calls, each layer in its own
    * span. It keeps Pipeline.run's plan: it places the same four lazy
    * local checkpoints and counts each inside the preassembly span, so the
    * work that fills them, which Pipeline.run does on their first use, is
    * billed there. The one addition is a checkpoint of
    * Distill.dropReadings' small output, counted the same way, so
    * distill's jobs run in its span. Work Pipeline.run plans lazily (belief, most of the
    * readonly statements) runs, and is billed, where the readonly build
    * first needs it. The caller checks that the tables match the plain
    * run's. Returns the readonly tables and what the refinement ratios
    * need. */
  def tracedRun(c: Ctx, dump: PrincipalDump): (ReadonlyTables, DataFrame, DataFrame) = {
    val t = c.tracer
    val spark = c.spark
    def mat(df: DataFrame): DataFrame = Boundary.filled(df)
    val raw = t.span("assembly.distill") {
      val dropped = mat(Distill.dropReadings(dump.readings))
      dump.rawStatements.join(dropped.withColumnRenamed("rid", "reading_id"),
        Seq("reading_id"), "left_anti")
    }
    val (parsed, uniq, srcCounts, agents) = t.span("assembly.preassembly") {
      val (valid, _) = Preassembly.partitionValid(Preassembly.parse(raw))
      val parsed = mat(valid.withColumn("stype", col("stmt.type")))
      val uniq = mat(Preassembly.dedup(parsed).select("mk_hash", "raw_stmt_id", "stype", "stmt"))
      val src = mat(Preassembly.sourceCounts(parsed))
      (parsed, uniq, src, mat(Preassembly.agentRows(uniq)))
    }
    val closure = t.span("assembly.refinement") {
      Refinement.transitiveClosure(Pipeline.refinementEdges(uniq, agents))
    }
    val belief = t.span("assembly.belief") {
      Belief.scoreWithRefinements(srcCounts.select("mk_hash", "src_json"), closure)
        .select(col("mk_hash"), col("belief"))
    }
    val ro = t.span("assembly.readonly") {
      val readingRefs = dump.readings.select("rid", "trid").join(dump.textRefs, "trid")
      val evidence = parsed.select(
        col("raw_stmt_id").as("sid"), col("mk_hash"), col("src"),
        coalesce(col("reading_id"), -col("raw_stmt_id")).as("rid"))
        .join(readingRefs.withColumnRenamed("rid", "reading_id")
          .select(col("reading_id").as("rid_join"), col("pmid")),
          col("rid") === col("rid_join"), "left")
        .select(col("sid"), col("mk_hash"), col("src"), col("rid"),
          coalesce(col("pmid"), lit(-1L)).as("pmid"))
      val mesh = evidence.select("sid", "pmid").join(dump.meshAnnotations, "pmid")
        .select("sid", "mesh_num", "is_concept")
      val statements = uniq
        .select(col("mk_hash"), col("stype"), to_json(col("stmt")).as("pa_json"),
          col("stmt.activity").as("activity"), col("stmt.is_active").as("is_active"))
        .join(belief, "mk_hash")
      val world = StatementWorld(
        statements = statements, evidence = evidence, agents = agents, mesh = mesh,
        refs = evidence.select(col("rid"), col("pmid")).distinct()
          .join(dump.readings.select(col("rid"), col("trid")), Seq("rid"), "left")
          .select(col("rid"), col("pmid"), col("trid"),
            lit(null).cast("long").as("tcid"), lit(null).cast("long").as("pmcid_num"),
            lit(null).cast("long").as("doi_ns"), lit(null).cast("string").as("doi_id")))
      ReadonlyBuilder.build(spark, world, types, Dump.readers, Dump.dbs,
        complexTypeNum = types.toNum.get("Complex")).materializeAll()
    }
    (ro, uniq, agents)
  }

  /** Edges of Pipeline.refinementEdges per candidate pair of the (type,
    * agent key) blocking it filters, and the largest block. Computed
    * outside the spans. */
  def refinementStats(uniq: DataFrame, agents: DataFrame): Map[String, Double] = {
    val edges = Pipeline.refinementEdges(uniq, agents).count()
    val keySets = agents.groupBy("mk_hash")
      .agg(array_sort(collect_set(concat(col("db_name"), lit(":"), col("db_id")))).as("keys"))
    val exploded = uniq.select(col("mk_hash"), col("stype")).join(keySets, "mk_hash")
      .withColumn("block_key", explode(col("keys")))
    val maxBlock = exploded.groupBy("stype", "block_key").count()
      .agg(max("count")).head().getLong(0)
    val candidates = Refinement.candidatePairs(
      exploded.select("mk_hash", "stype", "keys", "block_key"), Seq("stype", "block_key"))
      .count()
    Map(
      "assembly.refinement.edges_per_candidate" -> edges.toDouble / math.max(1L, candidates),
      "assembly.refinement.max_block" -> maxBlock.toDouble)
  }
}
