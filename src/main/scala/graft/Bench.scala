package graft

import graft.core.QueryProfile

/** Benchmark main: one JSON line with per-query steady-state seconds.
  *
  * Every execution is one [[graft.core.QueryProfile.measure]] call, so
  * the bench and [[Stress]] share one listener, one all-column probe and
  * one listener-bus drain. Hygiene (round-3 verdict): the shared readonly
  * cache is force-materialized BEFORE the timed loop so its build cost is
  * billed to nobody's query. Each query's "plans" entry on the
  * bench_detail line carries the post-AQE shuffle/broadcast stage counts
  * of the reported run (a timing swing with unchanged stage counts reads
  * as harness noise, not a plan regression), its spill and peak execution
  * memory, and `build_s`: the time to construct the Dataset, which under
  * AQE includes the shuffle-map stages of every lazy boundary it creates.
  * Those stages count in the spill/peak fields too. "queries" stays
  * name -> collect seconds for the driver contract.
  *
  * Two modes (round-5 verdict: chain position inflates the heavy parse
  * queries up to 3x with IDENTICAL executed plans — pure JVM state, GC
  * debt and JIT churn, not plan regressions):
  *   - default: the single-JVM chain. Cheap, comparable round-over-round;
  *     per-query litter (leaked localCheckpoint blocks, stray persists)
  *     is evicted before each query so late queries stop running under
  *     memory pressure early ones never saw. The chain ends with the
  *     [[Stress]] workloads (their numbers go on the stress_detail line).
  *   - SPARK_GRAFT_BENCH_FORKED=1: one fresh JVM per query (this main
  *     re-executed with BENCH_ONLY=<query>), each with
  *     SPARK_GRAFT_BENCH_WARMUPS=3 to pay JIT tiering before measuring.
  *     ~30 s/query of fixed session+cache cost, so it is the attribution
  *     tool for suspect regressions, not the per-round default.
  *
  * Every emitted line is also written to `target/bench_c<cpus>.json`
  * (`<cpus>` is [[GraftSession.cpus]]).
  */
object Bench {
  // the tee (parent runs only — a forked single-query child would clobber
  // it): the round artifact's stdout tail is truncation-prone and sbt
  // prefixes each line with "[info] ", so the file is the reliable
  // machine-readable copy of the same lines; one file per core count, so
  // the 8- and 32-core runs do not overwrite each other
  private val teed = scala.collection.mutable.ArrayBuffer.empty[String]
  private def outLine(s: String): Unit = { println(s); teed += s }
  private def flushTee(): Unit =
    if (!sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) try {
      val p = java.nio.file.Paths.get("target",
        s"bench_c${GraftSession.cpus}.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        (teed.mkString("", "\n", "\n")).getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }

  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private def selectedNames: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
  }

  def main(args: Array[String]): Unit =
    if (sys.env.contains("SPARK_GRAFT_BENCH_FORKED")) runForked()
    else runChain()

  private[graft] def fmt(d: Double): String =
    if (d < 0) "-1"
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  private def mb(bytes: Long): String = fmt(bytes / 1048576.0)

  private def emit(
      results: Seq[(String, QueryProfile)], mode: String,
      forkedTop: Seq[(String, Double)] = Seq.empty): Unit = {
    val qs = results.map { case (n, p) => s""""$n":${fmt(p.sec)}""" }
      .mkString("{", ",", "}")
    val plans = results.map { case (n, p) =>
      s""""$n":{"rows":${p.rows},"shuffles":${p.shuffleStages}""" +
        s""","broadcasts":${p.broadcastStages},"spill_mb":${mb(p.spillBytes)}""" +
        s""","peak_mem_mb":${mb(p.peakExecBytes)},"build_s":${fmt(p.buildSec)}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2.sec).filter(_ >= 0).sum
    // full detail first — a reader of the complete stdout gets every
    // timing and every plan signature
    outLine(s"""{"diag":"bench_detail","mode":"$mode","queries":$qs,"plans":$plans,"sf":"$sfDir"}""")
    // the round artifact records only a ~2000-char TAIL of the run's
    // output (and sbt's closing "[success]" line eats part of it), so the
    // LAST line must fit entirely: headline numbers plus the timings map
    // trimmed to the 40 most expensive queries. The driver contract (one
    // {"metric":...} line with a "queries" map) is this line.
    val top = results.filter(_._2.sec >= 0).sortBy(-_._2.sec).take(40)
    val qsTop = top.map { case (n, p) => s""""$n":${fmt(p.sec)}""" }
      .mkString("{", ",", "}")
    val fk =
      if (forkedTop.isEmpty) ""
      else forkedTop.map { case (k, s) => s""""$k":${fmt(s)}""" }
        .mkString(""","forked_top5":{""", ",", "}")
    outLine(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","mode":"$mode","n":${results.size},"sf":"$sfDir","queries":$qsTop$fk}""")
    flushTee()
  }

  private def runChain(): Unit = {
    val dir = sfDir
    val warmups =
      sys.env.get("SPARK_GRAFT_BENCH_WARMUPS").map(_.toInt).getOrElse(1)
    val spark = GraftSession.local("graft-bench")
    queries.TpchWorld.readonly(spark, dir).materializeAll()
    // chain isolation: queries leak persistent blocks — every
    // localCheckpoint and stray .persist() stays in the block manager for
    // the rest of the chain, so late queries run under memory pressure
    // the early ones never saw. Snapshot the blessed shared cache, then
    // before each query evict everything newer.
    val blessed = spark.sparkContext.getPersistentRDDs.keySet
    // `gc = false` for the intra-query eviction: releasing the block
    // manager's storage accounting is what relieves the pressure; a full
    // System.gc() 4× per query compacts (relocates) the multi-hundred-MB
    // shared cache every few seconds, so every timed run starts on cold,
    // freshly-moved pages — measured as a uniform ~+0.3 s tide across the
    // whole suite. The per-QUERY call keeps the full GC, as every prior
    // round did.
    // blocking unpersist (round-12 advice): the eviction runs OUTSIDE the
    // timed region, so waiting for block removal costs nothing measured —
    // while a fire-and-forget unpersist may still be releasing blocks when
    // the timed run starts
    def dropLitter(gc: Boolean = true): Unit = {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!blessed.contains(id)) rdd.unpersist(blocking = true)
      }
      if (gc) System.gc()
    }
    val fns = SparkEntry.queries
    val results = selectedNames.map { name =>
      val fn = fns(name)
      // evict litter before EVERY execution, not once per query: a
      // checkpoint-heavy query's warmup/previous run leaves its own
      // materialized blocks resident, and runs 2-4 then execute under
      // memory pressure run 1 never saw (measured: q_supplement_equiv
      // 2.4 s forked vs 5-10 s in-chain with identical plans). The
      // eviction runs OUTSIDE the measured region; the Dataset is rebuilt
      // per call so a timed run never reuses a warmup's materialized AQE
      // stages.
      dropLitter() // per-query: full clean incl. GC, as prior rounds
      def cleanRun(): QueryProfile = {
        dropLitter(gc = false)
        QueryProfile.measure(spark)(fn(spark, dir))
      }
      (1 to warmups).foreach(_ => cleanRun()) // steady state, not codegen + JIT
      // median of three measured runs: single-shot timings swing 2-8× on
      // unchanged code (GC pauses, block eviction) and mask real deltas.
      // Failed runs are dropped first — sorted in, one failure would skew
      // the "median" to the faster real sample and two would report -1 as
      // if it were a timing
      val runs = Seq.fill(3)(cleanRun())
      val ok = runs.filter(_.err == null).sortBy(_.sec)
      name -> (if (ok.isEmpty) runs.last else ok(ok.size / 2))
    }
    // forked attribution for the chain's five most expensive queries:
    // chain position inflates heavy parse queries with identical plans
    // (JVM state), so the artifact records a fresh-JVM number alongside.
    // Skipped for single-query child runs (they ARE the forked numbers)
    // and under NOFORK for quick local iteration.
    val forkedTop =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY") ||
          sys.env.contains("SPARK_GRAFT_BENCH_NOFORK")) Seq.empty
      else results.filter(_._2.sec >= 0).sortBy(-_._2.sec).take(5)
        .map { case (n, _) => n -> forkOne(n).sec }
    // scale dress rehearsal (see graft.Stress): skipped in single-query
    // child forks and under SPARK_GRAFT_STRESS=0
    if (!sys.env.contains("SPARK_GRAFT_BENCH_ONLY") &&
        !sys.env.get("SPARK_GRAFT_STRESS").contains("0")) {
      val repx =
        sys.env.get("SPARK_GRAFT_STRESS_X").map(_.toInt).getOrElse(8)
      dropLitter()
      outLine(Stress.detailLine(dir, repx, Stress.run(spark, dir, repx)))
    }
    emit(results, "chain", forkedTop)
    spark.stop()
  }

  /** One fresh JVM per query: this same main, BENCH_ONLY pinned to the
    * query, forked with the project classes + the Spark jars. Isolates
    * every query from its neighbors' GC debt and JIT churn at the cost of
    * a session + readonly-cache build per query. */
  private def runForked(): Unit =
    emit(selectedNames.map(n => n -> forkOne(n)), "forked")

  /** Fork one single-query child and parse its detail line. */
  private def forkOne(name: String): QueryProfile = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val classes = new java.io.File(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getPath
    val cp = s"$classes:/opt/spark/jars/*"
    val javaBin = System.getProperty("java.home") + "/bin/java"
    // the child runs the identical local[$SPARK_GRAFT_CPUS] task-thread
    // count, so it gets the parent's heap (build.sbt sizes it)
    val xmx = "-Xmx" + sys.env.getOrElse("SPARK_DRIVER_MEM",
      s"${Runtime.getRuntime.maxMemory / (1L << 20)}m")
    val pb = new ProcessBuilder(javaBin, xmx,
      "-XX:ReservedCodeCacheSize=512m",
      "--add-opens=java.base/java.lang=ALL-UNNAMED",
      "--add-opens=java.base/java.nio=ALL-UNNAMED",
      "--add-opens=java.base/java.util=ALL-UNNAMED",
      "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
      "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
      "-cp", cp, "graft.Bench")
    pb.environment().remove("SPARK_GRAFT_BENCH_FORKED")
    pb.environment().put("SPARK_GRAFT_BENCH_ONLY", name)
    pb.environment().put("SPARK_GRAFT_BENCH_WARMUPS", "3")
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    // Spark logs to stderr; an undrained pipe fills (~64 KB) and
    // deadlocks the child against our stdout read — discard it rather
    // than merge (a merged stream can interleave mid-JSON-line)
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().toList
    proc.waitFor()
    val parsed = for {
      // the detail line carries the full queries+plans maps; the final
      // metric line is tail-trimmed
      line <- out.find(_.startsWith("""{"diag":"bench_detail""""))
      json = JsonMethods.parse(line)
      JDouble(sec) <- (json \ "queries" \ name).toOption
      p = json \ "plans" \ name
    } yield {
      val rows = (p \ "rows") match { case JInt(v) => v.toLong; case _ => -1L }
      def i(f: String) =
        (p \ f) match { case JInt(v) => v.toInt; case _ => 0 }
      def d(f: String) =
        (p \ f) match { case JDouble(v) => v; case JInt(v) => v.toDouble
                        case _ => 0.0 }
      def bytes(f: String) = math.round(d(f) * 1048576)
      QueryProfile(d("build_s"), sec, rows, i("shuffles"), i("broadcasts"),
        spillBytes = bytes("spill_mb"), peakExecBytes = bytes("peak_mem_mb"))
    }
    parsed.getOrElse(QueryProfile(-1.0, -1.0, -1L))
  }
}
