package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Command-line options, passed through by run.py. */
final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    scale: Double, cores: Int, heapMb: Long, physMb: Long,
    work: String, commit: String)

object Opts {
  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", m.get("scale").map(_.toDouble).getOrElse(1.0),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.get("heap-mb").map(_.toLong).getOrElse(Runtime.getRuntime.maxMemory >> 20),
      m.get("phys-mb").map(_.toLong).getOrElse(0L),
      m.getOrElse("work", ".bench_build"), m.getOrElse("commit", "unknown"))
  }
}

/** What one workload run measured. `e2e` and `named` carry (value, unit);
  * `e2e` is the workload-generic set the result line reports, `named` the
  * lifecycle-specific names. `layers` is filled by traced runs only, and
  * `tracedDigest` by traced runs whose traced copy's output is comparable
  * with `digest`. */
final case class Outcome(
    attempted: Long, failed: Long,
    e2e: Seq[(String, Double, String)],
    named: Seq[(String, Double, String)],
    layers: Map[String, Double],
    digest: String,
    sizes: Map[String, Any],
    failures: Seq[String],
    tracedDigest: String = "")

/** Counts operations and failed checks. An operation fails when any check
  * made on its output fails. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  /** Record one operation whose checks are `results` (name -> ok). */
  def op(what: String, results: Seq[(String, Boolean)]): Boolean = synchronized {
    attempted += 1
    val bad = results.filterNot(_._2).map(_._1)
    if (bad.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures += s"$what: ${bad.mkString("; ")}"
    }
    bad.isEmpty
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def sha(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

object Session {
  /** The engine's session settings (GraftSession) with cores pinned to
    * this host and every on-disk location inside the benchmark's work
    * directory. */
  def confs(o: Opts): Seq[(String, String)] = {
    val work = new java.io.File(o.work).getAbsolutePath
    Seq(
      "spark.master" -> s"local[${o.cores}]",
      "spark.sql.shuffle.partitions" -> o.cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.graft.checkpoint.dir" -> s"$work/checkpoints",
    )
  }

  def create(o: Opts): SparkSession = {
    val b = SparkSession.builder().appName(s"perfbench-${o.workload}")
      .withExtensions(new graft.GraftExtensions)
    confs(o).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Everything a workload needs. */
final class Ctx(val spark: SparkSession, val o: Opts) {
  val ledger = new TaskLedger
  spark.sparkContext.addSparkListener(ledger)
  val tracer = new Tracer(spark, s"${o.workload}-${o.seed}-${System.currentTimeMillis}", o.trace)
  val checks = new Checks
  val work: java.io.File = new java.io.File(o.work).getAbsoluteFile

  private val born = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - born) / 1e9}%7.1fs $msg")

  def drain(): Unit = org.apache.spark.PerfbenchHooks.drainListenerBus(spark.sparkContext)

  /** Max task peak execution memory seen so far, MB. */
  def peakExecMb: Double = { drain(); ledger.maxTaskPeakB / 1048576.0 }

  /** Drop an operation's cached tables so memory stays flat between
    * operations. */
  def release(dfs: Iterable[DataFrame]): Unit = dfs.foreach(_.unpersist(blocking = true))

  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  def deleteDir(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** Materialization boundaries of the traced copies. */
object Boundary {
  /** The programs' lazy local checkpoint, filled at once by a count: the
    * work the program does on the checkpoint's first use runs, and is
    * billed, inside the span that defines it. */
  def filled(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(false)
    ck.count()
    ck
  }
}

/** Per-layer metric names the traced run reports, in a fixed order. */
object Layers {
  val all: Seq[String] = Seq(
    "assembly.distill", "assembly.preassembly", "assembly.refinement",
    "assembly.belief", "assembly.readonly",
    "querydsl.plan", "querydsl.execute", "service.http",
    "streaming.batch", "assembly.incremental_belief",
    "assembly.incremental_readonly", "querydsl.store_read",
    "sources.ingest", "operators.quality", "operators.dedup",
    "operators.curate")

  val suffixes: Seq[String] = Seq("self_ms", "driver_ms", "exec_cpu_ms", "gc_ms",
    "shuffle_mb", "fetch_wait_ms")

  val routes: Seq[String] = Seq("hashes", "statements", "interactions", "relations", "agents")

  /** name -> unit, for every per-layer metric. */
  val metrics: Seq[(String, String)] =
    all.flatMap(l => suffixes.map(s => s"$l.$s" -> (if (s == "shuffle_mb") "MB" else "ms"))) ++
      Seq(
        "assembly.refinement.edges_per_candidate" -> "ratio",
        "assembly.refinement.max_block" -> "count",
        "querydsl.execute.rows_read_per_row" -> "ratio",
        "assembly.incremental_readonly.write_amp" -> "ratio",
        "assembly.incremental_readonly.shard_files_max" -> "count",
        "operators.dedup.kept_per_input" -> "ratio") ++
      routes.map(r => s"service.route.$r.p50_ms" -> "ms") ++
      Seq(
        "trace.overhead_frac" -> "ratio",
        "trace.span_coverage" -> "ratio",
        "trace.unattributed_ms" -> "ms")

  /** Layer metrics of a traced run. `coveredMs` is the time the top-level
    * spans should account for: per traced phase, the longer of the plain
    * operation and its traced copy (summed over client threads where
    * several run at once), so a copy faster than the program it copies
    * shows as low coverage. `untracedMs`/`tracedMs` are the per-operation
    * latencies the tracing overhead compares. */
  def summarize(c: Ctx, coveredMs: Double, untracedMs: Double, tracedMs: Double,
      extra: Map[String, Double]): Map[String, Double] = {
    c.drain()
    val roots = c.tracer.all.filter(_.parent < 0).map(_.durMs).sum
    metrics.map(_._1 -> 0.0).toMap ++ c.tracer.report(c.ledger, all) ++ extra ++ Map(
      "trace.overhead_frac" -> (tracedMs - untracedMs) / untracedMs,
      "trace.span_coverage" -> roots / coveredMs,
      "trace.unattributed_ms" -> math.max(0.0, coveredMs - roots))
  }
}
