package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Task metrics of one Spark job, summed over its tasks. */
final class JobStats(val jobId: Int, val group: Option[String], val startMs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var fetchWaitMs = 0L
  var bytesWritten = 0L
}

/** Listener that sums task metrics per job. It is registered for the whole
  * run and only reads what Spark already reports; attribution to spans
  * happens afterwards, in [[Tracer.report]]. */
final class TaskLedger extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobStats]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  @volatile var maxTaskPeakB = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, new JobStats(e.jobId, group, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      maxTaskPeakB = math.max(maxTaskPeakB, m.peakExecutionMemory)
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }
}

/** One timed call into a layer. Times are wall-clock milliseconds (the
  * clock Spark stamps job events with) plus a nanosecond duration.
  * `adopts` marks a span whose work runs on threads the benchmark does not
  * own (HTTP handler threads, the stream's batch thread): jobs started
  * there carry no span's group and are billed to it instead. */
final case class Span(
    id: Int, name: String, parent: Int, startMs: Long, startNs: Long,
    thread: String, adopts: Boolean) {
  @volatile var endMs: Long = Long.MaxValue
  @volatile var endNs: Long = Long.MaxValue
  def durMs: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Each span sets a Spark job group of its own on
  * the calling thread, so the jobs it starts carry the span id; jobs
  * without one fall to the innermost adopting span open when they
  * started, and to no span when none is. Disabled, `span` is a plain
  * call. */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"

  def span[T](name: String, adopts: Boolean = false)(body: => T): T =
    spanUnder(None, name, adopts)(body)

  /** As [[span]], with an explicit parent: for calls made on a thread
    * other than the one that opened the parent (a streaming batch). */
  def spanUnder[T](parent: Option[Int], name: String, adopts: Boolean = false)(
      body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = synchronized {
        val p = parent.getOrElse(open.get.headOption.getOrElse(-1))
        val sp = Span(spans.size, name, p, System.currentTimeMillis(),
          System.nanoTime(), Thread.currentThread.getName, adopts)
        spans += sp
        sp
      }
      val prevGroup = sc.getLocalProperty(GroupKey)
      val prevDesc = sc.getLocalProperty(DescKey)
      sc.setLocalProperty(GroupKey, s"perfbench-${s.id}")
      sc.setLocalProperty(DescKey, name)
      open.set(s.id :: open.get)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open.set(open.get.drop(1))
        sc.setLocalProperty(GroupKey, prevGroup)
        sc.setLocalProperty(DescKey, prevDesc)
      }
    }

  /** Id of the innermost span open on this thread. */
  def current: Option[Int] = open.get.headOption

  def all: Seq[Span] = synchronized(spans.toList)

  /** Spans as JSON lines (name, start, end, parent, run id). */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"dur_ms":${s.durMs},"parent":${s.parent},""" +
        s""""run_id":"$runId","thread":"${s.thread.replace("\"", "'")}"}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Per-layer metrics over every recorded span, as means per call of the
    * layer. Each job is billed to the span whose group it carries, else to
    * the innermost adopting span open at its start. Per layer: self time (span
    * minus child spans), driver time (self time during which none of the
    * span's own jobs ran), and the task metrics of its jobs. */
  def report(ledger: TaskLedger, layers: Seq[String]): Map[String, Double] = {
    val ss = all
    val byId = ss.map(s => s.id -> s).toMap
    val children = ss.groupBy(_.parent)
    def owner(j: JobStats): Option[Int] =
      j.group.filter(_.startsWith("perfbench-"))
        .map(_.stripPrefix("perfbench-").toInt).filter(byId.contains)
        .orElse(ss.filter(s => s.adopts && s.startMs <= j.startMs && j.startMs <= s.endMs)
          .sortBy(s => (-s.startMs, -s.id)).headOption.map(_.id))
    val jobsOf = ledger.jobs.values.asScala.toSeq.groupBy(owner)
    val out = mutable.LinkedHashMap[String, Double]()
    layers.foreach { l =>
      Seq("self_ms", "driver_ms", "exec_cpu_ms", "gc_ms", "shuffle_mb",
        "fetch_wait_ms").foreach(k => out(s"$l.$k") = 0.0)
    }
    ss.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
      val own = jobsOf.getOrElse(Some(s.id), Nil)
      val self = s.durMs - kids.map(_.durMs).sum
      val busy = Intervals.union(
        kids.map(k => (k.startMs, k.endMs)) ++
          own.map(j => (j.startMs, math.min(j.endMs, s.endMs))))
      val driver = (s.endMs - s.startMs) - Intervals.overlap(busy, s.startMs, s.endMs)
      def add(k: String, v: Double): Unit =
        out(s"${s.name}.$k") = out.getOrElse(s"${s.name}.$k", 0.0) + v
      add("self_ms", self)
      add("driver_ms", math.max(0.0, driver))
      add("exec_cpu_ms", own.map(_.cpuNs).sum / 1e6)
      add("gc_ms", own.map(_.gcMs).sum.toDouble)
      add("shuffle_mb", own.map(_.shuffleWriteB).sum / 1048576.0)
      add("fetch_wait_ms", own.map(_.fetchWaitMs).sum.toDouble)
    }
    // mean per call of the layer
    val calls = ss.groupBy(_.name).map { case (k, v) => k -> v.size }
    out.map { case (k, v) => k -> v / calls.getOrElse(k.take(k.lastIndexOf('.')), 1) }.toMap
  }

  /** Jobs billed to spans named `layer` (for layer-specific ratios). */
  def jobsOf(ledger: TaskLedger, layer: String): Seq[JobStats] = {
    val ids = all.filter(_.name == layer).map(s => s"perfbench-${s.id}").toSet
    ledger.jobs.values.asScala.filter(_.group.exists(ids)).toSeq
  }
}

object Intervals {
  /** Union of [start, end] ms intervals as disjoint sorted intervals. */
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def overlap(disjoint: Seq[(Long, Long)], from: Long, to: Long): Double =
    disjoint.map { case (s, e) => math.max(0L, math.min(e, to) - math.max(s, from)) }
      .sum.toDouble
}
