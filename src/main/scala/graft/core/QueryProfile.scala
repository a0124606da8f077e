package graft.core

import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal
import org.apache.spark.GraftSparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, struct, sum, xxhash64}

/** One measured query, as reported by [[QueryProfile.measure]].
  *
  * `buildSec` is the time `build` took to construct the Dataset (under AQE
  * that includes the shuffle-map stages of every lazy boundary it creates);
  * `sec` is the probe's collect alone. The task counters cover both
  * phases: spill (memory + disk) and shuffle bytes are sums over tasks,
  * `peakExecBytes` and `maxTaskReadBytes` are the largest single task.
  * Stage counts are DISTINCT `ShuffleQueryStage`/`BroadcastQueryStage` ids
  * of the executed (post-AQE) probe plan. A failed query has `buildSec`,
  * `sec` and `rows` -1 and carries `err`.
  */
final case class QueryProfile(
    buildSec: Double,
    sec: Double,
    rows: Long,
    shuffleStages: Int = 0,
    broadcastStages: Int = 0,
    spillBytes: Long = 0L,
    peakExecBytes: Long = 0L,
    shuffleWriteBytes: Long = 0L,
    maxTaskReadBytes: Long = 0L,
    sumTaskReadBytes: Long = 0L,
    err: String = null)

object QueryProfile {

  /** Task-end counters of one measurement; registered only for the
    * duration of one [[measure]] call. */
  private[graft] final class Listener extends SparkListener {
    val spill, peak, write, maxRead, sumRead = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peak.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
        val r = m.shuffleReadMetrics.totalBytesRead
        sumRead.addAndGet(r)
        maxRead.accumulateAndGet(r, (a, b) => math.max(a, b))
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  // DISTINCT stage ids: a reused exchange prints at every consumer site,
  // which would over-count shared shuffles as independent ones
  private def occ(plan: String, node: String): Int =
    (node + " (\\d+)").r.findAllMatchIn(plan).map(_.group(1)).toSet.size

  /** Build the query, then collect a probe that hashes EVERY output column:
    * a bare count(1) would let Catalyst prune payload columns (decode,
    * to_json, window columns) and with them the work being measured; pmod
    * keeps the ANSI sum from overflowing. The listener bus is drained
    * before the listener is added, so an earlier query's straggler task
    * events are not billed here, and again before the counters are read.
    *
    * NonFatal only: an OOM or other fatal JVM error crashes the caller
    * loudly; a recoverable failure comes back as `err` so a dead query
    * cannot read as a fast one.
    */
  def measure(spark: SparkSession)(build: => DataFrame): QueryProfile = {
    val sc = spark.sparkContext
    GraftSparkHooks.drainListenerBus(sc)
    val l = new Listener
    sc.addSparkListener(l)
    try {
      val p =
        try {
          val t0 = System.nanoTime()
          val df = build
          val probe = df
            .select(pmod(xxhash64(struct(df.columns.map(col): _*)),
              lit(1000000007L)).as("h"))
            .agg(count(lit(1)).as("n"), sum(col("h")))
          val t1 = System.nanoTime()
          val rows = probe.collect().head.getLong(0)
          val t2 = System.nanoTime()
          val plan = probe.queryExecution.executedPlan.toString
          QueryProfile((t1 - t0) / 1e9, (t2 - t1) / 1e9, rows,
            occ(plan, "ShuffleQueryStage"), occ(plan, "BroadcastQueryStage"))
        } catch {
          case NonFatal(e) =>
            QueryProfile(-1.0, -1.0, -1L,
              err = s"${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage).take(200))
        }
      GraftSparkHooks.drainListenerBus(sc)
      p.copy(spillBytes = l.spill.get, peakExecBytes = l.peak.get,
        shuffleWriteBytes = l.write.get, maxTaskReadBytes = l.maxRead.get,
        sumTaskReadBytes = l.sumRead.get)
    } finally sc.removeSparkListener(l)
  }
}
