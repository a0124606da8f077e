package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's one materialization boundary. Every fan-out point and every
  * lineage truncation in `src/main/scala` goes through `ds.boundary()`;
  * nothing else calls `localCheckpoint` or `checkpoint` (PlanSpec scans the
  * sources for stray calls).
  *
  * {{{
  * import graft.core.BlockScope.Boundary
  * val marked = exploded.join(dfs, keys).boundary()        // lazy
  * val closure = step(df).boundary(eager = true).toDF(...)  // eager
  * }}}
  *
  * Contracts:
  *   - **Default (local).** `boundary(eager)` is exactly
  *     `localCheckpoint(eager)`: the plan is cut at a LogicalRDD scan and
  *     the rows live in executor block storage with truncated lineage.
  *   - **Lazy is not free.** A lazy boundary is planned when it is
  *     created, and under AQE (on in every GraftSession) planning runs the
  *     subtree's shuffle-map stages then and there; only the final stage,
  *     which stores the rows, waits for the first use. Its creation
  *     therefore costs the subtree's exchanges, once.
  *   - **Named.** The boundary's RDD is named after the caller's
  *     `File.scala:line`, so the RDD lists of stage listings and the
  *     storage listing say which boundary a stage reads or a block holds.
  *   - **Scope.** Inside [[scoped]] (thread-local, so concurrent requests
  *     on the service pool never touch each other's blocks) every boundary
  *     created on the thread is registered, and closing the scope
  *     unpersists it — and, in reliable mode, deletes its checkpoint
  *     files. The scope's body must materialize what it returns before the
  *     scope closes; serving handlers do. Outside a scope nothing is
  *     tracked: the ContextCleaner reclaims GC'd frames (and, under
  *     GraftSession, their reliable checkpoint files).
  *   - **Reliable mode.** `spark.graft.checkpoint.reliable=true` switches
  *     every boundary to a reliable `checkpoint` under
  *     `spark.graft.checkpoint.dir` (a temp dir when unset), so executor
  *     loss recomputes from files instead of failing the job. The
  *     directory is set once per SparkContext, under a lock. A lazy
  *     reliable boundary is persisted too, so the job that writes its
  *     files reads the blocks its first use stored instead of computing
  *     the subtree a second time. Results never depend on the mode.
  *   - **Inlined.** Inside [[inlined]] (thread-local) `boundary` returns its
  *     input unchanged, so a plan audit sees the one composed plan the
  *     production segments add up to.
  */
object BlockScope {

  val RELIABLE_CONF = "spark.graft.checkpoint.reliable"
  val DIR_CONF = "spark.graft.checkpoint.dir"

  implicit class Boundary[T](private val ds: Dataset[T]) extends AnyVal {
    /** Materialize `ds` here; see [[BlockScope]] for the contracts. */
    def boundary(eager: Boolean = false): Dataset[T] =
      BlockScope.materialize(ds, eager)
  }

  private val active = new ThreadLocal[java.util.ArrayList[RDD[_]]]
  private val inline = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val dirLock = new Object

  private def materialize[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    if (inline.get) ds
    else {
      val spark = ds.sparkSession
      val reliable =
        spark.conf.get(RELIABLE_CONF, "false").equalsIgnoreCase("true")
      val ck =
        if (!reliable) ds.localCheckpoint(eager)
        else reliableCheckpoint(spark, ds, eager)
      val site = callerSite
      checkpointRdd(ck).foreach { rdd =>
        rdd.setName(site)
        val buf = active.get()
        if (buf != null) buf.add(rdd)
      }
      ck
    }

  /** `File.scala:line` of the first stack frame outside this file. */
  private def callerSite: String =
    Thread.currentThread.getStackTrace.iterator
      .drop(1) // getStackTrace itself
      .find(f => !f.getClassName.startsWith("graft.core.BlockScope"))
      .map(f => s"${f.getFileName}:${f.getLineNumber}")
      .getOrElse("boundary")

  private def reliableCheckpoint[T](
      spark: SparkSession, ds: Dataset[T], eager: Boolean): Dataset[T] = {
    val sc = spark.sparkContext
    dirLock.synchronized {
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(spark.conf.getOption(DIR_CONF).getOrElse(
          java.nio.file.Files.createTempDirectory("graft-ck").toString))
    }
    // eager: Spark's write job computes the rows once and later reads come
    // from the files. Lazy: the files are written by a second job after
    // the first use, which would re-run the subtree unless it is cached.
    val ck = ds.checkpoint(eager)
    if (!eager)
      checkpointRdd(ck).foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    ck
  }

  /** The RDD behind a checkpointed Dataset (its logical plan is the
    * LogicalRDD scan the checkpoint produced). */
  private def checkpointRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.logical match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Run `f`, then release every boundary created on THIS thread inside it:
    * unpersist its blocks and delete its reliable checkpoint files. `f`
    * must materialize whatever it returns (collect/serialize) before the
    * scope closes. Nested scopes release only their own registrations. */
  def scoped[T](f: => T): T = {
    val prev = active.get()
    val buf = new java.util.ArrayList[RDD[_]]
    active.set(buf)
    try f
    finally {
      active.set(prev)
      buf.forEach { rdd =>
        try {
          rdd.unpersist(blocking = false)
          // set only once a reliable checkpoint has been written
          rdd.getCheckpointFile.foreach { f =>
            val p = new Path(f)
            p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** Run `f` with every boundary on THIS thread returning its input
    * unchanged — the test seam for plan audits that want one un-truncated
    * plan. */
  def inlined[T](f: => T): T = {
    val prev = inline.get
    inline.set(true)
    try f
    finally inline.set(prev)
  }
}
