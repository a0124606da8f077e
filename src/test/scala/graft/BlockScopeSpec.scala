package graft

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException}
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftSparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.assembly.ReadonlyBuilder
import graft.core.BlockScope
import graft.core.BlockScope.Boundary
import graft.querydsl.ReadonlyTables

/** The materialization boundary's contracts: under AQE a lazy boundary
  * runs its subtree's shuffle stages when it is created, each boundary's
  * RDD is named after its caller, a lazy reliable boundary computes its
  * subtree once, a scope releases its files, `inlined` makes every
  * boundary transparent, and `fork` runs bodies with the caller's thread
  * state, rethrows their first failure as thrown and leaves no thread.
  */
class BlockScopeSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("blockscope-test")

  private def reliably[T](f: => T): T = {
    spark.conf.set(BlockScope.RELIABLE_CONF, "true")
    try f finally spark.conf.unset(BlockScope.RELIABLE_CONF)
  }

  private def files(dir: String): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(new java.net.URI(dir).getPath)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toList
  }

  test("a lazy reliable boundary computes its subtree once") {
    val computed = spark.sparkContext.longAccumulator("boundary-rows")
    val tick = udf { (x: Long) => computed.add(1); x }.asNondeterministic()
    reliably(BlockScope.scoped {
      val b = spark.range(0, 50, 1, 4).select(tick(col("id")).as("id"))
        .boundary()
      assert(b.count() == 50)
      assert(b.agg(sum("id")).head().getLong(0) == (0 until 50).sum)
    })
    assert(computed.value == 50,
      s"subtree ran ${computed.value / 50.0} times for one boundary")
  }

  test("closing a scope deletes reliable checkpoint files and blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val inScope = reliably(BlockScope.scoped {
      val b = spark.range(0, 20, 1, 2).boundary()
      assert(b.count() == 20)
      val e = spark.range(0, 10, 1, 2).boundary(eager = true)
      assert(e.count() == 10)
      files(sc.getCheckpointDir.get).size
    })
    assert(inScope > 0, "reliable boundaries wrote no checkpoint files")
    assert(files(sc.getCheckpointDir.get).isEmpty)
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))
  }

  test("inside inlined a boundary returns its input unchanged") {
    val df = spark.range(10).toDF("id")
    BlockScope.inlined {
      assert(df.boundary() eq df)
      assert(df.boundary(eager = true) eq df)
    }
    assert(!(df.boundary() eq df))
  }

  test("under AQE a lazy boundary over a groupBy starts a job when it is created") {
    val sc = spark.sparkContext
    val aqe = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.get(aqe)
    val group = "lazy-boundary-creation"
    spark.conf.set(aqe, "true")
    sc.setJobGroup(group, "lazy boundary over a groupBy")
    try {
      val grouped = spark.range(0, 200, 1, 4)
        .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
      val b = grouped.boundary()
      // nothing has been read from the boundary yet
      eventually(timeout(20.seconds)) {
        assert(sc.statusTracker.getJobIdsForGroup(group).nonEmpty,
          "creating a lazy boundary ran no job")
      }
      sc.clearJobGroup()
      assert(b.collect().toSet == grouped.collect().toSet)
    } finally {
      sc.clearJobGroup()
      spark.conf.set(aqe, prevAqe)
    }
  }

  test("a boundary's RDD is named after its caller's file and line") {
    Seq(spark.range(10).boundary(), spark.range(10).boundary(eager = true))
      .map(_.queryExecution.logical).foreach { case lr: LogicalRDD =>
        val name = Option(lr.rdd.name).getOrElse("")
        assert(name.startsWith("BlockScopeSpec.scala:"), name)
      }
  }

  /** The job group of every job `f` starts, read off its start event. */
  private def jobGroups(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    GraftSparkHooks.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try f
    finally {
      GraftSparkHooks.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    groups.asScala.toSeq
  }

  private def tables(ro: ReadonlyTables): Seq[DataFrame] =
    ro.productIterator.collect { case df: DataFrame => df }.toSeq

  test("fork bodies run with the caller's job group, active session and inlined flag") {
    val sc = spark.sparkContext
    val df = spark.range(10).toDF("id")
    sc.setJobGroup("fork-group", "fork bodies")
    try {
      val seen = BlockScope.inlined(BlockScope.fork(spark, (1 to 3).map { i => () =>
        (sc.getLocalProperty("spark.jobGroup.id"),
          SparkSession.getActiveSession.contains(spark),
          df.boundary() eq df,
          spark.range(0, i * 10, 1, 2).count())
      }))
      assert(seen == (1 to 3).map(i => ("fork-group", true, true, i * 10L)))
    } finally sc.clearJobGroup()
  }

  test("every job materializeAll starts carries the caller's job group") {
    val sc = spark.sparkContext
    val ro = ReadonlyBuilder.build(spark, Fixture.world(spark), Fixture.types,
      Fixture.readers, Fixture.dbs, complexTypeNum = Fixture.types.toNum.get("Complex"))
    sc.setJobGroup("materialize-all", "materializeAll")
    val groups = try jobGroups(ro.materializeAll()) finally sc.clearJobGroup()
    try {
      assert(groups.nonEmpty, "materializeAll started no job")
      assert(groups.forall(_ == "materialize-all"), groups.groupBy(identity).map {
        case (g, n) => s"$g: ${n.size}" })
      tables(ro).foreach { df =>
        val cached = df.queryExecution.withCachedData.collectFirst {
          case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
        }
        assert(cached.contains(true), df.schema.simpleString)
      }
    } finally tables(ro).foreach(_.unpersist())
  }

  test("fork rethrows the first failure as thrown and leaves no thread running") {
    val started = new ConcurrentLinkedQueue[Thread]
    val planted = new IllegalStateException("planted")
    val thrown = intercept[IllegalStateException] {
      BlockScope.fork(spark, Seq(
        () => { started.add(Thread.currentThread); throw planted },
        () => { started.add(Thread.currentThread); Thread.sleep(300); 1 }))
    }
    assert(thrown eq planted)
    assert(started.size == 2)
    assert(started.asScala.forall(!_.isAlive))
  }

  test("materializeAll rethrows a failing table's own exception") {
    val ok = spark.range(0, 10, 1, 2).toDF("id")
    // a filter, so that a count cannot prune the failing expression
    val failing = spark.range(0, 10, 1, 2).toDF("id")
      .filter(raise_error(lit("planted failure")).isNull)
    val expected = intercept[Exception](failing.count()).getClass
    val ro = ReadonlyTables(ok, ok, ok, ok, ok, ok, failing, ok, ok, ok, ok)
    try {
      val thrown = intercept[Exception](ro.materializeAll())
      assert(!thrown.isInstanceOf[ExecutionException])
      assert(thrown.getClass == expected, thrown)
      val alive = Thread.getAllStackTraces.keySet.asScala.map(_.getName)
        .filter(_.startsWith("blockscope-fork"))
      assert(alive.isEmpty, alive)
    } finally tables(ro).foreach(_.unpersist())
  }
}
