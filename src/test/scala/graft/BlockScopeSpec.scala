package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.core.BlockScope
import graft.core.BlockScope.Boundary

/** The materialization boundary's contracts: under AQE a lazy boundary
  * runs its subtree's shuffle stages when it is created, each boundary's
  * RDD is named after its caller, a lazy reliable boundary computes its
  * subtree once, a scope releases its files, and `inlined` makes every
  * boundary transparent.
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
}
