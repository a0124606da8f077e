package graft

import org.apache.spark.GraftTestHooks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.BlockScope.Boundary
import graft.core.QueryProfile

/** The one measurement primitive behind Bench and Stress: what it counts,
  * that work done while the Dataset is BUILT is billed to the query, that
  * a failing query is reported rather than thrown, and that it leaves no
  * listener behind.
  */
class QueryProfileSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("queryprofile-test")

  private def grouped = spark.range(0, 2000, 1, 4).repartition(8)
    .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n"))

  private def failing = spark.range(0, 10, 1, 2)
    .select(col("id"), raise_error(lit("planted failure")).as("e"))

  test("a repartition + groupBy reports rows, stages and shuffle bytes") {
    val p = QueryProfile.measure(spark)(grouped)
    assert(p.err == null, p)
    assert(p.rows == 10)
    assert(p.sec >= 0 && p.buildSec >= 0)
    // round-robin repartition, the groupBy's hash exchange and the
    // probe's single-partition exchange
    assert(p.shuffleStages == 3, p)
    assert(p.broadcastStages == 0, p)
    assert(p.shuffleWriteBytes > 0, p)
    assert(p.sumTaskReadBytes > 0, p)
    assert(p.maxTaskReadBytes > 0 && p.maxTaskReadBytes <= p.sumTaskReadBytes, p)
  }

  test("shuffle stages a lazy boundary runs while the query is built are billed to it") {
    // GraftSession runs AQE, under which creating a lazy boundary runs its
    // subtree's shuffle-map stages. The same query, its boundary created
    // inside `build` vs before the measurement: only the first profile
    // holds the groupBy's map stages
    val inside = QueryProfile.measure(spark)(grouped.boundary())
    val before = grouped.boundary()
    val outside = QueryProfile.measure(spark)(before)
    assert(inside.err == null && outside.err == null)
    assert(inside.rows == 10 && outside.rows == 10)
    assert(inside.buildSec > 0, inside)
    assert(inside.shuffleWriteBytes > outside.shuffleWriteBytes,
      s"construction-time shuffle not counted:\n$inside\n$outside")
  }

  test("a failing query returns err and rows -1 instead of throwing") {
    val p = QueryProfile.measure(spark)(failing)
    assert(p.rows == -1L && p.sec == -1.0, p)
    assert(p.err != null && p.err.contains("planted failure"), p)
  }

  test("no QueryProfile listener stays registered after success or failure") {
    val sc = spark.sparkContext
    assert(QueryProfile.measure(spark)(grouped).err == null)
    assert(QueryProfile.measure(spark)(failing).err != null)
    assert(GraftTestHooks.listeners[QueryProfile.Listener](sc).isEmpty)
  }
}
