package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The gate's fingerprint: blind to row order and partitioning, sensitive
  * to any changed, missing or extra row.
  */
class HashSinkSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[2]").config("spark.sql.shuffle.partitions", "2")
  ).getOrCreate()

  private def result = spark.range(0, 1000)
    .select(col("id"), (col("id") % 7).as("k"), concat(lit("row"), col("id")).as("s"),
      (col("id") / 3.0).as("d"))

  test("row order and partitioning do not change the fingerprint") {
    val a = HashSink.fingerprint(result, "a")
    val b = HashSink.fingerprint(result.repartition(5).orderBy(col("s").desc), "b")
    assert(a == b)
    assert(a.rows == 1000L)
  }

  test("a gate catches a corrupted result") {
    val good = Workload.fingerprintGate("good", result, result.orderBy(col("k")))
    assert(good.expected == good.actual)
    val changed = result.withColumn("d",
      when(col("id") === 500, col("d") + 1e-9).otherwise(col("d")))
    val corrupt = Workload.fingerprintGate("changed", result, changed)
    assert(corrupt.expected != corrupt.actual)
    val dropped = Workload.fingerprintGate("dropped", result, result.filter(col("id") =!= 7))
    assert(dropped.expected != dropped.actual)
    val duplicated = Workload.fingerprintGate("duplicated", result,
      result.union(result.filter(col("id") === 7)))
    assert(duplicated.expected != duplicated.actual)
  }

  test("a failing query fails its gate instead of the run") {
    val boom = result.select(assert_true(col("id") < 10).as("x"))
    val g = Workload.fingerprintGate("boom", result, boom)
    assert(g.actual.startsWith("error:"))
    assert(g.expected != g.actual)
  }
}
