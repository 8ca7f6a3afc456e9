package graft

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.queries.Scenarios

/** The scenario EPOCH seam the bench's memoized-entry retry rides
  * ([[Scenarios.withFreshScenarios]]): inside the scope every memoized
  * scenario lookup must rebuild into a FRESH destination (a retry times
  * the engine, not a cache read); outside, the default epoch's cached
  * destinations must be untouched. The scenarios read their fixtures
  * through the fixture schema cache, which must follow a rewritten file. */
class ScenarioEpochSpec extends SparkSuite {

  test("withFreshScenarios rebuilds; the default epoch cache survives") {
    val dir = "/root/testdata/sf0.001"
    val d0 = Scenarios.deltaDest(spark, dir)
    // cached: second lookup in the same epoch is the SAME destination
    assert(Scenarios.deltaDest(spark, dir) == d0)
    val dFresh = Scenarios.withFreshScenarios {
      Scenarios.deltaDest(spark, dir)
    }
    assert(dFresh != d0, "fresh epoch must rebuild into a new destination")
    // the rebuild is a REAL scenario (same content, different dir)
    assert(Scenarios.history(spark, dFresh).count() ==
      Scenarios.history(spark, d0).count())
    // default epoch untouched after the scope exits
    assert(Scenarios.deltaDest(spark, dir) == d0)
    // two fresh scopes never share a destination (each epoch is unique)
    val dFresh2 = Scenarios.withFreshScenarios(Scenarios.deltaDest(spark, dir))
    assert(dFresh2 != dFresh && dFresh2 != d0)
  }

  test("fixture schemas follow a parquet rewritten at the same path") {
    import spark.implicits._
    val dir = tmpDir("graft-fixture")
    def customer(acctbal: org.apache.spark.sql.Column) =
      Seq((1L, "a", "BUILDING")).toDF("c_custkey", "c_name", "c_mktsegment")
        .withColumn("c_acctbal", acctbal)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    customer(lit(1.5))
    assert(Scenarios.batch1(spark, dir).schema("c_acctbal").dataType == DoubleType)
    // same path, new schema: the cached footer schema must not be served
    customer(lit("1.50"))
    val b = Scenarios.batch1(spark, dir)
    assert(b.schema("c_acctbal").dataType == StringType)
    assert(b.head().getAs[String]("c_acctbal") == "1.50")
  }
}
