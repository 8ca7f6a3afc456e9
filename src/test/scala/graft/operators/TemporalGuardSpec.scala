package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Round-16 contract guards on the temporal operators (VERDICT r15 task 2
  * + the four r15 ADVICE items): the bucketized joins' fan-out budget, the
  * as-of joins' lossless-cast requirement, trailingFeatures' integral ts,
  * transitionFold's reserved-column guard, and distinctSketch's all-null
  * group shape. */
class TemporalGuardSpec extends SparkSuite {
  import spark.implicits._

  private def refusedBy(marker: String)(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains(marker)) ||
        mentions(t.getCause))
    assert(mentions(e), s"expected a '$marker' refusal, got: ${e.getMessage}")
  }

  test("rangeJoin: an interval wider than maxBucketsPerInterval refuses loudly") {
    val points = Seq((1L, 500L)).toDF("pid", "pt")
    // a year-long interval against 1-unit buckets: 1,000,001 buckets — the
    // mis-sized-width OOM shape the guard exists for
    val intervals = Seq((1L, 0L, 1000000L)).toDF("iid", "s", "e")
    refusedBy("maxBucketsPerInterval") {
      Temporal.rangeJoin(points, "pt", intervals, "s", "e",
        bucketWidth = 1L).collect()
    }
    // the same data passes with a width matched to the interval length
    assert(Temporal.rangeJoin(points, "pt", intervals, "s", "e",
      bucketWidth = 100000L).count() == 1L)
    // and with an explicitly raised budget
    assert(Temporal.rangeJoin(points, "pt", intervals, "s", "e",
      bucketWidth = 1L, maxBucketsPerInterval = 2000000L).count() == 1L)
  }

  test("rangeJoin: an inverted interval (end < start) refuses instead of descending") {
    val points = Seq((1L, 5L)).toDF("pid", "pt")
    val intervals = Seq((1L, 10L, 0L)).toDF("iid", "s", "e")
    refusedBy("maxBucketsPerInterval") {
      Temporal.rangeJoin(points, "pt", intervals, "s", "e",
        bucketWidth = 1L).collect()
    }
  }

  test("intervalJoin: either side's oversized interval refuses; sane widths pass") {
    val l = Seq((1L, 0L, 10L)).toDF("lid", "ls", "le")
    val rBad = Seq((2L, 0L, 999999L)).toDF("rid", "rs", "re")
    refusedBy("maxBucketsPerInterval") {
      Temporal.intervalJoin(l, "ls", "le", rBad, "rs", "re",
        bucketWidth = 1L).collect()
    }
    val rOk = Seq((2L, 5L, 15L)).toDF("rid", "rs", "re")
    assert(Temporal.intervalJoin(l, "ls", "le", rOk, "rs", "re",
      bucketWidth = 8L).count() == 1L)
  }

  test("asofJoin/asofJoinForward: narrowing left-ts cast refuses; widening passes") {
    val leftLong = Seq((1L, 100L)).toDF("k", "lts")
    val rightInt = Seq((1L, 90, 7L)).toDF("k2", "rts", "pay")
      .withColumn("rts", col("rts").cast("int"))
    // long left against int right would silently truncate — refuse
    refusedBy("asofJoin") {
      Temporal.asofJoin(leftLong, rightInt, "k", "k2", "lts", "rts",
        Seq("pay"), "pay")
    }
    refusedBy("asofJoinForward") {
      Temporal.asofJoinForward(leftLong, rightInt, "k", "k2", "lts", "rts",
        Seq("pay"), "pay")
    }
    // an unknown payload column and a reserved __-prefixed left column
    // refuse before any plan is built
    refusedBy("rightPayload") {
      Temporal.asofJoin(leftLong, rightInt, "k", "k2", "lts", "rts",
        Seq("nope"), "pay")
    }
    refusedBy("reserves __") {
      Temporal.asofJoin(leftLong.withColumnRenamed("k", "__k"), rightInt,
        "__k", "k2", "lts", "rts", Seq("pay"), "pay")
    }
    // int left against long right widens losslessly — passes and matches
    val leftInt = Seq((1, 100)).toDF("k", "lts")
      .select(col("k").cast("long").as("k"), col("lts").cast("int").as("lts"))
    val rightLong = Seq((1L, 90L, 7L)).toDF("k2", "rts", "pay")
    val got = Temporal.asofJoinSelect(leftInt, rightLong, "k", "k2",
      "lts", "rts", Seq("pay"), "pay").collect()
    assert(got.length == 1 && got.head.getLong(2) == 7L)
  }

  test("trailingFeatures: non-integral tsCol refuses with the house-rule message") {
    val df = Seq((1L, 1.5, 2L)).toDF("k", "ts", "v")
    refusedBy("integral") {
      Temporal.trailingFeatures(df, "k", "ts", window = 10L)
    }
  }

  test("transitionFold: a batch carrying __-prefixed columns refuses") {
    val (m, f) = Temporal.transitionState(
      Seq((1L, "A", 10L, 1L)).toDF("k", "t", "ts", "tie"), "k", "t", "ts", "tie")
    val badBatch = Seq((1L, "B", 20L, 2L, "x"))
      .toDF("k", "t", "ts", "tie", "__last_type")
    refusedBy("__") {
      Temporal.transitionFold(m, f, badBatch, "k", "t", "ts", "tie")
    }
  }

  test("distinctSketch: an all-null-hash group keeps n_kept 0, null kth_min, est 0") {
    val df = Seq(
      ("a", Some(10L)), ("a", Some(20L)), ("a", Some(10L)),
      ("b", None), ("b", None)).toDF("g", "h")
    val got = TextCorpus.distinctSketch(df, "g", "h", k = 2, hashBound = 100L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), r.getLong(3)))).toMap
    assert(got("a") == ((2L, Some(20L), 4L))) // k reached: (k-1)*100 DIV (20+1)
    assert(got("b") == ((0L, None, 0L)))
  }
}
