package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** [[Sketches.hllSketch]] family — HyperLogLog register sketch: registers
  * match a reference implementation, the estimate tracks true cardinality
  * within the ~1.04/√m band, merging is partition-invariant, the fold is
  * idempotent, and geometry violations refuse loudly. */
class HllSpec extends SparkSuite {
  import spark.implicits._

  private val P = 6
  private val Bits = 60
  private val M = 1 << P
  private val F = Bits - P // remainder field width
  private val Q = F + 1

  /** Reference register computation in plain Scala. */
  private def refRegisters(hashes: Seq[Long]): Array[Int] = {
    val regs = new Array[Int](M)
    hashes.foreach { h =>
      val reg = (h >>> F).toInt
      val rem = h & ((1L << F) - 1L)
      val rho = if (rem == 0L) F + 1
        else F - (64 - java.lang.Long.numberOfLeadingZeros(rem)) + 1
      if (rho > regs(reg)) regs(reg) = rho
    }
    regs
  }

  private def md5Hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  test("registers match the reference implementation") {
    val hashes = (1 to 2000).map(i => md5Hash60(s"key$i"))
    val df = hashes.map(("g", _)).toDF("g", "h")
    val got = df.groupBy("g")
      .agg(graft.functions.NativeAgg.hllRegisters(col("h"), P, Bits).as("r"))
      .collect().head.getSeq[Int](1).toArray
    assert(got.toSeq == refRegisters(hashes).toSeq)
  }

  test("estimate tracks true cardinality within the HLL error band") {
    // raw HLL (no linear-counting correction) needs n comfortably above
    // 5m/2 = 160 for the standard-error band to apply
    for (n <- Seq(2000, 20000)) {
      val rows = (1 to n).map(i => ("g", md5Hash60(s"user$i")))
      val est = Sketches.hllSketch(rows.toDF("g", "h"), "g", "h", P, Bits)
        .collect().head.getLong(3)
      val err = math.abs(est.toDouble - n) / n
      // 1.04/sqrt(64) = 13% standard error; allow 3 sigma
      assert(err < 0.39, s"n=$n est=$est err=$err")
    }
  }

  test("partition-invariant (mergeable): 1 vs 32 partitions identical") {
    val rows = (1 to 5000).map(i => (s"g${i % 3}", md5Hash60(s"k$i")))
    val one = Sketches.hllSketch(rows.toDF("g", "h").coalesce(1),
      "g", "h", P, Bits).collect().map(_.toSeq).toSet
    val many = Sketches.hllSketch(rows.toDF("g", "h").repartition(32),
      "g", "h", P, Bits).collect().map(_.toSeq).toSet
    assert(one == many)
  }

  test("duplicate-insensitive: multiplicity never moves the estimate") {
    val base = (1 to 500).map(i => ("g", md5Hash60(s"k$i")))
    val dup = base ++ base ++ base
    val a = Sketches.hllSketch(base.toDF("g", "h"), "g", "h", P, Bits)
      .collect().head.toSeq
    val b = Sketches.hllSketch(dup.toDF("g", "h"), "g", "h", P, Bits)
      .collect().head.toSeq
    assert(a == b)
  }

  test("state round-trip + fold ≡ one-shot; fold is idempotent") {
    val rows = (1 to 3000).map(i => (s"g${i % 2}", md5Hash60(s"k$i")))
    val df = rows.toDF("g", "h")
    val half1 = df.filter(abs(col("h")) % 2 === 0)
    val half2 = df.filter(abs(col("h")) % 2 === 1)
    val s1 = Sketches.hllRegisterState(half1, "g", "h", P, Bits)
    val s2 = Sketches.hllRegisterState(half2, "g", "h", P, Bits)
    val once = Sketches.hllOf(Sketches.hllFold(s1, s2), P, Bits)
      .collect().map(_.toSeq).toSet
    val replayed = Sketches.hllOf(
      Sketches.hllFold(Sketches.hllFold(s1, s2), s2), P, Bits)
      .collect().map(_.toSeq).toSet
    val oneShot = Sketches.hllSketch(df, "g", "h", P, Bits)
      .collect().map(_.toSeq).toSet
    assert(once == oneShot)
    assert(replayed == oneShot)
  }

  test("served view equals one-shot on empty-ish groups (all-zero regs)") {
    // a group whose every hash is null: one-shot keeps it (registers all
    // zero, deterministic bias floor); the state form drops its rows
    val df = Seq(("g1", Option(md5Hash60("a"))), ("g2", Option.empty[Long]))
      .toDF("g", "h")
    val one = Sketches.hllSketch(df, "g", "h", P, Bits)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(one.contains("g2"))
    assert(one("g2") < one("g1") || one("g2") < 100L) // bias floor, tiny
    val st = Sketches.hllRegisterState(df, "g", "h", P, Bits)
    assert(st.filter(col("g") === "g2").count() == 0L)
  }

  test("maintainer batch replay folds to the identical state (no txn guard)") {
    val batch0 = (1 to 400).map(i => (s"g${i % 2}", md5Hash60(s"k$i")))
      .toDF("g", "h")
    val batch1 = (300 to 700).map(i => (s"g${i % 2}", md5Hash60(s"k$i")))
      .toDF("g", "h")
    val oneShot = Sketches.hllSketch(batch0.union(batch1).distinct(),
      "g", "h", P, Bits).collect().map(_.toSeq).toSet
    def drive(): Unit = {
      val root = java.nio.file.Files.createTempDirectory("hll-replay")
      val dir = root.toString + "/tbl"
      def served = Sketches.hllOf(
        new graft.store.VersionedTable(spark, dir).read(), P, Bits)
        .collect().map(_.toSeq).toSet
      graft.streaming.StreamingIngest.hllIngestBatch(
        batch0, 0L, "g", "h", P, Bits, dir, "app")
      graft.streaming.StreamingIngest.hllIngestBatch(
        batch1, 1L, "g", "h", P, Bits, dir, "app")
      val after = served
      // replay batch 1 (the at-least-once delivery case): the max-fold
      // re-applies harmlessly — no txnApplied guard needed, unlike the
      // additive histogram/transition folds
      graft.streaming.StreamingIngest.hllIngestBatch(
        batch1, 1L, "g", "h", P, Bits, dir, "app")
      assert(served == after)
      // and the result equals the one-shot over the union
      assert(served == oneShot)
    }
    drive()
    // the same batches under a checkpoint dir: the fold's materialization
    // takes Caching.truncate's reliable branch and writes checkpoint files
    withCheckpointDir { ckpt =>
      drive()
      assert(checkpointFiles(ckpt) > 0, "no reliable checkpoint was written")
    }
  }

  test("geometry violations refuse loudly") {
    val df = Seq(("g", 1L)).toDF("g", "h")
    intercept[IllegalArgumentException] {
      graft.functions.HllRegisters(null, p = 3, hashBits = 60)
    }
    intercept[IllegalArgumentException] {
      graft.functions.HllRegisters(null, p = 6, hashBits = 62)
    }
    // out-of-range hash refuses at execution time
    val bad = Seq(("g", -5L)).toDF("g", "h")
    val e = intercept[Exception] {
      Sketches.hllSketch(bad, "g", "h", P, Bits).collect()
    }
    assert(e.getMessage != null)
    // mismatched fold stamps refuse
    val sA = Sketches.hllRegisterState(df, "g", "h", P, Bits)
    val sB = Sketches.hllRegisterState(df, "g", "h", 7, Bits)
    intercept[IllegalArgumentException] { Sketches.hllFold(sA, sB) }
    intercept[IllegalArgumentException] { Sketches.hllOf(sA, 7, Bits) }
    // a stored rho outside [1, Q] refuses at execution time
    val corrupt = Seq(("g", 3, Q + 1)).toDF("g", "reg", "rho")
    val e2 = intercept[Exception] {
      Sketches.hllOf(corrupt, P, Bits).collect()
    }
    assert(e2.getMessage.contains("rho") ||
      e2.getCause != null && e2.getCause.getMessage.contains("rho"))
  }
}
