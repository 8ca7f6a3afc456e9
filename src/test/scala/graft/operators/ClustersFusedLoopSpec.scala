package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** r16 optimization: the label-propagation convergence count rides each
  * round's eager checkpoint as an Observation (one Spark job per
  * round, not checkpoint + count). These graphs force MULTIPLE rounds, so
  * the fused path — not just the seed round — produces the labels. */
class ClustersFusedLoopSpec extends SparkSuite {

  test("fused loop: long chain (diameter 9) converges to min-id labels") {
    import spark.implicits._
    // chain 0-1-2-...-9 plus a disjoint star centered at 100
    val chain = (0L until 9L).map(i => (i, i + 1))
    val star = (101L to 105L).map(i => (100L, i))
    val pairs = (chain ++ star).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 9L).foreach(i => assert(got(i) == 0L, s"chain node $i"))
    (100L to 105L).foreach(i => assert(got(i) == 100L, s"star node $i"))
    Dedup.releaseIntermediates()
  }

  // count root ACTIONS (one QueryExecutionListener.onSuccess per action;
  // AQE stage jobs share their root execution, so this is the honest
  // "passes over the data" count the fusions reduce)
  private def countActions(body: => Unit): Int = {
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.incrementAndGet(): Unit
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      // listener delivery is async: poll until the counter is STABLE for
      // several consecutive reads (r16 ADVICE — a fixed sleep was flaky
      // under a slow listener bus), with a hard deadline as backstop
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var last = -1
      var stable = 0
      while (stable < 5 && System.nanoTime() < deadline) {
        val now = actions.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(100)
      }
      actions.get()
    } finally spark.listenerManager.unregister(l)
  }

  test("fused loop: one ACTION per propagation round (no separate count)") {
    import spark.implicits._
    val pairs = (0L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      .localCheckpoint(true) // freeze upstream so only loop actions vary
    // budget: edges eager persist (1) + seed checkpoint (1) + one
    // checkpoint action per propagation round (diameter 5 ⇒ ≤ 6 rounds)
    // + the final count (1) = ≤ 9. The pre-fusion shape added one count
    // action per round (≥ 13 on this graph). It holds for the local AND the
    // reliable (checkpoint-dir) truncation: the Observation must fire on
    // either, or the observedRowOr recount would add one action per round.
    def check(): Unit = try {
      val n = countActions(Dedup.duplicateClusters(pairs).count(): Unit)
      assert(n <= 9, s"expected fused per-round actions, got $n")
    } finally Dedup.releaseIntermediates()
    check()
    withCheckpointDir { dir =>
      check()
      assert(checkpointFiles(dir) > 0, "no reliable checkpoint was written")
    }
  }

  test("stars loop: one ACTION per round (fixpoint rides the checkpoint)") {
    import spark.implicits._
    // chain + star: multiple contraction rounds before the fixpoint
    val chain = (0L until 9L).map(i => (i, i + 1))
    val star = (101L to 105L).map(i => (100L, i))
    val pairs = (chain ++ star).toDF("id_a", "id_b").localCheckpoint(true)
    // budget: base persist (1) + nodes persist (1) + edges persist (1)
    // + initial edge count (1) + ONE checkpoint per round (≤ 5 rounds on
    // this graph) + the final labels collect (1) = ≤ 10. The pre-fusion
    // shape ran next.except(edges).isEmpty as its own action on every
    // count-equal round — always at least the final round (≥ 11 here).
    // Checked for the local and the reliable (checkpoint-dir) truncation.
    def check(): Unit = try {
      var labels: Map[Long, Long] = Map.empty
      val n = countActions {
        labels = Dedup.duplicateClustersStars(pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      (0L to 9L).foreach(i => assert(labels(i) == 0L, s"chain node $i"))
      (100L to 105L).foreach(i => assert(labels(i) == 100L, s"star node $i"))
      assert(n <= 10, s"expected one action per stars round, got $n")
    } finally Dedup.releaseIntermediates()
    check()
    withCheckpointDir { dir =>
      check()
      assert(checkpointFiles(dir) > 0, "no reliable checkpoint was written")
    }
  }
}
