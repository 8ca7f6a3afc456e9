package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Names and units of everything the benchmark reports. The lists must match
  * BENCHMARK.json; run.py refuses a result whose metric names differ. */
object Names {
  /** (end-to-end metric, unit). What `op` and `aux_op` are depends on the
    * workload (see README.md). */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s" -> "s", "aux_op_s" -> "s", "write_mb_per_op" -> "MB")

  /** Job description the sync engine sets → benchmark step name. */
  val scd2Steps: Seq[(String, Seq[String])] = Seq(
    "state_local" -> Seq("scd2 state: local (max, count)"),
    "state_source" -> Seq("scd2 state: source (max, count)"),
    "step1_snapshot" -> Seq("scd2 step1: pk+ts snapshot write"),
    "step2_delta1" -> Seq("scd2 step2: delta_1 write"),
    "step2_append" -> Seq("scd2 step2: history append"),
    "step3_probe" -> Seq("scd2 step3: strange-pk probe"),
    "step3_inline" -> Seq("scd2 step3: inline delta_2 write", "scd2 step3: inline history append"),
    "step4_latest_pk" -> Seq("scd2 step4: latest_pk write"),
    "step35_delete_probe" -> Seq("scd2 step3.5: delete probe"),
    "step35_tombstones" -> Seq("scd2 step3.5: tombstone append"),
    "full_history_write" -> Seq("scd2 full-load: history write"),
    "full_latest_pk" -> Seq("scd2 full-load: latest_pk rebuild"))
  val stepOfDesc: Map[String, String] =
    for ((step, descs) <- scd2Steps.toMap; d <- descs) yield d -> step

  val storeTables: Seq[String] =
    Seq("history", "primary_keys_ts", "latest_pk_version", "delta_1", "delta_2", "log_meta")
  val operators: Seq[String] = Seq("exact", "minhash_lsh", "simhash", "ngram_jaccard", "clusters")
  val sparkOps: Seq[String] =
    Seq("delta_sync", "noop_sync", "current_read", "full_load", "dedup_pass")

  val perLayer: Seq[(String, String)] =
    scd2Steps.flatMap { case (s, _) =>
      Seq(s"scd2.$s.jobs" -> "count", s"scd2.$s.job_s" -> "s", s"scd2.$s.shuffle_mb" -> "MB")
    } ++ Seq("scd2.unlabeled.jobs" -> "count", "scd2.other.jobs" -> "count",
      "sources.read_calls" -> "count", "sources.state_calls" -> "count", "sources.state_s" -> "s") ++
    storeTables.map(t => s"store.$t.mb_written" -> "MB") ++
    Seq("store.files_written" -> "count", "store.history_dirs" -> "count",
      "store.history_versions" -> "count", "store.history_read_s" -> "s") ++
    operators.flatMap(o => Seq(s"operators.$o.s" -> "s", s"operators.$o.jobs" -> "count",
      s"operators.$o.shuffle_mb" -> "MB", s"operators.$o.out_rows" -> "count",
      s"operators.$o.useful_ratio" -> "ratio")) ++
    sparkOps.flatMap(o => Seq(s"spark.$o.jobs" -> "count", s"spark.$o.busy_ratio" -> "ratio",
      s"spark.$o.driver_gap_s" -> "s", s"spark.$o.shuffle_mb" -> "MB",
      s"spark.$o.spill_mb" -> "MB", s"spark.$o.gc_s" -> "s")) ++
    Seq("trace.overhead_ratio" -> "ratio")
}

/** One timed operation: its value, wall seconds, epoch-ms interval, and the
  * jobs it ran when the tracer was attached. */
final case class Timed[A](value: A, s: Double, w0: Long, w1: Long, jobs: Option[Seq[JobRec]]) {
  def totals: Option[JobTotals] = jobs.map(JobTotals(_))
}

/** Set-up time of a run: the set-up step that is repeated (median taken)
  * and the one that runs once, besides the session start. */
final case class Setup(repeated: Seq[Double], once: Double) {
  def seconds(sessionS: Double): Double = sessionS + Stats.median(repeated) + once
}

/** Raised after a failed operation was counted: the workload stops there. */
final class Abort extends RuntimeException

/** The state of one benchmark run: the session, the closed-loop operation
  * harness, failure accounting, and the samples the output is built from. */
final class Run(
    val spark: SparkSession, val cores: Int, val traced: Boolean,
    val seconds: Double, val work: String) {
  val sc = spark.sparkContext
  private val tracer = new Tracer
  private var tracing = false

  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()

  /** Workload samples by their own metric name (e.g. delta_sync_s). */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Samples of the headline op by whether the tracer was attached. */
  val opByTracing = mutable.Map(true -> mutable.ArrayBuffer[Double](), false -> mutable.ArrayBuffer[Double]())
  /** Per-layer samples (traced operations only); reported as means. */
  val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** The generator record of the run's inputs. */
  var generator: Map[String, Any] = Map.empty

  /** Timed seconds of measured operations so far; the measurement loop
    * runs until this reaches `seconds` and at least `minCycles` cycles ran.
    * A traced run measures at least two cycles, one with the tracer attached
    * and one without. */
  var measuredS = 0.0
  def keepMeasuring(cyclesDone: Int, minCycles: Int): Boolean =
    measuredS < seconds || cyclesDone < math.max(minCycles, if (traced) 2 else 1)

  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def addLayer(name: String, v: Double): Unit = layer.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Attach or detach the tracer (traced runs only). The traced run
    * alternates, so that it measures the tracing overhead itself. */
  def setTracing(on: Boolean): Unit = if (traced && on != tracing) {
    if (on) sc.addSparkListener(tracer)
    else { tracer.drain(sc); sc.removeSparkListener(tracer) }
    tracing = on
  }
  def isTracing: Boolean = tracing

  /** Runs `body` under job group `group` and times it. */
  def time[A](group: String)(body: => A): Timed[A] = {
    if (tracing) tracer.drain(sc) // drop jobs of untimed work (input generation, checks)
    sc.setLocalProperty("spark.jobGroup.id", group)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val v = try body finally sc.setLocalProperty("spark.jobGroup.id", null)
    val s = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    Timed(v, s, w0, w1, if (tracing) Some(tracer.drain(sc)) else None)
  }

  /** One attempted operation. `body` returns the messages of the checks
    * that failed; an exception counts as a failure and stops the workload. */
  def attempt(what: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val errs =
      try body
      catch {
        case e: Abort => throw e
        case NonFatal(e) =>
          failed += 1
          failures += s"$what: $e"
          e.printStackTrace()
          throw new Abort
      }
    if (errs.nonEmpty) { failed += 1; failures ++= errs.map(m => s"$what: $m") }
  }

  def expect(ok: Boolean, msg: => String): Seq[String] = if (ok) Nil else Seq(msg)

  /** spark.<op>.* from one traced operation (or several, for a pass). */
  def sparkLayer(op: String, t: JobTotals, wallS: Double, gapS: Double): Unit = {
    addLayer(s"spark.$op.jobs", t.count)
    addLayer(s"spark.$op.busy_ratio", if (wallS > 0) t.runS / (wallS * cores) else 0.0)
    addLayer(s"spark.$op.driver_gap_s", gapS)
    addLayer(s"spark.$op.shuffle_mb", t.shuffleMb)
    addLayer(s"spark.$op.spill_mb", t.spillMb)
    addLayer(s"spark.$op.gc_s", t.gcS)
  }

  def sparkLayer(op: String, t: Timed[_]): Unit =
    t.totals.foreach(tt => sparkLayer(op, tt, t.s, tt.driverGapS(t.w0, t.w1)))

  /** scd2.<step>.* for one traced sync, over `steps` (zeros included, so
    * the means are per sync). Delta syncs also record their unlabeled jobs;
    * full loads do not, so that the unlabeled mean is per delta sync. */
  def scd2Layer(t: Timed[_], steps: Seq[String], unlabeled: Boolean): Unit = t.jobs.foreach { jobs =>
    val byStep = jobs.groupBy(j => Names.stepOfDesc.getOrElse(j.desc,
      if (j.desc.startsWith("scd2 ")) "other" else "unlabeled"))
    steps.foreach { s =>
      val tt = JobTotals(byStep.getOrElse(s, Nil))
      addLayer(s"scd2.$s.jobs", tt.count)
      addLayer(s"scd2.$s.job_s", tt.jobS)
      addLayer(s"scd2.$s.shuffle_mb", tt.shuffleMb)
    }
    if (unlabeled) {
      addLayer("scd2.unlabeled.jobs", byStep.get("unlabeled").fold(0)(_.size).toDouble)
      addLayer("scd2.other.jobs", byStep.get("other").fold(0)(_.size).toDouble)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
