package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point; run.py builds and starts it.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints one record line (run context, generator record, every workload
  * metric with its unit and sample count, failures) and, as the last line,
  * the result object. Exits 1 when an operation or check failed. */
object Main {
  /** Workload sizes (4 cores). See README.md for why each was chosen. */
  object Size {
    val steadyRows = 100000L
    val corpusDocs = 600
    val files = 4
    val setupReps = 3
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts.getOrElse("work", ".bench_build/work")
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(nproc, 4)
    require(Set("steady_delta", "corpus_dedup")(workload), s"unknown workload $workload")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 1000).count()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val run = new Run(spark, cores, traced, seconds, work)
    val context = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "nproc" -> nproc, "cores" -> cores, "load_model" -> "closed loop, one client, one operation at a time",
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "loadavg_1m" -> java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "cpu_probe_s" -> cpuProbe())

    val setup =
      try Some(workload match {
        case "steady_delta" => Scd2Workloads.steadyDelta(run, seed, Size.steadyRows, Size.files, Size.setupReps)
        case "corpus_dedup" => DedupWorkload.corpusDedup(run, seed, Size.corpusDocs)
      }) catch { case _: Abort => None }
    spark.stop()

    val med = (n: String) => Stats.median(run.samples.getOrElse(n, Nil).toSeq)
    val (op, aux, write) = workload match {
      case "steady_delta" => ("delta_sync_s", "current_read_s", "write_mb_per_sync")
      case _ => ("dedup_near_s", "dedup_exact_s", "write_mb_per_pass")
    }
    val e2e = Map("setup_s" -> setup.fold(Double.NaN)(_.seconds(sessionS)),
      "op_s" -> med(op), "aux_op_s" -> med(aux), "write_mb_per_op" -> med(write))
    val workloadMetrics = run.samples.map { case (n, xs) =>
      n -> Map("value" -> Stats.median(xs.toSeq), "unit" -> (if (n.contains("_mb")) "MB" else "s"),
        "samples" -> xs.size, "all" -> xs)
    } ++ Map(
      "setup_s" -> Map("value" -> e2e("setup_s"), "unit" -> "s",
        "samples" -> setup.fold(0)(_.repeated.size), "session_s" -> sessionS,
        "repeated_s" -> setup.map(_.repeated), "once_s" -> setup.map(_.once)),
      "op_failure_ratio" -> Map("value" -> run.failed.toDouble / math.max(run.attempted, 1),
        "unit" -> "ratio", "samples" -> run.attempted))
    val overhead = {
      val on = Stats.median(run.opByTracing(true).toSeq)
      val off = Stats.median(run.opByTracing(false).toSeq)
      if (on.isNaN || off.isNaN) 0.0 else on / off - 1
    }
    val layer = Names.perLayer.map { case (n, u) =>
      val v = if (n == "trace.overhead_ratio") overhead else Stats.mean(run.layer.getOrElse(n, Nil).toSeq)
      n -> Map("value" -> v, "unit" -> u)
    }
    val correct = run.failed == 0 && setup.nonEmpty && e2e.values.forall(v => !v.isNaN && v > 0)

    val record = Map(
      "context" -> context, "generator" -> run.generator,
      "metrics" -> workloadMetrics,
      "end_to_end" -> e2e.map { case (n, v) => n -> Map("value" -> v, "maps_to" -> (n match {
        case "setup_s" => "setup_s"; case "op_s" => op; case "aux_op_s" => aux; case _ => write
      })) },
      "tracing" -> (if (traced) Map("op_s_traced" -> Stats.median(run.opByTracing(true).toSeq),
        "op_s_untraced" -> Stats.median(run.opByTracing(false).toSeq), "overhead_ratio" -> overhead)
      else Map.empty),
      "attempted" -> run.attempted, "failed" -> run.failed, "failures" -> run.failures)
    println(Json.render(Map("perfbench_record" -> record)))

    val metrics =
      if (traced) layer
      else Names.endToEnd.map { case (n, u) => n -> Map("value" -> e2e(n), "unit" -> u) }
    println(Json.render(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> math.max(run.attempted, 1), "failed" -> run.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  @volatile private var sink = 0L

  /** Fixed single-thread CPU work (hash chain); its time tells a contended
    * host from a regression. Second reading, after the first warmed it. */
  private def cpuProbe(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0L
      var i = 0L
      while (i < 20000000L) { x = Mix.hash(x, i, 7L); i += 1 }
      sink = x
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }
}
