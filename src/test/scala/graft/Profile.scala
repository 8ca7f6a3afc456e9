package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The gate profiler: one session and one SparkListener behind five modes.
  * Every mode runs under the bench's session geometry
  * (local[$SPARK_GRAFT_CPUS], shuffle partitions = cpus, UTC,
  * nanosAsLong, AQE on, UI off), so what it measures is what the bench
  * executes. Run:
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.Profile <mode> <sfDir> ..."
  *
  *   trace <sfDir> <gate>
  *     One `[job]` line per Spark job of one gate run (id, ms, tasks, and
  *     its `scd2 <step>` description or first graft.* frame). Memoized
  *     scenario gates run in a fresh epoch, so the full engine run shows.
  *   shape <sfDir> [g1,g2,...]
  *     Weather-independent work shape per run (`[profile]` lines): jobs,
  *     stages, tasks, shuffle write/read, input and spill bytes, plus wall
  *     time. SPARK_GRAFT_PROFILE_RUNS runs per gate (default 2); no gate
  *     list = the headline gates.
  *   plan <sfDir> [outDir] [tag] [g1,g2,...]
  *     Writes `.explain("formatted")` to `<outDir>/<gate>_<tag>.txt`
  *     (`[plandump]` lines; defaults plans/r16, before, headline gates).
  *   scale <sfDir> [g1,g2,...]
  *     Wall time per gate with the noop sink (`[sf1scale]` lines). A dir
  *     without documents.parquet first gets the 10× salted corpus
  *     ([[Sf1Drive.synthDocs]]), so `scale tmp/sf1` is the sf1 tier.
  *   ab <sfDir> <g1,g2,...> <confKey> <valA> <valB> [reps]
  *     Same-JVM A/B of one session conf, runs interleaved ABAB… so host
  *     steal hits both arms (`[ab]` lines: per-arm min, median, all).
  */
object Profile {
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Work-shape counters for the jobs since the last [[reset]]; with
    * `trace` on, also one `[job]` line as each job ends. */
  final class Acc(trace: Boolean) extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var shufRead = 0L
    @volatile var shufWrite = 0L
    @volatile var input = 0L
    @volatile var spill = 0L
    private val started =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1
      if (trace)
        started.put(j.jobId, (System.nanoTime(), label(j), j.stageInfos.map(_.numTasks).sum))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(started.remove(j.jobId)).foreach { case (t0, site, tasks) =>
        println(f"[job] ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e6}%8.1f ms tasks=$tasks%4d  $site")
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shufRead += m.shuffleReadMetrics.totalBytesRead
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        input += m.inputMetrics.bytesRead
        spill += m.diskBytesSpilled
      }
    }
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; shufRead = 0L
      shufWrite = 0L; input = 0L; spill = 0L }
  }

  /** Best attribution first: the job description (the engine labels its
    * steps); else the first graft.* frame from ANY stage's details
    * (async/command execution hides the caller from the final stage). */
  private def label(j: SparkListenerJobStart): String =
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse {
        val lines = j.stageInfos.flatMap(_.details.split('\n'))
        lines.find(l => l.contains("graft.") && !l.contains("graft.Profile"))
          .map(_.trim)
          .getOrElse(lines.headOption.map(_.trim).getOrElse("?"))
      }

  private def gates(arg: String): Seq[String] =
    arg.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private def headline: Seq[String] = Bench.headline.filter(SparkEntry.queries.contains)

  def main(args: Array[String]): Unit = {
    val modes = Set("trace", "shape", "plan", "scale", "ab")
    if (args.length < 2 || !modes(args(0)) ||
        (args(0) == "trace" && args.length < 3) || (args(0) == "ab" && args.length < 6)) {
      System.err.println("usage: Profile trace <sfDir> <gate> | shape <sfDir> [gates] | " +
        "plan <sfDir> [outDir] [tag] [gates] | scale <sfDir> [gates] | " +
        "ab <sfDir> <gates> <confKey> <valA> <valB> [reps]")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = args(1)
    val rest = args.drop(2).lift
    try args(0) match {
      case "trace" => trace(spark, sfDir, args(2))
      case "shape" => shape(spark, sfDir, rest(0).fold(headline)(gates))
      case "plan" => plan(spark, sfDir, rest(0).getOrElse("plans/r16"),
        rest(1).getOrElse("before"), rest(2).fold(headline)(gates))
      case "scale" => scale(spark, sfDir, rest(0).fold(Seq("dedup_ngram_jaccard",
        "dedup_tfidf_cosine", "dedup_containment", "graph_pagerank"))(gates))
      case "ab" => ab(spark, sfDir, gates(args(2)), args(3), args(4), args(5),
        rest(4).fold(5)(_.toInt))
    } finally spark.stop()
  }

  private def warm(spark: SparkSession, sfDir: String): Unit =
    spark.read.parquet(s"$sfDir/nation.parquet").count(): Unit

  private def trace(spark: SparkSession, sfDir: String, name: String): Unit = {
    spark.sparkContext.addSparkListener(new Acc(trace = true))
    warm(spark, sfDir)
    println(s"=== $name (fresh scenario epoch) ===")
    val t0 = System.nanoTime()
    graft.queries.Scenarios.withFreshScenarios {
      SparkEntry.queries(name)(spark, sfDir).count()
    }
    Thread.sleep(400) // let the last job-end events land
    println(f"[job] TOTAL ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  private def shape(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val acc = new Acc(trace = false)
    spark.sparkContext.addSparkListener(acc)
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
    warm(spark, sfDir)
    names.foreach { name =>
      (1 to runs).foreach { i =>
        spark.catalog.clearCache()
        Thread.sleep(300) // settle listener-bus stragglers from the previous run
        acc.reset()
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // let stage-completed events land
          println(f"[profile] $name%-30s run$i wall=$wall%7.3f jobs=${acc.jobs}%4d " +
            f"stages=${acc.stages}%4d tasks=${acc.tasks}%6d " +
            f"shufW=${acc.shufWrite / 1024}%9dKB shufR=${acc.shufRead / 1024}%9dKB " +
            f"input=${acc.input / 1024}%9dKB spill=${acc.spill / 1024}%6dKB")
        } catch {
          case e: Throwable => println(s"[profile] $name run$i FAILED: ${e.getMessage}")
        }
      }
    }
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String, tag: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        spark.catalog.clearCache()
        val text = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), text)
        println(s"[plandump] wrote $outDir/${name}_$tag.txt (${text.length} chars)")
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
  }

  private def scale(spark: SparkSession, sfDir: String, gates: Seq[String]): Unit = {
    if (!new java.io.File(s"$sfDir/documents.parquet").exists()) Sf1Drive.synthDocs(spark, sfDir)
    spark.read.parquet(s"$sfDir/documents.parquet").count() // warm the read path
    gates.foreach { g =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      graft.queries.Catalog.queries(g)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[sf1scale] $g cpus=$cpus ${(System.nanoTime() - t0) / 1e9}%.1f s")
      graft.operators.Dedup.releaseIntermediates()
    }
  }

  private def ab(spark: SparkSession, sfDir: String, names: Seq[String], confKey: String,
      valA: String, valB: String, reps: Int): Unit = {
    warm(spark, sfDir)
    def run(name: String, v: String): Double = {
      spark.conf.set(confKey, v)
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(100)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { name =>
      run(name, valA); run(name, valB) // one unmeasured warmup per arm (JIT/codegen)
      val times = (1 to reps).map(_ => (run(name, valA), run(name, valB)))
      Seq(valA -> times.map(_._1), valB -> times.map(_._2)).foreach { case (v, xs) =>
        println(f"[ab] $name%-28s $confKey=$v%-22s min=${xs.min}%7.3f " +
          f"med=${xs.sorted.apply(xs.size / 2)}%7.3f all=${xs.map(x => f"$x%.2f").mkString(",")}")
      }
    }
  }
}
