package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.Dedup

/** corpus_dedup: the dedup operator families over a generated corpus salted
  * into `copies` disjoint copies. Each pass runs exact dedup (five times,
  * median taken: one run is too short to time steadily), then the three
  * candidate-pair families and the clustering of the n-gram pairs; every
  * operator writes its output as parquet. */
object DedupWorkload {
  val copies = 4
  private val exactReps = 5

  private val ops: Seq[(String, (DataFrame, String) => DataFrame)] = Seq(
    "exact" -> ((df, _) => Dedup.exact(df, "doc_id", "text")),
    "minhash_lsh" -> ((df, _) => Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5)),
    "simhash" -> ((df, _) => Dedup.simhashVerifiedPairs(df, "doc_id", "text",
      maxHamming = 7, threshold = 0.9, numChunks = 8, polyHash = true)),
    "ngram_jaccard" -> ((df, _) => Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.3)),
    "clusters" -> ((df, out) => Dedup.duplicateClusters(df.sparkSession.read.parquet(s"$out/ngram_jaccard"))))

  /** Output rows of one pass, by operator. */
  type PassOut = Map[String, Seq[Row]]

  /** What one pass produced: the rows of every output, the timed exact run
    * (median of the repeats) and near-duplicate operators, and the size of
    * the near-duplicate outputs. */
  private final case class Pass(rows: PassOut, exact: Timed[_], near: Seq[Timed[_]], nearMb: Double) {
    def nearS: Double = near.map(_.s).sum
  }

  /** One pass over `docs`; outputs land under `out`. */
  private def pass(run: Run, docs: DataFrame, out: String): Pass = {
    def runOp(name: String, op: (DataFrame, String) => DataFrame) =
      run.time(s"dedup_pass/$name") {
        op(docs, out).write.mode("overwrite").parquet(s"$out/$name")
        Dedup.releaseIntermediates()
      }
    val exact = (1 to exactReps).map(_ => runOp(ops.head._1, ops.head._2)).sortBy(_.s).apply(exactReps / 2)
    val timed = (ops.head._1 -> exact) +: ops.tail.map { case (name, op) => name -> runOp(name, op) }
    val rows = ops.map { case (name, _) => name -> run.spark.read.parquet(s"$out/$name").collect().toSeq }.toMap
    val nearMb = ops.tail.map { case (name, _) => Files.bytes(s"$out/$name") }.sum / 1e6
    if (run.isTracing) {
      timed.foreach { case (name, t) =>
        val tt = t.totals.get
        val outRows = rows(name).size.toDouble
        run.addLayer(s"operators.$name.s", t.s)
        run.addLayer(s"operators.$name.jobs", tt.count)
        run.addLayer(s"operators.$name.shuffle_mb", tt.shuffleMb)
        run.addLayer(s"operators.$name.out_rows", outRows)
        run.addLayer(s"operators.$name.useful_ratio",
          if (tt.shuffleRecords > 0) outRows / tt.shuffleRecords else 0.0)
      }
      val all = JobTotals(timed.flatMap(_._2.jobs.get))
      run.sparkLayer("dedup_pass", all, timed.map(_._2.s).sum,
        timed.map { case (_, t) => t.totals.get.driverGapS(t.w0, t.w1) }.sum)
    }
    Pass(rows, exact, timed.tail.map(_._2), nearMb)
  }

  private def idCols(rows: Seq[Row]): Seq[Int] = rows.headOption.toSeq.flatMap { r =>
    r.schema.fieldNames.zipWithIndex.collect {
      case (n, i) if Set("id", "id_a", "id_b", "keep_id", "cluster_id")(n) => i
    }
  }

  /** Rows rendered with their ids reduced to the base corpus, grouped by
    * the copy the ids belong to (-1 when a row mixes copies). Columns that
    * depend on the token text itself (fingerprints) are dropped. */
  private def byCopy(rows: Seq[Row]): Map[Long, Seq[String]] = {
    val ids = idCols(rows)
    rows.groupBy { r =>
      val cps = ids.map(i => r.getLong(i) / CorpusGen.copyStride).distinct
      if (cps.size == 1) cps.head else -1L
    }.map { case (cp, rs) =>
      cp -> rs.map { r =>
        r.schema.fieldNames.indices.filterNot(i => r.schema.fieldNames(i) == "fp").map { i =>
          if (ids.contains(i)) (r.getLong(i) % CorpusGen.copyStride).toString else String.valueOf(r.get(i))
        }.mkString("|")
      }.sorted
    }
  }

  private def pairs(rows: Seq[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet

  /** Exact dedup, the n-gram pairs and their clusters on the salted corpus
    * equal the base output once per copy (all three are exact by
    * construction). MinHash and SimHash hash the salted tokens differently
    * per copy, so their recall may differ between copies; both verify an
    * exact Jaccard above the n-gram threshold, so their pairs must be
    * n-gram pairs. */
  private def check(run: Run, got: PassOut, ref: PassOut): Seq[String] = {
    val copyChecks = Seq("exact", "ngram_jaccard", "clusters").flatMap { name =>
      val want = byCopy(ref(name)).getOrElse(0L, Nil)
      val have = byCopy(got(name))
      val bad = (0L until copies).filter(cp => have.getOrElse(cp, Nil) != want) ++ have.keys.filter(_ < 0)
      run.expect(want.nonEmpty && bad.isEmpty,
        s"$name: output differs from the base output on copies ${bad.mkString(",")}")
    }
    val ngram = pairs(got("ngram_jaccard"))
    copyChecks ++ Seq("minhash_lsh", "simhash").flatMap { name =>
      val got1 = pairs(got(name))
      val extra = got1 -- ngram
      run.expect(got1.nonEmpty && extra.isEmpty, s"$name: ${extra.size} of ${got1.size} pairs are not n-gram pairs")
    }
  }

  /** Set-up is one warm-up pass over the base corpus, which is also the
    * reference output. It runs once: a pass is bound by fixed per-job costs,
    * so a repeat would cost as much as a measured pass. */
  def corpusDedup(run: Run, seed: Long, docs: Int): Setup = {
    val spark = run.spark
    val root = s"${run.work}/corpus_dedup"
    val salt = java.lang.Long.toString(java.lang.Math.floorMod(Mix.hash(seed, 17L, 0L), 46656L), 36)
    import spark.implicits._
    CorpusGen.docs(seed, docs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/base")
    val base = spark.read.parquet(s"$root/base")
    CorpusGen.salted(base, copies, salt).write.mode("overwrite").parquet(s"$root/salted")
    val salted = spark.read.parquet(s"$root/salted")

    var ref: PassOut = Map.empty
    val t0 = System.nanoTime()
    run.attempt("setup_pass") { ref = pass(run, base, s"$root/ref").rows; Nil }
    val setupS = (System.nanoTime() - t0) / 1e9

    var p = 0
    while (run.keepMeasuring(p, minCycles = 1)) {
      run.setTracing(p % 2 == 1)
      run.attempt("dedup_pass") {
        val p1 = pass(run, salted, s"$root/pass")
        run.measuredS += p1.exact.s + p1.nearS
        run.sample("dedup_exact_s", p1.exact.s)
        run.sample("dedup_near_s", p1.nearS)
        run.sample("dedup_pass_s", p1.exact.s + p1.nearS)
        run.sample("write_mb_per_pass", p1.nearMb)
        run.opByTracing(run.isTracing) += p1.nearS
        check(run, p1.rows, ref)
      }
      p += 1
    }
    run.setTracing(false)
    run.generator = Map("seed" -> seed, "base_docs" -> docs, "copies" -> copies,
      "salt" -> salt, "passes" -> p, "input_mb" -> Files.bytes(s"$root/salted") / 1e6,
      "ref_rows" -> ops.map { case (n, _) => n -> ref.get(n).fold(0)(_.size) }.toMap)
    Setup(Seq(setupS), 0.0)
  }
}
