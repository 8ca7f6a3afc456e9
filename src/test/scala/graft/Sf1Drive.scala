package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** sf1-scale exactness sweep (round-7 verdict item 8; embedding gates added
  * per round-8 item 6): the oracle matrix tops out at sf0.1, so this drive
  * synthesizes a 10× corpus — ten copies of the sf0.1 documents with
  * per-copy token salting (see below) and ten copies of the sf0.1
  * embeddings with a per-copy CYCLIC component rotation — runs the
  * heaviest gates on it, and dumps their outputs for the DuckDB oracle
  * comparison script (`tools/sf1_check.py`).
  *
  * Documents: the salt is TWO copy digits per token ("tok_33"): the corpus
  * text contains no digits (checked), so for any cross-copy doc pair the
  * edit distance is ≥ (count of the target copy's digit) = 2 × tokens ≥
  * 20 > the gate's maxDist 10 — cross-copy editdist pairs are impossible
  * BY CONSTRUCTION, which lets the (quadratic-cost) editdist oracle run
  * per copy instead of over the full 50k-doc corpus.
  *
  * Embeddings: copy c rotates every vector's components left by c
  * positions and offsets vec_id by the SAME 10M-per-copy stride as the
  * documents (so the hybrid gate's doc_id = vec_id join stays aligned
  * per copy). Rotation preserves norms and all WITHIN-copy dot products
  * (both sides rotate), so each copy is the natural sf0.1 distribution
  * verbatim; cross-copy similarities are left to the FULL-corpus DuckDB
  * oracle — no per-copy shortcut is taken for any embedding gate (the
  * 64-dim cosine oracle is ~0.4 s per 7M pairs, so even the quadratic
  * SemDeDup oracle stays O(minutes) at 26.7k vectors).
  *
  * Run: `sbt "Test/runMain graft.Sf1Drive"` (documents gates) and
  * `sbt "Test/runMain graft.Sf1Drive emb"` (embedding gates); then
  * `python3 tools/sf1_check.py` / `python3 tools/sf1_check.py emb`.
  * `sbt "Test/runMain graft.Sf1Drive <gate>"` re-runs one Catalog gate
  * over the corpora an earlier sweep synthesized. */
object Sf1Drive {
  val gates = Seq("dedup_spans", "dedup_minhash_incremental", "dedup_editdist",
    // round-16: the editdist persisted-index serving form (same per-copy
    // oracle protocol as the one-shot)
    "dedup_editdist_incremental",
    "dedup_clusters", "dedup_simhash", "dedup_containment",
    // round-12: the r11 operators' 10× runs (r11 verdict item 5) —
    // containment additionally reports its candidate-pair count (the
    // constant-o prefix is the shape whose candidate volume could
    // surprise at 10×; the default maxDocFreq cap is the guard) — plus
    // the new DSIR selection gate (histogram/weight arithmetic must stay
    // integer-exact when the bigram volume grows 10×)
    "dedup_cdc_chunks", "sample_mixture", "text_dsir_select",
    "text_dsir_sample",
    // round-13: boilerplate removal at 10× — per-copy salting makes each
    // copy's segments distinct, so every sf0.1 boilerplate segment
    // reappears once PER COPY with its original document frequency: the
    // filter list grows linearly with the corpus (the designed shape)
    // while the shuffle-free apply stays one projection
    "text_boilerplate_removal",
    // round-14: the remaining r13 operators (r13 verdict item 3) —
    // temperature sampling exercises 10×-wider per-source token totals
    // against the same 3800 budget (deeper water-fill), segment dedup is
    // the map-only projection at 10× rows; both run the Catalog gate
    // verbatim (salting changes token SPELLING, not counts or positions)
    "sample_temperature", "text_dedup_segments",
    // round-14: in-engine classifier training at 10× — the vocab census,
    // both epoch aggregates, and the final margins replay verbatim over
    // the salted corpus (labels ride lang, untouched by salting) — and
    // cross-corpus LM scoring (model on the 'en' side, smoothed floor on
    // unseen transitions), also a verbatim replay
    "text_quality_classifier", "text_lm_cross_score",
    // round-14: persisted-index simhash at 10× — the brute-force cross
    // oracle recomputes 50k+7k signatures and checks all pairs
    "dedup_simhash_incremental",
    // round-14: TF-IDF family at 10×. Cosine: per-copy salting keeps
    // shingles copy-local, so candidates stay within copies; the oracle
    // replays PER COPY with the global N substituted for the idf count
    // (the full-corpus pair join spills past the box's disk in DuckDB —
    // sf1_check.py's editdist protocol; N grows 10× while per-copy df
    // doesn't, so idf saturates at its cap — the documented quantization,
    // identical on both sides). Contamination rate: the % 17 bench slice
    // lands on different docs per copy — irrelevant, the oracle replays
    // the same predicate. Keywords: salting changes spelling, not counts.
    "dedup_tfidf_cosine", "text_contamination_rate", "text_keywords",
    // round-14: the two Gopher repetition-coverage metrics — pure per-row
    // projections whose within-doc repeats the per-copy salt PRESERVES
    // (the salt is constant within a copy), so the oracles replay verbatim
    "text_dup_ngram_coverage", "text_top_ngram_coverage",
    // round-15: KMV distinct sketch — per-copy salting makes the 10×
    // distinct-token census 10× wider; the oracle replays the exact
    // sketch. (interval_overlap_join is deliberately NOT swept: parity
    // halves MIX copies on the shared time axis, so its output is
    // quadratic in users by design — the operator's cost is output-bound,
    // not a scaling defect.)
    "text_distinct_sketch", "sample_bottomk")

  /** Embedding gates: the two SemDeDup gates replay the Catalog entry
    * verbatim; the three retrieval gates mirror the Catalog entry's code
    * with the shortlist SCALED to the corpus (2000 = the same 10% ratio
    * the sf0.1 gate uses; nprobe unchanged at 8). Measured: the unscaled
    * shortlist (200 = 1% at 20k vectors) drops 1–2 of the exact top-10 —
    * the recall decay the `ivfNeedsRetrain` drift census exists to
    * surface — while the 10%-ratio run is exact, so shortlist ∝ corpus is
    * the documented sweep protocol. The hybrid gate swaps the query terms
    * for their copy-0 salted forms ("join_00" …) so the lexical ranking
    * stays populated. */
  val embGates = Seq("dedup_semantic", "dedup_semantic_incremental",
    "ann_topk_pq", "ann_topk_ivfpq", "hybrid_topk")

  /** SCD2 engine gates (round-9 verdict item 6): the flagship CDC path at
    * 10× — ten copies of the sf0.1 customer at stride 100,000,000, so the
    * batch-2 inserts (+10,000,000) land in the gap BELOW the next copy and
    * pk ranges stay disjoint by construction (a 10M stride would collide
    * copy c's inserts with copy c+1's keys and make the delta batch carry
    * duplicate pks). The mod-class predicates (%97/%89/%83) hit different
    * rows per copy than at sf0.1 — irrelevant, the oracle replays the same
    * predicates over the same synthesized table. Phases run through the
    * real Synchronizer exactly as Scenarios.deltaDest/strangeDest build
    * them, but invoked directly so each phase's wall time is observable. */
  val scd2Gates = Seq("scd2_history", "scd2_latest_pk", "scd2_strange_inline")

  private val out = "/root/repo/tmp/sf1"
  private val outDir = "/root/repo/tmp/sf1-out"

  def main(args: Array[String]): Unit = {
    val spark = SparkSuite.spark
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    args.headOption match {
      case Some("emb") => runEmb(spark)
      case Some("scd2") => runScd2(spark)
      case Some("dv") => runDv(spark)
      case Some("foreign") => runForeign(spark)
      case Some("graph") => runGraph(spark)
      case Some("streaming") => runStreaming(spark)
      case Some("events") => runEvents(spark)
      // any other argument names ONE Catalog gate, run against the
      // already-synthesized corpora (run its sweep first): adds a gate to
      // an existing sweep without paying the full drive again
      case Some(gate) => runGate(spark, gate)
      case None => runDocs(spark)
    }
  }

  /** Run one Catalog gate over the synthesized corpora and dump its output. */
  private def runGate(spark: SparkSession, g: String): Unit = {
    val t0 = System.nanoTime()
    graft.queries.Catalog.queries(g)(spark, out)
      .write.mode("overwrite").parquet(s"$outDir/$g")
    graft.operators.Dedup.releaseIntermediates()
    println(f"GATE $g ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"rows=${spark.read.parquet(s"$outDir/$g").count()}")
  }

  /** Event-analytics sweep at 10× (round-15, r14 verdict item 3): ten
    * copies of the sf0.1 events with user_id stride 100M (disjoint users,
    * so per-key semantics — funnel chains, cohorts, per-user lead windows
    * — stay copy-local by construction) and event_id → id·10 + cp (a
    * MONOTONE injection, so within-copy tie-break order is preserved and
    * every oracle window replays verbatim over the synthesized table).
    * Timestamps are untouched: copies share the time axis, which is the
    * weak-scaling shape (10× users over the same range — funnel's
    * shrinking-survivor joins and retention's distinct grow 10×, the
    * |buckets|² result does not). The gates run the Catalog entries
    * verbatim; `tools/sf1_check.py events` replays their oracles over the
    * synthesized events view. Also runs streaming_clean_ingest over the
    * 10× salted documents (the AvailableNow contamination drain at 10× —
    * grams are copy-salted so the bench InSet behaves per-copy, and the
    * oracle replays the same predicate). */
  private def runEvents(spark: SparkSession): Unit = {
    val e0 = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    val copies = spark.range(0, 10).select(col("id").as("cp"))
    e0.crossJoin(broadcast(copies))
      .select((col("event_id") * 10L + col("cp")).as("event_id"),
        col("ts"),
        (col("user_id") + col("cp") * 100000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    println(s"event corpus rows=${spark.read.parquet(s"$out/events.parquet").count()}")
    Seq("event_funnel", "event_funnel_incremental", "event_funnel_window",
      "event_funnel_rates", "event_rate_features", "streaming_funnel_ingest",
      "streaming_retention_ingest", "asof_join_forward",
      "event_retention", "event_retention_incremental", "event_retention_rates",
      "streaming_transitions_ingest",
      "event_transitions", "event_transitions_2step", "event_transition_rates",
      "event_transitions_incremental", "sessionize",
      "event_active_users", "event_active_users_incremental",
      "event_stickiness", "event_active_users_sketch",
      "streaming_active_users_ingest", "asof_join_nearest",
      "event_sessionize_incremental", "streaming_sessions_ingest",
      "streaming_quantiles_ingest",
      // round-16b: HLL actives/maintainer + gap-fill — oracles replay
      // verbatim (disjoint users per copy; registers/grids are copy-local)
      "event_active_users_hll", "streaming_hll_ingest",
      "timeseries_gapfill", "timeseries_interpolate",
      "event_cohort_ltv", "event_audience_overlap",
      "timeseries_gapfill_incremental", "timeseries_change_ratio",
      "event_audience_overlap_incremental",
      "event_attribution_linear", "agg_hll_cube",
      "streaming_gapfill_ingest").foreach(runGate(spark, _))
    synthDocs(spark)
    runGate(spark, "streaming_clean_ingest")
  }

  /** Streaming table source at 10× (round-11): the 1.5M-row synthesized
    * customer streamed through the `graft-table` source — an AvailableNow
    * snapshot drain of the five-copy v0, then five appended commits
    * drained incrementally under `maxCommitsPerTrigger = 3` (two
    * micro-batches), resuming from the same checkpoint. The phase walls
    * pin the scale claim: the incremental drain costs O(new commits), not
    * O(table) — offset/commit resolution never rescans v0. The sink must
    * reassemble the full corpus exactly; `tools/sf1_check.py streaming`
    * diffs it against the synthesized customer in DuckDB. */
  private def runStreaming(spark: SparkSession): Unit = {
    val c0 = spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
    val copies = spark.range(0, 10).select(col("id").as("cp"))
    c0.crossJoin(broadcast(copies))
      .select((col("c_custkey") + col("cp") * 100000000L).as("c_custkey"),
        col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    val corpus = spark.read.parquet(s"$out/customer.parquet")
    println(s"customer corpus rows=${corpus.count()}")
    def phase(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"PHASE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val src = java.nio.file.Files.createTempDirectory("sf1stream-src").toString
    val sink = java.nio.file.Files.createTempDirectory("sf1stream-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sf1stream-ckpt").toString
    val t = new graft.store.VersionedTable(spark, src)
    val stride = 100000000L
    phase("append_v0")(
      t.append(corpus.filter(col("c_custkey") < 5L * stride)): Unit)
    def drain(label: String): Unit = phase(label) {
      val q = spark.readStream.format("graft-table").option("path", src)
        .option("maxCommitsPerTrigger", "3")
        .load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain("snapshot_drain")
    phase("append_5_commits")((5 until 10).foreach(c =>
      t.append(corpus.filter(col("c_custkey").between(
        c * stride, (c + 1) * stride - 1))): Unit))
    drain("incremental_drain")
    val got = spark.read.parquet(sink)
    require(got.count() == corpus.count(),
      s"sink must reassemble the corpus: ${got.count()} vs ${corpus.count()}")
    got.write.mode("overwrite").parquet(s"$outDir/streaming_reassembly")
    println(s"GATE streaming_reassembly rows=" +
      spark.read.parquet(s"$outDir/streaming_reassembly").count())
  }

  /** Round-11 operator sweep: integer-exact PageRank over the 10× near-dup
    * graph (the Catalog gate fn verbatim — per-copy token salting confines
    * pairs within copies, so the 10× graph is ten disjoint copies of the
    * sf0.1 graph and the centrality recurrence runs over 10× nodes/edges)
    * and BM25 top-k with copy-salted query terms spanning three copies
    * (N, TL, and every df shift 10×; the cross-copy terms make one ranking
    * compete across copy sub-corpora). `tools/sf1_check.py graph` replays
    * both oracles over the synthesized corpus. */
  private def runGraph(spark: SparkSession): Unit = {
    synthDocs(spark)
    def run(g: String)(body: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      body.write.mode("overwrite").parquet(s"$outDir/$g")
      graft.operators.Dedup.releaseIntermediates()
      println(f"GATE $g ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"rows=${spark.read.parquet(s"$outDir/$g").count()}")
    }
    run("graph_pagerank")(
      graft.queries.Catalog.queries("graph_pagerank")(spark, out))
    run("text_bm25_topk")(
      graft.operators.TextCorpus.bm25TopK(
        spark.read.parquet(s"$out/documents.parquet"), "doc_id", "text",
        Seq("merge_00", "window_33", "spark_77"), 10))
  }

  /** Foreign-writer migration path at 10× (round-11): full SCD2 load into
    * a graft destination (mirror publishes `_delta_log`), STRIP the graft
    * log — the stripped table is now exactly what a migrating
    * odbc2deltalake deployment hands over — then run the batch-2 delta
    * load THROUGH [[graft.store.ForeignDeltaTable]] (pk state rebuilt from
    * history, native Delta JSON commits) and read the combined history
    * back through the pure Delta log. `tools/sf1_check.py foreign` replays
    * the `store_delta_writer` oracle over the synthesized corpus. */
  private def runForeign(spark: SparkSession): Unit = {
    import graft.queries.Scenarios
    import graft.scd2.Synchronizer
    import graft.sources.DataFrameSource
    val c0 = spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
    val copies = spark.range(0, 10).select(col("id").as("cp"))
    c0.crossJoin(broadcast(copies))
      .select((col("c_custkey") + col("cp") * 100000000L).as("c_custkey"),
        col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    println(s"customer corpus rows=${spark.read.parquet(s"$out/customer.parquet").count()}")

    def phase(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"PHASE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val pk = Seq("c_custkey")
    val cfg = WriteConfig(deltaCol = Some("ver"))
    val dest = java.nio.file.Files.createTempDirectory("sf1foreign").toString
    phase("full_load")(new Synchronizer(spark,
      new DataFrameSource(Scenarios.batch1(spark, out), pk), dest, cfg).execute(): Unit)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    phase("strip_graft_log")(Seq("delta/_graft_log", "delta_load", "meta", "log")
      .foreach(p => rm(new java.io.File(s"$dest/$p"))))
    phase("foreign_delta_load") {
      val w = new Synchronizer(spark,
        new DataFrameSource(Scenarios.batch2(spark, out), pk), dest, cfg)
      require(w.dest.delta.isInstanceOf[graft.store.ForeignDeltaTable],
        "stripped destination must engage the foreign-Delta writer")
      w.execute(): Unit
    }
    phase("external_readback") {
      graft.store.DeltaTable.read(spark, s"$dest/delta")
        .drop(graft.SystemCols.timestamp)
        .write.mode("overwrite").parquet(s"$outDir/store_delta_writer")
    }
    println(s"GATE store_delta_writer rows=" +
      spark.read.parquet(s"$outDir/store_delta_writer").count())
  }

  /** Deletion-vector DELETE at 10× lineitem (round-10): two DV deletes over
    * a two-dir table synthesized from ten key-shifted copies of the sf0.1
    * lineitem — the phase walls show delete cost tracks MATCHED-BITMAP
    * bytes, not table bytes, and the data-file set is asserted untouched.
    * The gate dump replays `store_dv_delete`'s aggregate over the final
    * snapshot; `tools/sf1_check.py dv` replays its DuckDB oracle over the
    * synthesized corpus. */
  private def runDv(spark: SparkSession): Unit = {
    val li0 = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    val copies = spark.range(0, 10).select(col("id").as("cp"))
    li0.crossJoin(broadcast(copies))
      .select((col("l_orderkey") + col("cp") * 100000000L).as("l_orderkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val corpus = spark.read.parquet(s"$out/lineitem.parquet")
    println(s"lineitem corpus rows=${corpus.count()}")

    def phase(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"PHASE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    def bytesUnder(p: java.io.File): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        else f.length
      if (p.exists) walk(p) else 0L
    }
    val half = corpus.agg(max(col("l_orderkey"))).head().getLong(0) / 2
    val dest = java.nio.file.Files.createTempDirectory("sf1dv").toString
    val t = new graft.store.VersionedTable(spark, dest)
    phase("append_lo")(t.append(corpus.filter(col("l_orderkey") <= half)): Unit)
    phase("append_hi")(t.append(corpus.filter(col("l_orderkey") > half)): Unit)
    val dataBefore = bytesUnder(new java.io.File(dest, "data"))
    phase("dv_delete_quantity")(t.delete(col("l_quantity") >= 45): Unit)
    phase("dv_delete_suppkey")(t.delete(col("l_suppkey") % 7 === 0): Unit)
    require(bytesUnder(new java.io.File(dest, "data")) == dataBefore,
      "merge-on-read contract violated: a data file changed")
    println(s"data bytes=$dataBefore (unchanged) dv bytes=" +
      bytesUnder(new java.io.File(dest, "deletion_vectors")))
    val agg = t.read()
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("long")).as("qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
        sum(col("l_orderkey")).as("key_sum"))
    agg.write.mode("overwrite").parquet(s"$outDir/store_dv_delete")
    println(s"GATE store_dv_delete rows=" +
      spark.read.parquet(s"$outDir/store_dv_delete").count())
  }

  private def runScd2(spark: SparkSession): Unit = {
    import graft.queries.Scenarios
    import graft.scd2.Synchronizer
    import graft.sources.DataFrameSource
    val c0 = spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
    val copies = spark.range(0, 10).select(col("id").as("cp"))
    c0.crossJoin(broadcast(copies))
      .select((col("c_custkey") + col("cp") * 100000000L).as("c_custkey"),
        col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    println(s"customer corpus rows=${spark.read.parquet(s"$out/customer.parquet").count()}")

    def phase(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"PHASE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val pk = Seq("c_custkey")
    val cfg = WriteConfig(deltaCol = Some("ver"))
    def sync(df: org.apache.spark.sql.DataFrame, dest: String): Unit =
      new Synchronizer(spark, new DataFrameSource(df, pk), dest, cfg).execute(): Unit

    val destD = java.nio.file.Files.createTempDirectory("sf1scd2-delta").toString
    phase("full_load")(sync(Scenarios.batch1(spark, out), destD))
    phase("delta_load_ins_upd_del")(sync(Scenarios.batch2(spark, out), destD))
    val destS = java.nio.file.Files.createTempDirectory("sf1scd2-strange").toString
    phase("strange_full_load")(sync(Scenarios.batch1(spark, out), destS))
    phase("strange_backwards_delta")(sync(Scenarios.batchStrange(spark, out), destS))

    def dump(g: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$g")
      println(s"GATE $g rows=${spark.read.parquet(s"$outDir/$g").count()}")
    }
    dump("scd2_history", Scenarios.history(spark, destD))
    dump("scd2_latest_pk", Scenarios.latestPk(spark, destD))
    dump("scd2_strange_inline", Scenarios.history(spark, destS))
  }

  /** Writes the 10× salted document corpus to `<dst>/documents.parquet`
    * (also the corpus `Profile scale` times its gates on). */
  private[graft] def synthDocs(spark: SparkSession, dst: String = out): Unit = {
    val docs0 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val copies = spark.range(0, 10).select(col("id").as("cp"))
    docs0.crossJoin(broadcast(copies))
      .select((col("doc_id") + col("cp") * 10000000L).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("cp"), col("cp")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println(s"doc corpus rows=${spark.read.parquet(s"$dst/documents.parquet").count()}")
  }

  private def runDocs(spark: SparkSession): Unit = {
    synthDocs(spark)
    gates.foreach { g =>
      val t0 = System.nanoTime()
      // containment runs the gate's exact parameterization (the shared
      // Catalog.ContainmentGate* constants — the same values the Catalog
      // entry and its DuckDB oracle interpolate, so the sweep cannot
      // silently validate a different query) but with the candidate audit
      // observation attached, so the sweep RECORDS the candidate volume
      // at 10× next to the wall time
      val obs =
        if (g == "dedup_containment" || g == "dedup_tfidf_cosine")
          Some(new org.apache.spark.sql.Observation(s"sf1-$g-cands"))
        else None
      val df = (g, obs) match {
        case ("dedup_containment", Some(o)) => graft.operators.Dedup.containmentPairs(
          spark.read.parquet(s"$out/documents.parquet"), "doc_id", "text",
          threshold = graft.queries.Catalog.ContainmentGateThreshold,
          minShingles = graft.queries.Catalog.ContainmentGateMinShingles,
          candidateObs = Some(o))
        case ("dedup_tfidf_cosine", Some(o)) => graft.operators.Dedup.tfidfCosinePairs(
          spark.read.parquet(s"$out/documents.parquet"), "doc_id", "text",
          threshold = graft.queries.Catalog.TfidfGateThreshold,
          maxDocFreq = Some(graft.queries.Catalog.TfidfGateMaxDocFreq),
          candidateObs = Some(o))
        case _ => graft.queries.Catalog.queries(g)(spark, out)
      }
      df.write.mode("overwrite").parquet(s"$outDir/$g")
      graft.operators.Dedup.releaseIntermediates()
      println(f"GATE $g ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"rows=${spark.read.parquet(s"$outDir/$g").count()}" +
        obs.fold("")(o => s" candidates=${o.get("candidates")}"))
    }
    // round-14 adapted gates (r13 verdict item 3). Phrase blocklist: the
    // gate's phrases can't occur in the salted corpus, so the sweep salts
    // them to copy 0 (the bm25/hybrid protocol — sf1_check.py applies the
    // same substitution to the oracle); hits land only in copy 0, which
    // still walks the full automaton over all 10 copies of text. Score
    // buckets: the linear score degenerates to the constant bias on salted
    // tokens, so the sweep buckets on n_chars by lang — 10×-deeper
    // per-language histograms, same integer threshold rule (custom oracle
    // in sf1_check.py).
    def run(g: String)(body: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      body.write.mode("overwrite").parquet(s"$outDir/$g")
      graft.operators.Dedup.releaseIntermediates()
      println(f"GATE $g ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"rows=${spark.read.parquet(s"$outDir/$g").count()}")
    }
    val docs = spark.read.parquet(s"$out/documents.parquet")
    run("text_phrase_blocklist")(docs.select(col("doc_id"),
      graft.functions.NativeHash.phraseMatchCount(col("text"),
        Seq("query_00 spark_00 hash_00", "scan_00 filter_00",
          "slow_00 table_00", "key_00 agg_00")).as("blocked_hits"))
      .withColumn("blocked", col("blocked_hits") > 0L))
    run("text_score_buckets")(graft.operators.TextCorpus.scoreBuckets(
      docs.select(col("doc_id"), col("lang"), col("n_chars")),
      "n_chars", "lang"))
  }

  private def runEmb(spark: SparkSession): Unit = {
    import graft.operators.{Dedup, Similarity}
    synthDocs(spark)
    val emb0 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val dim = emb0.select(size(col("embedding"))).head().getInt(0)
    val copies = spark.range(0, 10).select(col("id").cast("int").as("cp"))
    emb0.crossJoin(broadcast(copies))
      .select((col("vec_id") + col("cp") * 10000000L).as("vec_id"),
        concat(
          slice(col("embedding"), col("cp") + 1, lit(dim) - col("cp")),
          slice(col("embedding"), lit(1), col("cp"))).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    println(s"emb corpus rows=${emb.count()} dim=$dim")

    def run(g: String)(body: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      body.write.mode("overwrite").parquet(s"$outDir/$g")
      Dedup.releaseIntermediates()
      println(f"GATE $g ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"rows=${spark.read.parquet(s"$outDir/$g").count()}")
    }

    run("dedup_semantic")(
      graft.queries.Catalog.queries("dedup_semantic")(spark, out))
    run("dedup_semantic_incremental")(
      graft.queries.Catalog.queries("dedup_semantic_incremental")(spark, out))

    val qv = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    // r15: SQ8 tier at 10× — shortlist ∝ corpus (2000 = the 10% ratio),
    // same scaled-shortlist protocol as the PQ/binary siblings
    run("ann_topk_sq8")(
      Similarity.topKSq8(emb, "vec_id", "embedding", qv, 10, shortlist = 2000)
        .select("rank", "id"))
    run("ann_topk_sq8_indexed") {
      val dir = java.nio.file.Files.createTempDirectory("sf1-sq8-idx")
      Similarity.sq8Index(emb, "vec_id", "embedding")
        .write.mode("overwrite").parquet(dir.toString)
      Similarity.topKSq8Indexed(spark.read.parquet(dir.toString), emb,
        "vec_id", "embedding", qv, 10, shortlist = 2000).select("rank", "id")
    }
    run("ann_topk_pq") {
      val books = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 16, k = 16, iters = 2)
      Similarity.topKPq(emb, "vec_id", "embedding", qv, 10, books,
        m = 16, k = 16, shortlist = 2000).select("rank", "id")
    }
    // IVF geometry scales with the corpus: CONSTANT cell size (~125
    // vectors, so 160 cells at 20k = the sf0.1 gate's 16 cells at 2k) and
    // a constant probe fraction (nprobe/k = 1/2). Measured: the UNSCALED
    // geometry (16 cells, nprobe 8) missed the rank-10 id at 10× corpus —
    // a probed-breadth recall miss, the other face of the shortlist decay
    // above — while constant-cell-size scaling is exact.
    run("ann_topk_ivfpq") {
      val centroids = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 160, iters = 2)
      val books = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 16, k = 16, iters = 2)
      val dir = java.nio.file.Files.createTempDirectory("graft-sf1-ivfpq")
      Similarity.ivfPqAssign(emb, "vec_id", "embedding", centroids, books,
          m = 16, k = 16)
        .transform(Similarity.clusterForIndexWrite).write.partitionBy("cell").mode("overwrite").parquet(dir.toString)
      Similarity.topKIvfPqIndexed(spark.read.parquet(dir.toString),
          qv, 10, centroids, books, m = 16, k = 16, nprobe = 80, shortlist = 2000)
        .select("rank", "id").localCheckpoint(true)
    }
    run("hybrid_topk") {
      val corpus = spark.read.parquet(s"$out/documents.parquet")
        .join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
      Similarity.hybridTopK(corpus, "doc_id", "text", "embedding",
        Seq("join_00", "hash_00", "window_00"), qv, kTop = 10, pool = 100000)
    }
  }
}
