package graft.operators

import graft.SparkSuite

/** [[Temporal.funnel]] — earliest-qualifying-chain semantics: greedy
  * earliest is optimal, strict-after chaining, monotone nulls, and only
  * funnel entrants appear. */
class FunnelSpec extends SparkSuite {
  import spark.implicits._

  private def run(ev: Seq[(Long, String, Long)], steps: Seq[String]) =
    Temporal.funnel(ev.toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getLong(0) ->
        (Seq.tabulate(steps.size)(i => Option(r.get(i + 1)).map(_.asInstanceOf[Long])),
          r.getLong(steps.size + 1))).toMap

  test("earliest chain, partial completion, and non-entrants") {
    val ev = Seq(
      // user 1 completes A→B→C: earliest chain (10, 20, 30)
      (1L, "A", 10L), (1L, "B", 20L), (1L, "A", 15L), (1L, "C", 30L), (1L, "B", 5L),
      // user 2: B before A only — enters, never advances (B at 1 < A at 10)
      (2L, "B", 1L), (2L, "A", 10L),
      // user 3: no A at all — not in the output
      (3L, "B", 10L), (3L, "C", 20L))
    val got = run(ev, Seq("A", "B", "C"))
    assert(got(1L) == ((Seq(Some(10L), Some(20L), Some(30L)), 3L)))
    assert(got(2L) == ((Seq(Some(10L), None, None), 1L)))
    assert(!got.contains(3L))
  }

  test("equal timestamps across steps do not chain (strict after)") {
    val got = run(Seq((1L, "A", 10L), (1L, "B", 10L), (1L, "B", 11L)), Seq("A", "B"))
    assert(got(1L) == ((Seq(Some(10L), Some(11L)), 2L)))
    val strict = run(Seq((2L, "A", 10L), (2L, "B", 10L)), Seq("A", "B"))
    assert(strict(2L) == ((Seq(Some(10L), None), 1L)))
  }

  test("greedy earliest finds a chain whenever one exists") {
    // A at 5 and 50; B at 10; C at 60: greedy picks (5, 10, 60) — a later
    // A start (50) would have missed B entirely
    val got = run(Seq((1L, "A", 5L), (1L, "A", 50L), (1L, "B", 10L), (1L, "C", 60L)),
      Seq("A", "B", "C"))
    assert(got(1L)._2 == 3L)
  }

  test("retention cohorts: first-activity bucket, offsets, distinct-per-cell") {
    val ev = Seq(
      (1L, 0L), (1L, 5L), (1L, 5L), (1L, 25L), // cohort 0, active days 0,0,2
      (2L, 11L), (2L, 22L), // cohort 1, active days 1,2
      (3L, 12L)) // cohort 1, active day 1
    val got = Temporal.retentionCohorts(
      ev.toDF("user_id", "ts"), "user_id", "ts", bucketWidth = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 0L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 2L, (1L, 1L) -> 1L))
  }

  test("retention cohorts: pre-epoch timestamps floor, not truncate") {
    // ts -5 with width 10 is bucket -1 under FLOOR (SQL `//`, Python);
    // truncating DIV would put it in bucket 0 — a silent misbucket AND an
    // oracle divergence (the r14 verdict's What's-wrong #1)
    val ev = Seq(
      (1L, -5L), (1L, 5L),   // cohort -1, active buckets -1 and 0
      (2L, -20L), (2L, -11L)) // cohort -2, both events in bucket -2
    val got = Temporal.retentionCohorts(
      ev.toDF("user_id", "ts"), "user_id", "ts", bucketWidth = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((-1L, 0L) -> 1L, (-1L, 1L) -> 1L, (-2L, 0L) -> 1L))
    // exact-multiple negatives have zero remainder — no off-by-one
    val exact = Temporal.retentionCohorts(
      Seq((1L, -10L), (1L, 0L)).toDF("user_id", "ts"), "user_id", "ts", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(exact == Map((-1L, 0L) -> 1L, (-1L, 1L) -> 1L))
  }

  test("range join: pre-epoch points and intervals match brute force") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(0xF10)
    val points = (0L until 200L).map(i => (i, rnd.nextInt(2000).toLong - 1000L))
      .toDF("pid", "pts")
    val ivs = (0L until 60L).map { i =>
      val s = rnd.nextInt(2000).toLong - 1000L
      (i, s, s + rnd.nextInt(300).toLong)
    }.toDF("iid", "s", "e")
    for (bw <- Seq(7L, 100L, 100000L)) {
      val got = Temporal.rangeJoin(points, "pts", ivs, "s", "e", bw)
        .select("iid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val brute = points.crossJoin(ivs)
        .filter(col("pts") >= col("s") && col("pts") <= col("e"))
        .select("iid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.sorted == brute.sorted, s"bucketWidth=$bw")
    }
  }

  test("incremental: state + fold equals the one-shot funnel on the union") {
    val steps = Seq("A", "B", "C")
    val all = Seq(
      (1L, "A", 10L), (1L, "B", 20L), (1L, "C", 130L), // chain completes across the cut
      (2L, "B", 5L), (2L, "A", 15L), (2L, "B", 140L),  // enters batch 1, advances batch 2
      (3L, "B", 30L), (3L, "A", 150L),                 // pre-entry B, enters only in batch 2
      (4L, "A", 160L), (4L, "B", 170L), (4L, "C", 165L), // batch-2-only key, C before B
      (5L, "X", 40L))                                  // non-step events never enter
    val (b1, b2) = all.partition(_._3 <= 100L)
    def df(s: Seq[(Long, String, Long)]) = s.toDF("user_id", "event_type", "ts")
    val st = Temporal.funnelState(df(b1), "user_id", "event_type", "ts", steps)
    val folded = Temporal.funnelFold(st, df(b2), "user_id", "event_type", "ts", steps)
    val got = Temporal.funnelOf(folded).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val want = Temporal.funnel(df(all), "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(got == want)
    // a three-way fold (batch 2 cut again at ts 150) lands on the same result
    val (b2a, b2b) = b2.partition(_._3 <= 150L)
    val folded3 = Temporal.funnelFold(
      Temporal.funnelFold(st, df(b2a), "user_id", "event_type", "ts", steps),
      df(b2b), "user_id", "event_type", "ts", steps)
    assert(Temporal.funnelOf(folded3).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap == want)
    // the non-entered key 3 was CARRIED in the state (null chain) so its
    // pre-cut max_ts could gate late data — but never served
    assert(Temporal.funnelOf(st).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(st.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("incremental: empty batch and empty state both fold to identity") {
    val steps = Seq("A", "B")
    val b1 = Seq((1L, "A", 10L), (1L, "B", 20L))
    def df(s: Seq[(Long, String, Long)]) = s.toDF("user_id", "event_type", "ts")
    val st = Temporal.funnelState(df(b1), "user_id", "event_type", "ts", steps)
    val folded = Temporal.funnelFold(st, df(Nil), "user_id", "event_type", "ts", steps)
    assert(Temporal.funnelOf(folded).collect().map(_.toSeq).toSet ==
      Temporal.funnelOf(st).collect().map(_.toSeq).toSet)
    val st0 = Temporal.funnelState(df(Nil), "user_id", "event_type", "ts", steps)
    val folded0 = Temporal.funnelFold(st0, df(b1), "user_id", "event_type", "ts", steps)
    assert(Temporal.funnelOf(folded0).collect().map(_.toSeq).toSet ==
      Temporal.funnel(df(b1), "user_id", "event_type", "ts", steps)
        .collect().map(_.toSeq).toSet)
  }

  test("incremental: late data refuses loudly instead of under-counting") {
    val steps = Seq("A", "B")
    def df(s: Seq[(Long, String, Long)]) = s.toDF("user_id", "event_type", "ts")
    val st = Temporal.funnelState(df(Seq((1L, "A", 50L))),
      "user_id", "event_type", "ts", steps)
    // a batch event at ts <= the key's folded max (50) poisons the fold:
    // the earliest chain could re-route through events the state dropped
    val e = intercept[Exception] {
      Temporal.funnelFold(st, df(Seq((1L, "B", 50L))),
        "user_id", "event_type", "ts", steps).collect()
    }
    assert(e.getMessage.contains("funnelFold") ||
      Option(e.getCause).exists(_.getMessage.contains("funnelFold")),
      s"unexpected error: ${e.getMessage}")
    // a strictly-later batch for the same key is fine
    val ok = Temporal.funnelFold(st, df(Seq((1L, "B", 51L))),
      "user_id", "event_type", "ts", steps)
    assert(Temporal.funnelOf(ok).collect().head.getLong(3) == 2L)
    // late data for a key NOT in the state is not late — new keys enter
    val ok2 = Temporal.funnelFold(st, df(Seq((2L, "A", 1L))),
      "user_id", "event_type", "ts", steps)
    assert(Temporal.funnelOf(ok2).count() == 2L)
  }

  test("transition matrix: 1-step and k-step counts with total tie order") {
    val ev = Seq(
      (1L, 1L, "A", 10L), (1L, 2L, "B", 20L), (1L, 3L, "A", 30L),
      (1L, 4L, "C", 30L), // tie at 30 broken by event_id: A(3) before C(4)
      (2L, 5L, "B", 5L), (2L, 6L, "B", 6L))
      .toDF("user_id", "event_id", "event_type", "ts")
    val one = Temporal.transitionMatrix(ev, "user_id", "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(one == Map(("A", "B") -> 1L, ("B", "A") -> 1L, ("A", "C") -> 1L,
      ("B", "B") -> 1L))
    val two = Temporal.transitionMatrix(ev, "user_id", "event_type", "ts", "event_id",
      step = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(two == Map(("A", "A") -> 1L, ("B", "C") -> 1L))
  }

  test("conversion-window funnel: steps outside the anchor window don't chain") {
    val steps = Seq("A", "B", "C")
    def run(w: Long, ev: Seq[(Long, String, Long)]) =
      Temporal.funnelWithin(ev.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", steps, within = w)
        .collect().map(r => r.getLong(0) -> r.getLong(steps.size + 1)).toMap
    val ev = Seq(
      // user 1: B at anchor+5 within a 10-window, C at anchor+20 outside it
      (1L, "A", 100L), (1L, "B", 105L), (1L, "C", 120L),
      // user 2: full chain inside the window
      (2L, "A", 100L), (2L, "B", 105L), (2L, "C", 110L))
    assert(run(10L, ev) == Map(1L -> 2L, 2L -> 3L))
    // a wide window degenerates to the plain funnel
    val wide = run(1000L, ev)
    val plain = Temporal.funnel(ev.toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getLong(0) -> r.getLong(steps.size + 1)).toMap
    assert(wide == plain)
    // the anchor is the FIRST entry: a later A whose window would convert
    // does not count (monotone-in-`within`, deterministic)
    val re = Seq((1L, "A", 0L), (1L, "A", 100L), (1L, "B", 105L))
    assert(run(10L, re) == Map(1L -> 1L))
  }

  test("retention state/fold: exact under ANY split — no ordering contract") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(0xE11E)
    val ev = Seq.tabulate(400)(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(300).toLong - 150L)) // pre-epoch too
    val df = ev.toDF("user_id", "ts")
    val want = Temporal.retentionCohorts(df, "user_id", "ts", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // interleaved split (parity of the row index — late data everywhere)
    val (b1, b2) = ev.zipWithIndex.partition(_._2 % 2 == 0)
    val st = Temporal.retentionState(b1.map(_._1).toDF("user_id", "ts"),
      "user_id", "ts", 10L)
    val folded = Temporal.retentionFold(st, b2.map(_._1).toDF("user_id", "ts"),
      "user_id", "ts", 10L)
    val got = Temporal.retentionOf(folded)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // REPLAYING a batch is a no-op (distinct-union idempotence)
    val replay = Temporal.retentionFold(folded, b2.map(_._1).toDF("user_id", "ts"),
      "user_id", "ts", 10L)
    assert(replay.count() == folded.count())
    // mixed granularity refuses loudly
    val e = intercept[IllegalArgumentException] {
      Temporal.retentionFold(folded, df, "user_id", "ts", 20L)
    }
    assert(e.getMessage.contains("granularit"))
    // the fold only APPENDS: stored rows are never rewritten, and the
    // retentionFresh delta is exactly fold-minus-state (what a streaming
    // ingest commits per batch)
    assert(folded.join(st, Seq("user_id", "bucket"), "left_semi").count() == st.count())
    val fresh = Temporal.retentionFresh(st, b2.map(_._1).toDF("user_id", "ts"),
      "user_id", "ts", 10L)
    assert(fresh.join(st, Seq("user_id", "bucket"), "left_semi").count() == 0)
    assert(fresh.count() + st.count() == folded.count())
    val _ = col("user_id")
  }

  test("transition state/fold: time-split batches reproduce the one-shot matrix") {
    val ev = Seq(
      (1L, 1L, "A", 10L), (1L, 2L, "B", 20L), (1L, 3L, "A", 130L), (1L, 4L, "C", 140L),
      (2L, 5L, "B", 5L), (2L, 6L, "B", 106L),
      (3L, 7L, "C", 150L)) // key first seen in batch 2 — no bridge
      .toDF("user_id", "event_id", "event_type", "ts")
    val want = Temporal.transitionMatrix(ev, "user_id", "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    import org.apache.spark.sql.functions.col
    val (m0, f0) = Temporal.transitionState(ev.filter(col("ts") <= 100L),
      "user_id", "event_type", "ts", "event_id")
    val (m1, f1) = Temporal.transitionFold(m0, f0, ev.filter(col("ts") > 100L),
      "user_id", "event_type", "ts", "event_id")
    val got = m1.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want) // bridges A→A (key 1) and B→B (key 2) counted once
    // frontier advanced to each key's last event
    val fr = f1.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fr == Map(1L -> "C", 2L -> "B", 3L -> "C"))
    // an interleaving (not-strictly-later) batch refuses loudly
    val e = intercept[Exception] {
      Temporal.transitionFold(m1, f1,
        Seq((1L, 8L, "B", 135L)).toDF("user_id", "event_id", "event_type", "ts"),
        "user_id", "event_type", "ts", "event_id")._1.collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("transitionFold")), s"unexpected: ${e.getMessage}")
    // equal-(ts,tie) is NOT strictly later either
    val e2 = intercept[Exception] {
      Temporal.transitionFold(m1, f1,
        Seq((2L, 6L, "B", 106L)).toDF("user_id", "event_id", "event_type", "ts"),
        "user_id", "event_type", "ts", "event_id")._1.collect()
    }
    assert(msgs(e2).exists(_.contains("transitionFold")))
    // a third fold keeps chaining (C→A bridge for key 3)
    val (m2, _) = Temporal.transitionFold(m1, f1,
      Seq((3L, 9L, "A", 200L)).toDF("user_id", "event_id", "event_type", "ts"),
      "user_id", "event_type", "ts", "event_id")
    val got2 = m2.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got2(("C", "A")) == 1L)
  }

  test("trailing features: inclusive range frame, tie symmetry, integral-only values") {
    val ev = Seq(
      (1L, 10L, 5L), (1L, 15L, 7L), (1L, 15L, 1L), // tie at 15: both see both
      (1L, 26L, 2L),  // 26-10=16 > 15 → window [11,26] holds the two 15s + itself
      (2L, 100L, 9L))
      .toDF("user_id", "ts", "cents")
    val got = Temporal.trailingFeatures(ev, "user_id", "ts", window = 15L,
        valueCol = Some("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(got((1L, 10L, 5L)) == ((1L, 5L)))
    assert(got((1L, 15L, 7L)) == ((3L, 13L))) // ties see each other symmetrically
    assert(got((1L, 15L, 1L)) == ((3L, 13L)))
    assert(got((1L, 26L, 2L)) == ((3L, 10L))) // the ts=10 event aged out
    assert(got((2L, 100L, 9L)) == ((1L, 9L)))
    // window 0 still counts same-timestamp events (inclusive frame)
    val z = Temporal.trailingFeatures(ev, "user_id", "ts", window = 0L)
      .filter(org.apache.spark.sql.functions.col("ts") === 15L)
      .select("trail_count").collect().map(_.getLong(0)).toSeq
    assert(z == Seq(2L, 2L))
    // a double value column refuses loudly (integer-exactness house rule)
    val e = intercept[IllegalArgumentException] {
      Temporal.trailingFeatures(ev.withColumn("d",
        org.apache.spark.sql.functions.lit(1.5d)), "user_id", "ts", 10L, Some("d"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("interval overlap join: each overlapping pair exactly once, pre-epoch too") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(0x1E44)
    val A = (0L until 80L).map { i =>
      val s = rnd.nextInt(2000).toLong - 1000L
      (i, s, s + rnd.nextInt(400).toLong)
    }
    val B = (0L until 70L).map { i =>
      val s = rnd.nextInt(2000).toLong - 1000L
      (i, s, s + rnd.nextInt(400).toLong)
    }
    val a = A.toDF("aid", "as", "ae")
    val b = B.toDF("bid", "bs", "be")
    for (bw <- Seq(13L, 250L, 100000L)) {
      val got = Temporal.intervalJoin(a, "as", "ae", b, "bs", "be", bw)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val brute = for {
        (ai, s1, e1) <- A; (bi, s2, e2) <- B
        if s1 <= e2 && s2 <= e1
      } yield (ai, bi)
      // SEQ compare: exactly once per qualifying pair (max-start bucket rule)
      assert(got.sorted == brute.sorted, s"bucketWidth=$bw")
    }
    val e = intercept[IllegalArgumentException](
      Temporal.intervalJoin(a, "as", "ae", b.withColumnRenamed("bid", "aid"),
        "bs", "be", 10L))
    assert(e.getMessage.contains("disjoint"))
    val _ = col("aid")
  }

  test("KMV distinct sketch: exact below k, deterministic estimate at k, mergeable") {
    import org.apache.spark.sql.functions.{col, expr}
    // group "small": 40 distinct (< k) → exact; group "big": 5000 distinct
    val rows = (0L until 40L).map(i => ("small", i)) ++
      (0L until 20000L).map(i => ("big", i % 5000))
    val df = rows.toDF("g", "v")
      .select(col("g"), expr("CAST(conv(substr(md5(CAST(v AS STRING)), 1, 15), 16, 10) AS BIGINT)").as("h"))
    val bound = 1152921504606846976L
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.TextCorpus.distinctSketch(d, "g", "h", k = 256, hashBound = bound)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = run(df)
    assert(got("small")._1 == 40L && got("small")._3 == 40L) // exact below k
    val (nk, _, est) = got("big")
    assert(nk == 256L)
    // KMV error ~1/sqrt(k) ≈ 6%; allow 20% in a one-shot fixture
    assert(math.abs(est - 5000L) < 1000L, s"estimate $est for 5000 true")
    // partitioning must not change the sketch (mergeable + deterministic)
    assert(run(df.repartition(13)) == got)
    assert(run(df.repartition(1)) == got)
  }

  test("funnel rates: reached counts, truncating permille, empty-entrant zero") {
    val ev = Seq((1L, "A", 1L), (1L, "B", 2L), (2L, "A", 1L), (3L, "A", 1L),
      (3L, "B", 5L), (3L, "C", 9L))
    val f = Temporal.funnel(ev.toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("A", "B", "C"))
    val got = Temporal.funnelRates(f, steps = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> ((3L, 1000L)), 2L -> ((2L, 666L)), 3L -> ((1L, 333L))))
    // zero entrants → zero permille, not a division error
    val empty = Temporal.funnel(ev.toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("Z", "A"))
    val z = Temporal.funnelRates(empty, steps = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(z == Map(1L -> ((0L, 0L)), 2L -> ((0L, 0L))))
  }

  test("retention rates: offset 0 reads 1000 permille, truncating division") {
    val ev = Seq((1L, 0L), (2L, 0L), (3L, 0L), (1L, 10L), (2L, 25L))
      .toDF("user_id", "ts")
    val got = Temporal.retentionRates(
      Temporal.retentionCohorts(ev, "user_id", "ts", 10L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map((0L, 0L) -> ((3L, 1000L)), (0L, 1L) -> ((1L, 333L)),
      (0L, 2L) -> ((1L, 333L))))
    val e = intercept[IllegalArgumentException](
      Temporal.retentionRates(ev))
    assert(e.getMessage.contains("retentionCohorts"))
  }

  test("transitions ingest batch: a replayed (appId, batchId) is a no-op on both tables") {
    import graft.SparkSuite
    val s = spark
    val mDir = java.nio.file.Files.createTempDirectory("tspec-m").toString
    val fDir = java.nio.file.Files.createTempDirectory("tspec-f").toString
    new java.io.File(mDir).delete(); new java.io.File(fDir).delete()
    def batch(rows: Seq[(Long, Long, String, Long)], id: Long): Unit =
      graft.streaming.StreamingIngest.transitionsIngestBatch(
        rows.toDF("user_id", "event_id", "event_type", "ts"), id,
        "user_id", "event_type", "ts", "event_id", mDir, fDir, "spec-app")
    batch(Seq((1L, 1L, "A", 10L), (1L, 2L, "B", 20L)), 0L)
    batch(Seq((1L, 3L, "C", 30L)), 1L)   // bridge B→C
    def matrix() = new graft.store.VersionedTable(s, mDir).read()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val m = matrix()
    assert(m == Map(("A", "B") -> 1L, ("B", "C") -> 1L))
    // foreachBatch retry: same batchId replays — must NOT double-fold or
    // trip the frontier refusal
    batch(Seq((1L, 3L, "C", 30L)), 1L)
    assert(matrix() == m)
    val f = new graft.store.VersionedTable(s, fDir).read().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(f == Map(1L -> "C"))
    // the funnel sibling has the same replay contract
    val sDir = java.nio.file.Files.createTempDirectory("tspec-s").toString
    new java.io.File(sDir).delete()
    def fbatch(rows: Seq[(Long, String, Long)], id: Long): Unit =
      graft.streaming.StreamingIngest.funnelIngestBatch(
        rows.toDF("user_id", "event_type", "ts"), id,
        "user_id", "event_type", "ts", Seq("A", "B"), sDir, "spec-app")
    fbatch(Seq((1L, "A", 10L)), 0L)
    fbatch(Seq((1L, "B", 20L)), 1L)
    fbatch(Seq((1L, "B", 20L)), 1L) // replay: no double-fold, no refusal
    val served = Temporal.funnelOf(
      new graft.store.VersionedTable(s, sDir).read()).collect()
    assert(served.length == 1 && served.head.getLong(3) == 2L)
    val _ = SparkSuite
  }

  test("sessions ingest batch: replay is a no-op, assignments stay exactly-once") {
    val s = spark
    import s.implicits._
    val aDir = java.nio.file.Files.createTempDirectory("sspec-a").toString
    val fDir = java.nio.file.Files.createTempDirectory("sspec-f").toString
    new java.io.File(aDir).delete()
    new java.io.File(fDir).delete()
    def batch(rows: Seq[(Long, Long, Long)], id: Long): Unit =
      graft.streaming.StreamingIngest.sessionsIngestBatch(
        rows.toDF("u", "eid", "ts"), id,
        "u", "ts", 30L, "eid", aDir, fDir, "spec-app")
    batch(Seq((1L, 1L, 10L), (1L, 2L, 100L)), 0L) // sessions 0 | 1
    batch(Seq((1L, 3L, 105L), (2L, 4L, 7L)), 1L)  // merges into 1; new key
    def assigned() = new graft.store.VersionedTable(s, aDir).read()
      .collect().map(r => r.getAs[Long]("eid") -> r.getAs[Long]("session_idx")).toMap
    val a = assigned()
    assert(a == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    // foreachBatch retry: same batchId — no duplicate assignment rows, no
    // frontier double-advance, no strictly-later refusal
    batch(Seq((1L, 3L, 105L), (2L, 4L, 7L)), 1L)
    assert(assigned() == a)
    assert(new graft.store.VersionedTable(s, aDir).read().count() == 4L)
    val f = new graft.store.VersionedTable(s, fDir).read().collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(f == Map(1L -> 1L, 2L -> 0L)) // last session idx per key
  }

  test("transition rates: rows normalize to their from-row total, truncating") {
    val ev = Seq(
      (1L, 1L, "A", 1L), (1L, 2L, "B", 2L), (1L, 3L, "A", 3L), (1L, 4L, "C", 4L),
      (2L, 5L, "A", 1L), (2L, 6L, "B", 2L))
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = Temporal.transitionRates(
      Temporal.transitionMatrix(ev, "user_id", "event_type", "ts", "event_id"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // A→B twice, A→C once (A row total 3); B→A once (B row total 1)
    assert(got == Map(("A", "B") -> ((2L, 666L)), ("A", "C") -> ((1L, 333L)),
      ("B", "A") -> ((1L, 1000L))))
    val e = intercept[IllegalArgumentException](Temporal.transitionRates(ev))
    assert(e.getMessage.contains("transitionMatrix"))
  }

  test("duplicate step names refuse loudly") {
    val e = intercept[IllegalArgumentException] {
      Temporal.funnel(Seq((1L, "A", 1L)).toDF("u", "t", "ts"), "u", "t", "ts",
        Seq("A", "A"))
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("sessionize fold: cross-cut merge, index continuity, new keys, refusals") {
    def df(s: Seq[(Long, Long, Long)]) = s.toDF("u", "eid", "ts")
    // user 1: sessions (10,20 | 100) in batch 1; batch 2 continues 100's
    // session at 105 (gap 5 <= 30) then opens another at 200.
    // user 2 is new in batch 2.
    val b1 = Seq((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 100L))
    val b2 = Seq((1L, 4L, 105L), (1L, 5L, 200L), (2L, 6L, 7L))
    val (a1, f1) = Temporal.sessionizeState(df(b1), "u", "ts",
      maxGap = 30L, tieBreak = "eid")
    val (a2, _) = Temporal.sessionizeFold(f1, df(b2), "u", "ts",
      maxGap = 30L, tieBreak = "eid")
    val got = a1.unionByName(a2).collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap // eid -> session_idx
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, // batch 1
      4L -> 1L, // merges into the frontier session
      5L -> 2L, // next consecutive index
      6L -> 0L)) // new key starts at 0
    // identity vs one-shot on the aggregated shape
    val oneShot = Temporal.sessionize(df(b1 ++ b2), "u", "ts", 30L, "eid")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val inc = a1.unionByName(a2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(inc == oneShot)
    // an interleaved (not strictly later) batch refuses loudly
    val e = intercept[Exception] {
      Temporal.sessionizeFold(f1, df(Seq((1L, 9L, 50L))), "u", "ts",
        30L, "eid")._1.collect()
    }
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("sessionizeFold")) ||
        mentions(t.getCause))
    assert(mentions(e))
    // __-prefixed batch columns refuse
    intercept[IllegalArgumentException] {
      Temporal.sessionizeFold(f1,
        Seq((1L, 9L, 500L, "x")).toDF("u", "eid", "ts", "__last_ts"),
        "u", "ts", 30L, "eid")
    }
  }
}
