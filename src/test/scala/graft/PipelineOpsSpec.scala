package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Graph, Similarity, TextCorpus}
import graft.multimodal.Multimodal

/** Unit specs for the training-data-pipeline operators (dedup, similarity,
  * text analysis, multimodal plumbing) over small hand-built fixtures with
  * known answers. */
class PipelineOpsSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  test("text functions: tokens, fingerprint, quality, langid") {
    val df = docs(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "the  QUICK   brown fox jumps over the lazy dog"), // ws+case variant
      (3L, "a b"),
      (4L, "der Hund ist nicht der einzige und das ist gut"))
    val out = df.select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.qualityLabel(col("text")).as("q"),
      TextFunctions.langId(col("text")).as("lang")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 9)
    assert(out(2L).getLong(1) == 9) // normalization collapses whitespace
    assert(out(1L).getString(2) == out(2L).getString(2)) // same fingerprint
    assert(out(3L).getString(3) == "too_short")
    assert(out(1L).getString(3) == "ok")
    assert(out(1L).getString(4) == "en")
    assert(out(4L).getString(4) == "de")
  }

  test("exact dedup groups whitespace/case variants") {
    val df = docs(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different text"))
    val groups = Dedup.exact(df, "doc_id", "text").collect()
    assert(groups.length == 2)
    val dup = groups.find(_.getAs[Long]("dupes") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds near-duplicates and skips dissimilar docs") {
    val base = "the cat sat on the mat and looked at the moon while birds sang softly in the trees near the river bank at dusk"
    val near = base.replace("softly", "loudly") // one token differs
    val far = "completely unrelated content about databases and distributed query execution engines with columnar storage formats"
    val df = docs((1L, base), (2L, near), (3L, far))
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // the hot-bucket cap: at maxBucketSize = 1 every shared bucket is
    // dropped, so not even the near-duplicate pair survives
    assert(Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5,
      maxBucketSize = 1).count() == 0L)
  }

  test("incremental minhash vs persisted index equals batch-mode cross pairs") {
    // randomized corpus + batch of copies/mutations/novel docs: indexing
    // the corpus then deduping the batch incrementally must yield EXACTLY
    // the cross-side subset of running the pairwise operator on the union
    // (identical hashes → identical buckets; no hot-bucket caps fire here)
    val rnd = new scala.util.Random(5)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc() = Seq.fill(12 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" ")
    val corpus = (0L until 40L).map(i => (i, doc()))
    val batch = (0 until 15).map { j =>
      val (srcId, srcText) = corpus(rnd.nextInt(corpus.size))
      val text = rnd.nextInt(3) match {
        case 0 => srcText // exact copy
        case 1 => srcText.replaceFirst(words(rnd.nextInt(words.size)), "omega") // mutation
        case _ => doc() // novel
      }
      (1000L + j, text)
    }
    val corpusDf = corpus.toDF("doc_id", "text")
    val batchDf = batch.toDF("doc_id", "text")
    val dir = tmpDir("mh-idx")
    Dedup.minhashIndex(corpusDf, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val incDf = Dedup.minhashLshIncremental(batchDf, spark.read.parquet(dir),
        "doc_id", "text", threshold = 0.5)
    // plan: the index-side hot-bucket guard is a broadcast anti-join, and
    // no join degrades to a cartesian or nested loop
    val plan = incDf.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    val inc = incDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val unionPairs = Dedup.minhashLshPairs(
        corpusDf.unionByName(batchDf), "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(p => p._1 < 1000L && p._2 >= 1000L).toSet
    assert(inc == unionPairs)
    assert(inc.nonEmpty) // the planted copies guarantee at least one pair
  }

  test("incremental minhash enforces build params and excludes self-pairs on re-ingest") {
    // one-token tail edit: 6 shingles each, 5 shared → J = 5/7 ≈ 0.714
    val corpusDf = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota")).toDF("doc_id", "text")
    val dir = tmpDir("mh-idx-guard")
    Dedup.minhashIndex(corpusDf, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    // metadata survives the parquet round trip and mismatched params raise
    val e1 = intercept[IllegalArgumentException](
      Dedup.minhashLshIncremental(corpusDf, index, "doc_id", "text", bands = 8))
    assert(e1.getMessage.contains("bands"))
    val e2 = intercept[IllegalArgumentException](
      Dedup.minhashLshIncremental(corpusDf, index, "doc_id", "text",
        numHashes = 128, bands = 16))
    assert(e2.getMessage.contains("numHashes"))
    val e3 = intercept[IllegalArgumentException](
      Dedup.minhashLshIncremental(corpusDf, index, "doc_id", "text", shingleN = 5))
    assert(e3.getMessage.contains("shingleN"))
    // re-ingest of the EXACT same batch (overlapping ids): self-pairs are
    // excluded structurally; the genuine cross-doc near-dup (1↔2 share
    // half their shingles) still surfaces in both directions of the id
    // roles — never as id_a == id_b
    val obs = org.apache.spark.sql.Observation()
    val rows = Dedup.minhashLshIncremental(corpusDf, index, "doc_id", "text",
        threshold = 0.3, candidateObs = Some(obs))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall { case (a, b) => a != b }, rows.toSeq)
    assert(rows.toSet == Set((1L, 2L), (2L, 1L)))
    // the audit counter saw the deduped candidate volume
    assert(obs.get("candidates").asInstanceOf[Long] == 2L)
  }

  test("direct n-gram jaccard: exact per-mille, total recall, threshold cut") {
    val base = "the cat sat on the mat and looked at the moon while birds sang softly in the trees near the river bank at dusk"
    val near = base.replace("softly", "loudly")
    val far = "completely unrelated content about databases and distributed query execution engines with columnar storage formats"
    val df = docs((1L, base), (2L, near), (3L, far))
    val rows = Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows.keySet == Set((1L, 2L)))
    // exact value: 24 tokens → 22 distinct shingles each (all distinct),
    // one-token edit breaks 3 shingles → inter 19, union 25
    assert(rows((1L, 2L)) == 19L * 1000 / 25)
    // the same pair must clear the doc-frequency guard when it is loose
    val capped = Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.3,
      maxDocFreq = Some(2)).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("ngram jaccard prefix filter: equals brute force on randomized docs") {
    // randomized corpus with planted mutation clusters probes the prefix
    // boundary (|s| - ceil(t|s|) + 1) across doc lengths incl. <= n tokens
    val rnd = new scala.util.Random(0xBADC0DE)
    val vocab = Vector.tabulate(120)(i => s"w$i")
    def doc(len: Int): String = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = Seq.tabulate(12)(_ => doc(3 + rnd.nextInt(40)))
    val rows = bases.zipWithIndex.flatMap { case (b, i) =>
      val toks = b.split(" ")
      val mutated = toks.updated(rnd.nextInt(toks.length), "MUT").mkString(" ")
      Seq((i * 10L, b), (i * 10L + 1, mutated), (i * 10L + 2, b)) // near + exact dup
    }
    val df = rows.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.6, 0.9)) {
      val fast = Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // brute force: exact jaccard over ALL pairs
      val sh = TextFunctions.shingleSets(df, "doc_id", "text", 3)
      val brute = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .crossJoin(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
        .filter(col("id_a") < col("id_b"))
        .withColumn("j", Dedup.jaccardX1000(col("sh_a"), col("sh_b")))
        .filter(col("j") >= (t * 1000).toLong)
        .select("id_a", "id_b", "j")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(fast == brute, s"threshold $t: fast ${fast.size} vs brute ${brute.size}")
    }
  }

  test("simhash verified pairs: 8-chunk banding + jaccard verify") {
    val base = "spark catalyst optimizer pushes filters below joins for efficient scans of columnar parquet data files at scale"
    val df = docs((1L, base), (2L, base), (3L, base + " mostly extra"), (4L, "zebra xylophone quartz"))
    val out = Dedup.simhashVerifiedPairs(df, "doc_id", "text",
      maxHamming = 7, threshold = 0.9, numChunks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet.contains((1L, 2L)))
    assert(out((1L, 2L)) == 1000L) // identical docs: exact jaccard 1.0
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("sorted-intersect kernel equals array_intersect set semantics") {
    val rnd = new scala.util.Random(0xCAFE)
    // random long arrays WITH duplicates and empties: the kernel must match
    // size(array_intersect(...)) exactly (duplicates count once)
    val rows = (0 until 200).map { i =>
      def arr() = Seq.fill(rnd.nextInt(30))(rnd.nextInt(20).toLong).sorted
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
    val bad = df.select(
        graft.functions.NativeHash.sortedIntersectCount(col("a"), col("b")).as("k"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .filter(col("k") =!= col("ref")).count()
    assert(bad == 0L)
  }

  test("jaccard is exact and symmetric-free (a<b ordering)") {
    val df = docs((1L, "a b c d e f"), (2L, "a b c d e g"))
    val j = df.select(Dedup.jaccardX1000(
      TextFunctions.shingleSet(col("text"), 3),
      TextFunctions.shingleSet(col("text"), 3)).as("j")).head().getLong(0)
    assert(j == 1000L) // self-jaccard
  }

  test("simhash: identical docs share signatures, near docs are close") {
    val base = "spark catalyst optimizer pushes filters below joins for efficient scans"
    val df = docs((1L, base), (2L, base), (3L, base + " mostly"), (4L, "zebra xylophone quartz"))
    val sigs = Dedup.simhashed(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) < hamming(sigs(1L), sigs(4L)))
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("cosine top-k brute force ranks by similarity with deterministic ties") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(1f, 0f, 0f, 0f))) // exact duplicate of query
    val df = vecs.toDF("vec_id", "embedding")
    val top = Similarity.topKBruteForce(df, "vec_id", "embedding",
      Seq(1f, 0f, 0f, 0f), 3).collect()
    assert(top.map(_.getAs[Long]("id")).toSeq == Seq(0L, 3L, 1L)) // ties → id asc
    assert(top.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
  }

  test("IVF: probing the query's cell finds the exact nearest neighbour") {
    // two well-separated clusters around (1,0,..) and (0,1,..)
    val vecs = (0L until 20L).map { i =>
      val base = if (i < 10) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      (i, base.zipWithIndex.map { case (v, j) => v + (i % 5) * 0.01f * (j + 1) })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(df, "vec_id", "embedding", k = 2, iters = 3)
    assert(centroids.size == 2)
    val q = Array(0.95f, 0.05f, 0f, 0f)
    val ivf = Similarity.topKIvf(df, "vec_id", "embedding", q.toSeq, 3, centroids, nprobe = 1)
      .collect().map(_.getAs[Long]("id")).toSeq
    val brute = Similarity.topKBruteForce(df, "vec_id", "embedding", q.toSeq, 3)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(ivf == brute) // cluster-1 queries need only cluster-1's cell
  }

  test("IVF persisted index: cell-partitioned parquet round-trip, pruned probe") {
    val vecs = (0L until 40L).map { i =>
      val base = if (i < 20) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      (i, base.zipWithIndex.map { case (v, j) => v + (i % 5) * 0.01f * (j + 1) })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(df, "vec_id", "embedding", k = 2, iters = 3)
    // build once, persist partitioned by cell (the 100 TB layout: probes
    // prune to their cells' files at the source)
    val idxDir = tmpDir("graft-ivf-idx")
    Similarity.ivfAssign(df, "vec_id", "embedding", centroids)
      .transform(Similarity.clusterForIndexWrite).write.partitionBy("cell").mode("overwrite").parquet(idxDir)
    val index = spark.read.parquet(idxDir)
    val q = Seq(0.95f, 0.05f, 0f, 0f)
    val fromIndex = Similarity.topKIvfIndexed(index, q, 3, centroids, nprobe = 1)
      .collect().map(_.getAs[Long]("id")).toSeq
    val brute = Similarity.topKBruteForce(df, "vec_id", "embedding", q, 3)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(fromIndex == brute)
    // the probe prunes partitions: only the queried cell's files are listed
    val probe = Similarity.topKIvfIndexed(index, q, 3, centroids, nprobe = 1)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"))
  }

  test("bigram LM score: exact integer statistic matches hand computation") {
    // corpus: d1 "a b a", d2 "a b", d3 "c"
    // bigrams: d1 (a,b),(b,a); d2 (a,b); c2: (a,b)=2, (b,a)=1
    // histories: h(a)=2, h(b)=1; vocab V=3
    // p(a,b) = (2+1)*1e6 div (2+3) = 600000
    // p(b,a) = (1+1)*1e6 div (1+3) = 500000
    // d1: (600000+500000) div 2 = 550000; d2: 600000; d3: no bigrams
    val docsDf = Seq((1L, "a b a"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val got = graft.operators.TextCorpus.bigramLmScore(docsDf, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 550000L), (2L, 1L, 600000L)))
    // the rare transition (b,a) scores d1 BELOW the all-common d2 —
    // the rank-ordering signal an LM filter cuts on
    Dedup.releaseIntermediates()
  }

  test("bigramLmScoreAgainst: cross-corpus model, unseen floor, ref==target reduction") {
    // ref model: bigrams (a,b)x2, (b,a)x1; h(a)=2, h(b)=1; V=2
    // p(a,b) = 3*1e6 div 4 = 750000 ; p(b,a) = 2*1e6 div 3 = 666666
    // unseen w1 seen (b,c): (0+1)*1e6 div (1+2) = 333333
    // unseen w1 unseen (c,c): 1e6 div (0+2) = 500000
    val ref = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val target = Seq((10L, "a b"), (11L, "b c"), (12L, "c c"), (13L, "x")).toDF("doc_id", "text")
    val got = graft.operators.TextCorpus
      .bigramLmScoreAgainst(ref, target, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 1L, 750000L), (11L, 1L, 333333L), (12L, 1L, 500000L)))
    // with ref == target the cross scorer IS the one-corpus scorer
    val docs = Seq((1L, "a b a"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val cross = graft.operators.TextCorpus
      .bigramLmScoreAgainst(docs, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val one = graft.operators.TextCorpus.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cross == one)
    Dedup.releaseIntermediates()
  }

  test("ivfGeometry/pqShortlist: proportional dials hold exact recall across 10x") {
    // the dials themselves: constant cell size, constant probe fraction,
    // proportional shortlist — clamped sanely at the edges
    assert(Similarity.ivfGeometry(600) == (5, 3))
    assert(Similarity.ivfGeometry(6000) == (47, 24))
    assert(Similarity.ivfGeometry(6000, probeFraction = 0.25) == (47, 12))
    assert(Similarity.ivfGeometry(10) == (1, 1)) // tiny corpus: one cell
    assert(Similarity.pqShortlist(600) == 200) // floor engages
    assert(Similarity.pqShortlist(60000) == 6000) // 10%
    assert(Similarity.pqShortlist(1500, fraction = 1.0) == 1500) // capped at n

    // clustered corpus at n and 10n from the same generator: 16 cluster
    // directions in 8-dim, deterministic LCG jitter. The SAME
    // ivfGeometry-derived (nlist, nprobe) call must return the exact
    // brute-force top-10 at BOTH scales — the property fixed absolutes
    // measurably lose (the sf1 sweep's probed-breadth miss)
    def corpus(n: Int): DataFrame = {
      val rows = (0 until n).map { i =>
        val c = i % 16
        var s = i.toLong * 6364136223846793005L + 1442695040888963407L
        def nxt(): Float = {
          s = s * 6364136223846793005L + 1442695040888963407L
          ((s >>> 40).toInt % 1000) / 10000.0f
        }
        val v = Array.tabulate(8) { j =>
          (if (j == c % 8) 1.0f else 0.0f) +
            (if (c >= 8 && j == (c + 3) % 8) 0.7f else 0.0f) + nxt()
        }
        (i.toLong, v)
      }
      rows.toDF("vec_id", "embedding")
    }
    val q = Seq.tabulate(8)(j => if (j == 3) 1.0f else 0.02f)
    Seq(600, 6000).foreach { n =>
      val df = corpus(n)
      val brute = Similarity.topKBruteForce(df, "vec_id", "embedding", q, 10)
        .collect().map(_.getAs[Long]("id")).toSeq
      val (nlist, nprobe) = Similarity.ivfGeometry(n)
      val centroids = Similarity.ivfTrain(df, "vec_id", "embedding", k = nlist, iters = 2)
      val ivf = Similarity.topKIvf(df, "vec_id", "embedding", q, 10, centroids, nprobe)
        .collect().map(_.getAs[Long]("id")).toSeq
      assert(ivf == brute, s"n=$n geometry ($nlist, $nprobe) lost recall")
    }
  }

  test("IVF drift census: skewed appends trip needsRetrain; retrain restores recall") {
    // two tight clusters along axes 0 and 1 → k=2 training separates them
    val vecs = (0L until 40L).map { i =>
      val base = if (i < 20) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      (i, base.zipWithIndex.map { case (v, j) => v + (i % 5) * 0.01f * (j + 1) })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val k = 2
    val centroids = Similarity.ivfTrain(df, "vec_id", "embedding", k = k, iters = 3)
    val census0 = Similarity.ivfCellCensus(
      Similarity.ivfAssign(df, "vec_id", "embedding", centroids))
    // balanced 20/20 split: no retrain needed
    assert(!Similarity.ivfNeedsRetrain(census0, numCells = k))
    // DRIFT: a new modality arrives — vectors along axis 2, nowhere near
    // either centroid; all of them pile into ONE nearest cell
    val drift = (100L until 180L).map(i => (i, Array(0f, 0f, 1f + (i % 3) * 0.01f, 0f)))
      .toDF("vec_id", "embedding")
    val driftCensus = Similarity.ivfCellCensus(
      Similarity.ivfAssign(drift, "vec_id", "embedding", centroids))
    val merged = Similarity.ivfCensusMerge(census0, driftCensus)
    // merged: 100 vs 20 of 120 → max = 1.67 × mean. With k=2 cells the max
    // possible skew is 2× mean, so a 2-cell monitor must run a threshold
    // under that; 1.5 is the natural choice and trips here
    assert(Similarity.ivfNeedsRetrain(merged, numCells = k, skewThreshold = 1.5))
    assert(!Similarity.ivfNeedsRetrain(merged, numCells = k, skewThreshold = 1.9))
    // empty-cell trigger: all appends + corpus in one cell of a 4-cell book
    val oneCell = Seq((0, 120L)).toDF("cell", "n")
    assert(Similarity.ivfNeedsRetrain(oneCell, numCells = 4))
    // retrain round over the grown corpus: queries in the drifted region
    // match brute force again with a 1-cell probe
    val grown = df.unionByName(drift)
    val c2 = Similarity.ivfTrain(grown, "vec_id", "embedding", k = 3, iters = 3)
    val census2 = Similarity.ivfCellCensus(
      Similarity.ivfAssign(grown, "vec_id", "embedding", c2))
    assert(!Similarity.ivfNeedsRetrain(census2, numCells = 3, skewThreshold = 3.0))
    val q = Seq(0f, 0f, 1f, 0f)
    val ivf = Similarity.topKIvf(grown, "vec_id", "embedding", q, 5, c2, nprobe = 1)
      .collect().map(_.getAs[Long]("id")).toSeq
    val brute = Similarity.topKBruteForce(grown, "vec_id", "embedding", q, 5)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(ivf == brute)
  }

  test("LSH buckets: query-side scala math matches the column expression (non-64 dim)") {
    // dim=48 deliberately != the old hardcoded 64 (round-2 ADVICE): the
    // expression must derive its plane length from the true vector dim
    val vec = (0 until 48).map(i => (i % 7 - 3) / 3.0f)
    val df = Seq((1L, vec.toArray)).toDF("vec_id", "embedding")
    val fromExpr = df.select(
      graft.operators.Similarity.hyperplaneBuckets(col("embedding"), 6, 8, dim = 48).as("b"))
      .head().getSeq[Long](0)
    val fromScala = Similarity.bucketsOf(vec, 6, 8)
    assert(fromExpr == fromScala)
  }

  test("LSH top-k equals brute force on a non-64-dim corpus") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(12)(j => math.sin(i * 13 + j * 7).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = Array.tabulate(12)(j => math.sin(3 * 13 + j * 7).toFloat) // near id 3
    val lsh = Similarity.topKLsh(df, "vec_id", "embedding", q.toSeq, 1, planes = 4, tables = 8)
      .collect().map(_.getAs[Long]("id")).toSeq
    val brute = Similarity.topKBruteForce(df, "vec_id", "embedding", q.toSeq, 1)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(lsh == brute) // with 8 tables the exact hit shares a bucket
  }

  test("skew salts spread FULL-DUPLICATE rows across tasks") {
    import graft.operators.Skew
    // 400 byte-identical rows: a content-only salt would send them all to
    // one (key, salt) bucket — the round-2 ADVICE failure mode
    val dup = Seq.fill(400)((1L, "same-payload")).toDF("k", "p").repartition(4)
    val spread = dup.select(Skew.rowSalt(Seq(col("k"), col("p")), 8).as("s"))
      .distinct().count()
    assert(spread > 4) // duplicates land on many salts
    // and the salted join stays semantically exact
    val r = Seq((1L, "one"), (2L, "two")).toDF("k", "name")
    val j = Skew.saltedJoin(dup, r, "k", parts = 8)
    assert(j.count() == 400)
    assert(j.select("name").distinct().head().getString(0) == "one")
    assert(Skew.saltedCount(dup, "k", 8).head().getLong(1) == 400L)
  }

  test("as-of join matches brute force on interleaved timestamps") {
    import graft.operators.Temporal
    val left = Seq((101L, 1L, 10L), (102L, 1L, 25L), (103L, 1L, 5L), (104L, 2L, 50L))
      .toDF("ev_id", "k", "ts")
    val right = Seq((1L, 8L, "a", 1L), (1L, 20L, "b", 2L), (1L, 25L, "c", 3L), (2L, 60L, "z", 4L))
      .toDF("k", "ts", "v", "rid")
    val out = Temporal.asofJoinSelect(left, right, "k", "k", "ts", "ts",
      Seq("v"), "rid").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("asof_v")).orNull).toMap
    assert(out == Map(
      101L -> "a", // latest right at ts<=10 is (8,"a")
      102L -> "c", // equal-ts right row matches
      103L -> null, // nothing at ts<=5
      104L -> null)) // right row for k=2 is later (60>50)
  }

  test("forward as-of join: earliest at-or-after, lowest-tie wins, brute-force equal") {
    import graft.operators.Temporal
    val left = Seq((101L, 1L, 10L), (102L, 1L, 25L), (103L, 1L, 70L), (104L, 2L, 50L))
      .toDF("ev_id", "k", "ts")
    val right = Seq((1L, 8L, "a", 1L), (1L, 25L, "c", 3L), (1L, 25L, "b", 2L),
      (1L, 40L, "d", 4L), (2L, 45L, "z", 5L))
      .toDF("k", "ts", "v", "rid")
    val out = Temporal.asofJoinForwardSelect(left, right, "k", "k", "ts", "ts",
      Seq("v"), "rid").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("asof_v")).orNull).toMap
    assert(out == Map(
      101L -> "b", // earliest right at ts>=10 is ts=25; tie breaks to rid 2
      102L -> "b", // equal-ts right matches, lowest tie wins
      103L -> null, // nothing at ts>=70
      104L -> null)) // right row for k=2 is earlier (45<50)
    // randomized brute-force cross-check
    val rnd = new scala.util.Random(0xA50F)
    val L = (0L until 150L).map(i => (i, (i % 7) + 1, rnd.nextInt(100).toLong))
    val R = (0L until 120L).map(i => ((i % 7) + 1, rnd.nextInt(100).toLong, s"p$i", i))
    val got = Temporal.asofJoinForwardSelect(
      L.toDF("ev_id", "k", "ts"), R.toDF("k", "ts", "v", "rid"),
      "k", "k", "ts", "ts", Seq("v"), "rid").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("asof_v")).orNull).toMap
    L.foreach { case (id, k, ts) =>
      val want = R.filter(r => r._1 == k && r._2 >= ts)
        .sortBy(r => (r._2, r._4)).headOption.map(_._3).orNull
      assert(got(id) == want, s"ev $id")
    }
  }

  test("nearest as-of join: min distance, backward tie, tolerance, brute-force equal") {
    import graft.operators.Temporal
    val left = Seq((101L, 1L, 10L), (102L, 1L, 24L), (103L, 1L, 26L), (104L, 2L, 50L))
      .toDF("ev_id", "k", "ts")
    val right = Seq((1L, 8L, "a", 1L), (1L, 40L, "d", 4L), (2L, 300L, "z", 5L))
      .toDF("k", "ts", "v", "rid")
    val out = Temporal.asofJoinNearestSelect(left, right, "k", "k", "ts", "ts",
      Seq("v"), "rid").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("asof_v")).orNull).toMap
    assert(out == Map(
      101L -> "a", // |10-8|=2 < |40-10|=30
      102L -> "a", // equal distance 16/16 breaks BACKWARD
      103L -> "d", // |40-26|=14 < |26-8|=18
      104L -> "z")) // no tolerance: any distance matches
    // tolerance: 104's only candidate is 250 away and drops out
    val tol = Temporal.asofJoinNearestSelect(left, right, "k", "k", "ts", "ts",
      Seq("v"), "rid", tolerance = Some(20L)).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("asof_v")).orNull).toMap
    assert(tol == Map(101L -> "a", 102L -> "a", 103L -> "d", 104L -> null))
    // randomized brute-force cross-check (incl. same-side equal-ts ties:
    // backward picks highest rid, forward lowest)
    val rnd = new scala.util.Random(0x5EA7)
    val L = (0L until 150L).map(i => (i, (i % 7) + 1, rnd.nextInt(60).toLong))
    val R = (0L until 120L).map(i => ((i % 7) + 1, rnd.nextInt(60).toLong, s"p$i", i))
    val got = Temporal.asofJoinNearestSelect(
      L.toDF("ev_id", "k", "ts"), R.toDF("k", "ts", "v", "rid"),
      "k", "k", "ts", "ts", Seq("v"), "rid", tolerance = Some(7L)).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("asof_v")).orNull).toMap
    L.foreach { case (id, k, ts) =>
      val cands = R.filter(r => r._1 == k && math.abs(r._2 - ts) <= 7L)
      val want = cands.sortBy { r =>
        val back = r._2 <= ts
        (math.abs(r._2 - ts), if (back) 0 else 1, if (back) -r._4 else r._4)
      }.headOption.map(_._3).orNull
      assert(got(id) == want, s"ev $id")
    }
  }

  test("salted join and salted count equal their unsalted counterparts") {
    import graft.operators.Skew
    // skewed left: 1000 rows of key=1, a few others
    val left = (1 to 1000).map(i => (1L, s"v$i")) ++ Seq((2L, "x"), (3L, "y"))
    val l = left.toDF("k", "payload")
    val r = Seq((1L, "one"), (2L, "two"), (4L, "four")).toDF("k", "name")
    val salted = Skew.saltedJoin(l, r, "k", parts = 8)
    val plain = l.join(r, "k")
    assert(salted.count() == plain.count())
    assert(salted.select("k", "payload", "name").except(
      plain.select("k", "payload", "name")).isEmpty)
    val sc = Skew.saltedCount(l, "k", parts = 8)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(sc == Map(1L -> 1000L, 2L -> 1L, 3L -> 1L))
    val hot = Skew.skewedKeys(l, "k", threshold = 0.5)
      .collect().map(_.getLong(0)).toSeq
    assert(hot == Seq(1L))
  }

  test("multimodal: real decode for all three kinds (PNG, WAV, PNG-frame video)") {
    val tmp = tmpDir("graft-mm")
    docs((7L, "hello media world"), (8L, "payload two"), (9L, "third"))
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val media = Multimodal.syntheticMedia(spark, s"$tmp/documents.parquet")
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    // id 7 → audio: a REAL WAV, decoded by javax.sound.sampled from PCM
    assert(feats(7L).header_ok)
    assert(feats(7L).n_frames == 8)           // 7 % 30 + 1 decoded frames
    assert(feats(7L).sample_rate == 16000)    // decoded, not metadata
    assert(feats(7L).n_bytes == 44 + 2 * 8)   // canonical WAV container
    assert(feats(7L).mean_luma_x1000 == (7 % 256) * 128L * 1000 / 32768) // const amplitude
    // id 8 → video: real-frame container, every frame a genuine PNG
    assert(feats(8L).header_ok)
    assert(feats(8L).width == (8 % 64 + 1))
    assert(feats(8L).height == (8 % 48 + 1))
    assert(feats(8L).n_frames == 9) // 8 % 30 + 1 container frames
    // mean luma across frames: grays 8..16 → sum 108 over 9 frames
    assert(feats(8L).mean_luma_x1000 == 108L * 1000 / (9 * 255))
    // real per-frame decode: frame 0 only at everyK=10, exact gray 8
    val ff = Multimodal.sampleFrameFeatures(media, everyK = 10).collect()
      .map(f => (f.media_id, f.frame_idx) -> f).toMap
    assert(ff.keySet == Set((8L, 0)))
    assert(ff((8L, 0)).width == 9 && ff((8L, 0)).mean_luma_x1000 == 8L * 1000 / 255)
    // real resize: longest side 9 <= 16 → untouched; force a downscale
    val resized = Multimodal.extractFeatures(
      Multimodal.resizeImages(media, maxSide = 4)).collect()
      .map(f => f.media_id -> f).toMap
    assert(resized(9L).width == math.max(1, 10 * 4 / 10) && resized(9L).height == 4)
    assert(resized(9L).mean_luma_x1000 == 9L * 1000 / 255) // constant gray survives
    // id 9 → image: a REAL PNG, decoded by javax.imageio from actual pixels
    assert(feats(9L).header_ok)
    assert(feats(9L).width == (9 % 64 + 1))
    assert(feats(9L).height == (9 % 48 + 1))
    assert(feats(9L).n_frames == 1)
    assert(feats(9L).mean_luma_x1000 == 9L * 1000 / 255) // constant gray 9
    // a truncated WAV degrades to header_ok=false, not a task kill
    val bad = Multimodal.AudioCodec.decode(Multimodal.MediaRow(
      99L, "audio", None, None, Some(16000), Some(1),
      Multimodal.AudioCodec.wavBytes(16000, Array[Short](5, 5)).take(20)))
    assert(!bad.header_ok)
    val frames = Multimodal.sampleFrames(media).collect()
    // only kind==video rows (doc_id % 3 == 2): ids 8 (8%3=2)
    assert(frames.map(_.getLong(0)).distinct.toSeq == Seq(8L))

    // resampleAudio only understands 16-bit MONO PCM: a stereo (or 8-bit)
    // WAV must pass through byte-identical — decimating across interleaved
    // channel/sample bytes would emit a corrupt payload
    def patched(channels: Byte, bits: Byte): Array[Byte] = {
      val b = Multimodal.AudioCodec.wavBytes(16000, Array[Short](1, 2, 3, 4, 5, 6))
      b(22) = channels // fmt.numChannels (LE short, high byte stays 0)
      b(34) = bits // fmt.bitsPerSample
      val blockAlign = channels * bits / 8
      b(32) = blockAlign.toByte
      val byteRate = 16000 * blockAlign
      b(28) = (byteRate & 0xff).toByte; b(29) = ((byteRate >> 8) & 0xff).toByte
      b(30) = ((byteRate >> 16) & 0xff).toByte; b(31) = 0
      b
    }
    for (payload <- Seq(patched(2, 16), patched(1, 8))) {
      val in = spark.createDataset(Seq(Multimodal.MediaRow(
        50L, "audio", None, None, Some(16000), Some(3), payload)))(
        org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]).toDF()
      val out = Multimodal.resampleAudio(in, factor = 2).collect().head
      assert(out.getAs[Array[Byte]]("payload").sameElements(payload))
      assert(out.getAs[Int]("sample_rate") == 16000) // metadata untouched too
    }
    // and the mono-16-bit path still resamples for real
    val mono = Multimodal.AudioCodec.wavBytes(16000, Array[Short](1, 2, 3, 4, 5, 6))
    val monoIn = spark.createDataset(Seq(Multimodal.MediaRow(
      51L, "audio", None, None, Some(16000), Some(6), mono)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]).toDF()
    val monoOut = Multimodal.resampleAudio(monoIn, factor = 2).collect().head
    assert(monoOut.getAs[Int]("sample_rate") == 8000)
    assert(monoOut.getAs[Int]("n_frames") == 3)
  }

  test("streaming SCD2 sync: each micro-batch snapshot drives the full engine") {
    val tmp = tmpDir("graft-scd2stream")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("ver", LongType, nullable = false)))
    val cfg = WriteConfig(deltaCol = Some("ver"))
    def drop(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("id", "name", "ver").coalesce(1)
        .write.mode("append").parquet(s"$tmp/in")

    drop(Seq((1L, "alpha", 1L), (2L, "beta", 1L)))
    graft.streaming.StreamingIngest.scd2SyncStream(spark, s"$tmp/in", schema,
      Seq("id"), s"$tmp/dest", s"$tmp/ckpt", cfg)
    val sync = new graft.scd2.Synchronizer(spark,
      new graft.sources.DataFrameSource(
        Seq.empty[(Long, String, Long)].toDF("id", "name", "ver"), Seq("id")),
      s"$tmp/dest", cfg)
    assert(sync.currentState().count() == 2)

    // second drop is the NEXT FULL SNAPSHOT: update 1, delete 2, insert 3
    drop(Seq((1L, "alpha2", 2L), (3L, "gamma", 2L)))
    graft.streaming.StreamingIngest.scd2SyncStream(spark, s"$tmp/in", schema,
      Seq("id"), s"$tmp/dest", s"$tmp/ckpt", cfg)
    val cur = sync.currentState().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur == Map(1L -> "alpha2", 3L -> "gamma"))
    // the delete left a tombstone in history (the full engine ran)
    val tomb = sync.dest.delta.read()
      .filter(col(SystemCols.isDeleted) && col("id") === 2L)
    assert(tomb.count() == 1)

    // an EMPTY snapshot is honored: the source table was emptied →
    // everything is deleted (no silent skip of empty batches)
    drop(Seq.empty)
    graft.streaming.StreamingIngest.scd2SyncStream(spark, s"$tmp/in", schema,
      Seq("id"), s"$tmp/dest", s"$tmp/ckpt", cfg)
    assert(sync.currentState().count() == 0)
  }

  test("streaming: stateful first-seen dedup persists state across restarts") {
    val tmp = tmpDir("graft-sdedup")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def write(rows: Seq[(Long, String)], dir: String): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(dir)

    write(Seq((1L, "alpha content"), (2L, "ALPHA   content"), (3L, "beta")), s"$tmp/in")
    graft.streaming.StatefulDedup.runAvailableNow(
      spark, s"$tmp/in", schema, "doc_id", "text", s"$tmp/out", s"$tmp/ckpt")
    val r1 = spark.read.parquet(s"$tmp/out").collect().map(_.getLong(0)).sorted.toSeq
    assert(r1 == Seq(1L, 3L)) // 2 is a ws/case duplicate of 1

    // second micro-run, SAME checkpoint: old fingerprints stay deduped
    write(Seq((4L, "alpha content"), (5L, "gamma")), s"$tmp/in")
    graft.streaming.StatefulDedup.runAvailableNow(
      spark, s"$tmp/in", schema, "doc_id", "text", s"$tmp/out", s"$tmp/ckpt")
    val r2 = spark.read.parquet(s"$tmp/out").collect().map(_.getLong(0)).sorted.toSeq
    assert(r2 == Seq(1L, 3L, 5L)) // 4 duplicated batch-1 content across runs

    // a third run with NO new input leaves the output unchanged
    graft.streaming.StatefulDedup.runAvailableNow(
      spark, s"$tmp/in", schema, "doc_id", "text", s"$tmp/out", s"$tmp/ckpt")
    assert(spark.read.parquet(s"$tmp/out").collect().map(_.getLong(0)).sorted.toSeq == r2)
  }

  test("streaming: AvailableNow windowed aggregation over a file stream") {
    val tmp = tmpDir("graft-stream")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val rows = Seq(
      ("2026-01-01 10:05:00", "click", 1.0),
      ("2026-01-01 10:35:00", "click", 2.0),
      ("2026-01-01 11:05:00", "view", 5.0))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(java.sql.Timestamp.valueOf(r._1), r._2, r._3))), schema)
      .write.mode("overwrite").parquet(s"$tmp/in")
    graft.streaming.StreamingIngest.runWindowedAvailableNow(
      spark, s"$tmp/in", schema, "ts", "win_test")
    val out = spark.table("win_test").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(out.toSet == Set(
      ("2026-01-01 10:00:00.0", "click", 2L),
      ("2026-01-01 11:00:00.0", "view", 1L)))
  }

  test("deterministic shards: permutation rank, exact shard sizes, plan-independent") {
    import graft.operators.TextCorpus
    val ids = (0L until 997L) ++ Seq(-5L, -2147483650L) // negatives + non-multiple count
    val df = ids.toDF("doc_id")
    val out = TextCorpus.deterministicShards(df, "doc_id", seed = 42L, rowsPerShard = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == ids.length)
    // (shard, pos) pairs form exactly the ranks 0..n-1 — a permutation
    val ranks = out.map { case (_, sh, pos) => sh * 100L + pos }.sorted
    assert(ranks.toSeq == (0L until ids.length.toLong))
    // every shard except the last is exactly full
    val byShard = out.groupBy(_._2).view.mapValues(_.length).toMap
    val lastShard = byShard.keys.max
    byShard.foreach { case (sh, n) =>
      if (sh < lastShard) assert(n == 100, s"shard $sh has $n rows")
    }
    // plan-independence: 1 bucket ≡ 64 buckets ≡ different shuffle partitioning
    val one = TextCorpus.deterministicShards(df, "doc_id", 42L, 100L, buckets = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val many = TextCorpus.deterministicShards(df.repartition(13), "doc_id", 42L, 100L,
      buckets = 64).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(one.toSeq == out.sortBy(_._1).toSeq)
    assert(many.toSeq == out.sortBy(_._1).toSeq)
    // a different seed produces a different order (not the identity check)
    val other = TextCorpus.deterministicShards(df, "doc_id", 43L, 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(other.toSeq != out.sortBy(_._1).toSeq)
  }

  test("streaming interval join: boundary-inclusive matches equal the batch join") {
    val tmp = tmpDir("graft-ij")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: purchase at +0, at exactly +30 min (inclusive), at +30:01 (out);
    // user 2: purchase before the view (out); user 3: no purchase
    val rows = Seq(
      Row(1L, 1L, "view", ts("2026-01-01 10:00:00")),
      Row(10L, 1L, "purchase", ts("2026-01-01 10:00:00")),
      Row(11L, 1L, "purchase", ts("2026-01-01 10:30:00")),
      Row(12L, 1L, "purchase", ts("2026-01-01 10:30:01")),
      Row(2L, 2L, "view", ts("2026-01-01 12:00:00")),
      Row(20L, 2L, "purchase", ts("2026-01-01 11:59:59")),
      Row(3L, 3L, "view", ts("2026-01-01 09:00:00")))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val raw = spark.readStream.schema(schema).parquet(s"$tmp/in")
    def side(kind: String) = raw.filter(col("event_type") === kind)
      .select(col("event_id"), col("user_id"), col("ts"))
    val q = graft.streaming.StreamingIngest.intervalJoin(
        side("view"), side("purchase"), "user_id", "ts",
        maxDelay = "30 minutes", watermark = "1 day")
      .select(col("l_event_id").as("view_id"), col("r_event_id").as("purchase_id"))
      .writeStream.format("memory").queryName("ij_test").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ij_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (1L, 11L)))
    spark.catalog.dropTempView("ij_test")
  }

  test("containmentPairs: quoted small doc found where Jaccard misses it") {
    val small = (1 to 12).map(i => s"tok$i").mkString(" ") // 10 3-shingles
    val big = ((1 to 12) ++ (100 to 187)).map(i => s"tok$i").mkString(" ")
    val other = (200 to 260).map(i => s"tok$i").mkString(" ")
    val df = docs((1L, small), (2L, big), (3L, other))
    val got = Dedup.containmentPairs(df, "doc_id", "text",
        threshold = 0.8, minShingles = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // small's shingles are the 10 windows over tokens 1..12; big embeds
    // 1..12 as a prefix, so it contains all 10 of them — C = 1000
    assert(got.toSeq == Seq((1L, 2L, 1000L)))
    // Jaccard would have been 10 / (10 + 98 - 10) ≈ 0.10 — invisible at
    // any usable threshold
    val j = Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.5)
    assert(j.count() == 0)
    Dedup.releaseIntermediates()
  }

  test("containmentPairs: randomized ≡ brute force within the size-floor contract") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    (1 to 3).foreach { _ =>
      val docs0 = (0L until 40L).map { i =>
        val n = 6 + rnd.nextInt(30)
        (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      def shingles(t: String): Set[String] = {
        val toks = t.split(" ").toSeq
        if (toks.size <= 3) Set(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toSet
      }
      val ref = (for {
        (ia, ta) <- docs0; (ib, tb) <- docs0 if ia < ib
        sa = shingles(ta); sb = shingles(tb)
        m = math.min(sa.size, sb.size) if m >= 5
        c = sa.intersect(sb).size.toLong * 1000L / m if c >= 700L
      } yield (ia, ib, c)).toSet
      val got = Dedup.containmentPairs(docs0.toDF("doc_id", "text"), "doc_id", "text",
          threshold = 0.7, minShingles = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == ref, s"seedcase: got ${got.size} ref ${ref.size}")
      Dedup.releaseIntermediates()
    }
  }

  test("containmentPairs: maxDocFreq cap bounds candidates on a boilerplate corpus") {
    // skewed corpus: every doc opens with the SAME boilerplate (shingles in
    // all 60 docs), then a distinct rare tail; 5 planted near-dup pairs
    // share rare tails. Uncapped, the boilerplate posting lists join all
    // docs pairwise (60·59/2 candidate ceiling); capped at 10, boilerplate
    // shingles leave the index and candidates collapse to ~the planted
    // pairs — while every pair sharing RARE shingles is still found.
    val boiler = (1 to 20).map(i => s"common$i").mkString(" ")
    val base = (0L until 60L).map(i =>
      (i, boiler + " " + (0 to 14).map(j => s"tail${i}x$j").mkString(" ")))
    val dups = (0L until 5L).map(i =>
      (i + 1000L, base(i.toInt)._2 + " extratok"))
    val corpus = (base ++ dups).toDF("doc_id", "text")
    val obsFull = new org.apache.spark.sql.Observation("ct-full")
    val full = Dedup.containmentPairs(corpus, "doc_id", "text",
        threshold = 0.8, minShingles = 10, maxDocFreq = None,
        candidateObs = Some(obsFull))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.releaseIntermediates()
    val obsCap = new org.apache.spark.sql.Observation("ct-cap")
    val obsDropped = new org.apache.spark.sql.Observation("ct-dropped")
    val capped = Dedup.containmentPairs(corpus, "doc_id", "text",
        threshold = 0.8, minShingles = 10, maxDocFreq = Some(10),
        candidateObs = Some(obsCap), capObs = Some(obsDropped))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.releaseIntermediates()
    val candFull = obsFull.get("candidates").asInstanceOf[Long]
    val candCap = obsCap.get("candidates").asInstanceOf[Long]
    // uncapped the boilerplate joins (nearly) everything pairwise
    assert(candFull > 1000L,
      s"corpus must be boilerplate-degenerate for the test to bite ($candFull)")
    // the cap collapses the candidate volume by >10× on this corpus
    assert(candCap * 10 < candFull,
      s"capped candidates $candCap vs uncapped $candFull")
    // the planted pairs share 15+ RARE shingles — all survive the cap
    (0L until 5L).foreach(i => assert(capped.contains((i, i + 1000L)),
      s"planted pair $i lost under the cap"))
    // and emitted pairs remain a SUBSET of the exact answer (never wrong,
    // only — documented-ly — fewer when a pair shares ONLY hot shingles)
    assert(capped.subsetOf(full))
    // the capObs audit makes a LOSSY run distinguishable at runtime: the
    // biting cap reports the dropped boilerplate shingles (df > 10 on a
    // 60-doc corpus) and the posting rows they carried...
    val droppedSh = obsDropped.get("capped_shingles").asInstanceOf[Long]
    val droppedPost = obsDropped.get("capped_postings").asInstanceOf[Long]
    assert(droppedSh > 0L, "biting cap must report dropped shingles")
    assert(droppedPost > 10L * droppedSh,
      s"dropped shingles had df > cap ($droppedPost rows / $droppedSh shingles)")
    // ...while a cap that never bites certifies the run was in fact EXACT
    val obsNoBite = new org.apache.spark.sql.Observation("ct-nobite")
    Dedup.containmentPairs(corpus, "doc_id", "text",
        threshold = 0.8, minShingles = 10, maxDocFreq = Some(100000),
        capObs = Some(obsNoBite))
      .collect(): Unit
    Dedup.releaseIntermediates()
    assert(obsNoBite.get("capped_shingles").asInstanceOf[Long] == 0L)
    assert(obsNoBite.get("capped_postings").asInstanceOf[Long] == 0L)
  }

  test("containmentIncremental: equals batch-mode cross pairs; params enforced") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    val corpus = (0L until 30L).map { i =>
      (i, Seq.fill(8 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val batch = (100L until 112L).map { i =>
      (i, Seq.fill(8 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // reference: run the BATCH operator over the union, keep cross pairs
    val all = (corpus ++ batch).toDF("doc_id", "text")
    val ref = Dedup.containmentPairs(all, "doc_id", "text",
        threshold = 0.7, minShingles = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (a, b, _) => (a < 100L) != (b < 100L) }
      .map { case (a, b, c) => if (a < 100L) (a, b, c) else (b, a, c) }.toSet
    val tmp = tmpDir("ct-idx")
    Dedup.containmentIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      threshold = 0.7, minShingles = 5).write.mode("overwrite").parquet(tmp)
    val index = spark.read.parquet(tmp)
    val got = Dedup.containmentIncremental(batch.toDF("doc_id", "text"), index,
        "doc_id", "text", threshold = 0.7, minShingles = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == ref, s"got ${got.size} ref ${ref.size}")
    // build-param mismatch raises (metadata survives the parquet round trip)
    val e = intercept[IllegalArgumentException] {
      Dedup.containmentIncremental(batch.toDF("doc_id", "text"), index,
        "doc_id", "text", threshold = 0.9, minShingles = 5).count()
    }
    assert(e.getMessage.contains("minOverlap"))
    Dedup.releaseIntermediates()
  }

  test("pageRankX1e9: hand-computed rounds, dangling node, determinism") {
    // 1→2, 2→1, 2→3; node 3 dangles (outdeg 0)
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    def scores(iters: Int): Map[Long, Long] =
      Graph.pageRankX1e9(e, iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: base 150e6; 1←2: (1e9·85) div 200 = 425e6; 2←1: 850e6
    assert(scores(1) == Map(
      1L -> 575000000L, 2L -> 1000000000L, 3L -> 575000000L))
    // round 2: 2←1: (575e6·85) div 100 = 488750000; 1←2, 3←2: (1e9·85) div 200
    assert(scores(2) == Map(
      1L -> 575000000L, 2L -> 638750000L, 3L -> 575000000L))
    // iters=0 = the init vector; repeated runs identical (integer-exact)
    assert(scores(0).values.toSet == Set(1000000000L))
    assert(scores(3) == scores(3))
    Dedup.releaseIntermediates()
  }

  test("pageRankX1e9: randomized graphs equal a driver-side reference") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val n = 2 + rnd.nextInt(30)
      val edges = Seq.fill(1 + rnd.nextInt(80))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val iters = rnd.nextInt(4)
      // driver reference: the exact integer recurrence
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var ref = nodes.map(_ -> 1000000000L).toMap
      (1 to iters).foreach { _ =>
        val mass = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
        edges.foreach { case (s, d) =>
          mass(d) += ref(s) * 85L / (100L * outdeg(s))
        }
        ref = nodes.map(id => id -> (150000000L + mass(id))).toMap
      }
      val got = Graph.pageRankX1e9(edges.toDF("src", "dst"), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref, s"n=$n edges=${edges.size} iters=$iters")
      Dedup.releaseIntermediates()
    }
  }

  test("pageRankX1e9: long runs bound live round caches and stay exact across flushes") {
    // r16 verdict item 10 (eviction audit): the lazy per-round persists
    // would otherwise accumulate one cached relation per round for the
    // whole run; the flush every 8 rounds materializes the current round
    // and releases the dead ones. 20 iters crosses two flush boundaries,
    // so this also pins that the flush does not perturb the recurrence.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
    val iters = 20
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var ref = nodes.map(_ -> 1000000000L).toMap
    (1 to iters).foreach { _ =>
      val mass = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (s, d) =>
        mass(d) += ref(s) * 85L / (100L * outdeg(s))
      }
      ref = nodes.map(id => id -> (150000000L + mass(id))).toMap
    }
    def run(): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val got = Graph.pageRankX1e9(edges.toDF("src", "dst"), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref)
      val fresh = spark.sparkContext.getPersistentRDDs.keySet -- before
      // 3 loop invariants (edges, nodes, outdeg) + the rounds since the last
      // flush (20 % 8 = 4, plus the flushed round itself) — far below the
      // iters + 4 = 24 the unbounded lazy chain held live
      assert(fresh.size <= 12,
        s"expected bounded live round caches, got ${fresh.size} new persistent RDDs")
      Dedup.releaseIntermediates()
    }
    run()
    // under a checkpoint dir the flushes take Caching.truncate's reliable
    // branch: same scores, same bound, and the cuts land as files
    withCheckpointDir { dir =>
      run()
      assert(checkpointFiles(dir) > 0, "no reliable checkpoint was written")
    }
  }

  test("bm25TopK: randomized corpora equal a driver-side reference") {
    val rnd = new scala.util.Random(17)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    (1 to 3).foreach { _ =>
      val docs = (0L until (3 + rnd.nextInt(20)).toLong).map(i =>
        (i, Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val q = rnd.shuffle(vocab).take(1 + rnd.nextInt(3))
      val k = 1 + rnd.nextInt(docs.size)
      // driver reference: the exact integer formula over whitespace tokens
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val nDocs = docs.size.toLong
      val tl = toks.values.map(_.size.toLong).sum
      val dfT = q.map(t => t -> toks.values.count(_.contains(t)).toLong).toMap
      val scores = docs.flatMap { case (id, _) =>
        val len = toks(id).size.toLong
        val cs = q.flatMap { t =>
          val tf = toks(id).count(_ == t).toLong
          if (tf == 0) None
          else {
            val idf = (2L * (nDocs - dfT(t)) + 1L) * 1000L / (2L * dfT(t) + 1L)
            val w = tf * 88L * tl * 1000000L /
              (tf * 40L * tl + 12L * tl + 36L * len * nDocs)
            Some(idf * w / 1000L)
          }
        }
        if (cs.isEmpty) None else Some(id -> cs.sum)
      }
      val ref = scores.sortBy { case (id, s) => (-s, id) }.take(k)
        .zipWithIndex.map { case ((id, s), i) => (i + 1L, id, s) }
      val got = TextCorpus.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text", q, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == ref, s"docs=${docs.size} q=$q k=$k")
      Dedup.releaseIntermediates()
    }
  }

  test("bm25TopK: hand-computed integer scores, rank order, absent terms") {
    val df = docs(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian durian durian"))
    // N=3, TL=8; df(apple)=1 → idf_x1e3 = 5000 div 3 = 1666;
    // df(banana)=2 → idf_x1e3 = 3000 div 5 = 600
    // d1: apple tf=2 len=3 → w = 1408000000 div 1060 = 1328301,
    //     c = (1666·1328301) div 1000 = 2212949
    //     banana tf=1 → w = 704000000 div 740 = 951351, c = 570810
    // d2: banana tf=1 len=2 → w = 704000000 div 632 = 1113924, c = 668354
    val got = TextCorpus.bm25TopK(df, "doc_id", "text",
        Seq("apple", "banana", "zzz_absent"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, 1L, 2212949L + 570810L),
      (2L, 2L, 668354L)))
    // k cuts the list; doc without query terms never appears
    val top1 = TextCorpus.bm25TopK(df, "doc_id", "text", Seq("banana"), 1)
      .collect().map(_.getLong(1)).toSeq
    assert(top1 == Seq(2L)) // shorter doc wins the length normalizer
    Dedup.releaseIntermediates()
  }
}
