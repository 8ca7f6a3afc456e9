package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, Spark-first:
  *
  *  - exact: fingerprint groupBy (one hash shuffle, map-side combine)
  *  - MinHash+LSH: per-row signature (narrow, codegen'd array exprs — no
  *    explode), band→bucket self-join (shuffle keyed on (band, hash): only
  *    colliding docs meet), exact Jaccard verify on the candidates
  *  - SimHash: per-row 64-bit signature, near-dup pairs via 16-bit chunk
  *    banding + hamming verify (bit_count(xor))
  *  - n-gram Jaccard: exact pairwise Jaccard restricted to LSH candidates
  *  - embedding near-dup: cosine > threshold via random-hyperplane buckets
  *
  * Scale notes (100 TB): every pairwise step is bucketed so the quadratic
  * blowup is confined to hash buckets; signatures are per-row expressions
  * (no state, no UDF); the only shuffles are the bucket joins and final
  * dedup groupBys, all on well-distributed hash keys. Skewed buckets (e.g.
  * boilerplate-heavy corpora) are bounded by `maxBucketSize`.
  *
  * CACHING: the pairwise operators persist(DISK_ONLY) multi-consumer
  * intermediates (bucket rows, candidate shingle sets). Every such persist
  * is registered; after consuming a result, call [[releaseIntermediates]]
  * to unpersist exactly the dedup intermediates (a batch driver no longer
  * has to nuke the whole session cache with `clearCache()`). Unreleased
  * entries otherwise accumulate local disk for the session's lifetime.
  */
object Dedup {
  import Caching.{spillPersist, spillPersistEager, spread}

  /** Unpersist every intermediate the pipeline operators persisted since
    * the last call (shared registry — see [[Caching.release]]). Call AFTER
    * the returned DataFrame has been consumed (an unreleased plan
    * re-executed later just recomputes — correct, slower). */
  def releaseIntermediates(): Unit = Caching.release()

  /** Exact dedup on the normalized-text fingerprint. Returns one row per
    * distinct content: (fingerprint, keep_id = min id, dupes). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dupes"))

  /** Incremental EXACT dedup: drop batch rows whose normalized-text
    * fingerprint already exists in `seen` — a persisted fingerprint set
    * (e.g. the `fp` column of prior [[exact]] runs, appended per ingest).
    * Corpus text is never read. Three execution strategies, identical
    * results (spec-proven), different 100 TB shapes:
    *
    *  - `"join"`: one anti-join on the fingerprint. The anti-join's BUILD
    *    side is `seen`, so with a billion-doc history the WHOLE seen set
    *    shuffles (sort-merge) every ingest — AQE cannot flip anti-join
    *    sides. Right only when batch and history are comparable sizes.
    *  - `"probe"`: the batch's distinct fingerprints BROADCAST into a
    *    semi-join probe over `seen` (narrow scan, zero shuffle of the
    *    history), the tiny hit set broadcasts back into the anti-join.
    *    The daily-ingest shape: cost = one narrow pass over the history,
    *    no exchange of it. Requires the batch fp set to fit a broadcast.
    *  - `"bloom"`: like probe, but the probe is a driver-built bloom
    *    filter over the batch fps ([[graft.functions.BloomMightContain]],
    *    codegen'd) — constant-size regardless of batch row width, for
    *    batches whose fp set is too wide to broadcast outright. False
    *    positives only inflate the re-checked hit set (result is exact:
    *    survivors re-join the batch by fingerprint EQUALITY, and every
    *    hit is a real `seen` fp, so a false positive matches nothing);
    *    size `bloomFpp` so fpp × |seen| stays broadcastable.
    *
    * Probe/bloom persist the fingerprinted batch (two consumers) — release
    * with [[releaseIntermediates]] after consuming the result. */
  def exactIncremental(
      batch: DataFrame, idCol: String, textCol: String,
      seen: DataFrame, fpCol: String = "fp", strategy: String = "join",
      bloomFpp: Double = 0.01): DataFrame = {
    val withFp = batch.withColumn("__fp", fingerprint(col(textCol)))
    val seenFps = seen.select(col(fpCol).as("__fp"))
    strategy match {
      case "join" =>
        withFp.join(seenFps.distinct(), Seq("__fp"), "left_anti").drop("__fp")
      case "probe" =>
        val cached = spillPersistEager(withFp)
        val hits = seenFps
          .join(broadcast(cached.select("__fp").distinct()), Seq("__fp"), "left_semi")
          .distinct()
        cached.join(broadcast(hits), Seq("__fp"), "left_anti").drop("__fp")
      case "bloom" =>
        val cached = spillPersistEager(withFp)
        // expected-item sizing rides the persist's materialized count; the
        // sketch aggregates executor-side and merges on the driver (bits ≈
        // 1.44·n·log2(1/fpp) — ~12 MB for 10M fps at 1%)
        val n = math.max(cached.count(), 64L)
        val bloom = cached.stat.bloomFilter("__fp", n, bloomFpp)
        val hits = seenFps
          .filter(graft.functions.NativeHash.bloomMightContain(col("__fp"), bloom))
          .distinct()
        cached.join(broadcast(hits), Seq("__fp"), "left_anti").drop("__fp")
      case other => throw new IllegalArgumentException(
        s"unknown exactIncremental strategy '$other' (join | probe | bloom)")
    }
  }

  /** Per-row MinHash signature: array of `numHashes` 64-bit minima over the
    * shingle set. Delegates to the native codegen'd expression
    * ([[graft.functions.MinHashSignature]]) — the equivalent
    * transform/array_min higher-order-function formulation is interpreted
    * per element and measured ~10× slower. */
  def minhashSignature(shingles: Column, numHashes: Int = 64): Column =
    graft.functions.NativeHash.minhashSignature(shingles, numHashes)

  /** LSH banding: (band_index, band_hash) pairs from a minhash signature.
    * Two docs sharing any band land in the same bucket. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), b).as("bucket")))

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    * Returns (id_a, id_b, jaccard_x1000) with id_a < id_b and jaccard ≥
    * threshold. bands × rowsPerBand must equal numHashes. */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      shingleN: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // the LSH plumbing ships ONLY (id, band, bucket) — shingle arrays are
    // heavy payloads and must not ride through explode/shuffle/self-join.
    // The bucket rows feed THREE consumers (oversized-list, join-left,
    // join-right) and Spark's exchange reuse only merges two of them —
    // persist materializes the narrow rows once instead of re-shingling +
    // re-hashing the corpus per branch (observed 9 parquet scans of the
    // source in the un-materialized plan). DISK_ONLY, not localCheckpoint:
    // at 100 TB the ~16 narrow rows/doc must spill to local disk, not pin
    // executor storage memory (round-2 verdict watch-item).
    val bucketed = spillPersistEager(shingleSets(spread(df.select(col(idCol).as("id"), col(textCol))), "id", textCol, shingleN)
      .select(col("id"), minhashSignature(col("sh"), numHashes).as("sig"))
      .select(col("id"), explode(lshBands(col("sig"), bands, rowsPerBand)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bucket").as("bucket")))
    // bound pathological buckets (boilerplate skew): drop buckets larger
    // than maxBucketSize — their members are near-identical and will pair
    // via other bands; the oversized-bucket list is tiny, so a broadcast
    // anti-join beats window-counting (which would sort every bucket)
    val oversized = bucketed.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") > maxBucketSize)
      .select("band", "bucket")
    val counted = bucketed.join(broadcast(oversized), Seq("band", "bucket"), "left_anti")
    val a = counted.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = counted.select(col("band"), col("bucket"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    verifyJaccard(df, idCol, textCol, pairs, threshold, shingleN)
  }

  /** Persistable MinHash-LSH corpus INDEX: one row per document carrying
    * its LSH band buckets and its sorted hashed shingle set — everything
    * incremental dedup needs, so a daily ingest batch is deduped against an
    * N-billion-doc corpus without re-reading or re-shingling corpus text.
    * Write the result as parquet (or append it to a
    * [[graft.store.VersionedTable]] per ingest); feed it back through
    * [[minhashLshIncremental]]. Columns: (id, buckets:
    * array<struct<band,bucket>>, shn, shs: array<long> sorted). */
  def minhashIndex(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // build params ride the schema as column metadata (Spark persists field
    // metadata in the parquet footer, so it survives a write/read round
    // trip): an incremental query against an index built with DIFFERENT
    // params would silently return garbage buckets/hashes — the metadata
    // lets minhashLshIncremental require() a match instead
    val buildMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(MinhashMetaNumHashes, numHashes.toLong)
      .putLong(MinhashMetaBands, bands.toLong)
      .putLong(MinhashMetaShingleN, shingleN.toLong).build()
    shingleSets(spread(df.select(col(idCol).as("id"), col(textCol))), "id", textCol, shingleN)
      .select(col("id"), col("sh"), minhashSignature(col("sh"), numHashes).as("sig"))
      .select(col("id"),
        lshBands(col("sig"), bands, rowsPerBand).as("buckets", buildMeta),
        size(col("sh")).cast("long").as("shn"),
        sort_array(transform(col("sh"), s => xxhash64(s))).as("shs"))
  }

  private[graft] val MinhashMetaNumHashes = "graft.minhash.numHashes"
  private[graft] val MinhashMetaBands = "graft.minhash.bands"
  private[graft] val MinhashMetaShingleN = "graft.minhash.shingleN"

  /** Near-duplicate pairs between a NEW batch and an existing
    * [[minhashIndex]] — the incremental form of [[minhashLshPairs]] for
    * rolling ingestion: the batch is shingled and signed once, candidates
    * come from joining the batch's band buckets against the index's, and
    * verification intersects the batch's sorted shingle hashes with the
    * hashes STORED in the index. The corpus itself is never touched.
    * Returns (id_a = index doc, id_b = batch doc, jaccard_x1000 ≥
    * threshold); cross-side pairs only — batch-internal duplicates are
    * [[minhashLshPairs]] on the batch.
    *
    * Contracts, ENFORCED: `numHashes`/`bands`/`shingleN` must match the
    * index build — [[minhashIndex]] records them as schema metadata on the
    * `buckets` column and a mismatch raises here (an index stripped of its
    * metadata by a schema-rewriting transform skips the check — rebuild
    * indexes through [[minhashIndex]] to keep it). Id-identical pairs
    * (id_a == id_b — a re-ingest of an already-indexed doc) are excluded
    * structurally: a self-pair is never a dedup decision, and letting one
    * through would make downstream clustering collapse the doc into a
    * wrong keep-decision. Overlapping re-ingests beyond self-pairs simply
    * re-derive the pairs already recorded for that id. `candidateObs`,
    * when set, observes `candidates` = post-dedup candidate-pair count
    * (for plan audits, like [[editDistancePairs]]).
    *
    * Scale shape: index postings are narrow (id, band, bucket) rows; the
    * candidate join keys on (band, bucket) where the batch side is small —
    * AQE broadcasts it — and the hot-bucket guard caps corpus boilerplate
    * buckets exactly like the batch operator. Verification joins the
    * (small) candidate set back to the two shingle stores by id. */
  def minhashLshIncremental(
      batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      shingleN: Int = 3, maxBucketSize: Int = 1000,
      candidateObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // validate against the build params the index carries in its schema
    // metadata — a silent mismatch would compare incompatible bucket
    // hashes (empty result) or incompatible shingle hashes (wrong jaccard)
    index.schema.find(_.name == "buckets").map(_.metadata).foreach { m =>
      def chk(key: String, passed: Int, label: String): Unit =
        if (m.contains(key)) require(m.getLong(key) == passed.toLong,
          s"minhash index was built with $label=${m.getLong(key)}, caller passed $passed")
      chk(MinhashMetaNumHashes, numHashes, "numHashes")
      chk(MinhashMetaBands, bands, "bands")
      chk(MinhashMetaShingleN, shingleN, "shingleN")
    }
    // the batch side is hashed by the SAME index builder — the verify join
    // below depends on batch and index shingle hashes being bit-compatible,
    // so there must be exactly one place that computes them
    val bsets = spillPersistEager(
      minhashIndex(batch, idCol, textCol, numHashes, bands, shingleN))
    def postings(src: DataFrame, outId: String) =
      src.select(col("id").as(outId), explode(col("buckets")).as("b"))
        .select(col(outId), col("b.band").as("band"), col("b.bucket").as("bucket"))
    val iPost = postings(index, "id_a")
    val bPost = postings(bsets, "id_b")
    // hot-bucket guard on the INDEX side: corpus-scale boilerplate buckets
    // are the quadratic risk; their members pair via other bands
    val oversized = iPost.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") > maxBucketSize)
      .select("band", "bucket")
    val cand0 = bPost.join(broadcast(oversized), Seq("band", "bucket"), "left_anti")
      .join(iPost, Seq("band", "bucket"))
      // re-ingest guard: a batch doc that already sits in the index under
      // the same id must not pair with itself
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val candidates = spillPersist(candidateObs match {
      case Some(o) => cand0.observe(o, count(lit(1)).as("candidates"))
      case scala.None => cand0
    })
    val tX1000 = (threshold * 1000).toLong
    candidates
      .join(index.select(col("id").as("id_a"), col("shn").as("shn_a"), col("shs").as("sh_a")), "id_a")
      .join(bsets.select(col("id").as("id_b"), col("shn").as("shn_b"), col("shs").as("sh_b")), "id_b")
      .filter(least(col("shn_a"), col("shn_b")) * 1000L >=
        greatest(col("shn_a"), col("shn_b")) * tX1000)
      .withColumn("jaccard_x1000", jaccardX1000Sorted(
        col("sh_a"), col("sh_b"), col("shn_a"), col("shn_b")))
      .filter(col("jaccard_x1000") >= tX1000)
      .select("id_a", "id_b", "jaccard_x1000")
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs: shingle
    * sets are computed ONCE PER DOCUMENT on the (broadcastable) text side —
    * never per pair, and never inlined into a join condition where the
    * whole shingling tree would re-evaluate per probed row (measured 5×
    * slower when Catalyst pushed the inlined filter into the join). The
    * per-pair intersect runs over xxhash64'd shingles (primitive longs):
    * candidate volume at loose banding thresholds makes UTF8String
    * intersects the dominant cost (same design as [[ngramJaccardPairs]];
    * a 64-bit collision inside one document pair is the only way a value
    * could differ from the string form — vanishing at corpus shingle
    * cardinalities, and the oracle gates confirm exact parity). */
  private def verifyJaccard(
      df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, threshold: Double, shingleN: Int,
      restrictSetsToCandidates: Boolean = true): DataFrame = {
    // restrictSetsToCandidates: shingle only docs appearing in some pair
    // (right when candidates ≪ corpus — the minhash/ngram case: banding on
    // 64-bit keys collides only true near-dups). Costs a persist barrier +
    // distinct + semi-join; when the banding keyspace is SMALL (simhash:
    // ≤ 16-bit chunks) candidates span ~the whole corpus and those extra
    // exchanges are pure fixed cost — shingle the full corpus once and
    // stream the pairs straight into the verify joins instead.
    val p = if (restrictSetsToCandidates) spillPersist(pairs) else pairs
    // spread: the shingle+sort pass below is CPU-dense, and BOTH branches
    // inherit the source scan's partitioning (a broadcast semi-join adds
    // no exchange) — a one-row-group corpus file would run it on one core.
    // The partition-count PROBE runs against the bare projection (probing
    // a join plan would execute its broadcast-build stages once for the
    // probe and again for the real query), but the REPARTITION applies to
    // the semi-joined result so only candidate-matched rows ever shuffle
    val narrow = df.select(col(idCol), col(textCol))
    val joined =
      if (restrictSetsToCandidates) {
        val ids = p.select(col("id_a").as(idCol))
          .unionByName(p.select(col("id_b").as(idCol))).distinct()
        narrow.join(ids, Seq(idCol), "left_semi")
      } else narrow
    val target = df.sparkSession.sparkContext.defaultParallelism
    val setsBase =
      if (narrow.rdd.getNumPartitions >= target) joined
      else joined.repartition(target)
    // both pair sides broadcast these sets under different aliases (no
    // exchange reuse across aliases) — persist so doc shingling runs
    // once, not once per broadcast build
    // SORTED hashed shingles: per-pair verification is then a native
    // zero-allocation merge walk (SortedIntersectCount) instead of
    // array_intersect's boxed per-pair hash set — the sort costs once per
    // DOC, the walk runs once per PAIR (the dominant side)
    val sets = spillPersistEager(
      shingleSets(setsBase, idCol, textCol, shingleN)
        .select(col(idCol), size(col("sh")).cast("long").as("shn"),
          sort_array(transform(col("sh"), s => xxhash64(s))).as("sh")))
    val tX1000 = (threshold * 1000).toLong
    p
      .join(sets.select(col(idCol).as("id_a"), col("shn").as("shn_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("shn").as("shn_b"), col("sh").as("sh_b")), "id_b")
      // size-ratio pre-filter (exact): J = I/U ≤ min/max since I ≤ min and
      // U ≥ max — so J ≥ t requires min·1000 ≥ max·⌊t·1000⌋. Two integer
      // column refs, evaluated BEFORE the per-pair merge walk — at loose
      // banding most candidates die here (measured: the intersect
      // dominated verify 4:1 without it)
      .filter(least(col("shn_a"), col("shn_b")) * 1000L >=
        greatest(col("shn_a"), col("shn_b")) * tX1000)
      .withColumn("jaccard_x1000", jaccardX1000Sorted(
        col("sh_a"), col("sh_b"), col("shn_a"), col("shn_b")))
      .filter(col("jaccard_x1000") >= tX1000)
      .select("id_a", "id_b", "jaccard_x1000")
  }

  /** Exact Jaccard over two distinct-element arrays, as an integer per-mille
    * (avoids float comparison hazards downstream). */
  def jaccardX1000(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("long")
    val union = (size(a) + size(b)).cast("long") - inter
    // Column `/` is double division — floor+cast for exact integer per-mille
    when(union > 0, floor((inter * 1000L) / union).cast("long")).otherwise(lit(1000L))
  }

  /** [[jaccardX1000]] over SORTED long arrays with the sizes already at
    * hand: the native merge-walk kernel replaces array_intersect's boxed
    * per-pair hash set. Same value, set semantics included (duplicate
    * values count once on both paths). */
  def jaccardX1000Sorted(a: Column, b: Column, na: Column, nb: Column): Column = {
    val inter = graft.functions.NativeHash.sortedIntersectCount(a, b)
    val union = na + nb - inter
    when(union > 0, floor((inter * 1000L) / union).cast("long")).otherwise(lit(1000L))
  }

  /** Direct n-gram Jaccard pairs via a PREFIX-FILTERED inverted shingle
    * index — the guaranteed-recall counterpart of [[minhashLshPairs]], with
    * the classic similarity-join prefix filter (PPJoin lineage): order each
    * doc's shingles by GLOBAL document frequency (rarest first, hash
    * tiebreak — one canonical order for the whole corpus) and index only
    * the first |s| − ⌈t·|s|⌉ + 1 of them. Any pair with Jaccard ≥ t must
    * overlap in at least one prefix shingle (pigeonhole on the canonical
    * order), so recall stays total while hot boilerplate shingles — the
    * quadratic blowup — fall OUT of the prefixes of all but the shortest
    * docs. Candidates are then verified with the exact per-mille Jaccard
    * over full shingle sets.
    *
    * `maxDocFreq`, when set, additionally drops shingles appearing in more
    * than that many docs from the index via a broadcast anti-join — the
    * belt-and-braces skew cap, at the cost of exactness on pairs that ONLY
    * share dropped shingles. Default None = exact. */
  /** (id, sz, hs) — the similarity-join family's shared verify store:
    * hs = the doc's distinct shingles hashed to longs and SORTED, so
    * per-pair verification is the native merge walk; persisted spill-safe
    * (released by [[releaseIntermediates]]). `sz` rides alongside `hs` so
    * CollapseProject keeps the shingle tree out of the transform lambda.
    * ONE implementation — batch operators, index builders and incremental
    * probes all hash through here, so their hashes stay bit-compatible. */
  private def hashedShingleSets(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    spillPersistEager(
      shingleSets(spread(df.select(col(idCol).as("id"), col(textCol))), "id", textCol, shingleN)
        .select(col("id"), size(col("sh")).cast("long").as("sz"),
          sort_array(transform(col("sh"), s => xxhash64(s))).as("hs")))

  /** Exploded (id, sz, shh) postings of a [[hashedShingleSets]] relation,
    * minus shingles in more than `maxDocFreq` docs (broadcast anti-join) —
    * the belt-and-braces skew cap, at the cost of exactness on pairs whose
    * every shared shingle is dropped. `capObs`, when set, observes
    * `capped_shingles` (distinct shingles the cap dropped) and
    * `capped_postings` (posting rows they carried) — zero on both means
    * the capped run was in fact EXACT, so a production job can tell a
    * lossy run from a lossless one at runtime instead of trusting the
    * corpus to be skew-free. */
  private def cappedPostings(hsets: DataFrame, maxDocFreq: Option[Int],
      capObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val posting0 = hsets.select(col("id"), col("sz"), explode(col("hs")).as("shh"))
    maxDocFreq.fold(posting0) { cap =>
      val hot0 = posting0.groupBy("shh").agg(count(lit(1)).as("hdf"))
        .filter(col("hdf") > cap)
      val hot = capObs match {
        // the consumer self-joins the capped postings, so the observed
        // subtree would appear TWICE in the final plan and the metrics
        // never surface — persist the (tiny: only above-cap shingles)
        // audit relation eagerly so the observation fires exactly once,
        // in its own action, and the join reads the cached rows
        case Some(ob) => spillPersistEager(hot0.observe(ob,
          count(lit(1)).as("capped_shingles"),
          coalesce(sum("hdf"), lit(0L)).as("capped_postings")))
        case scala.None => hot0
      }
      posting0.join(broadcast(hot.select("shh")), Seq("shh"), "left_anti")
    }
  }

  /** Rarest-first canonical prefix of each doc's postings (global
    * document-frequency order, hash tiebreak): rows (shh, id) keeping each
    * doc's first `prefixLen(sz)` postings. */
  private def prefixPostings(
      posting: DataFrame, prefixLen: Column => Column): DataFrame = {
    val dfreq = posting.groupBy("shh").agg(count(lit(1)).as("sdf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("sdf"), col("shh"))
    posting.join(dfreq, "shh")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefixLen(col("sz")))
      .select("shh", "id")
  }

  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.3, shingleN: Int = 3,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val hsets = hashedShingleSets(df, idCol, textCol, shingleN)
    val posting = cappedPostings(hsets, maxDocFreq)
    // prefix length |s| − ⌈t·|s|⌉ + 1 keeps recall total for J ≥ t
    val prefix = prefixPostings(posting,
      sz => sz - ceil(sz * threshold) + 1)
    val cand = prefix.select(col("shh"), col("id").as("id_a"))
      .join(prefix.select(col("shh"), col("id").as("id_b")), Seq("shh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    // exact verify over the sorted hashed shingle sets (persisted above):
    // size-ratio prefilter, then the native merge-walk intersect
    val tX1000 = (threshold * 1000).toLong
    cand
      .join(hsets.select(col("id").as("id_a"), col("sz").as("sz_a"), col("hs").as("hs_a")), "id_a")
      .join(hsets.select(col("id").as("id_b"), col("sz").as("sz_b"), col("hs").as("hs_b")), "id_b")
      .filter(least(col("sz_a"), col("sz_b")) * 1000L >=
        greatest(col("sz_a"), col("sz_b")) * tX1000)
      .withColumn("jaccard_x1000", jaccardX1000Sorted(
        col("hs_a"), col("hs_b"), col("sz_a"), col("sz_b")))
      .filter(col("jaccard_x1000") >= tX1000)
      .select("id_a", "id_b", "jaccard_x1000")
  }

  /** CONTAINMENT pairs — the asymmetric cousin of [[ngramJaccardPairs]]:
    * C(A,B) = |A∩B| / min(|A|,|B|) ≥ `threshold`, which catches a small
    * document QUOTED INSIDE a large one (Jaccard punishes the size gap:
    * a 50-shingle doc fully contained in a 5000-shingle doc has J ≈ 0.01
    * but C = 1.0) — the boilerplate/quotation detector a pretraining
    * pipeline runs next to near-dup.
    *
    * Recall contract: TOTAL for every pair whose SMALLER side has at
    * least `minShingles` distinct shingles (and both sides ≥ 1). The
    * prefix-filter lemma needs a lower bound on the overlap to know how
    * much of each doc must be indexed; containment only bounds it
    * relative to the smaller side, so o = ⌈threshold · minShingles⌉ is
    * the corpus-wide floor and every doc indexes its first
    * |s| − o + 1 shingles in the canonical rarest-first order — any
    * qualifying pair overlaps in ≥ o shingles and must collide in the
    * indexed prefixes (pigeonhole). Pairs whose smaller side is below
    * `minShingles` are OUT OF CONTRACT (they are near-empty docs;
    * lower `minShingles` to chase them, at prefix-length cost).
    *
    * Scale shape: identical to [[ngramJaccardPairs]] — hashed shingle
    * sets persisted once (sorted, for the codegen merge-walk verify),
    * prefix posting join keyed on the shingle hash, size-ratio-free
    * exact verify (containment has no size-ratio prune: a 100× size gap
    * is exactly what it looks for). Returns (id_a, id_b,
    * containment_x1000) with id_a < id_b.
    *
    * SKEW GUARD (the 100 TB path): the constant-o prefix (|s| − o + 1) is
    * nearly the WHOLE doc, so — unlike the Jaccard join, whose prefix
    * shrinks with doc size — a mid-frequency boilerplate shingle stays
    * indexed corpus-wide and its posting list self-joins QUADRATICALLY.
    * `maxDocFreq` therefore defaults ON ([[Dedup.ContainmentDefaultMaxDocFreq]]):
    * shingles appearing in more docs than the cap are dropped from the
    * posting index before the join, bounding any posting list's pair
    * fan-out at cap²/2. Exactness trade (documented, deliberate): a pair
    * whose EVERY shared shingle is above the cap is missed — at the
    * default cap that means two docs sharing only corpus-boilerplate text,
    * which is the pair a containment dedup WANTS to ignore. Pass
    * `maxDocFreq = None` to force total recall on a corpus known to be
    * skew-free. `candidateObs`, when set, observes `candidates` =
    * post-dedup candidate-pair count (plan audits, the
    * [[editDistancePairs]] pattern); `capObs` observes `capped_shingles` /
    * `capped_postings` — zero on both means the capped run was in fact
    * EXACT (nothing crossed the doc-frequency cap), so lossy and lossless
    * runs are distinguishable at runtime. */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleN: Int = 3,
      minShingles: Int = 10,
      maxDocFreq: Option[Int] = Some(ContainmentDefaultMaxDocFreq),
      candidateObs: Option[org.apache.spark.sql.Observation] = None,
      capObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    require(minShingles >= 1, s"minShingles must be >= 1, got $minShingles")
    val o = math.ceil(threshold * minShingles).toLong.max(1L)
    val hsets0 = hashedShingleSets(df, idCol, textCol, shingleN)
    // the output contract keeps only pairs with BOTH sides ≥ minShingles
    // (least(sz_a, sz_b) ≥ m ⇔ sz_a ≥ m ∧ sz_b ≥ m), so the filter
    // decomposes per side and pushes BELOW the candidate join: sub-floor
    // docs never enter the posting index, shrinking the quadratic prefix
    // self-join instead of discarding their pairs after the verify joins
    // (guide §2.3 project/filter before the exchange; Catalyst cannot
    // derive this itself — the original predicate references both sides).
    // Output identical under the recall contract; with maxDocFreq SET the
    // early floor can only IMPROVE recall, never lose a pair: removing
    // sub-floor docs shrinks document frequencies, so strictly fewer
    // shingles cross the cap and strictly more postings survive into the
    // index (verification is exact, so extra candidates can only surface
    // additional in-contract pairs the capped index previously missed —
    // see ContainmentCapBoundarySpec, which pins the straddling case).
    // `capObs` counts shift accordingly on capped runs.
    val hsets = hsets0.filter(col("sz") >= minShingles)
    val posting = cappedPostings(hsets, maxDocFreq, capObs)
    // constant overlap floor o ⇒ prefix |s| − o + 1 for EVERY doc
    val prefix = prefixPostings(posting, sz => sz - o + 1)
    val cand0 = prefix.select(col("shh"), col("id").as("id_a"))
      .join(prefix.select(col("shh"), col("id").as("id_b")), Seq("shh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val cand = candidateObs match {
      case Some(ob) => cand0.observe(ob, count(lit(1)).as("candidates"))
      case scala.None => cand0
    }
    val tX1000 = (threshold * 1000).toLong
    cand
      .join(hsets.select(col("id").as("id_a"), col("sz").as("sz_a"), col("hs").as("hs_a")), "id_a")
      .join(hsets.select(col("id").as("id_b"), col("sz").as("sz_b"), col("hs").as("hs_b")), "id_b")
      .withColumn("containment_x1000",
        floor((graft.functions.NativeHash.sortedIntersectCount(col("hs_a"), col("hs_b")) * 1000L) /
          least(col("sz_a"), col("sz_b"))).cast("long"))
      .filter(col("containment_x1000") >= tX1000)
      .select("id_a", "id_b", "containment_x1000")
  }

  private[graft] val ContainmentMetaShingleN = "graft.containment.shingleN"
  private[graft] val ContainmentMetaOverlap = "graft.containment.minOverlap"

  /** Default posting-list document-frequency cap for the containment
    * family: a shingle present in more documents than this is dropped from
    * the posting index (it is corpus boilerplate, and containment's
    * near-full prefixes would otherwise self-join its posting list
    * quadratically). 100k bounds a single posting list's candidate
    * fan-out at ~5·10⁹ pairs corpus-wide — large but finite and banded
    * across the cluster — while being far above any real shingle's
    * document frequency at the gate scales (sf0.01: max df ≈ corpus
    * size ≪ 100k), so correctness gates are cap-invariant. */
  val ContainmentDefaultMaxDocFreq: Int = 100000

  /** Default candidate document-frequency cap for [[tfidfCosinePairs]] —
    * same role as [[ContainmentDefaultMaxDocFreq]]: a term in more
    * documents than this generates no candidate pairs (its posting list
    * would self-join quadratically), bounding per-term pair fan-out at
    * cap²/2 while `capObs` makes any loss runtime-observable. */
  val TfidfDefaultMaxDocFreq: Int = 10000

  /** TF-IDF weighted cosine near-dup pairs — the "embedding-cosine"
    * dedup family computed from RAW TEXT in-engine: each document becomes
    * a sparse weighted vector over its token n-gram shingles
    * (`w = min(tf, tfCap) · min(N·100 DIV df, idfCapX100)` — saturating
    * term frequency, rational idf ×100; both caps bound every magnitude so
    * the whole pipeline stays in EXACT integer arithmetic — see the
    * bounds below), and pairs with cos²(a,b) ≥ threshold² are returned as
    * (id_a, id_b, cos2_x1e6) with `cos2_x1e6 = dot²·10⁶ DIV (‖a‖²·‖b‖²)`
    * — cosine SQUARED ×1e6, monotone in cosine, exact with no square
    * root. Unlike Jaccard (set overlap) this downweights corpus-common
    * shingles and upweights repeated rare content; unlike
    * [[semanticDupes]] it needs no embedding column.
    *
    * Integer-exactness bounds (the reason for the caps): with tfCap = 15
    * and idfCapX100 = 10000, w ≤ 150 000, so for documents up to 10⁵
    * distinct shingles ‖·‖² ≤ 2.25e15 (long-exact), dot ≤ 2.25e15
    * (long-exact in the merge-walk kernel), and dot²·10⁶ ≤ 5.1e36 <
    * 10³⁸ — inside DECIMAL(38,0) here and HUGEINT in a SQL oracle, so the
    * final predicate is replayable bit-for-bit on any engine. The bound
    * is ENFORCED at runtime, not just documented: [[tfidfN2Guard]]
    * refuses loudly at vector-build time when any document's ‖·‖²
    * exceeds [[TfidfMaxN2]] (the Cauchy–Schwarz-derived budget under
    * which no pair can overflow), so an out-of-contract corpus fails
    * instead of silently dropping pairs to a null-on-overflow cast.
    *
    * Scale shape (100 TB): one corpus shuffle builds (doc, shingle-hash,
    * tf); df is a map-side-combinable count; candidates come from the
    * inverted index restricted to each doc's NORM PREFIX (the
    * Bayardo-style cosine prefix filter, Bayardo et al. WWW'07 — see the
    * recall proof at the construction site: only the rarest-first terms
    * carrying the top 1 − t² of each doc's squared mass are indexed,
    * recall stays TOTAL) intersected with sub-`maxDocFreq` terms;
    * verify is ONE row per candidate pair through the codegen'd
    * merge-walk dot kernel over the persisted sorted vectors — FULL
    * vectors, so prefix and cap affect WHICH pairs are checked, never the
    * score of a checked pair. Exactness trade (the [[containmentPairs]]
    * contract): a pair sharing ONLY above-cap terms is missed; `capObs`
    * observes `capped_terms`/`capped_postings` — zero on both means the
    * run was in fact EXACT (the prefix filter, unlike the cap, loses
    * nothing ever). Gram identity is the 64-bit hash (collisions
    * indistinguishable at any real vocabulary). */
  def tfidfCosinePairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleN: Int = 3,
      tfCap: Int = 15, idfCapX100: Long = 10000L,
      maxDocFreq: Option[Int] = Some(TfidfDefaultMaxDocFreq),
      candidateObs: Option[org.apache.spark.sql.Observation] = None,
      capObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // w ≤ tfCap·idfCapX100 =: W must satisfy (10⁵·W²)²·10⁶ < 10³⁸ (dot over
    // up to 10⁵ shared terms, squared, ×1e6, inside DECIMAL(38,0)/HUGEINT)
    // → W ≤ 3·10⁵ — enforced by tfidfRequire
    tfidfRequire(threshold, tfCap, idfCapX100)
    // (doc, shingle-hash, saturated-tf · idf weight, df): the one corpus
    // shuffle; weights use FULL df (the cap below gates candidates only)
    val (weighted, dfreq) =
      tfidfWeightedPostings(df, idCol, textCol, shingleN, tfCap, idfCapX100)
    // per-doc sorted sparse vectors + squared norms (long-exact, see bounds)
    val vecs = tfidfVecsOf(weighted)
    val t2x1e6Pre = math.round(threshold * threshold * 1e6)
    // NORM PREFIX FILTER (the Bayardo/PPJoin cosine prefix, integer-exact):
    // under the global canonical order (df asc, th asc — rarest first),
    // each doc indexes only its shortest prefix whose remaining TAIL has
    // suffix-norm² · 10⁶ < t²x1e6 · ‖d‖² — i.e. the prefix carries the top
    // 1 − t² of squared mass. Recall is total: for a qualifying pair let s
    // be the canonically-FIRST shared term; if s were outside doc a's
    // prefix, every shared term would sit in a's tail, and Cauchy-Schwarz
    // gives dot² ≤ suf·‖b‖², so dot²·10⁶ < t²x1e6·‖a‖²·‖b‖² — NOT
    // qualifying. Hence s is in BOTH prefixes, and (df-cap interaction) s
    // is the rarest shared term, so whenever any shared term is sub-cap, s
    // is sub-cap and posted — the join finds every pair the full-posting
    // rule finds. At t = 0.8 the tail may hold up to 64% of the squared
    // mass, so the quadratic candidate volume rides only the rare-heavy
    // 36% head. The row-k keep test sums w² over [current, end) of the
    // canonical order: keep iff that (w_k² + tail) · 10⁶ ≥ t²x1e6 · ‖d‖²
    // (suffix sums shrink monotonically, so kept rows are exactly the
    // prefix). 128-bit compare — both sides exceed a long at full caps.
    val wPre = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").asc, col("th").asc)
    val prefixKeep = weighted
      .withColumn("__suf", sum(col("w") * col("w")).over(
        wPre.rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("__n2", sum(col("w") * col("w")).over(
        wPre.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(expr(s"CAST(__suf AS DECIMAL(19,0)) * 1000000 >= " +
        s"$t2x1e6Pre * CAST(__n2 AS DECIMAL(19,0))"))
      .select("th", "id", "df")
    val posting = maxDocFreq.fold(prefixKeep.select("th", "id")) { cap =>
      capObs match {
        case Some(ob) =>
          // persist the (tiny: above-cap terms only) audit relation eagerly
          // so the observation fires exactly once — the cappedPostings rule
          val hot = spillPersistEager(dfreq.filter(col("df") > cap).observe(ob,
            count(lit(1)).as("capped_terms"),
            coalesce(sum("df"), lit(0L)).as("capped_postings")))
          prefixKeep.select("th", "id")
            .join(broadcast(hot.select("th")), Seq("th"), "left_anti")
        case scala.None =>
          prefixKeep.filter(col("df") <= cap).select("th", "id")
      }
    }
    val cand0 = posting.select(col("th"), col("id").as("id_a"))
      .join(posting.select(col("th"), col("id").as("id_b")), Seq("th"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val cand = candidateObs match {
      case Some(ob) => cand0.observe(ob, count(lit(1)).as("candidates"))
      case scala.None => cand0
    }
    val t2x1e6 = math.round(threshold * threshold * 1e6)
    cand
      .join(vecs.select(col("id").as("id_a"), col("n2").as("n2_a"),
        col("ks").as("ks_a"), col("ws").as("ws_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("n2").as("n2_b"),
        col("ks").as("ks_b"), col("ws").as("ws_b")), "id_b")
      .withColumn("dot", graft.functions.NativeHash.sortedWeightedDot(
        col("ks_a"), col("ws_a"), col("ks_b"), col("ws_b")))
      // exact integral quotient: DECIMAL(38,0) products, DIV (IntegralDivide
      // truncates — decimal `/` would ROUND at the result scale and disagree
      // with a HUGEINT `//` oracle near bucket edges)
      .withColumn("cos2_x1e6", expr(
        "(CAST(dot AS DECIMAL(19,0)) * CAST(dot AS DECIMAL(19,0)) * 1000000)" +
          " DIV (CAST(n2_a AS DECIMAL(19,0)) * CAST(n2_b AS DECIMAL(19,0)))"))
      .filter(col("cos2_x1e6") >= t2x1e6)
      .select("id_a", "id_b", "cos2_x1e6")
  }

  /** Weighted tf-idf postings (id, th, df, w) + the (th, df) census — the
    * shared construction of the tf-idf cosine family (magnitude
    * discipline documented on [[tfidfCosinePairs]]).
    *
    * The corpus is scanned exactly ONCE (spec-pinned): the document count
    * the idf needs rides the tf build as an Observation instead of a
    * separate `df.count()` action — on a bare parquet scan that count was
    * a footer read, but the input is ANY DataFrame (post-filter
    * projections in composed pipelines), where it was a genuine second
    * corpus pass. The tf relation is persisted just long enough to fire
    * the observation and derive the census; the returned census is
    * re-derived from the PERSISTED postings, so downstream consumers
    * (the hot-term cap audit) never reach back past the persist. */
  private def tfidfWeightedPostings(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int,
      tfCap: Int, idfCapX100: Long): (DataFrame, DataFrame) = {
    val nObs = org.apache.spark.sql.Observation()
    // the observe sits ABOVE spread: spread's partition probe (`.rdd`)
    // registers a zero-row execution on the probed plan, and an
    // Observation latches onto the FIRST completed execution containing
    // its CollectMetrics — observed-below-spread it reads 0 (probed
    // empirically on Spark 4.1); observed above, the first execution is
    // the eager persist's count and the metric is the true corpus count
    val tf = spillPersistEager(
      spread(df.select(col(idCol).as("id"), col(textCol)))
        .observe(nObs, count(lit(1)).as("n"))
        .select(col("id"), tokens(col(textCol)).as("__toks"))
        .select(col("id"),
          explode(shinglesFromTokens(col("__toks"), shingleN)).as("term"))
        .groupBy(col("id"), xxhash64(col("term")).as("th"))
        .agg(count(lit(1)).as("tf")))
    val n = nObs.get("n").asInstanceOf[Long]
    val dfreq = tf.groupBy("th").agg(count(lit(1)).as("df"))
    val weighted = spillPersistEager(tf.join(dfreq, "th")
      .select(col("id"), col("th"), col("df"),
        (least(col("tf"), lit(tfCap.toLong)) *
          least(expr(s"CAST(${n * 100L} DIV df AS BIGINT)"), lit(idfCapX100)))
          .as("w")))
    tf.unpersist(blocking = false)
    (weighted, weighted.groupBy("th").agg(first(col("df")).as("df")))
  }

  /** Per-document squared-norm budget that keeps the cos²·1e6 predicate
    * integer-exact: by Cauchy–Schwarz `dot² ≤ n2_a · n2_b`, so with every
    * doc's `n2 ≤ 3.1e15` the predicate's `dot²·1e6 ≤ 9.61e36` stays
    * inside DECIMAL(38,0) (1e38) AND DuckDB's HUGEINT (~1.7e38), and the
    * DECIMAL(19,0) casts on the norm-prefix filter (`n2·1e6 ≤ 3.1e21`
    * after widening) stay exact. At the full default caps
    * (w ≤ 1.5e5, w² ≤ 2.25e10) the budget admits ~1.37e5 distinct
    * shingles per document — the docstring's 1e5 contract with headroom. */
  private[graft] val TfidfMaxN2 = 3100000000000000L // 3.1e15

  /** The runtime refusal behind [[TfidfMaxN2]]: an out-of-contract
    * document (more weighted-shingle mass than the exactness budget)
    * must fail LOUDLY at vector-build time, not overflow `dot²·1e6` past
    * DECIMAL(38,0) — which in non-ANSI mode yields null and silently
    * DROPS the pair (and would overflow the HUGEINT oracle too). */
  private[graft] def tfidfN2Guard(n2: Column, id: Column): Column =
    when(n2 > lit(TfidfMaxN2), raise_error(concat(
      lit("graft tfidf: document "), id.cast("string"),
      lit(" has squared tf-idf norm "), n2.cast("string"),
      lit(s" > $TfidfMaxN2 — beyond the integer-exactness budget " +
        "(~1e5 distinct shingles at full caps); split the document or " +
        "lower tfCap/idfCapX100"))))
      .otherwise(n2)

  /** (id, n2, ks, ws) sorted sparse vectors of a weighted-postings
    * relation — the merge-walk dot kernel's operand encoding. The
    * [[tfidfN2Guard]] exactness refusal fires here, at the eager persist,
    * so every family member (pairs, index build, incremental batch side)
    * refuses before any predicate can overflow. */
  private def tfidfVecsOf(weighted: DataFrame): DataFrame =
    spillPersistEager(weighted
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("th"), col("w")))).as("kw"),
        sum(col("w") * col("w")).as("n2"))
      .select(col("id"), tfidfN2Guard(col("n2"), col("id")).as("n2"),
        transform(col("kw"), x => x.getField("th")).as("ks"),
        transform(col("kw"), x => x.getField("w")).as("ws")))

  private def tfidfRequire(threshold: Double, tfCap: Int, idfCapX100: Long): Unit = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    require(tfCap >= 1 && tfCap <= 1000, s"tfCap in [1,1000], got $tfCap")
    require(idfCapX100 >= 100L && idfCapX100 <= 150000L,
      s"idfCapX100 in [100, 150000], got $idfCapX100")
    require(tfCap.toLong * idfCapX100 <= 300000L,
      s"tfCap·idfCapX100 = ${tfCap.toLong * idfCapX100} exceeds the " +
        "3e5 integer-exactness budget (dot²·1e6 must fit DECIMAL(38,0))")
  }

  private[graft] val TfidfMetaShingleN = "graft.tfidf.shingleN"
  private[graft] val TfidfMetaTfCap = "graft.tfidf.tfCap"
  private[graft] val TfidfMetaIdfCap = "graft.tfidf.idfCapX100"
  private[graft] val TfidfMetaT2x1e6 = "graft.tfidf.buildT2x1e6"

  /** Persistable tf-idf cosine corpus INDEX: one row per doc — squared
    * norm `n2` plus the sorted (shingle-hash, weight) sparse vector as the
    * parallel `ks`/`ws` arrays (the [[graft.functions.HashKernels
    * .sortedWeightedDot]] operand encoding). Write as parquet and feed
    * [[tfidfCosineIncremental]]: a daily batch is cosine-checked against
    * an N-billion-doc corpus without re-reading or re-shingling corpus
    * text. The index is SELF-CONTAINED — the build-time document count
    * and per-term document frequencies are recoverable from the stored
    * vectors themselves (`count(*)` and an explode-count over `ks`), so
    * no side table has to travel with it. Build params ride the schema
    * metadata (the [[minhashIndex]]/[[containmentIndex]] rule) so a
    * mismatched query raises instead of silently scoring with different
    * weights.
    *
    * `threshold` (default 0 = keep everything) additionally stores each
    * doc's NORM-PREFIX posting keys `pks` — the rarest-first terms
    * carrying the top 1 − threshold² of squared mass (the
    * [[tfidfCosinePairs]] prefix rule). [[tfidfCosineIncremental]] then
    * posts ONLY `pks` on the index side: since the batch posts ALL its
    * terms, the one-sided Cauchy-Schwarz argument keeps recall total for
    * any query threshold ≥ the build threshold (enforced via metadata) —
    * and a per-ingest candidate pass touches the prefix volume, not the
    * full stored posting set. */
  def tfidfIndex(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int = 3,
      tfCap: Int = 15, idfCapX100: Long = 10000L,
      threshold: Double = 0.0): DataFrame = {
    tfidfRequire(1.0, tfCap, idfCapX100)
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    require(threshold >= 0 && threshold <= 1, s"threshold in [0,1], got $threshold")
    val (weighted, _) =
      tfidfWeightedPostings(df, idCol, textCol, shingleN, tfCap, idfCapX100)
    val t2x1e6 = math.round(threshold * threshold * 1e6)
    val wPre = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").asc, col("th").asc)
    val prefixes = weighted
      .withColumn("__suf", sum(col("w") * col("w")).over(
        wPre.rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("__n2", sum(col("w") * col("w")).over(
        wPre.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(expr(s"CAST(__suf AS DECIMAL(19,0)) * 1000000 >= " +
        s"$t2x1e6 * CAST(__n2 AS DECIMAL(19,0))"))
      .groupBy("id").agg(collect_list(col("th")).as("pks"))
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(TfidfMetaShingleN, shingleN.toLong)
      .putLong(TfidfMetaTfCap, tfCap.toLong)
      .putLong(TfidfMetaIdfCap, idfCapX100)
      .putLong(TfidfMetaT2x1e6, t2x1e6).build()
    tfidfVecsOf(weighted)
      .join(prefixes, Seq("id"), "left")
      .select(col("id"), col("n2"), col("ks").as("ks", meta), col("ws"),
        coalesce(col("pks"), array().cast("array<bigint>")).as("pks"))
  }

  /** The (th, df) term census of a [[tfidfIndex]], derived from the stored
    * vectors (one narrow hash-only pass). An operation folding many
    * batches should run this ONCE, persist the result (e.g. in a
    * [[graft.store.VersionedTable]]), and hand it to
    * [[tfidfCosineIncremental]]'s `stats` parameter — each ingest then
    * skips the O(index-postings) derivation scan. */
  def tfidfStats(index: DataFrame): DataFrame =
    index.select(explode(col("ks")).as("th"))
      .groupBy("th").agg(count(lit(1)).as("df"))

  /** Cosine pairs between a NEW batch and a [[tfidfIndex]] — the
    * rolling-ingest form of [[tfidfCosinePairs]], under the FROZEN-IDF
    * serving convention (the standard way a trained tf-idf model scores
    * unseen documents): the batch weights itself with the INDEX's
    * document count and per-term document frequencies, both recovered
    * from the stored vectors (one narrow hash-only pass — corpus text is
    * never touched); a term the index never saw takes `df = 1`, the
    * rarest-possible idf (capped as always). Candidates come from joining
    * the batch's postings against the index's sub-`maxDocFreq` postings
    * (cap measured on the frozen census); verify is the same merge-walk
    * dot + exact integer cos²·1e6 predicate over full vectors. Batch ids
    * must be disjoint from index ids (the [[containmentIncremental]]
    * contract). Returns (id_a = index doc, id_b = batch doc, cos2_x1e6).
    *
    * At 100 TB the census derivation is an O(index-postings) narrow scan
    * per ingest; an operation folding many batches should run
    * [[tfidfStats]] once, PERSIST the census, and pass it as `stats` —
    * each ingest then touches only the batch and the (term-cardinality-
    * sized) stored census. `stats`, when given, must be the census of
    * exactly this index (the [[tfidfStats]] shape: one (th, df) row per
    * stored term). */
  def tfidfCosineIncremental(
      batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleN: Int = 3,
      tfCap: Int = 15, idfCapX100: Long = 10000L,
      maxDocFreq: Option[Int] = Some(TfidfDefaultMaxDocFreq),
      candidateObs: Option[org.apache.spark.sql.Observation] = None,
      stats: Option[DataFrame] = None): DataFrame = {
    tfidfRequire(threshold, tfCap, idfCapX100)
    val t2x1e6 = math.round(threshold * threshold * 1e6)
    index.schema.find(_.name == "ks").map(_.metadata).foreach { m =>
      def chk(key: String, passed: Long, label: String): Unit =
        if (m.contains(key)) require(m.getLong(key) == passed,
          s"tfidf index was built with $label=${m.getLong(key)}, caller passed $passed")
      chk(TfidfMetaShingleN, shingleN.toLong, "shingleN")
      chk(TfidfMetaTfCap, tfCap.toLong, "tfCap")
      chk(TfidfMetaIdfCap, idfCapX100, "idfCapX100")
      // stored prefixes prune recall-safely only for thresholds AT OR ABOVE
      // the build threshold (a lower query threshold would need tail terms
      // the prefix dropped)
      if (m.contains(TfidfMetaT2x1e6)) require(m.getLong(TfidfMetaT2x1e6) <= t2x1e6,
        s"tfidf index prefixes were built for threshold² ≥ " +
          s"${m.getLong(TfidfMetaT2x1e6)}/1e6; query threshold² = $t2x1e6/1e6 " +
          "is below it — rebuild the index or raise the query threshold")
    }
    val n0 = index.count()
    val df0 = spillPersistEager(stats match {
      case Some(s) =>
        require(s.schema.fieldNames.contains("th") && s.schema.fieldNames.contains("df"),
          s"stats must be a tfidfStats census with (th, df), got ${s.schema.fieldNames.mkString(", ")}")
        s.select("th", "df")
      case scala.None => tfidfStats(index)
    })
    val tf = spread(batch.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(shinglesFromTokens(col("__toks"), shingleN)).as("term"))
      .groupBy(col("id"), xxhash64(col("term")).as("th"))
      .agg(count(lit(1)).as("tf"))
    val bw = spillPersistEager(tf.join(df0, Seq("th"), "left")
      .select(col("id"), col("th"),
        (least(col("tf"), lit(tfCap.toLong)) *
          least(expr(s"CAST(${n0 * 100L} DIV coalesce(df, 1) AS BIGINT)"),
            lit(idfCapX100))).as("w")))
    val bvecs = tfidfVecsOf(bw)
    // index side posts its stored NORM PREFIX when the index carries one
    // (one-sided total recall: the batch posts ALL its terms, so a
    // qualifying pair always shares a term inside the index doc's prefix —
    // the Cauchy-Schwarz tail bound at the [[tfidfCosinePairs]] site);
    // legacy prefix-less indexes post their full vectors
    val postCol = if (index.schema.fieldNames.contains("pks")) "pks" else "ks"
    val iPost0 = index.select(col("id").as("id_a"), explode(col(postCol)).as("th"))
    val iPost = maxDocFreq.fold(iPost0)(cap =>
      iPost0.join(df0.filter(col("df") <= cap).select("th"), "th"))
    val cand0 = iPost
      .join(bw.select(col("th"), col("id").as("id_b")), Seq("th"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val cand = candidateObs match {
      case Some(ob) => cand0.observe(ob, count(lit(1)).as("candidates"))
      case scala.None => cand0
    }
    cand
      .join(index.select(col("id").as("id_a"), col("n2").as("n2_a"),
        col("ks").as("ks_a"), col("ws").as("ws_a")), "id_a")
      .join(bvecs.select(col("id").as("id_b"), col("n2").as("n2_b"),
        col("ks").as("ks_b"), col("ws").as("ws_b")), "id_b")
      .withColumn("dot", graft.functions.NativeHash.sortedWeightedDot(
        col("ks_a"), col("ws_a"), col("ks_b"), col("ws_b")))
      .withColumn("cos2_x1e6", expr(
        "(CAST(dot AS DECIMAL(19,0)) * CAST(dot AS DECIMAL(19,0)) * 1000000)" +
          " DIV (CAST(n2_a AS DECIMAL(19,0)) * CAST(n2_b AS DECIMAL(19,0)))"))
      .filter(col("cos2_x1e6") >= t2x1e6)
      .select("id_a", "id_b", "cos2_x1e6")
  }

  /** Persistable containment corpus INDEX: one row per doc with its size,
    * sorted hashed shingle set (the verify store), and its rarest-first
    * PREFIX hashes of length |s| − o + 1 under the build corpus's
    * canonical document-frequency order, o = ⌈threshold · minShingles⌉.
    * Write as parquet and feed [[containmentIncremental]] — a daily batch
    * is then containment-checked against an N-billion-doc corpus without
    * re-reading or re-shingling corpus text. Build params ride the schema
    * metadata (like [[minhashIndex]]) so a mismatched query raises. */
  def containmentIndex(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleN: Int = 3,
      minShingles: Int = 10,
      maxDocFreq: Option[Int] = Some(ContainmentDefaultMaxDocFreq),
      capObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    require(minShingles >= 1, s"minShingles must be >= 1, got $minShingles")
    val o = math.ceil(threshold * minShingles).toLong.max(1L)
    val buildMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(ContainmentMetaShingleN, shingleN.toLong)
      .putLong(ContainmentMetaOverlap, o).build()
    val hsets = hashedShingleSets(df, idCol, textCol, shingleN)
    // maxDocFreq caps the STORED prefixes; since candidates come from
    // joining batch postings against these, capping here alone bounds the
    // incremental join's fan-out (a batch shingle matching nothing dies in
    // the join) — same exactness caveat as the batch operator
    val prefixes = prefixPostings(cappedPostings(hsets, maxDocFreq, capObs),
        sz => sz - o + 1)
      .groupBy("id").agg(collect_list(col("shh")).as("prefix"))
    hsets.join(prefixes, Seq("id"), "left")
      .select(col("id"), col("sz"), col("hs"),
        coalesce(col("prefix"), array().cast("array<bigint>")).as("prefix", buildMeta))
  }

  /** Containment pairs between a NEW batch and a [[containmentIndex]] —
    * the rolling-ingest form: the batch is shingled once and posts ALL its
    * shingle hashes; the index side contributes only its STORED prefixes.
    * Recall stays total for in-contract pairs by pigeonhole: a qualifying
    * pair shares ≥ o shingles, and an index doc's prefix excludes only its
    * o − 1 canonically-last shingles, so at least one shared shingle sits
    * in the stored prefix — the batch side needs no canonical order at
    * all, which is what makes the incremental form possible (global
    * document frequencies shift as the corpus grows; stored prefixes
    * don't). Verification intersects the batch's sorted hashes with the
    * hashes STORED in the index — corpus text is never touched. Returns
    * (id_a = index doc, id_b = batch doc, containment_x1000); batch ids
    * must be disjoint from index ids (same contract as
    * [[minhashLshIncremental]] — id-identical pairs are excluded
    * structurally). */
  def containmentIncremental(
      batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleN: Int = 3,
      minShingles: Int = 10,
      candidateObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    require(minShingles >= 1, s"minShingles must be >= 1, got $minShingles")
    val o = math.ceil(threshold * minShingles).toLong.max(1L)
    index.schema.find(_.name == "prefix").map(_.metadata).foreach { m =>
      def chk(key: String, passed: Long, label: String): Unit =
        if (m.contains(key)) require(m.getLong(key) == passed,
          s"containment index was built with $label=${m.getLong(key)}, caller passed $passed")
      chk(ContainmentMetaShingleN, shingleN.toLong, "shingleN")
      chk(ContainmentMetaOverlap, o, "minOverlap ⌈t·minShingles⌉")
    }
    val bsets = hashedShingleSets(batch, idCol, textCol, shingleN)
    val iPost = index.select(col("id").as("id_a"), explode(col("prefix")).as("shh"))
    val bPost = bsets.select(col("id").as("id_b"), explode(col("hs")).as("shh"))
    val cand0 = iPost.join(bPost, Seq("shh"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val cand = candidateObs match {
      case Some(ob) => cand0.observe(ob, count(lit(1)).as("candidates"))
      case scala.None => cand0
    }
    val tX1000 = (threshold * 1000).toLong
    cand
      .join(index.select(col("id").as("id_a"), col("sz").as("sz_a"), col("hs").as("hs_a")), "id_a")
      .join(bsets.select(col("id").as("id_b"), col("sz").as("sz_b"), col("hs").as("hs_b")), "id_b")
      .filter(least(col("sz_a"), col("sz_b")) >= minShingles)
      .withColumn("containment_x1000",
        floor((graft.functions.NativeHash.sortedIntersectCount(col("hs_a"), col("hs_b")) * 1000L) /
          least(col("sz_a"), col("sz_b"))).cast("long"))
      .filter(col("containment_x1000") >= tX1000)
      .select("id_a", "id_b", "containment_x1000")
  }

  /** Per-row 64-bit SimHash of a document's token multiset, via the native
    * codegen'd expression ([[graft.functions.SimHash64]]). Returns (id, sig)
    * rows. `polyHash = true` swaps the xxhash64 token hash for the
    * SQL-mirrorable poly61 hash (HashKernels.poly61) — same signature
    * semantics, but an external oracle can recompute the signatures
    * exactly, making hamming-bounded output contracts testable. */
  def simhashed(df: DataFrame, idCol: String, textCol: String,
      polyHash: Boolean = false): DataFrame =
    spread(df.select(col(idCol).as("id"), col(textCol).as("__gr_text")))
      .select(col("id"),
        graft.functions.NativeHash.simhash64(tokens(col("__gr_text")), polyHash).as("sig"))

  /** SimHash near-duplicate pairs: band the 64-bit signature into
    * `numChunks` equal-width chunks (pigeonhole guarantees recall for
    * hamming ≤ numChunks - 1), bucket join, verify with
    * bit_count(xor) ≤ maxHamming. More chunks widen the guarantee but
    * shrink the bucket keyspace (64/numChunks bits), growing bucket sizes —
    * the standard recall/cost dial; maxHamming < numChunks is REQUIRED so
    * the pigeonhole completeness guarantee holds.
    *
    * Oversized-bucket guard (the 100 TB path): a bucket larger than
    * `maxBucketSize` is NOT self-joined quadratically and NOT dropped —
    * its members are re-banded on the COMPLEMENT bits (the 64 − w bits
    * outside the shared chunk) split into maxHamming + 1 sub-chunks. A
    * pair at hamming ≤ maxHamming sharing chunk c differs in ≤ maxHamming
    * of its complement bits, so pigeonhole again guarantees a shared
    * sub-chunk — recall stays EXACT while hot-bucket pair volume shrinks
    * by ~2^subW (subW = (64−w)/(maxHamming+1) bits per sub-key). With
    * small chunk keyspaces (e.g. 8-bit chunks = 2 048 buckets corpus-wide)
    * every bucket goes hot at scale and the whole join rides the
    * sub-banded keys — pair volume stays ~linear in corpus size instead
    * of corpus²/keyspace. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, numChunks: Int = 4,
      maxBucketSize: Int = 100, polyHash: Boolean = false): DataFrame = {
    require(64 % numChunks == 0, "numChunks must divide 64")
    require(maxHamming < numChunks,
      s"maxHamming ($maxHamming) must be < numChunks ($numChunks) for pigeonhole-complete recall")
    val w = 64 / numChunks
    val withSig = simhashed(df, idCol, textCol, polyHash)
    // every downstream branch (size census, ok-side, hot-side, both join
    // sides) consumes the banded rows — persist (spill-safe) so the
    // tokenize+simhash pipeline runs once, not once per branch
    val banded = spillPersistEager(simhashBand(
      withSig.select(col("id"), col("sig")), numChunks))
    // oversized-bucket census: tiny (≤ numChunks · 2^w keys), broadcast.
    // With sub-banding unavailable the census is skipped and every bucket
    // takes the plain path.
    val oversized =
      if (64 - w >= maxHamming + 1)
        banded.groupBy("chunk", "key")
          .agg(count(lit(1)).as("bsz")).filter(col("bsz") > maxBucketSize)
          .select("chunk", "key")
      else banded.select("chunk", "key").limit(0)
    val tagged = simhashTag(banded, oversized, numChunks, maxHamming)
    // hamming-filter BEFORE the dedup shuffle: the bucket join's raw pair
    // stream is dominated by random small-key collisions, and bit_count is
    // a per-row codegen'd op — cutting 10-40× of the volume ahead of
    // dropDuplicates' exchange
    tagged.select(col("chunk"), col("key"), col("sub"), col("skey"),
        col("id").as("id_a"), col("sig").as("sig_a"))
      .join(tagged.select(col("chunk"), col("key"), col("sub"), col("skey"),
        col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("chunk", "key", "sub", "skey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** (id, sig) → one banded row per chunk: (id, sig, chunk, key). */
  private def simhashBand(sigs: DataFrame, numChunks: Int): DataFrame = {
    val w = 64 / numChunks
    val mask = if (w == 64) -1L else (1L << w) - 1L
    sigs.select(col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(numChunks - 1)), c =>
        struct(c.as("chunk"),
          call_function("shiftright", col("sig"), c * w).bitwiseAND(lit(mask)).as("key")))).as("b"))
      .select(col("id"), col("sig"), col("b.chunk").as("chunk"), col("b.key").as("key"))
  }

  /** Tag banded rows for the single-shuffle join: rows in buckets NOT in
    * `oversized` keep a sentinel (sub, skey) = (-1, 0) — they join only
    * within their bucket; rows in oversized buckets explode maxHamming + 1
    * complement sub-keys (pigeonhole on the 64 − w complement bits keeps
    * recall EXACT — see [[simhashPairs]]'s scaladoc). Tagging BEFORE one
    * join on the 4-part key means ONE shuffle join total, not
    * ok-join + hot-join + union. */
  private def simhashTag(banded: DataFrame, oversized: DataFrame,
      numChunks: Int, maxHamming: Int): DataFrame = {
    val w = 64 / numChunks
    val numSub = maxHamming + 1
    // sub-banding needs complement bits to band on; numChunks=1 (exact
    // 64-bit signature match, maxHamming=0) has none — hot buckets there
    // are identical-signature groups whose pairs are ALL true output, so
    // the plain bucket join is the only (and correct) plan
    val subBand = 64 - w >= numSub
    val subW = if (subBand) (64 - w) / numSub else 1
    val ok = banded.join(broadcast(oversized), Seq("chunk", "key"), "left_anti")
      .select(col("id"), col("sig"), col("chunk"), col("key"),
        lit(-1).as("sub"), lit(0L).as("skey"))
    // hot rows: rebuild the complement (remove chunk bits [c·w, (c+1)·w)),
    // then explode maxHamming+1 sub-keys over it. Java long shifts wrap at
    // 64 (x >>> 64 == x), so the top chunk's high-side shift is guarded.
    val cBits = col("chunk") * w
    val highShift = (col("chunk") + 1) * w
    val high = when(highShift >= 64, lit(0L))
      .otherwise(call_function("shiftrightunsigned", col("sig"), highShift))
    val low = col("sig").bitwiseAND(call_function("shiftleft", lit(1L), cBits) - 1)
    val hot = banded.join(broadcast(oversized), Seq("chunk", "key"), "left_semi")
      .select(col("id"), col("sig"), col("chunk"), col("key"),
        call_function("shiftleft", high, cBits).bitwiseOR(low).as("rem"))
    val subMask = (1L << subW) - 1L
    val sub = hot.select(col("id"), col("sig"), col("chunk"), col("key"),
      explode(transform(sequence(lit(0), lit(numSub - 1)), j =>
        struct(j.as("sub"), when(j === numSub - 1,
            // last sub-chunk takes the division remainder bits too
            call_function("shiftrightunsigned", col("rem"), j * subW))
          .otherwise(call_function("shiftrightunsigned", col("rem"), j * subW)
            .bitwiseAND(lit(subMask))).as("skey")))).as("s"))
      .select(col("id"), col("sig"), col("chunk"), col("key"),
        col("s.sub").as("sub"), col("s.skey").as("skey"))
    ok.unionByName(sub)
  }

  private[graft] val SimhashMetaNumChunks = "graft.simhash.numChunks"
  private[graft] val SimhashMetaPoly = "graft.simhash.polyHash"

  /** Persisted SimHash index — ONE row per document, just (id, sig): the
    * incremental counterpart stores 8 bytes of signature per doc, nothing
    * else (band keys are recomputed from the signature with four shifts —
    * cheaper than storing them). Build params ride the sig column's field
    * metadata (parquet-footer-persistent, like [[minhashIndex]]) so
    * [[simhashIncremental]] can refuse a param mismatch instead of
    * comparing incompatible signatures. */
  def simhashIndex(
      df: DataFrame, idCol: String, textCol: String,
      numChunks: Int = 4, polyHash: Boolean = false): DataFrame = {
    require(64 % numChunks == 0, "numChunks must divide 64")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SimhashMetaNumChunks, numChunks.toLong)
      .putBoolean(SimhashMetaPoly, polyHash).build()
    simhashed(df, idCol, textCol, polyHash)
      .select(col("id"), col("sig").as("sig", meta))
  }

  /** Hamming pairs between a NEW batch and an existing [[simhashIndex]] —
    * the incremental form of [[simhashPairs]] for rolling ingestion:
    * history text is never re-read (the index is one 8-byte signature per
    * doc), the batch is signed once, and recall stays pigeonhole-EXACT —
    * including through the oversized-bucket guard, whose complement
    * sub-banding (built over the COMBINED two-sided bucket census, since
    * join cost in a bucket is |batch|·|index|) preserves the exact-recall
    * argument unchanged. Output: (id_a = index doc, id_b = batch doc,
    * hamming ≤ maxHamming); a batch doc already in the index under the
    * same id does not pair with itself (the [[minhashLshIncremental]]
    * re-ingest guard). */
  def simhashIncremental(
      batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 100): DataFrame = {
    val meta = index.schema.find(_.name == "sig").map(_.metadata).getOrElse(
      throw new IllegalArgumentException(
        "simhash index must carry a 'sig' column"))
    require(meta.contains(SimhashMetaNumChunks),
      "index was not built by simhashIndex (missing build metadata)")
    val numChunks = meta.getLong(SimhashMetaNumChunks).toInt
    val polyHash = meta.getBoolean(SimhashMetaPoly)
    require(maxHamming < numChunks,
      s"maxHamming ($maxHamming) must be < the index's numChunks ($numChunks)")
    val w = 64 / numChunks
    val bBand = spillPersistEager(simhashBand(
      simhashed(batch, idCol, textCol, polyHash).select(col("id"), col("sig")),
      numChunks))
    val iBand = spillPersistEager(simhashBand(
      index.select(col("id"), col("sig")), numChunks))
    val oversized =
      if (64 - w >= maxHamming + 1)
        bBand.select("chunk", "key").unionAll(iBand.select("chunk", "key"))
          .groupBy("chunk", "key")
          .agg(count(lit(1)).as("bsz")).filter(col("bsz") > maxBucketSize)
          .select("chunk", "key")
      else iBand.select("chunk", "key").limit(0)
    val ti = simhashTag(iBand, oversized, numChunks, maxHamming)
    val tb = simhashTag(bBand, oversized, numChunks, maxHamming)
    ti.select(col("chunk"), col("key"), col("sub"), col("skey"),
        col("id").as("id_a"), col("sig").as("sig_a"))
      .join(tb.select(col("chunk"), col("key"), col("sub"), col("skey"),
        col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("chunk", "key", "sub", "skey"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** SimHash candidates verified by exact shingle Jaccard: the
    * `numChunks`-chunk banding guarantees every hamming ≤ maxHamming pair
    * is a candidate (pigeonhole, requires maxHamming < numChunks —
    * enforced in [[simhashPairs]]), and the verify step replaces the
    * hamming proxy with the true similarity — so for corpora whose
    * ≥-threshold pairs all sit within `maxHamming` simhash bits, the
    * output is EXACTLY the ≥-threshold pair set (an oracle-checkable
    * ground truth, unlike raw hamming). */
  def simhashVerifiedPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, threshold: Double = 0.8, shingleN: Int = 3,
      numChunks: Int = 4, maxBucketSize: Int = 100,
      polyHash: Boolean = false): DataFrame = {
    val cands = simhashPairs(df, idCol, textCol, maxHamming, numChunks,
      maxBucketSize, polyHash)
      .select("id_a", "id_b")
    // small-keyspace banding ⇒ candidate docs ≈ corpus: full-corpus sets
    // skip the persist/distinct/semi-join barriers (see verifyJaccard)
    verifyJaccard(df, idCol, textCol, cands, threshold, shingleN,
      restrictSetsToCandidates = false)
  }

  /** Connected-components clustering of near-duplicate PAIRS into
    * duplicate groups — the step after any pairwise dedup ([[exact]] keeps
    * min-id per fingerprint, but LSH/simhash/Jaccard emit PAIRS, and
    * "keep one per near-dup CLUSTER" needs the transitive closure).
    *
    * Returns (id, cluster_id) for every id appearing in some pair, with
    * cluster_id = the component's minimum id (the canonical "keep" doc).
    *
    * Algorithm: min-label propagation as iterative DataFrame joins — each
    * round every node takes min(own label, neighbors' labels); fixpoint in
    * O(component diameter) rounds. Near-dup clusters are dense (diameter
    * 2-3 typical), so a handful of rounds suffices; `maxIters` bounds
    * pathological chains. Each round is one shuffle join + one
    * aggregation, labels persisted and the previous round released —
    * the 100 TB shape (GraphX is RDD-legacy; this stays in Catalyst).
    * Convergence is detected with a changed-label count that rides the
    * round's materialization.
    *
    * `algorithm = "stars"` switches to the alternating large-star /
    * small-star contraction ([[duplicateClustersStars]]): O(log n)
    * rounds — the safer bound for star-heavy or long-chain dup graphs.
    *
    * `maxIters = 0` (the default) selects the per-algorithm round bound
    * (label: 20 — diameter-bounded; stars: 30 — log-bounded with slack);
    * an explicit positive value is respected EXACTLY for either algorithm.
    * For `label`, certifying convergence needs the seed round plus one
    * confirming round, so `maxIters = 1` always throws — pass ≥ 2.
    *
    * Fault tolerance: the iterative loops truncate lineage per round with
    * an eager `localCheckpoint` — fast, but non-reliable: an executor loss
    * mid-run loses checkpointed blocks and fails the job (rerun it). For
    * long cluster runs where that risk matters, set
    * `spark.sparkContext.setCheckpointDir(...)` before calling — the loops
    * then use RELIABLE checkpointing to that directory and survive
    * executor loss at the cost of per-round HDFS/FS writes. */
  def duplicateClusters(
      pairs: DataFrame, maxIters: Int = 0,
      algorithm: String = "label"): DataFrame = algorithm match {
    case "stars" => duplicateClustersStars(pairs, if (maxIters > 0) maxIters else 30)
    case "label" => duplicateClustersLabel(pairs, if (maxIters > 0) maxIters else 20)
    case other => throw new IllegalArgumentException(
      s"unknown clustering algorithm '$other' (label | stars)")
  }

  /** INCREMENTAL clustering — continue from PERSISTED labels instead of
    * re-clustering history: the stored (id, cluster_id) relation IS a
    * connectivity-preserving edge set (each member's star edge to its
    * root), so folding a new day's duplicate pairs is one
    * [[duplicateClusters]] run over (star edges ∪ new pairs) — cost
    * scales with |labels| + |new pairs|, never the historical pair set,
    * and the min-id labels stay globally consistent (old roots are ids,
    * so the merged component's min is the true min over all members).
    * Docs whose old cluster collapsed to a singleton (id = cluster_id
    * with no surviving members) pass through unchanged. */
  def clustersIncremental(
      labels: DataFrame, newPairs: DataFrame,
      maxIters: Int = 0, algorithm: String = "label"): DataFrame = {
    require(labels.columns.toSeq == Seq("id", "cluster_id"),
      s"labels must be a duplicateClusters output (id, cluster_id), " +
        s"got ${labels.columns.mkString(", ")}")
    val starEdges = labels.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("id_a"), col("cluster_id").as("id_b"))
    val cc = duplicateClusters(
      starEdges.unionByName(newPairs.select(col("id_a"), col("id_b"))),
      maxIters, algorithm)
    val singletons = labels.filter(col("id") === col("cluster_id"))
      .join(cc.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    cc.unionByName(singletons)
  }

  /** Eager lineage-truncating checkpoint for the iterative loops: each
    * round's plan references the previous round's TWICE, so without
    * truncation the logical plan doubles per round — exponential analyzer
    * cost that aborts long-diameter runs (40 rounds = 2^40 plan nodes)
    * long before data size matters. Reliable (checkpoint-dir) when the
    * caller configured one, local otherwise — see [[duplicateClusters]]. */
  private def roundCheckpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** The observed metrics row of a just-checkpointed round relation, with
    * a BOUNDED wait (r16 ADVICE): the loop fusions rely on observations
    * firing on the eager (local)checkpoint action — pinned on Spark 4.1 by
    * ClustersFusedLoopSpec's one-action-per-round budgets — and a future
    * Spark that stopped routing checkpoint through withAction would
    * otherwise hang both clustering loops forever inside `Observation.get`.
    * On timeout the caller's fallback recomputes the metrics from the
    * checkpointed relation — one extra pass, correct either way, never a
    * hang. */
  private def observedRowOr(obs: org.apache.spark.sql.Observation)(
      fallback: => org.apache.spark.sql.Row): org.apache.spark.sql.Row =
    try scala.concurrent.Await.result(
      obs.future, scala.concurrent.duration.Duration(300L, "seconds"))
    catch { case _: java.util.concurrent.TimeoutException => fallback }

  private def duplicateClustersLabel(
      pairs: DataFrame, maxIters: Int): DataFrame = {
    // both edge directions from ONE scan of `pairs` (explode, not a
    // self-union): the pair set is usually the output of an expensive
    // candidate+verify pipeline, and a union of two selects over it
    // computes that upstream TWICE unless exchange reuse happens to fire
    // (measured: the sf0.1 bench gate spent more time on the second
    // upstream pass than on the entire propagation loop)
    val edges = spillPersistEager(
      pairs.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct())
    val idType = pairs.schema("id_a").dataType
    // round 1 is a plain aggregation, no label join needed: with identity
    // initial labels, a node's closed-neighborhood minimum IS
    // least(id, min(neighbor ids)) — one colocated agg over the edge list
    // seeds the loop a full round ahead
    var labels = roundCheckpoint(
      edges.groupBy("dst").agg(min("src").as("mn"))
        .select(col("dst").as("id"), least(col("dst"), col("mn")).as("cluster_id")))
    var iters = 1
    var converged = false
    while (!converged && iters < maxIters) {
      // one shuffle join + one aggregation per round: each node's new label
      // = min over {own label} ∪ {neighbors' labels}, computed by unioning
      // the self rows (which carry the old label in `own` — exactly one
      // non-null per id) with the propagated rows, then a single min/max
      // agg. Replaces the previous join + agg + left-join round shape.
      val self = labels.select(col("id"), col("cluster_id").as("nl"),
        col("cluster_id").as("own"))
      val upd = edges
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("nl")), "dst")
        .select(col("src").as("id"), col("nl"), lit(null).cast(idType).as("own"))
      // the convergence count RIDES the checkpoint materialization as an
      // Observation (fires on the eager localCheckpoint action — probed
      // empirically on Spark 4.1): one job per round instead of a
      // checkpoint job plus a count job, and at scale one fewer full pass
      // over the labels per round (guide §1.2/§2.4: remove passes first)
      val chgObs = org.apache.spark.sql.Observation()
      val next = roundCheckpoint(
        self.unionByName(upd)
          .groupBy("id").agg(min("nl").as("cluster_id"), max("own").as("old"))
          .select(col("id"), col("cluster_id"),
            (col("cluster_id") < col("old")).as("chg"))
          .observe(chgObs,
            coalesce(sum(when(col("chg"), 1L)), lit(0L)).as("changed")))
      val changed = observedRowOr(chgObs)(
        next.agg(coalesce(sum(when(col("chg"), 1L)), lit(0L))).head())
        .getLong(0)
      labels = next.select("id", "cluster_id")
      converged = changed == 0
      iters += 1
    }
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters did not converge in $maxIters rounds — a component's " +
        "diameter exceeds maxIters; raise maxIters (labels would be silently wrong)")
    // the returned labels frame is checkpointed — it no longer references
    // the edge list, so the working persist can be released immediately
    edges.unpersist(blocking = false)
    labels
  }

  /** Connected components via alternating large-star / small-star edge
    * contraction (the MapReduce-era algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — same
    * output contract as [[duplicateClusters]] but convergence in
    * O(log n) rounds instead of O(component diameter): the better shape
    * for star-heavy / high-degree duplicate graphs (one viral document
    * duplicated a million times) and long chains alike.
    *
    * large-star: every node links its strictly-LARGER neighbors to the
    * minimum of its closed neighborhood — doubles the reach of every
    * small label along high-degree nodes in one round. small-star: every
    * node links its smaller neighbors (and itself) to their minimum —
    * flattens local chains. Both are single groupBy+join rounds over the
    * directed (larger → smaller) edge list, all in Catalyst; the edge
    * set shrinks toward the fixpoint where every component is a star
    * centered at its minimum id. Fixpoint detection is EXACT (same
    * count + empty EXCEPT), not a hash heuristic. */
  def duplicateClustersStars(pairs: DataFrame, maxIters: Int = 30): DataFrame = {
    // materialize the (often expensive) pair pipeline ONCE; nodes and the
    // directed edge list both derive from the persisted base instead of
    // re-running the upstream three times
    val base = spillPersistEager(pairs.select("id_a", "id_b"))
    val nodes = spillPersistEager(
      base.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct())
    // directed u → v with v < u; self-pairs dropped defensively
    var edges = spillPersistEager(
      base.select(greatest(col("id_a"), col("id_b")).as("u"),
          least(col("id_a"), col("id_b")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    base.unpersist(blocking = false)
    var edgeCnt = edges.count()
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // large-star over the undirected neighborhood: center c, neighbor n
      val nbrs = edges.select(col("u").as("c"), col("v").as("n"))
        .unionByName(edges.select(col("v").as("c"), col("u").as("n")))
      val mins = nbrs.groupBy("c").agg(min("n").as("mn"))
        .select(col("c"), least(col("mn"), col("c")).as("m"))
      val large = nbrs.join(mins, "c").filter(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v")).distinct()
      // small-star over the directed list: all targets are < u already
      val minU = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(minU, "u")
        .select(col("v").as("su"), col("m").as("sv"))
        .filter(col("su") =!= col("sv"))
        .unionByName(minU.select(col("u").as("su"), col("m").as("sv")))
        .distinct()
      // eager checkpoint truncates lineage (see roundCheckpoint: per-round
      // plan doubling is exponential without it); the round's edge count
      // AND its fixpoint evidence both ride it as ONE Observation: a left
      // join against the previous (persisted) edge set marks edges not
      // present before, and `nextCnt == edgeCnt ∧ fresh == 0 ⟺ next ==
      // edges` (both sides distinct), so the round's only action also
      // decides convergence EXACTLY. The previous shape ran
      // `next.except(edges).isEmpty` as its own full-shuffle job on every
      // count-equal round — including, always, the final one (r16 verdict
      // item 4).
      val cntObs = org.apache.spark.sql.Observation()
      val prev = edges.select(col("u").as("pu"), col("v").as("pv"),
        lit(true).as("__old"))
      val next = roundCheckpoint(small.select(col("su").as("u"), col("sv").as("v"))
        .join(prev, col("u") === col("pu") && col("v") === col("pv"), "left")
        .select(col("u"), col("v"), col("__old").isNull.as("__fresh"))
        .observe(cntObs, count(lit(1)).as("n"),
          coalesce(sum(when(col("__fresh"), 1L)), lit(0L)).as("fresh")))
      val obsRow = observedRowOr(cntObs)(
        next.agg(count(lit(1)),
          coalesce(sum(when(col("__fresh"), 1L)), lit(0L))).head())
      val nextCnt = obsRow.getLong(0)
      converged = nextCnt == edgeCnt && obsRow.getLong(1) == 0L
      // releases the round-0 persist; checkpointed rounds free with GC
      edges.unpersist(blocking = false)
      edges = next.select("u", "v")
      edgeCnt = nextCnt
      iters += 1
    }
    if (!converged) throw new IllegalStateException(
      s"duplicateClustersStars did not converge in $maxIters rounds " +
        "(expected O(log n)); raise maxIters")
    // at the fixpoint every component is a star: leaves point at the
    // center, the center (component minimum) labels itself
    nodes.join(edges.groupBy("u").agg(min("v").as("root"))
        .withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** Pick each duplicate cluster's KEEP document by QUALITY — the
    * production policy after clustering ([[duplicateClusters]] returns
    * min-id labels; real pipelines keep the best-scoring copy, not the
    * lowest id). Deterministic: (score desc, id asc) per cluster via a
    * cluster-keyed window (never global). Returns (cluster_id, keep_id).
    * `scores` rows for ids outside any cluster are ignored; cluster
    * members missing a score are excluded from candidacy (inner join). */
  def clusterRepresentatives(
      clusters: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("__score").desc, col("id").asc)
    clusters.join(
        scores.select(col(idCol).as("id"), col(scoreCol).as("__score")),
        Seq("id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("id").as("keep_id"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold, candidates via
    * random-hyperplane LSH buckets (see Similarity.hyperplaneBucket).
    *
    * Hot-bucket guard: real embedding corpora are CLUSTERED — one dense
    * LSH cell can hold a large fraction of the corpus, turning the bucket
    * self-join quadratic. Buckets larger than `maxBucketSize` are not
    * dropped (that would lose the planted/exact-duplicate recall the
    * multi-table scheme guarantees) — their members are REFINED with
    * `refinePlanes` additional hyperplanes from an independent seed,
    * splitting the hot cell ~2^refinePlanes ways. Scaled/identical
    * vectors keep identical refined signatures (sign(dot(αv, p)) ≡
    * sign(dot(v, p)) for α > 0), so exact-duplicate recall is structural
    * through the refinement; merely-close pairs inside a hot cell fall
    * back to the same probabilistic multi-plane recall the base scheme
    * has. `refinePlanes` is the split dial for pathologically dense
    * corpora. */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 12, tables: Int = 4,
      maxBucketSize: Int = 1000, refinePlanes: Int = 8): DataFrame = {
    // empty / all-null corpus → no pairs (dim probe has nothing to measure)
    val dim = Similarity.dimOf(df, vecCol).getOrElse(
      return df.sparkSession.emptyDataFrame
        .withColumn("id_a", lit(null).cast(df.schema(idCol).dataType))
        .withColumn("id_b", lit(null).cast(df.schema(idCol).dataType))
        .limit(0).select("id_a", "id_b"))
    // feeds the size census + ok + hot branches — persist (vectors are the
    // heavy payload; spill, don't pin)
    val withB = spillPersistEager(
      spread(df.select(col(idCol).as("id"), col(vecCol).as("v")))
        .select(col("id"), col("v"),
          Similarity.hyperplaneBuckets(col("v"), planes, tables, dim).as("buckets"))
        .select(col("id"), col("v"), explode(col("buckets")).as("b")))
    val oversized = withB.groupBy("b")
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") > maxBucketSize)
      .select("b")
    val ok = withB.join(broadcast(oversized), Seq("b"), "left_anti")
    val okPairs = ok.select(col("b"), col("id").as("id_a"), col("v").as("v_a"))
      .join(ok.select(col("b"), col("id").as("id_b"), col("v").as("v_b")), Seq("b"))
      .select("id_a", "id_b", "v_a", "v_b")
    // the refinement key comes from the ROW'S OWN table (b encodes table
    // t in its high bits): per-table-independent seed streams keep the
    // multi-table recall independence through the split, and the kernel
    // evaluates only that table's planes
    val hot = withB.join(broadcast(oversized), Seq("b"), "left_semi")
      .select(col("b"), col("id"), col("v"),
        Similarity.refineKeyAt(col("v"),
          call_function("shiftrightunsigned", col("b"), lit(32)).cast("int"),
          refinePlanes, dim, tables).as("b2"))
    val hotPairs = hot.select(col("b"), col("b2"), col("id").as("id_a"), col("v").as("v_a"))
      .join(hot.select(col("b"), col("b2"), col("id").as("id_b"), col("v").as("v_b")),
        Seq("b", "b2"))
      .select("id_a", "id_b", "v_a", "v_b")
    okPairs.unionByName(hotPairs).filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cos", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** SemDeDup — cluster-then-prune semantic deduplication (Abbas et al.
    * 2023, arXiv:2303.09540): k-means-cluster the embedding space
    * ([[Similarity.ivfTrain]] — deterministic Lloyd iterations, k×dim
    * driver-side centroids), then inside each cluster drop every document
    * that has a SMALLER-id cluster-mate with cosine ≥ `threshold`. Returns
    * the kept ids as a single `id` column. (The paper keeps the example
    * farthest from the centroid; the min-id policy is the deterministic,
    * oracle-checkable variant of the same one-per-similar-group rule.)
    *
    * The whole point of clustering before comparing is scale: pairwise
    * work is confined to clusters, so the quadratic term is (n/k)² per
    * cluster, and the cluster key is the shuffle key — no all-pairs join
    * ever exists in the plan. Real embedding corpora are CLUSTERED, so one
    * dense cell can still go quadratic: cells over `maxCellSize` are split
    * by `refinePlanes` random hyperplanes from an independent seed stream
    * (same guard as [[embeddingNearDupPairs]]): identical/scaled vectors
    * keep identical refinement signatures — exact-duplicate recall is
    * structural through the split — while merely-close pairs inside a hot
    * cell degrade to per-plane Bernoulli recall, the documented SemDeDup
    * recall/cost dial.
    *
    * All-null / empty corpora keep every id (nothing is comparable).
    * Persists the cell assignment (census + both join sides) — release
    * with [[releaseIntermediates]] after consuming the result. */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, k: Int = 16, iters: Int = 2,
      maxCellSize: Int = 1000, refinePlanes: Int = 8): DataFrame = {
    val ids = df.select(col(idCol).as("id"))
    val dim = Similarity.dimOf(df, vecCol).getOrElse(return ids)
    // null-vector ids can never be compared — they are kept unconditionally
    // and must not feed the trainer (a null in a Lloyd mean poisons it)
    val nonNull = df.filter(col(vecCol).isNotNull)
    val centroids = Similarity.ivfTrain(nonNull, idCol, vecCol, k, iters)
    val assigned = spillPersistEager(
      Similarity.ivfAssign(nonNull, idCol, vecCol, centroids))
    // hot-cell census: ≤ k tiny rows of driver state
    val hot = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCellSize).select("cell")
      .collect().map(_.getInt(0)).toSet
    val keyed =
      if (hot.isEmpty) assigned.withColumn("sub", lit(0L))
      else assigned.withColumn("sub",
        when(col("cell").isin(hot.toSeq: _*),
          Similarity.refineKey(col("v"), refinePlanes, dim)).otherwise(lit(0L)))
    val a = keyed.select(col("cell"), col("sub"), col("id").as("id_a"), col("v").as("va"))
    val b = keyed.select(col("cell"), col("sub"), col("id").as("id_b"), col("v").as("vb"))
    val dropped = a.join(b, Seq("cell", "sub"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
    ids.join(dropped, Seq("id"), "left_anti")
  }

  /** Incremental SemDeDup: drop batch documents with a cosine-≥`threshold`
    * neighbor in their k-means cell, where the cell-mates come from a
    * PERSISTED corpus index ([[Similarity.ivfAssign]] output — (id, cell,
    * v), typically written `partitionBy("cell")`) or from the batch itself
    * (smaller-id batch-mates, [[semanticDedup]]'s rule). The daily-ingest
    * shape for embeddings, completing the incremental family (exact →
    * [[exactIncremental]], MinHash → [[minhashLshIncremental]], ANN append
    * → ivfAssign append): the batch is assigned against the SAME stored
    * centroids (k×dim driver state), and with a cell-partitioned index the
    * comparison loads ONLY the cells the batch touches — partition pruning
    * does the candidate generation, corpus vectors outside those cells are
    * never read.
    *
    * Hot cells (more cell-mates than `maxCellSize` among the TOUCHED
    * cells) are refined with independent-seed hyperplanes on both sides —
    * identical vectors keep identical refinement keys, so exact-duplicate
    * recall stays structural (same dial as [[semanticDedup]]).
    *
    * Returns the surviving batch rows' ids (`id` column). Batch ids must
    * be disjoint from index ids (same contract as
    * [[minhashLshIncremental]] — a re-ingested id is its own identical
    * vector, lands in its own cell, and would self-pair into a wrong
    * drop). ENFORCED: any overlap between batch ids and the touched index
    * cells' ids raises (the probe rides the already-materialized touched
    * slice — no extra index scan; run [[exactIncremental]] or filter
    * re-ingests first). The touched-cell probe misses a colliding id
    * whose vector DRIFTED into an untouched cell; pass
    * `strictIdCheck = true` to probe the full index id column (one extra
    * narrow scan — ids only, never vectors) when re-ingestion with
    * changed embeddings is possible. */
  def semanticDedupIncremental(
      batch: DataFrame, idCol: String, vecCol: String,
      index: DataFrame, centroids: Seq[Array[Double]],
      threshold: Double = 0.95, maxCellSize: Int = 1000,
      refinePlanes: Int = 8, strictIdCheck: Boolean = false): DataFrame = {
    val ids = batch.select(col(idCol).as("id"))
    if (strictIdCheck) {
      val fullOverlap = index.select("id")
        .join(broadcast(ids.distinct()), Seq("id"), "left_semi")
        .limit(1).count()
      require(fullOverlap == 0L,
        "semanticDedupIncremental(strictIdCheck): batch ids overlap index " +
          "ids — dedup re-ingests first (exactIncremental) or assign fresh ids")
    }
    val dim = Similarity.dimOf(batch, vecCol).getOrElse(return ids)
    val assigned = spillPersistEager(
      Similarity.ivfAssign(batch.filter(col(vecCol).isNotNull),
        idCol, vecCol, centroids))
    // only the touched cells' index slices ever load (partition pruning on
    // a cell-partitioned index); isin over ≤ k driver-known cells
    val touched = assigned.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val mates = spillPersistEager(
      index.filter(col("cell").isin(touched: _*)).select("id", "cell", "v"))
    // disjointness guard: a re-ingested id self-pairs (identical vector,
    // same cell) and would be silently dropped — fail loudly instead. The
    // probe scans only the touched, already-persisted slice.
    val overlap = mates.select("id")
      .join(broadcast(assigned.select("id").distinct()), Seq("id"), "left_semi")
      .limit(1).count()
    require(overlap == 0L,
      "semanticDedupIncremental: batch ids overlap index ids — re-ingested " +
        "ids would self-pair into wrong drops; dedup re-ingests first " +
        "(exactIncremental) or assign fresh ids")
    // hot-cell census over batch + touched index slices only
    val hot = assigned.select("cell").unionByName(mates.select("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCellSize).select("cell")
      .collect().map(_.getInt(0)).toSet
    def keyed(df: DataFrame) =
      if (hot.isEmpty) df.withColumn("sub", lit(0L))
      else df.withColumn("sub",
        when(col("cell").isin(hot.toSeq: _*),
          Similarity.refineKey(col("v"), refinePlanes, dim)).otherwise(lit(0L)))
    val b = keyed(assigned)
    // corpus-side kill: ANY index cell-mate above threshold
    val vsIndex = b.select(col("cell"), col("sub"), col("id"), col("v"))
      .join(keyed(mates).select(col("cell"), col("sub"), col("v").as("cv")),
        Seq("cell", "sub"))
      .filter(Similarity.cosine(col("v"), col("cv")) >= threshold)
      .select("id")
    // batch-internal kill: smaller-id batch cell-mate above threshold
    val vsBatch = b.select(col("cell"), col("sub"), col("id").as("id_a"), col("v").as("va"))
      .join(b.select(col("cell"), col("sub"), col("id").as("id_b"), col("v").as("vb")),
        Seq("cell", "sub"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id"))
    val dropped = vsIndex.unionByName(vsBatch).distinct()
    ids.join(dropped, Seq("id"), "left_anti")
  }

  /** Edit-distance (Levenshtein ≤ maxDist) similarity self-join — fuzzy
    * dedup for OCR noise, typo'd records, lightly-edited copies, where
    * token-level Jaccard is too coarse. EXACT: every output pair truly has
    * `dist ≤ maxDist` and none is missed. Candidate generation is the
    * Ed-Join prefix scheme (Xiao/Wang/Lin 2008), NOT length banding —
    * natural corpora concentrate length, so a length-only join key
    * enumerates near-quadratic within-band pairs at scale, while rare-first
    * q-gram prefixes scatter docs across the whole q-gram keyspace:
    *
    *  1. Prefix join: one edit destroys at most q distinct q-grams, so a
    *     pair at ed ≤ d overlaps in ≥ max(|Qa|,|Qb|) − d·q q-grams.
    *     Ordering each doc's distinct q-grams by GLOBAL document frequency
    *     (rarest first, hash tiebreak — one canonical corpus-wide order,
    *     the same trick as [[ngramJaccardPairs]]) and indexing only the
    *     first d·q + 1, the pigeonhole guarantees any qualifying pair
    *     shares an INDEXED q-gram — provided max(|Qa|,|Qb|) > d·q, since
    *     the required overlap must be ≥ 1. Hot boilerplate q-grams fall
    *     out of every long doc's prefix, so bucket sizes track RARE-q-gram
    *     frequency, not corpus length distribution.
    *  2. Short-set fallback: docs with |Q| ≤ d·q (shorter than ~d·q+q
    *     chars, or degenerately repetitive) can match with DISJOINT q-gram
    *     sets, so pairs where BOTH sides are short go through the
    *     length-band meet-once join (`ed ≥ |len(a) − len(b)|`) restricted
    *     to that subset. Mixed pairs are already covered: ed ≤ d bounds
    *     ||Qa|−|Qb|| ≤ d·q, so a short×long match forces the long side's
    *     required overlap ≥ 1 and path 1 finds it.
    *  3. q-gram count filter on candidates: `|Qa ∩ Qb| ≥ max(|Qa|,|Qb|) −
    *     maxDist·q` via the codegen'd sorted-merge intersect kernel over
    *     per-row sorted q-gram hashes (hash collisions only ever KEEP
    *     candidates — sound), plus the length filter.
    *  4. Banded DP: Spark's native `levenshtein(l, r, threshold)` computes
    *     only the ±maxDist diagonal band, O(maxDist·n) per survivor, and
    *     the same call yields the output distance.
    *
    * Shuffles: one postings groupBy for document frequency, the prefix
    * bucket join, the candidate dedup, and the two verify joins back to
    * the persisted base — all on well-distributed hash keys.
    *
    * `maxDocFreq`, when set, drops q-grams appearing in more than that
    * many docs from the index entirely — the same belt-and-braces skew cap
    * as [[ngramJaccardPairs]], at the cost of exactness on pairs whose
    * every shared q-gram is dropped. Default None = exact.
    *
    * `candidateObs`, when set, observes `candidates` = the number of
    * post-dedup candidate pairs actually verified (for plan audits). */
  def editDistancePairs(
      df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, q: Int = 3,
      maxDocFreq: Option[Int] = None,
      candidateObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    val t = col(textCol)
    val qg = editQgrams(t, q)
    // base feeds the prefix index, the short set AND both verify joins —
    // persist so tokenize+hash runs once (spill-safe, released by
    // releaseIntermediates)
    val base = spillPersistEager(spread(df.select(col(idCol), t.as(textCol)))
      .select(col(idCol).as("__id"), t.as("__txt"),
        length(t).cast("long").as("__len"), qg.as("__qg"),
        size(qg).cast("long").as("__nq")))
    val shortCap = maxDist.toLong * q
    // ---- path 1: rare-prefix candidates (docs with at least one q-gram)
    val posting0 = base.select(col("__id"), explode(col("__qg")).as("qh"))
    val posting = maxDocFreq match {
      case None => posting0
      case Some(cap) =>
        val hot = posting0.groupBy("qh").agg(count(lit(1)).as("hdf"))
          .filter(col("hdf") > cap).select("qh")
        posting0.join(broadcast(hot), Seq("qh"), "left_anti")
    }
    val dfreq = posting.groupBy("qh").agg(count(lit(1)).as("qdf"))
    val wPfx = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("qdf"), col("qh"))
    val wBand = (maxDist + 1).toLong
    val prefix = posting.join(dfreq, "qh")
      .withColumn("rn", row_number().over(wPfx))
      .filter(col("rn") <= shortCap + 1L)
      .select("qh", "__id")
      .join(base.select(col("__id"), col("__len")), "__id")
    // join key = (prefix q-gram, length bucket): a qualifying pair shares a
    // prefix q-gram AND lies within the length band, so AND-ing both into
    // the key keeps recall total while each prunes the other's hot spots
    // (boilerplate q-grams split across length buckets; popular lengths
    // split across q-grams). One side sits in its own bucket, the other
    // explodes its ±maxDist bucket range (≤ 3 buckets of width maxDist+1).
    val candPfx = prefix
      .select(col("qh"), col("__id").as("id_a"),
        expr(s"__len DIV ${wBand}L").as("__lb"))
      .join(prefix.select(col("qh"), col("__id").as("id_b"),
          explode(sequence(
            expr(s"(__len - $maxDist) DIV ${wBand}L"),
            expr(s"(__len + $maxDist) DIV ${wBand}L"))).as("__lb")),
        Seq("qh", "__lb"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // ---- path 2: short×short via the length-band meet-once join
    val shortDocs = base.filter(col("__nq") <= shortCap)
      .select(col("__id"), col("__len"))
    val own = shortDocs.select(col("__id").as("id_a"), col("__len").as("len_a"))
      .withColumn("__b", expr(s"len_a DIV ${wBand}L"))
    val repl = shortDocs.select(col("__id").as("id_b"), col("__len").as("len_b"))
      .withColumn("__b", explode(sequence(
        expr(s"(len_b - $maxDist) DIV ${wBand}L"),
        expr(s"(len_b + $maxDist) DIV ${wBand}L"))))
    val candShort = own.join(repl, "__b")
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .select("id_a", "id_b")
    val cand0 = candPfx.unionByName(candShort).dropDuplicates("id_a", "id_b")
    val cand = candidateObs match {
      case Some(o) => cand0.observe(o, count(lit(1)).as("candidates"))
      case None => cand0
    }
    // ---- verify: length filter, q-gram count filter, banded DP
    cand
      .join(base.select(col("__id").as("id_a"), col("__txt").as("txt_a"),
        col("__len").as("len_a"), col("__qg").as("qg_a")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__txt").as("txt_b"),
        col("__len").as("len_b"), col("__qg").as("qg_b")), "id_b")
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .filter(graft.functions.NativeHash.sortedIntersectCount(col("qg_a"), col("qg_b")) >=
        greatest(size(col("qg_a")), size(col("qg_b"))).cast("long") -
          lit(maxDist.toLong * q))
      .withColumn("dist", levenshtein(col("txt_a"), col("txt_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** The DISTINCT q-gram hash set of a text column, sorted (the
    * [[editDistancePairs]] construction — single source of truth with the
    * persisted index so a refactor cannot diverge the two).
    * sequence(1, 0) would DESCEND in Spark, so sub-q strings keep an
    * explicit empty set. */
  private def editQgrams(t: Column, q: Int): Column =
    when(length(t) >= q,
        array_sort(array_distinct(transform(
          sequence(lit(1), length(t) - (q - 1)),
          i => xxhash64(substr(t, i, lit(q)))))))
      .otherwise(array().cast("array<bigint>"))

  private val EditMetaMaxDist = "graft.editdist.maxDist"
  private val EditMetaQ = "graft.editdist.q"
  private val EditMetaMaxDocFreq = "graft.editdist.maxDocFreq"

  /** PERSISTED edit-distance index — the serving form of
    * [[editDistancePairs]] for rolling ingestion (the
    * minhash/simhash/containment/tfidf pattern): one row per corpus doc
    * with everything [[editDistanceIncremental]] needs, so a daily batch
    * is verified against the corpus WITHOUT re-scanning or re-tokenizing
    * corpus text. Columns (reserved names): `id`, `txt` (the one stored
    * text copy — banded DP needs both strings), `len`, `nq`, sorted
    * distinct q-gram hashes `qg`, and `prefix` = the doc's
    * `maxDist·q + 1` RAREST q-grams under the build-time canonical
    * (corpus df, hash) order — any (maxDist·q+1)-subset supports the
    * pigeonhole recall argument, so batch-side frequencies never need to
    * agree with build-time ones. Build parameters are stamped in the
    * `prefix` column's metadata; [[editDistanceIncremental]] refuses a
    * parameter mismatch instead of silently dropping pairs.
    * `maxDocFreq` drops hot q-grams from the PREFIX selection only (the
    * one-shot's documented recall cap); `qg` stays complete for the
    * verify filter. */
  def editDistanceIndex(
      df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, q: Int = 3,
      maxDocFreq: Option[Int] = None): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    val t = col(textCol)
    val qg = editQgrams(t, q)
    val base = spread(df.select(col(idCol), t.as(textCol)))
      .select(col(idCol).as("id"), t.as("txt"),
        length(t).cast("long").as("len"), qg.as("qg"),
        size(qg).cast("long").as("nq"))
    val shortCap = maxDist.toLong * q
    val posting0 = base.select(col("id"), explode(col("qg")).as("qh"))
    val posting = maxDocFreq match {
      case None => posting0
      case Some(cap) =>
        val hot = posting0.groupBy("qh").agg(count(lit(1)).as("hdf"))
          .filter(col("hdf") > cap).select("qh")
        posting0.join(broadcast(hot), Seq("qh"), "left_anti")
    }
    val dfreq = posting.groupBy("qh").agg(count(lit(1)).as("qdf"))
    val wPfx = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("qdf"), col("qh"))
    val prefix = posting.join(dfreq, "qh")
      .withColumn("rn", row_number().over(wPfx))
      .filter(col("rn") <= shortCap + 1L)
      .groupBy("id").agg(sort_array(collect_list(col("qh"))).as("prefix"))
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(EditMetaMaxDist, maxDist.toLong)
      .putLong(EditMetaQ, q.toLong)
      .putLong(EditMetaMaxDocFreq, maxDocFreq.map(_.toLong).getOrElse(-1L))
      .build()
    // sub-q docs have no postings: empty prefix (they are short by
    // construction — path 2 covers them)
    base.join(prefix, Seq("id"), "left")
      .select(col("id"), col("txt"), col("len"), col("nq"), col("qg"),
        coalesce(col("prefix"), array().cast("array<bigint>"))
          .as("prefix", meta))
  }

  /** Edit-distance pairs between a NEW batch and an [[editDistanceIndex]]
    * — the incremental [[editDistancePairs]]: the corpus contributes only
    * its stored index rows (prefix postings for the candidate join, the
    * one stored text copy for the ≤-candidates DP verify), and the batch
    * is tokenized once. Output: (id_a = index doc, id_b = batch doc,
    * dist ≤ the index's maxDist); a re-ingested doc does not pair with
    * itself (the [[minhashLshIncremental]] guard).
    *
    * Recall stays total (collision-free-hash exact, the one-shot's
    * contract) WITHOUT the batch agreeing on the build-time q-gram order,
    * because the batch posts ALL its q-grams (the
    * [[containmentIncremental]] argument, adapted): for ed(a,b) ≤ d, at
    * most d·q DISTINCT q-grams of the index doc a are absent from the
    * batch doc b (each edit destroys ≤ q of a's windows), so among a's
    * stored d·q+1 prefix grams at least one is in b's posted set — unless
    * a has fewer than d·q+1 grams at all, in which case its prefix is its
    * WHOLE set and a total miss forces both sides under d·q grams: the
    * short×short length-band path. Candidates then pass the exact
    * length / q-gram-count / banded-DP verify unchanged. */
  def editDistanceIncremental(
      batch: DataFrame, index: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val meta = index.schema.find(_.name == "prefix").map(_.metadata).getOrElse(
      throw new IllegalArgumentException(
        "edit-distance index must carry a 'prefix' column"))
    require(meta.contains(EditMetaMaxDist) && meta.contains(EditMetaQ),
      "index was not built by editDistanceIndex (missing build metadata)")
    val maxDist = meta.getLong(EditMetaMaxDist).toInt
    val q = meta.getLong(EditMetaQ).toInt
    val t = col(textCol)
    val qg = editQgrams(t, q)
    val bbase = spillPersistEager(spread(batch.select(col(idCol), t.as(textCol)))
      .select(col(idCol).as("id_b"), t.as("__btxt"),
        length(t).cast("long").as("__blen"), qg.as("__bqg"),
        size(qg).cast("long").as("__bnq")))
    val ibase = spillPersistEager(
      index.select(col("id"), col("txt"), col("len"), col("nq"),
        col("qg"), col("prefix")))
    val shortCap = maxDist.toLong * q
    // ---- path 1: stored index prefixes × the batch's FULL posting set
    val candPfx = ibase.select(col("id").as("id_a"), explode(col("prefix")).as("qh"))
      .join(bbase.select(col("id_b"), explode(col("__bqg")).as("qh")), "qh")
      .select("id_a", "id_b")
    // ---- path 2: short×short via the length-band meet-once join
    val wBand = (maxDist + 1).toLong
    val iShort = ibase.filter(col("nq") <= shortCap)
      .select(col("id").as("id_a"), col("len").as("len_a"))
      .withColumn("__b", expr(s"len_a DIV ${wBand}L"))
    val bShort = bbase.filter(col("__bnq") <= shortCap)
      .select(col("id_b"), col("__blen").as("len_b"))
      .withColumn("__b", explode(sequence(
        expr(s"(len_b - $maxDist) DIV ${wBand}L"),
        expr(s"(len_b + $maxDist) DIV ${wBand}L"))))
    val candShort = iShort.join(bShort, "__b")
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .select("id_a", "id_b")
    val cand = candPfx.unionByName(candShort).dropDuplicates("id_a", "id_b")
    // ---- verify: re-ingest guard, length, q-gram count, banded DP
    cand
      .join(ibase.select(col("id").as("id_a"), col("txt").as("txt_a"),
        col("len").as("len_a"), col("qg").as("qg_a")), "id_a")
      .join(bbase.select(col("id_b"), col("__btxt").as("txt_b"),
        col("__blen").as("len_b"), col("__bqg").as("qg_b")), "id_b")
      .filter(col("id_a") =!= col("id_b"))
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .filter(graft.functions.NativeHash.sortedIntersectCount(col("qg_a"), col("qg_b")) >=
        greatest(size(col("qg_a")), size(col("qg_b"))).cast("long") -
          lit(maxDist.toLong * q))
      .withColumn("dist", levenshtein(col("txt_a"), col("txt_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Exact SUBSTRING (span) deduplication: every maximal token span that is
    * covered by k-token windows occurring more than once in the corpus
    * (across documents or repeated within one) — the operator behind
    * "remove duplicated training text at the span level, not the document
    * level" (suffix-array dedup of Lee et al. 2021, re-expressed as hashed
    * positional k-gram postings: a duplicated run of length ≥ k is exactly
    * a run of duplicated k-windows, so the merged windows ARE the maximal
    * duplicated spans with minimum-match-length k).
    *
    * Output: one row per maximal span — (doc_id, span_start, span_end),
    * token positions inclusive, 0-based on the single-space tokenization.
    * Downstream policy (cut all spans, keep one canonical occurrence, drop
    * docs over a duplication ratio) composes on top; detection is the
    * expensive, shared part.
    *
    * Scale shape (the 100 TB story):
    *  1. positions → (doc, pos, hash) via the codegen'd
    *     [[graft.functions.KGramWindowHashes]] kernel — each window hashed
    *     IN PLACE over the document's bytes (no window strings, no token
    *     arrays, no interpreted higher-order lambdas; ~2× the whole
    *     operator at sf0.1). The stream is 24-byte rows; the duplicated-
    *     hash set comes from one map-side-combinable count.
    *  2. only hash-matched positions (a small fraction of a natural
    *     corpus) rebuild their gram STRING — by joining back to the doc
    *     table, never by carrying text through the position stream — and
    *     verify exactness by grouping on (hash, gram): hash collisions
    *     cannot produce false spans, only the candidate superset. AQE
    *     broadcasts the small side of both joins (duplicated set;
    *     candidates) so in the common sparse-duplication regime the corpus
    *     is never shuffled at all.
    *  3. spans merge per document with one window (gaps-and-islands:
    *     windows at pos and prev merge iff pos − prev ≤ k); the following
    *     groupBy reuses the window's hash partitioning on doc_id.
    *
    * `persistPositions` materializes the position stream once instead of
    * recomputing it for the census and the candidate join — see the
    * inline tradeoff note (default recompute is right for sparse
    * duplication; dense/boilerplate corpora flip it). `candidateObs`
    * observes `candidates` = hash-matched position count, the signal for
    * that choice.
    */
  def duplicateSpans(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      persistPositions: Boolean = false,
      candidateObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val posH0 = spread(df.select(col(idCol).as("doc_id"), col(textCol).as("__gr_text")))
      .select(col("doc_id"),
        posexplode(graft.functions.NativeHash.kgramWindowHashes(col("__gr_text"), k))
          .as(Seq("pos", "h")))
    // The position stream is consumed TWICE (duplicated-hash census, then
    // the candidate join; AQE broadcasts the census so there is no
    // exchange to reuse between them). Default = recompute: the stream is
    // ~24 bytes/token, LARGER than the corpus text it derives from, so at
    // 100 TB persisting it costs more I/O than running the codegen'd
    // window-hash kernel a second time. `persistPositions = true` flips
    // that for candidate-DENSE corpora (boilerplate-heavy web scrapes,
    // where most positions survive the census and the downstream joins
    // re-read the stream hot) — there the one materialization beats two
    // full kernel passes. Identical results either way.
    val posH = if (persistPositions) spillPersistEager(posH0) else posH0
    val dupHashes = posH.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    val cand0 = posH.join(dupHashes, "h").select("doc_id", "pos", "h")
    // plan-audit seam (like editDistancePairs): candidate-position volume
    // is THE sparse-vs-dense signal that decides persistPositions
    val cand = candidateObs match {
      case Some(o) => cand0.observe(o, count(lit(1)).as("candidates"))
      case scala.None => cand0
    }
    // gram strings exist ONLY for candidates: tokenize once per doc on the
    // build side, slice per candidate row
    val docsT = df.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("__t"))
    val wGram = org.apache.spark.sql.expressions.Window.partitionBy("h", "gram")
    val dupPos = cand.join(docsT, "doc_id")
      .withColumn("gram", concat_ws(" ", slice(col("__t"), col("pos") + 1, lit(k))))
      .withColumn("c", count(lit(1)).over(wGram))
      .filter(col("c") > 1)
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    mergeIslands(dupPos, k)
  }

  /** Merge hit window positions into maximal spans: runs of hits within k
    * of each other become one [span_start, span_end] interval per doc
    * (doc-keyed windows — never global). Input: (doc_id, pos: long). */
  private def mergeIslands(dupPos: DataFrame, k: Int): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("__prev", lag("pos", 1).over(wDoc))
      .withColumn("__isl", sum(
        when(col("__prev").isNull || col("pos") - col("__prev") > k, 1L)
          .otherwise(0L)).over(wDoc))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k - 1).cast("long")).as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** Cross-corpus span CONTAMINATION — maximal ≥ k-token spans of `train`
    * documents that appear VERBATIM anywhere in `bench` (the Lee et al.
    * exact-substring decontamination step; the shingle-overlap
    * [[TextCorpus.contamination]] flags documents, this finds the exact
    * token ranges so [[removeSpans]] can scrub instead of dropping whole
    * documents).
    *
    * Same layering as [[duplicateSpans]]: the codegen'd window-hash kernel
    * streams both corpora as 24-byte position rows; the bench HASH SET
    * (distinct, tiny — benchmarks are small by definition) prunes train
    * positions first, then surviving candidates rebuild gram strings on
    * both sides and verify (hash, gram) equality — collision-exact. The
    * FULL train text never shuffles — only the token arrays of docs with
    * at least one hash-colliding position join back to their candidates
    * (and when that contaminated subset is small, AQE broadcasts it);
    * both hash joins broadcast the bench side. Returns
    * (doc_id, span_start, span_end) over train. */
  def contaminatedSpans(
      train: DataFrame, trainIdCol: String, trainTextCol: String,
      bench: DataFrame, benchTextCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val tPos = spread(train.select(col(trainIdCol).as("doc_id"), col(trainTextCol).as("__gr_text")))
      .select(col("doc_id"),
        posexplode(graft.functions.NativeHash.kgramWindowHashes(col("__gr_text"), k))
          .as(Seq("pos", "h")))
    val bPos = bench.select(col(benchTextCol).as("__btext"),
      posexplode(graft.functions.NativeHash.kgramWindowHashes(col(benchTextCol), k))
        .as(Seq("bpos", "h")))
    val bHashes = bPos.select("h").distinct()
    // persisted: `cand` feeds BOTH candIds (the semi-join prune) and the
    // gram-rebuild join — unpersisted, the full-corpus window-hash explode
    // would run twice; the colliding-position set itself is small by
    // construction (bounded by bench hashes, and benchmarks are small)
    val cand = spillPersistEager(tPos.join(bHashes, "h"))
    // gram strings only where hashes collide, on both sides. docsT is
    // semi-join-pruned to candidate doc ids BEFORE the candidate join, so
    // even when the candidate set is too large for AQE to broadcast (dense
    // contamination), only colliding docs' token arrays ever shuffle — the
    // untouched bulk of the train corpus stays a pruned scan either way.
    val candIds = cand.select("doc_id").distinct()
    val docsT = train.select(col(trainIdCol).as("doc_id"),
      split(col(trainTextCol), " ").as("__t"))
      .join(candIds, Seq("doc_id"), "left_semi")
    val tGram = cand.join(docsT, "doc_id")
      .withColumn("gram", concat_ws(" ", slice(col("__t"), col("pos") + 1, lit(k))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("h"), col("gram"))
    val bGram = bPos
      .withColumn("gram", concat_ws(" ",
        slice(split(col("__btext"), " "), col("bpos") + 1, lit(k))))
      .select("h", "gram").distinct()
    val verified = tGram.join(bGram, Seq("h", "gram"), "left_semi")
      .select("doc_id", "pos")
    mergeIslands(verified, k)
  }

  /** Content-defined chunking (CDC) dedup — storage-style redundancy
    * measurement over the corpus. Each document is partitioned into
    * variable-length token chunks whose boundaries are a pure function of
    * LOCAL content (a token is a cut point iff the first hex digit of its
    * md5 is below `cutBelow`; mean chunk length = 16/(hex value of
    * cutBelow) tokens). Content-defined boundaries are what distinguish
    * this from fixed windows ([[duplicateSpans]]): inserting or deleting
    * text early in a document does not re-chunk the remainder, so shared
    * trailing content keeps producing IDENTICAL chunks — the
    * rolling-hash chunking of storage dedup systems (LBFS/Venti lineage,
    * FastCDC), re-expressed at token granularity. The deliberate
    * difference from FastCDC: NO min/max chunk-size constraint, because
    * the constraint makes boundary selection sequential per document —
    * the constraint-free gear rule is per-token independent (a pure
    * codegen'd column expression), embarrassingly parallel, and
    * resynchronizes instantly after any edit.
    *
    * Output: (doc_id, n_chunks, dup_chunks, dup_tokens) — a chunk is
    * "dup" when its exact token content occupies more than one
    * (doc, chunk) slot corpus-wide. Downstream policy (drop docs over a
    * duplicated-token ratio, keep one canonical occurrence per chunk)
    * composes on these integer-exact stats.
    *
    * Scale shape (the 100 TB story):
    *  1. chunk assembly is ONE exchange: the running cut-count window
    *     partitions by doc_id, and the following (doc_id, chunk_id)
    *     groupBy reuses that partitioning (hash on doc_id already
    *     clusters every (doc_id, cid) group).
    *  2. the duplicate census never shuffles chunk text: a narrow
    *     (doc_id, cid, n_toks, xxhash64) stream feeds the hot-hash count
    *     (map-side combinable), and only hash-colliding chunks — a small
    *     fraction of a natural corpus — carry their text into the
    *     raw-verify window on (hash, chunk). Hash collisions can only
    *     inflate the candidate superset, never the verified dup set.
    *  3. the assembled chunk stream is consumed twice (census +
    *     candidate verify), so it is persisted once (DISK_ONLY, registered
    *     — release with [[releaseIntermediates]]); recomputing would
    *     re-run the assembly exchange's map side per consumer. */
  /** Shared chunk assembly for the CDC family: (doc_id, cid, n_toks,
    * chunk) — one exchange (the (doc_id, cid) groupBy reuses the
    * doc-keyed window's partitioning). See [[cdcChunkStats]] for the
    * boundary rule. */
  private def cdcChunks(
      df: DataFrame, idCol: String, textCol: String, cutBelow: String): DataFrame = {
    require(cutBelow.length == 1 && "123456789abcdef".contains(cutBelow),
      s"cutBelow must be one hex digit in [1, f], got '$cutBelow'")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // a cut token ENDS its chunk: chunk id = cuts strictly before this
    // position, so chunks are a partition of the token sequence
    spread(df.select(col(idCol).as("doc_id"), col(textCol).as("__gr_text")))
      .select(col("doc_id"),
        posexplode(split(col("__gr_text"), " ")).as(Seq("p", "tok")))
      .withColumn("__cut",
        when(substring(md5(col("tok")), 1, 1) < cutBelow, 1L).otherwise(0L))
      .withColumn("cid", coalesce(sum(col("__cut")).over(wDoc), lit(0L)))
      .groupBy(col("doc_id"), col("cid"))
      .agg(count(lit(1)).as("n_toks"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s("tok")), " ").as("chunk"))
  }

  def cdcChunkStats(
      df: DataFrame, idCol: String, textCol: String,
      cutBelow: String = "1"): DataFrame = {
    val chunks = spillPersistEager(
      cdcChunks(df, idCol, textCol, cutBelow)
        .withColumn("h", xxhash64(col("chunk"))))
    val narrow = chunks.select("doc_id", "cid", "n_toks", "h")
    val hot = narrow.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    val wChunk = org.apache.spark.sql.expressions.Window.partitionBy("h", "chunk")
    val dupSlots = chunks.join(hot, Seq("h"), "left_semi")
      .withColumn("occ", count(lit(1)).over(wChunk))
      .filter(col("occ") > 1)
    val totals = narrow.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val dups = dupSlots.groupBy("doc_id").agg(
      count(lit(1)).as("__dc"), sum("n_toks").as("__dt"))
    totals.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("__dc"), lit(0L)).as("dup_chunks"),
        coalesce(col("__dt"), lit(0L)).as("dup_tokens"))
  }

  /** Persisted CDC chunk index: one NARROW row per distinct chunk content
    * — (chunk_md5, n_toks, occ). Identity is the 128-bit md5 of the chunk
    * text (the storage-dedup contract — and, deliberately, a hash both
    * this engine and the DuckDB oracle compute bit-identically, so the
    * gate verifies the exact deployed contract, not a proxy). The corpus
    * text itself never enters the index: at 100 TB the index is a small
    * constant factor of the DISTINCT chunk count, ~50 bytes/chunk. */
  def cdcChunkIndex(
      df: DataFrame, idCol: String, textCol: String,
      cutBelow: String = "1"): DataFrame =
    cdcChunks(df, idCol, textCol, cutBelow)
      .groupBy(md5(col("chunk")).as("chunk_md5"))
      .agg(first(col("n_toks")).as("n_toks"), count(lit(1)).as("occ"))

  /** Incremental CDC dedup: the daily batch is chunked (same boundary
    * rule — chunking is per-document, so new docs never touch old text)
    * and every chunk slot is checked against the PERSISTED index plus the
    * batch's own slots. Same output shape as [[cdcChunkStats]]: a chunk is
    * dup when its md5 is already in the index OR occupies >1 slot within
    * the batch. Scale shape: O(new data) — batch chunks carry only their
    * md5 into one join against the narrow index (AQE broadcasts whichever
    * side is small: a daily batch against a huge index, or a backfill
    * against a young index), and the within-batch census is one window on
    * the md5 key. The shift-resilience of content-defined boundaries is
    * what makes this sound: an edited re-crawl still produces the
    * corpus's chunk md5s for its unchanged tail, so incremental probing
    * loses nothing to offset drift. */
  def cdcChunkStatsIncremental(
      batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
      cutBelow: String = "1"): DataFrame = {
    val chunks = spillPersistEager(
      cdcChunks(batch, idCol, textCol, cutBelow)
        .withColumn("chunk_md5", md5(col("chunk")))
        .select("doc_id", "cid", "n_toks", "chunk_md5"))
    val wM = org.apache.spark.sql.expressions.Window.partitionBy("chunk_md5")
    val marked = chunks
      .join(index.select(col("chunk_md5"), lit(1L).as("__in_idx")),
        Seq("chunk_md5"), "left")
      .withColumn("__batch_occ", count(lit(1)).over(wM))
      .withColumn("__dup",
        col("__in_idx").isNotNull || col("__batch_occ") > 1L)
    marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("__dup"), 1L).otherwise(0L)).as("dup_chunks"),
      sum(when(col("__dup"), col("n_toks")).otherwise(0L)).as("dup_tokens"))
  }

  /** Apply a span set (e.g. [[duplicateSpans]] output) to the corpus: drop
    * every token whose 0-based position falls inside one of the document's
    * [span_start, span_end] ranges and rejoin with single spaces — the
    * "cut duplicated text out of the training set" step. Documents without
    * spans pass through untouched (no retokenization). Per-doc span lists
    * are tiny (merged maximal intervals), so the aggregated span side
    * broadcasts under AQE and the corpus never shuffles; the token filter
    * is a pure column expression (nested higher-order filter/exists), no
    * UDF. */
  def removeSpans(
      df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val toks = split(col(textCol), " ")
    df.join(sp, df(idCol) === sp("doc_id"), "left")
      .withColumn("clean_text",
        when(col("__spans").isNull, col(textCol))
          .otherwise(concat_ws(" ", filter(toks, (t, i) =>
            !exists(col("__spans"), s =>
              i.cast("long").between(s("span_start"), s("span_end")))))))
      .select(df(idCol), col("clean_text"))
  }
}
