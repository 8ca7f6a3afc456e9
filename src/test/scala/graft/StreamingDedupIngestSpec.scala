package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.VersionedTable
import graft.streaming.StreamingIngest

/** Exactly-once guarantees of the rolling streaming dedup ingest
  * (`StreamingIngest.dedupIngest`): foreachBatch is at-least-once, so both
  * sinks go through `VersionedTable.appendIdempotent` keyed by
  * (appId, batchId). These specs drive the batch body directly to simulate
  * the two failure modes the stream checkpoint cannot protect against on
  * plain parquet sinks: a replayed micro-batch (retry after failure) and a
  * crash BETWEEN the destination commit and the fingerprint commit. */
class StreamingDedupIngestSpec extends SparkSuite {
  import spark.implicits._

  private val appId = "dedupIngest-spec"

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  private def runBatch(b: DataFrame, batchId: Long, dest: String, fp: String): Unit =
    StreamingIngest.dedupIngestBatch(b, batchId, "doc_id", "text", dest, fp, appId)

  private def ids(dest: String): Seq[Long] =
    new VersionedTable(spark, dest).read()
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  private def fps(fp: String): Seq[String] =
    new VersionedTable(spark, fp).read()
      .select("fp").collect().map(_.getString(0)).toSeq.sorted

  test("replayed micro-batch is a no-op on both sinks (retry after failure)") {
    val dest = tmpDir("sdi-dest"); val fp = tmpDir("sdi-fp")
    val b0 = docs((1L, "alpha text one"), (2L, "Alpha  TEXT one"), (3L, "beta text"))
    runBatch(b0, 0L, dest, fp)
    val ids0 = ids(dest); val fps0 = fps(fp)
    assert(ids0 == Seq(1L, 3L)) // 2 is a ws/case dup of 1 within the batch
    assert(fps0.distinct.size == 2)

    // simulated foreachBatch retry: same batch, same batchId
    runBatch(b0, 0L, dest, fp)
    assert(ids(dest) == ids0, "retried batch double-appended the destination")
    assert(fps(fp) == fps0, "retried batch double-appended the fingerprint store")

    // next epoch still dedups against the store and itself
    val b1 = docs((4L, "beta text"), (5L, "gamma text"), (6L, "gamma  TEXT"))
    runBatch(b1, 1L, dest, fp)
    assert(ids(dest) == Seq(1L, 3L, 5L)) // 4 dies to store, 6 dies in-batch
    runBatch(b1, 1L, dest, fp) // retry of epoch 2
    assert(ids(dest) == Seq(1L, 3L, 5L))
    assert(fps(fp).distinct.size == 3)
  }

  test("crash between dest and fp commits heals on replay without duplicates") {
    val dest = tmpDir("sdi-cr-dest"); val fp = tmpDir("sdi-cr-fp")
    val b0 = docs((1L, "first doc"), (2L, "second doc"))
    runBatch(b0, 0L, dest, fp)

    // batch 1: all-new texts. Simulate the partial failure: the dest
    // commit landed (appendIdempotent applied batchId=1) but the process
    // died before the fingerprint commit.
    val b1 = docs((3L, "third doc"), (4L, "fourth doc"))
    new VersionedTable(spark, dest).appendIdempotent(b1, appId, 1L)
    assert(ids(dest) == Seq(1L, 2L, 3L, 4L))
    assert(fps(fp).size == 2, "precondition: fp store is missing batch 1")

    // restart replays the uncommitted micro-batch with the same batchId:
    // dest append must no-op, fp append must apply
    runBatch(b1, 1L, dest, fp)
    assert(ids(dest) == Seq(1L, 2L, 3L, 4L), "replay double-appended dest")
    assert(fps(fp).size == 4, "replay did not backfill the fingerprint store")

    // and the healed store is actually used: dups of batch 1 now die
    val b2 = docs((5L, "third doc"), (6L, "fifth doc"))
    runBatch(b2, 2L, dest, fp)
    assert(ids(dest) == Seq(1L, 2L, 3L, 4L, 6L))
  }

  test("end-to-end AvailableNow stream over a checkpoint stays exactly-once") {
    val src = tmpDir("sdi-e2e-src"); val dest = tmpDir("sdi-e2e-dest")
    val fp = tmpDir("sdi-e2e-fp"); val ckpt = tmpDir("sdi-e2e-ck")
    val schema = docs((0L, "x")).schema
    docs((1L, "one text"), (2L, "one  TEXT"), (3L, "two text"))
      .write.mode("append").parquet(src)
    StreamingIngest.dedupIngest(spark, src, schema, "doc_id", "text", dest, fp, ckpt)
    assert(ids(dest) == Seq(1L, 3L))
    // second epoch: one dup of epoch 1, one new
    docs((4L, "two text"), (5L, "three text"))
      .write.mode("append").parquet(src)
    StreamingIngest.dedupIngest(spark, src, schema, "doc_id", "text", dest, fp, ckpt)
    assert(ids(dest) == Seq(1L, 3L, 5L))
    assert(fps(fp).distinct.size == 3)
    // the txn watermark key is "dedupIngest-" + md5(checkpointDir): state
    // tables written before an upgrade carry it, so a replay afterwards
    // must find its batches under the very same key
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest(ckpt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    assert(new VersionedTable(spark, dest).txnApplied("dedupIngest-" + md5hex, 0L))
  }
}
