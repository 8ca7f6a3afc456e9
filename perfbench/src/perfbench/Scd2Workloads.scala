package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.{ColInfo, Graft, LoadResult, WriteConfig}
import graft.scd2.Synchronizer
import graft.sources.{ParquetSource, Source, SourceState}
import graft.store.VersionedTable

/** The `sources` layer seen from outside: a parquet source that counts its
  * `read` and `state` calls and times `state`. */
final class CountingSource(path: String) extends Source {
  private val inner = new ParquetSource(path, Seq("id"))
  val reads = new AtomicLong
  val states = new AtomicLong
  val stateNanos = new AtomicLong

  def read(spark: SparkSession): DataFrame = { reads.incrementAndGet(); inner.read(spark) }
  def columns(spark: SparkSession): Seq[ColInfo] = inner.columns(spark)
  def primaryKeys(spark: SparkSession): Seq[String] = inner.primaryKeys(spark)
  override def state(spark: SparkSession, deltaCol: Column): SourceState = {
    states.incrementAndGet()
    val t0 = System.nanoTime()
    try inner.state(spark, deltaCol) finally stateNanos.addAndGet(System.nanoTime() - t0)
  }
}

/** One sync as the benchmark saw it: the timed result, the writer (for
  * reads and checks), the source wrapper's counters, and the destination
  * files the sync added or rewrote, as (table, bytes). */
final case class SyncRec(
    t: Timed[LoadResult], writer: Synchronizer, src: CountingSource, written: Seq[(String, Long)]) {
  def writtenMb: Double = written.map(_._2).sum / 1e6
}

/** The SCD2 workload. It drives the engine only through `Graft.writer` /
  * `Synchronizer.execute`, `currentState` and `checkConsistency`, on a
  * generated parquet source. */
object Scd2Workloads {
  val cfg = WriteConfig(deltaCol = Some("ver"))
  private val fullSteps = Seq("full_history_write", "full_latest_pk")
  private val deltaSteps = Names.scd2Steps.map(_._1).filterNot(fullSteps.contains)

  private def tableOf(rel: String): String =
    if (rel.startsWith("delta/")) "history"
    else if (rel.startsWith("delta_load/primary_keys_ts/")) "primary_keys_ts"
    else if (rel.startsWith("delta_load/latest_pk_version/")) "latest_pk_version"
    else if (rel.startsWith("delta_load/delta_1/")) "delta_1"
    else if (rel.startsWith("delta_load/delta_2/")) "delta_2"
    else "log_meta"

  def sync(run: Run, group: String, snap: String, dest: String): SyncRec = {
    val before = Files.listing(dest)
    val src = new CountingSource(snap)
    var w: Synchronizer = null
    val t = run.time(group) { w = Graft.writer(run.spark, src, dest, cfg); w.execute() }
    val written = Files.listing(dest).toSeq.collect {
      case (rel, v @ (size, _)) if !before.get(rel).contains(v) => tableOf(rel) -> size
    }
    SyncRec(t, w, src, written)
  }

  /** Per-layer records of a traced delta sync. */
  private def deltaLayers(run: Run, group: String, r: SyncRec): Unit = if (r.t.jobs.isDefined) {
    run.scd2Layer(r.t, deltaSteps, unlabeled = true)
    run.sparkLayer(group, r.t)
    run.addLayer("sources.read_calls", r.src.reads.get.toDouble)
    run.addLayer("sources.state_calls", r.src.states.get.toDouble)
    run.addLayer("sources.state_s", r.src.stateNanos.get / 1e9)
    Names.storeTables.foreach(tb =>
      run.addLayer(s"store.$tb.mb_written", r.written.filter(_._1 == tb).map(_._2).sum / 1e6))
    run.addLayer("store.files_written", r.written.size.toDouble)
  }

  private def fullLayers(run: Run, r: SyncRec): Unit = if (r.t.jobs.isDefined) {
    run.scd2Layer(r.t, fullSteps, unlabeled = false)
    run.sparkLayer("full_load", r.t)
  }

  private def expectFull(run: Run, r: SyncRec, rows: Long): Seq[String] =
    run.expect(r.t.value == LoadResult.FullLoad(rows), s"expected FullLoad($rows), got ${r.t.value}")

  private def expectDelta(run: Run, r: SyncRec, c: StepCounts): Seq[String] = {
    val want = LoadResult.DeltaLoad(c.inserts + c.updates, 0L, c.deletes, dirty = false)
    run.expect(r.t.value == want, s"sync ${c.step}: expected $want, got ${r.t.value}")
  }

  /** End-of-run checks and store shape: the persisted latest-pk snapshot is
    * consistent with history, and the current state equals the last source
    * snapshot (order-independent checksum over the stored columns). */
  private def finish(run: Run, w: Synchronizer, dest: String, lastSnap: String): Unit = {
    run.setTracing(false)
    run.attempt("check_consistency") {
      run.expect(w.checkConsistency().isEmpty, "checkConsistency() is not empty")
    }
    run.attempt("current_state_checksum") {
      val got = Scd2Gen.checksum(w.currentState())
      val want = Scd2Gen.checksum(run.spark.read.parquet(lastSnap))
      run.expect(got == want, s"currentState() checksum $got != final snapshot $want")
    }
    run.sample("dest_mb", Files.bytes(dest) / 1e6)
    if (run.traced) {
      val hist = new VersionedTable(run.spark, s"$dest/delta")
      val reads = (1 to 3).map(_ => run.time("history_read")(hist.read().count()).s)
      run.addLayer("store.history_read_s", Stats.median(reads))
      run.addLayer("store.history_versions", hist.latestVersion.fold(0L)(_ + 1).toDouble)
      val dirs = Option(new java.io.File(s"$dest/delta/data").listFiles()).getOrElse(Array.empty[java.io.File])
        .count(_.isDirectory)
      run.addLayer("store.history_dirs", dirs.toDouble)
    }
  }

  /** steady_delta: the everyday periodic sync of a large table with a small
    * change set. Set-up: the initial full load, repeated into fresh
    * destinations (the last one is kept), then one warm-up delta sync,
    * no-change sync and current-state read. Measured cycle: a delta sync, a
    * no-change sync, two current-state reads; at least three cycles, so that
    * the median delta sync never averages in the first, slower one. */
  def steadyDelta(run: Run, seed: Long, rows: Long, files: Int, setupReps: Int): Setup = {
    val gen = Scd2Gen(seed, rows, inserts = rows / 1000, delFrac = 0.001, updFrac = 0.003)
    val root = s"${run.work}/steady_delta"
    def snap(j: Int) = s"$root/src/s$j"
    val inputBytes = mutable.ArrayBuffer(gen.write(run.spark, 0, snap(0), files), gen.write(run.spark, 1, snap(1), files))
    val c1 = gen.counts(1)

    run.setTracing(true)
    val fullLoads = (0 until setupReps).map { r =>
      val d = s"$root/dest$r"
      Files.delete(s"$root/dest${r - 1}")
      var s = 0.0
      run.attempt("setup_full_load") {
        val f = sync(run, "full_load", snap(0), d)
        s = f.t.s
        fullLayers(run, f)
        expectFull(run, f, rows)
      }
      s
    }
    val dest = s"$root/dest${setupReps - 1}"
    val t0 = System.nanoTime()
    run.attempt("setup_delta_sync") { expectDelta(run, sync(run, "delta_sync", snap(1), dest), c1) }
    var warm: SyncRec = null
    run.attempt("setup_noop_sync") {
      warm = sync(run, "noop_sync", snap(1), dest)
      run.expect(warm.t.value == LoadResult.NoLoad, s"expected NoLoad, got ${warm.t.value}")
    }
    run.attempt("setup_current_read") {
      val n = warm.writer.currentState().count()
      run.expect(n == gen.liveRows(1), s"currentState().count() = $n, expected ${gen.liveRows(1)}")
    }
    val warmS = (System.nanoTime() - t0) / 1e9

    var j = 1
    var last: SyncRec = null
    while (run.keepMeasuring(j - 1, minCycles = 3)) {
      j += 1
      run.setTracing(false)
      inputBytes += gen.write(run.spark, j, snap(j), files)
      Files.delete(snap(j - 1))
      val counts = gen.counts(j)
      val live = gen.liveRows(j)
      run.setTracing(j % 2 == 1)
      run.attempt("delta_sync") {
        val r = sync(run, "delta_sync", snap(j), dest)
        last = r
        run.measuredS += r.t.s
        run.sample("delta_sync_s", r.t.s)
        run.sample("write_mb_per_sync", r.writtenMb)
        run.opByTracing(run.isTracing) += r.t.s
        deltaLayers(run, "delta_sync", r)
        expectDelta(run, r, counts)
      }
      run.attempt("noop_sync") {
        val n = sync(run, "noop_sync", snap(j), dest)
        last = n
        run.measuredS += n.t.s
        run.sample("noop_sync_s", n.t.s)
        run.sparkLayer("noop_sync", n.t)
        run.expect(n.t.value == LoadResult.NoLoad, s"expected NoLoad, got ${n.t.value}")
      }
      (1 to 2).foreach { _ =>
        run.attempt("current_read") {
          val t = run.time("current_read")(last.writer.currentState().count())
          run.measuredS += t.s
          run.sample("current_read_s", t.s)
          run.sparkLayer("current_read", t)
          run.expect(t.value == live, s"currentState().count() = ${t.value}, expected $live")
        }
      }
    }
    finish(run, last.writer, dest, snap(j))
    run.generator = Map("seed" -> seed, "rows" -> rows, "files" -> files,
      "syncs" -> j, "live_rows_final" -> gen.liveRows(j), "input_mb" -> inputBytes.sum / 1e6,
      "per_sync" -> (1 to j).map(gen.counts).map(c => Map("step" -> c.step, "inserts" -> c.inserts,
        "updates" -> c.updates, "deletes" -> c.deletes, "strange" -> 0)))
    Setup(fullLoads, warmS)
  }
}
