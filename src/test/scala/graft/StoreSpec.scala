package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.{LogTable, SchemaEvolution, VersionedTable}

/** Unit specs for the storage layer: the versioned table format (append /
  * overwrite / time travel / restore / merge / vacuum / schema drift /
  * empty commits) and the structured run log. */
class StoreSpec extends SparkSuite {
  import spark.implicits._

  private def table(name: String) = new VersionedTable(spark, tmpDir(name))

  test("append/overwrite/time-travel/readCommit") {
    val t = table("vt-basic")
    assert(!t.exists)
    val v0 = t.overwrite(Seq((1, "a"), (2, "b")).toDF("id", "s"))
    val v1 = t.append(Seq((3, "c")).toDF("id", "s"))
    assert(v0 == 0 && v1 == 1)
    assert(t.read().count() == 3)
    assert(t.readVersion(0).count() == 2)
    assert(t.readCommit(1).collect().map(_.getInt(0)).toSeq == Seq(3))
    val v2 = t.restore(0)
    assert(t.read().count() == 2 && v2 == 2)
    // restore is itself a version: the appended state is still reachable
    assert(t.readVersion(1).count() == 3)
  }

  test("overwriteEmpty commits schema with zero data dirs") {
    val t = table("vt-empty")
    t.overwrite(Seq((1, "a")).toDF("id", "s"))
    t.overwriteEmpty(t.schema)
    assert(t.read().isEmpty)
    assert(t.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(t.readVersion(0).count() == 1)
  }

  test("merge upserts on pk") {
    val t = table("vt-merge")
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("id", "s"))
    t.merge(Seq((2, "B"), (3, "c")).toDF("id", "s"), Seq("id"))
    val m = t.read().collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m == Map(1 -> "a", 2 -> "B", 3 -> "c"))
  }

  test("merge is file-pruned: dirs without matched pks are untouched") {
    val t = table("vt-merge-prune")
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "s"))   // dir A: pks 1,2
    t.append(Seq((10, "x"), (11, "y")).toDF("id", "s")) // dir B: pks 10,11
    def dataDirs = new java.io.File(s"${t.path}/data").listFiles().toSeq
      .map(_.getName).sorted
    def filesOf(dir: String) = new java.io.File(s"${t.path}/data/$dir")
      .listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      .map(f => (f.getName, f.lastModified, f.length)).sortBy(_._1)
    val before = dataDirs
    val dirA = before.head // v0 dir
    val dirB = before(1)   // v1 dir
    val snapB = filesOf(dirB)
    // merge touches only pk 2 (dir A) and inserts pk 20
    t.merge(Seq((2, "B2"), (20, "n")).toDF("id", "s"), Seq("id"))
    // dir B's files are byte-identical — never rewritten, carried by reference
    assert(filesOf(dirB) == snapB)
    // content is the full correct upsert
    val m = t.read().collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m == Map(1 -> "a", 2 -> "B2", 10 -> "x", 11 -> "y", 20 -> "n"))
    // pure-insert merge (no pk hits anywhere): NO existing dir is rewritten
    val allBefore = dataDirs.map(d => d -> filesOf(d)).toMap
    t.merge(Seq((30, "z")).toDF("id", "s"), Seq("id"))
    allBefore.foreach { case (d, snap) => assert(filesOf(d) == snap) }
    assert(t.read().count() == 6)
  }

  test("schema drift: NewOnly adds columns, rejects type change; Full widens") {
    val t = table("vt-drift")
    t.overwrite(Seq((1, 10)).toDF("id", "v"))
    // new column appends under NewOnly; missing column in old files → NULL
    t.append(Seq((2, 20, "x")).toDF("id", "v", "extra"), SchemaDrift.NewOnly)
    val rows = t.read().orderBy("id").collect()
    assert(rows(0).isNullAt(2) && rows(1).getString(2) == "x")
    // type change rejected under NewOnly
    intercept[IllegalArgumentException] {
      t.append(Seq((3, "not-an-int", "y")).toDF("id", "v", "extra"), SchemaDrift.NewOnly)
    }
    // widening int → long allowed under Full
    t.append(Seq((4L, 40L)).toDF("id", "v").select(col("id").cast("long").as("id"),
      col("v").cast("long").as("v")), SchemaDrift.Full)
    assert(t.schema("id").dataType == LongType)
    assert(t.read().count() == 3)
  }

  test("widening lattice accepts lossless, rejects lossy") {
    assert(SchemaEvolution.widen(IntegerType, LongType) == LongType)
    assert(SchemaEvolution.widen(DecimalType(15, 3), DecimalType(20, 3)) == DecimalType(20, 3))
    intercept[IllegalArgumentException](SchemaEvolution.widen(LongType, IntegerType))
    intercept[IllegalArgumentException](SchemaEvolution.widen(DecimalType(15, 3), StringType))
  }

  test("complex types round-trip and widen through the store") {
    val t = table("vt-complex")
    val df1 = Seq((1L, Seq(1.0f, 2.0f), ("a", 10)))
      .toDF("id", "emb", "meta")
    t.overwrite(df1)
    // widen array<float> → array<double> and nested struct int → long
    val df2 = Seq((2L, Seq(3.0d), ("b", 20L)))
      .toDF("id", "emb", "meta")
    t.append(df2, SchemaDrift.Full)
    val out = t.read().orderBy("id").collect()
    assert(t.schema("emb").dataType.asInstanceOf[ArrayType].elementType == DoubleType)
    assert(out(0).getSeq[Double](1) == Seq(1.0, 2.0)) // floats read back widened
    val meta0 = out(0).getStruct(2)
    assert(meta0.getString(0) == "a" && meta0.getLong(1) == 10L)
    // further plain appends onto the widened array column keep committing
    Seq(3L, 4L).foreach(i =>
      t.append(Seq((i, Seq(4.0d), ("c", 30L))).toDF("id", "emb", "meta")))
    assert(t.read().count() == 4L)
    // incompatible nested changes still rejected
    intercept[IllegalArgumentException] {
      SchemaEvolution.widen(ArrayType(LongType), ArrayType(IntegerType))
    }
    intercept[IllegalArgumentException] { // nested field added → not widenable
      SchemaEvolution.widen(
        StructType(Seq(StructField("a", IntegerType))),
        StructType(Seq(StructField("a", IntegerType), StructField("b", LongType))))
    }
  }

  test("vacuum drops unreferenced dirs but keeps recent versions readable") {
    val t = table("vt-vac")
    (0 until 6).foreach(i => t.overwrite(Seq((i, s"v$i")).toDF("id", "s")))
    t.vacuum(keepVersions = 2)
    assert(t.read().head().getString(1) == "v5")
    assert(t.readVersion(4).head().getString(1) == "v4")
    intercept[Exception](t.readVersion(1).collect()) // vacuumed away
  }

  test("age-based vacuum keeps the retention window and always the latest") {
    val t = table("vt-vac-age")
    (0 until 3).foreach(i => t.overwrite(Seq((i, s"v$i")).toDF("id", "s")))
    Thread.sleep(400) // margin between the aged-out and in-window commits
    (3 until 5).foreach(i => t.overwrite(Seq((i, s"v$i")).toDF("id", "s")))
    // cutoff midway between ts(v2) and ts(v3) — deterministic vs runtime
    val ts = t.history().orderBy("version").collect().map(_.getTimestamp(1).getTime)
    val retentionMs = System.currentTimeMillis() - (ts(2) + ts(3)) / 2
    t.vacuum(retentionHours = retentionMs / 3600000.0)
    // in-window versions stay time-travelable
    assert(t.read().head().getString(1) == "v4")
    assert(t.readVersion(3).head().getString(1) == "v3")
    intercept[Exception](t.readVersion(1).collect()) // aged out
    // the latest version survives even when EVERYTHING is out of window
    Thread.sleep(400)
    t.vacuum(retentionHours = 0.0)
    assert(t.read().head().getString(1) == "v4")
    intercept[Exception](t.readVersion(3).collect())
  }

  test("restore preserves graft.txn idempotency watermarks") {
    val t = table("vt-restore-txn")
    t.appendIdempotent(Seq((1, "a")).toDF("id", "s"), "app", 0L) // v0
    t.appendIdempotent(Seq((2, "b")).toDF("id", "s"), "app", 1L) // v1
    t.restore(0L) // v2: content of v0, watermarks of v1
    assert(t.read().count() == 1)
    // a replayed micro-batch after the restore must STAY a no-op
    t.appendIdempotent(Seq((2, "dup")).toDF("id", "s"), "app", 1L)
    assert(t.read().count() == 1)
    // a genuinely new batch still applies
    t.appendIdempotent(Seq((3, "c")).toDF("id", "s"), "app", 2L)
    assert(t.read().count() == 2)
  }

  test("overwriteIdempotent: replayed state rewrites are no-ops, watermarks survive the overwrite") {
    val t = new graft.store.VersionedTable(spark, tmpDir("store-ovid"))
    t.overwriteIdempotent(Seq((1, "s0")).toDF("id", "s"), "fold", 0L)
    t.overwriteIdempotent(Seq((1, "s1"), (2, "s1")).toDF("id", "s"), "fold", 1L)
    assert(t.read().count() == 2)
    // a foreachBatch retry of batch 1 must NOT re-fold (it would both
    // double-apply and trip a fold's late-data refusal)
    t.overwriteIdempotent(Seq((9, "dup")).toDF("id", "s"), "fold", 1L)
    assert(t.read().select("s").collect().map(_.getString(0)).toSet == Set("s1"))
    // the watermark rides properties ACROSS overwrites
    t.overwriteIdempotent(Seq((3, "s2")).toDF("id", "s"), "fold", 2L)
    assert(t.read().count() == 1)
    t.overwriteIdempotent(Seq((9, "dup")).toDF("id", "s"), "fold", 0L) // stale
    assert(t.read().select("s").head().getString(0) == "s2")
  }

  test("manifest publish fails at the rename when the slot is taken") {
    val dir = tmpDir("fs-noov")
    val fsu = new graft.store.Fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/v0000000001.json")
    fsu.writeStringAtomicNew(p, "one")
    intercept[Exception](fsu.writeStringAtomicNew(p, "two"))
    assert(fsu.readString(p) == "one") // the committed file is untouched
    // and no temp droppings remain
    assert(fsu.list(new org.apache.hadoop.fs.Path(dir))
      .forall(!_.getName.startsWith(".tmp-")))
  }

  test("put-if-absent recovers a slot orphaned by an external raw delete") {
    // crash/manual-cleanup shape: the FILE was removed through a raw
    // (non-checksummed) channel, its `.crc` sidecar left behind. The
    // sidecar must not block a legitimate re-publication into the free
    // slot — and the recovery runs from the FAILURE path (r12 ADVICE
    // TOCTOU: an up-front exists-then-delete could strip a racing
    // winner's fresh sidecar), so a taken slot still refuses afterwards.
    val dir = tmpDir("fs-stalecrc")
    val fsu = new graft.store.Fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/v0000000002.json")
    fsu.writeStringAtomicNew(p, "one")
    val raw = fsu.fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    raw.delete(p, false) // raw delete leaves `.v…json.crc` orphaned
    val crc = new org.apache.hadoop.fs.Path(
      p.getParent, s".${p.getName}.crc")
    assert(raw.exists(crc), "precondition: orphaned sidecar present")
    fsu.writeStringAtomicNew(p, "two") // republication into the freed slot
    assert(fsu.readString(p) == "two")
    // the slot is committed again: a third writer refuses as usual
    intercept[Exception](fsu.writeStringAtomicNew(p, "three"))
    assert(fsu.readString(p) == "two")
    // the re-publication refreshed the sidecar (reads stay verifiable)
    assert(raw.exists(crc))
  }

  test("table properties persist across commits and restores") {
    val t = table("vt-props")
    t.overwrite(Seq((1, "a")).toDF("id", "s"))
    assert(t.properties.isEmpty)
    t.setProperties(Map("graft.owner" -> "spec", "graft.retention" -> "7d"))
    t.append(Seq((2, "b")).toDF("id", "s"))
    assert(t.properties == Map("graft.owner" -> "spec", "graft.retention" -> "7d"))
    t.setProperties(Map("graft.retention" -> "30d"))
    assert(t.properties("graft.retention") == "30d")
    assert(t.read().count() == 2) // property commits leave data untouched
  }

  test("dbfs fuse paths normalize to the dbfs: scheme") {
    assert(graft.store.Fs.normalize("/dbfs/mnt/dest/user") == "dbfs:/mnt/dest/user")
    assert(graft.store.Fs.normalize("s3a://bucket/dest") == "s3a://bucket/dest")
    assert(graft.store.Fs.normalize("/tmp/local") == "/tmp/local")
  }

  test("jdbc catalog type mapping follows the reference's conversion table") {
    import java.sql.Types
    import graft.sources.JdbcCatalog.sparkType
    assert(sparkType(Types.TINYINT, 0, 0) == ShortType) // unsigned in T-SQL
    assert(sparkType(Types.BIGINT, 0, 0) == LongType)
    assert(sparkType(Types.DECIMAL, 15, 3) == DecimalType(15, 3))
    assert(sparkType(Types.DECIMAL, 0, 0) == DecimalType(38, 18))
    assert(sparkType(Types.TIMESTAMP, 0, 0) == TimestampType)
    assert(sparkType(Types.VARBINARY, 0, 0) == BinaryType)
    assert(sparkType(Types.VARCHAR, 100, 0) == StringType)
    assert(sparkType(Types.SQLXML, 0, 0) == StringType)
  }

  test("log table: buffered writes, flush, read back as DataFrame") {
    val dir = tmpDir("vt-log")
    val log = new LogTable(spark, dir, "spec-logger", flushEvery = 2)
    log.info("first", load = "delta")
    assert(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)) ||
      log.read().count() == 0) // below flush threshold: nothing on disk yet
    log.info("second") // triggers flush
    log.error("boom", new RuntimeException("synthetic"))
    log.close() // flushes the tail
    val rows = log.read().orderBy("date").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[String]("message")).toSeq == Seq("first", "second", "boom"))
    assert(rows(0).getAs[String]("load") == "delta")
    assert(rows(2).getAs[String]("type") == "error")
    assert(rows(2).getAs[String]("error_trackback").contains("synthetic"))
    assert(rows.forall(_.getAs[java.sql.Timestamp]("date") != null))
  }

  test("versioned log backend: history across two runs, version pinning") {
    val dir = tmpDir("vt-log-versioned")
    // run 1
    val run1 = new LogTable(spark, dir, "run-1", flushEvery = 10,
      backend = LogTable.Versioned)
    run1.info("run1 start", load = "full")
    run1.info("run1 done")
    run1.close() // one flush → version 0
    val v0 = run1.versioned.get.requireVersion
    // run 2 — a NEW logger over the same path appends, preserving history
    val run2 = new LogTable(spark, dir, "run-2", flushEvery = 10,
      backend = LogTable.Versioned)
    run2.warn("run2 degraded")
    run2.close()
    val v1 = run2.versioned.get.requireVersion
    assert(v1 > v0)
    // current read sees both runs
    val all = run2.read().orderBy("date").collect()
    assert(all.map(_.getAs[String]("message")).toSeq ==
      Seq("run1 start", "run1 done", "run2 degraded"))
    assert(all.map(_.getAs[String]("logger_name")).distinct.toSeq == Seq("run-1", "run-2"))
    // time travel: pin to the first run's version → only its records
    val pinned = run2.readVersion(v0).collect()
    assert(pinned.map(_.getAs[String]("message")).toSet == Set("run1 start", "run1 done"))
    // the JSONL backend refuses version pinning loudly
    val jl = new LogTable(spark, tmpDir("vt-log-jl"), "x")
    intercept[IllegalStateException](jl.readVersion(0L))
  }
}
