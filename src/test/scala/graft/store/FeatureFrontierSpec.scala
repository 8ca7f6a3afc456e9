package graft.store

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSuite

/** The Delta feature FRONTIER (r12 verdict item 7): for every protocol
  * feature the engine does not fully implement, pin the documented
  * behavior — VARIANT columns read and append natively (Spark 4's
  * unshredded encoding IS the spec's), checkpointProtection constrains
  * metadata cleanup, and the coordinator/shredding/defaults/collations
  * features refuse LOUDLY instead of corrupting or silently degrading.
  * The README "Delta feature matrix" section documents the same set. */
class FeatureFrontierSpec extends SparkSuite {
  import spark.implicits._

  private val mapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder().build()

  /** Fabricate a foreign Delta table with an arbitrary protocol line. */
  private def table(
      root: String, df: org.apache.spark.sql.DataFrame,
      protocol: String, config: String = "{}",
      schemaOverride: Option[StructType] = None): Unit = {
    val staging = tmpDir("ffx-stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dataName = "part-00000-frontier.snappy.parquet"
    Files.copy(part.toPath, java.nio.file.Paths.get(root, dataName)): Unit
    val schema = schemaOverride.getOrElse(df.schema)
    val meta = s"""{"metaData":{"id":"frontier-1","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${mapper.writeValueAsString(schema.json)},""" +
      s""""partitionColumns":[],"configuration":$config,"createdTime":1}}"""
    val add = s"""{"add":{"path":"$dataName","partitionValues":{},""" +
      s""""size":${new File(root, dataName).length()},"modificationTime":1,"dataChange":true}}"""
    new File(root, "_delta_log").mkdirs()
    Files.write(java.nio.file.Paths.get(root, "_delta_log",
      "00000000000000000000.json"),
      Seq(protocol, meta, add).mkString("\n").getBytes("UTF-8")): Unit
  }

  private def proto(reader: Seq[String], writer: Seq[String]): String =
    s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      s""""readerFeatures":[${reader.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""writerFeatures":[${writer.map("\"" + _ + "\"").mkString(",")}]}}"""

  test("variantType: foreign variant table reads and appends end-to-end") {
    val root = tmpDir("ffx-variant")
    val seed = Seq((1L, """{"a": 1, "b": "x"}"""), (2L, """[4, 5]"""))
      .toDF("id", "js")
      .select(col("id"), parse_json(col("js")).as("v"))
    table(root, seed,
      proto(Seq("variantType"), Seq("variantType", "appendOnly")))
    // read: variant values decode through the normal scan path
    val got = DeltaTable.read(spark, root)
      .select(col("id"), to_json(col("v")).as("j"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> """{"a":1,"b":"x"}""", 2L -> "[4,5]"))
    // append: the writer accepts the feature and lands spec-encoded rows
    val t = new ForeignDeltaTable(spark, root)
    val v = t.append(Seq((3L, """{"c": true}""")).toDF("id", "js")
      .select(col("id"), parse_json(col("js")).as("v")))
    assert(v == 1L)
    val all = DeltaTable.read(spark, root)
      .select(col("id"), variant_get(col("v"), "$.c", "boolean").as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getBoolean(1))))
      .toMap
    assert(all == Map(1L -> None, 2L -> None, 3L -> Some(true)))
    // stats for the variant column are OMITTED (not stat-eligible), while
    // the sibling long column keeps full bounds — per-column omission is
    // protocol-legal and keeps skipping sound
    val commit = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", "00000000000000000001.json")), "UTF-8")
    val stats = commit.split('\n').filter(_.contains("\"add\"")).toSeq
      .map(l => mapper.readTree(mapper.readTree(l).get("add").get("stats").asText()))
    assert(stats.nonEmpty)
    assert(stats.forall(s => s.get("minValues").has("id")))
    assert(stats.forall(s => !s.get("minValues").has("v")))
    // delete: a predicate over the variant column drops exactly its row
    t.deleteWhere(variant_get(col("v"), "$.a", "int") === 1, allowProtocolUpgrade = true)
    assert(DeltaTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L))
  }

  test("variantShredding-preview: genuinely shredded files read back unshredded") {
    val root = tmpDir("ffx-shred")
    val seed = Seq((1L, """{"a": 1, "b": "x"}"""), (2L, """{"a": 2, "b": "y"}"""),
      (3L, """[7, 8]""")) // not an object: lands in the residual value field
      .toDF("id", "js")
      .select(col("id"), parse_json(col("js")).as("v"))
    // produce a SHREDDED data file: Spark's writer splits matching paths
    // into typed_value subcolumns per the parquet variant-shredding spec
    spark.conf.set("spark.sql.variant.writeShredding.enabled", "true")
    spark.conf.set("spark.sql.variant.forceShreddingSchemaForTest", "a int, b string")
    try table(root, seed, proto(
      Seq("variantType", "variantShredding-preview"),
      Seq("variantType", "variantShredding-preview")))
    finally {
      spark.conf.unset("spark.sql.variant.forceShreddingSchemaForTest")
      spark.conf.unset("spark.sql.variant.writeShredding.enabled")
    }
    // the fixture must actually be shredded, or this test proves nothing
    val dataFile = new File(root).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val phys = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(dataFile.getAbsolutePath))
      .getFileMetaData.getSchema.toString
    assert(phys.contains("typed_value"), s"fixture not shredded:\n$phys")
    // read: typed subcolumns reassemble to the logical variant values
    val got = DeltaTable.read(spark, root)
      .select(col("id"), to_json(col("v")).as("j"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> """{"a":1,"b":"x"}""", 2L -> """{"a":2,"b":"y"}""",
      3L -> "[7,8]"))
    // append: the foreign writer lands UNSHREDDED files (per-file choice
    // the spec allows) and the combined table reads both layouts
    val t = new ForeignDeltaTable(spark, root)
    t.append(Seq((4L, """{"a": 9}""")).toDF("id", "js")
      .select(col("id"), parse_json(col("js")).as("v"))): Unit
    val all = DeltaTable.read(spark, root)
      .select(col("id"), variant_get(col("v"), "$.a", "int").as("a"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(all == Map(1L -> Some(1), 2L -> Some(2), 3L -> None, 4L -> Some(9)))
    // a session that disables shredded reads gets a typed refusal, not a
    // per-file parquet error
    spark.conf.set("spark.sql.variant.allowReadingShredded", "false")
    try {
      val e = intercept[UnsupportedOperationException](
        DeltaTable.read(spark, root).collect())
      assert(e.getMessage.contains("allowReadingShredded"), e.getMessage)
    } finally spark.conf.unset("spark.sql.variant.allowReadingShredded")
  }

  test("catalogOwned-preview reads refuse loudly (commits live in a catalog)") {
    val root = tmpDir("ffx-catown")
    table(root, Seq((1L, "a")).toDF("id", "s"), proto(
      Seq("catalogOwned-preview"), Seq("catalogOwned-preview")))
    val e = intercept[Exception](DeltaTable.read(spark, root).collect())
    assert(e.getMessage.contains("catalogOwned"), e.getMessage)
  }

  test("allowColumnDefaults: omitted columns take CURRENT_DEFAULT, provided win") {
    val root = tmpDir("ffx-defaults")
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField}
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("region", StringType,
        metadata = new MetadataBuilder()
          .putString("CURRENT_DEFAULT", "'emea'").build()),
      StructField("qty", LongType,
        metadata = new MetadataBuilder()
          .putString("CURRENT_DEFAULT", "40 + 2").build())))
    table(root,
      Seq((1L, "apac", 7L)).toDF("id", "region", "qty"),
      proto(Nil, Seq("appendOnly", "allowColumnDefaults")),
      schemaOverride = Some(schema))
    val t = new ForeignDeltaTable(spark, root)
    // batch omits BOTH default columns → defaults land, not NULLs
    t.append(Seq(Tuple1(2L)).toDF("id")): Unit
    // batch provides one of them → the provided value wins
    t.append(Seq((3L, "amer")).toDF("id", "region")): Unit
    val got = DeltaTable.read(spark, root)
      .collect().map(r => r.getLong(0) -> ((
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(got == Map(
      1L -> (("apac", 7L)),
      2L -> (("emea", 42L)),
      3L -> (("amer", 42L))))
  }

  test("coordinator / collations writer features refuse writes loudly") {
    // variantShredding-preview is NOT in this list: shredding is a
    // per-file option, so appends to a shredded table are honored-benign
    // (land unshredded) — covered by the round-trip test above.
    // allowColumnDefaults moved to honored (defaults test above).
    Seq("coordinatedCommits", "collations-preview")
      .foreach { feat =>
      val root = tmpDir(s"ffx-w-${feat.take(8)}")
      table(root, Seq((1L, "a")).toDF("id", "s"),
        proto(Nil, Seq("appendOnly", feat)))
      val t = new ForeignDeltaTable(spark, root)
      val e = intercept[UnsupportedOperationException](
        t.append(Seq((2L, "b")).toDF("id", "s")))
      assert(e.getMessage.contains(feat), s"$feat: ${e.getMessage}")
      // and the table is untouched — refusal happened before any commit
      assert(DeltaTable.read(spark, root).count() == 1L)
    }
  }

  test("checkpointProtection: cleanup refuses to delete protected commits") {
    val root = tmpDir("ffx-ckprot")
    table(root, Seq((0L, "seed")).toDF("id", "s"),
      proto(Nil, Seq("appendOnly", "checkpointProtection")),
      config = """{"delta.requireCheckpointProtectionBeforeVersion":"8"}""")
    val t = new ForeignDeltaTable(spark, root)
    (1 to 12).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "s"))) // cp@10
    // floor would be the checkpoint at 10 and the doomed set would include
    // commits 0..7 — all below the protected boundary 8: refuse, delete
    // nothing (retentionMs = -1h puts the cutoff in the future, so
    // everything reads as expired)
    val logBefore = new File(root, "_delta_log").listFiles().map(_.getName).toSet
    val e = intercept[UnsupportedOperationException](
      t.cleanupMetadata(retentionMs = Some(-3600L * 1000)))
    assert(e.getMessage.contains("checkpointProtection"), e.getMessage)
    assert(new File(root, "_delta_log").listFiles().map(_.getName).toSet == logBefore,
      "a refused cleanup must not delete anything")
    // a boundary at/below the floor lets the same cleanup proceed: nothing
    // protected is in the doomed set
    val root2 = tmpDir("ffx-ckprot2")
    table(root2, Seq((0L, "seed")).toDF("id", "s"),
      proto(Nil, Seq("appendOnly", "checkpointProtection")),
      config = """{"delta.requireCheckpointProtectionBeforeVersion":"0"}""")
    val t2 = new ForeignDeltaTable(spark, root2)
    (1 to 12).foreach(i => t2.append(Seq((i.toLong, s"r$i")).toDF("id", "s")))
    val gone = t2.cleanupMetadata(retentionMs = Some(-3600L * 1000))
    assert(gone.nonEmpty, "unprotected cleanup proceeds")
    assert(DeltaTable.read(spark, root2).count() == 13L,
      "the surviving floor + tail still resolve the full table")
  }
}
