package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString
  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Run `body` with a fresh reliable checkpoint dir set on the shared
    * context (its path is passed in), then restore the previous setting,
    * so `Caching.truncate` takes its reliable branch only inside `body`. */
  def withCheckpointDir[A](body: String => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = tmpDir("graft-ckpt")
    sc.setCheckpointDir(dir)
    try body(dir)
    finally org.apache.spark.CheckpointDirAccess.restore(sc, prev)
  }

  /** Number of checkpoint part files written under a checkpoint dir. */
  def checkpointFiles(dir: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => p.getFileName.toString.startsWith("part-")).count()
    finally s.close()
  }
}
