package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft._
import graft.functions.TextFunctions
import graft.operators.{Dedup, Graph, Similarity, TextCorpus}


/** The driver-contract query catalog: every operator of SURVEY.md §2 plus
  * the training-data-pipeline operators, each as a deterministic DataFrame
  * program over `/root/testdata/sf*` with (where SQL-expressible) a DuckDB
  * oracle producing the identical result.
  *
  * Determinism rules (the driver hash-compares values after sorting):
  *  - integer outputs wherever arithmetic is involved (money as cents,
  *    ratios as x1000) — double SUMs are order-dependent, BIGINT sums exact;
  *  - per-row double arithmetic (no aggregation) is bit-deterministic and OK;
  *  - DuckDB `sum(BIGINT)` returns HUGEINT and `len()` BIGINT while Spark
  *    `size()` is INT — both sides cast to BIGINT explicitly;
  *  - float similarity values never appear in outputs, only ranks.
  */
object Catalog {


  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  // single-source gate parameterizations live in GateSupport (the family
  // catalogs interpolate them); re-exported here for external consumers
  // (Sf1Drive)
  val ContainmentGateThreshold: Double = GateSupport.ContainmentGateThreshold
  val ContainmentGateMinShingles: Int = GateSupport.ContainmentGateMinShingles
  val TfidfGateThreshold: Double = GateSupport.TfidfGateThreshold
  val TfidfGateMaxDocFreq: Int = GateSupport.TfidfGateMaxDocFreq

  val all: Seq[Q] =
    CatalogRelational.gates ++
    CatalogScd2.gates ++
    CatalogEvents.gates ++
    CatalogDedup.gates ++
    CatalogCorpus.gates ++
    CatalogVector.gates ++
    CatalogStreaming.gates ++
    CatalogStore.gates



  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap


  def oracleSql: Map[String, String] =
    all.collect { case Q(n, _, Some(o)) => n -> o.stripMargin.replaceAll("\\s+", " ").trim }.toMap
}
