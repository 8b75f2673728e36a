package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Query
import graft.operators._

/** The query surface (SURVEY.md §7) and its oracles.
  *
  * Each operator object declares its queries once, as a `queries` list
  * of [[graft.core.Query]] (name, Spark build, DuckDB oracle SQL);
  * this object only concatenates those lists and derives the two maps
  * that `Verify`, `Bench` and the specs read. Column aliases and
  * ORDER BYs match the oracle exactly; money sums are exact
  * integer-cents sums (order-independent) and averages/ratios are
  * rounded identically on both sides, so aggregation-order noise
  * can't flip the hash compare.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TextMR.wordcount(spark, "/root/testdata/sf0.001")

  /** Each owner's declared queries, one list per operator object. */
  lazy val owners: Seq[Seq[Query]] = Seq(
    Relational.queries, Events.queries, TextOps.queries, Profile.queries,
    Dedup.queries, Graph.queries, Ann.queries, Multimodal.queries,
    Curation.queries, TextMR.queries, Snapshot.queries, Cluster.queries,
    Linkage.queries, Hierarchy.queries, Skyline.queries, Layout.queries,
    Search.queries, graft.sources.IO.queries)

  /** Every query, checked for a name declared twice before the maps
    * below would silently keep only one of them. */
  private lazy val registry: Seq[Query] = {
    val all = owners.flatten
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"query declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in [[queries]], the DuckDB SQL over the same parquet
    * tables. The sketch ops use the engine-portable
    * [[graft.functions.PortableHash]] family and the LSH/IVF ops inline
    * their plane/codebook constants, so DuckDB reproduces the identical
    * signatures, buckets and cells. */
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
