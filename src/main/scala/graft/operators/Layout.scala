package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables}

/** Multi-dimensional data layout — z-order (Morton) clustering, the
  * storage-side twin of predicate pushdown: interleaving the bits of
  * two bucketed dimensions gives ONE sort key under which files are
  * simultaneously clustered on BOTH dimensions, so a scan planner
  * consulting per-file min/max can prune on either predicate (a plain
  * single-column sort clusters one dimension and scatters the other).
  * At 100 TB this is the difference between "filter on customer OR
  * date prunes" and "filter on customer AND date both prune on the
  * same file set" — the layout every lakehouse table format offers
  * (z-order in Delta/Iceberg terms) expressed as plain engine math.
  *
  * The whole derivation is scale-shaped: one ungrouped 1-row
  * min/max aggregate rides a broadcast back over the scan (the
  * histogram-profile idiom — constant-size partials, no keyed
  * exchange), bucketing and bit interleave are codegen'd map-side
  * arithmetic, and the manifest groupBy has exactly [[ZFiles]]
  * groups, collapsed map-side. Nothing grows with the corpus except
  * the initial scan.
  *
  * Every step is integer arithmetic on non-negative values, so the
  * DuckDB oracle runs the SAME generated expressions (`div` ≡ `//`
  * truncation on non-negatives) and the manifest hash-matches — the
  * interleave has one Scala source of truth rendered into both
  * engines' dialects.
  */
object Layout {

  /** Bits per dimension: buckets are 0..2⁸−1, z is 16-bit. */
  val ZBits: Int = 8

  /** Manifest granularity: top 4 z-bits → 16 files, i.e. the top 2
    * bucket bits of EACH dimension are constant within a file — the
    * per-file span of either dimension is ≤ ¼ of its range. */
  val ZFiles: Int = 16

  private val Buckets = 1 << ZBits              // 256
  private val FileDiv = (1 << (2 * ZBits)) / ZFiles  // 4096

  /** Arithmetic-only bit interleave of two [[ZBits]]-bit buckets —
    * bx's bit i lands at z-bit 2i+1, by's at 2i. Rendered per engine
    * by the integer-division token (`div` Spark, `//` DuckDB);
    * shifts become multiplies so the expression stays in the shared
    * SQL subset. */
  private[graft] def zSql(bx: String, by: String, div: String): String =
    (0 until ZBits).flatMap { i =>
      Seq(s"(($bx $div ${1L << i}) % 2) * ${1L << (2 * i + 1)}",
        s"(($by $div ${1L << i}) % 2) * ${1L << (2 * i)}")
    }.mkString(" + ")

  /** Equi-width bucket of a non-negative offset into 0..Buckets−1;
    * `range = max − min + 1` so the top value stays in-range without
    * a clamp. */
  private def bucketSql(v: String, lo: String, hi: String,
      div: String): String =
    s"((($v) - ($lo)) * $Buckets) $div (($hi) - ($lo) + 1)"

  /** The z-order manifest over orders laid out on (customer, order
    * day): per target file, row count and raw min/max of BOTH
    * dimensions — exactly what a pruning scan planner consults. The
    * bounded spans (each ≤ ¼ of the dimension's range, by the top-2-
    * bit argument above) are the measurable clustering claim. */
  def zorderManifest(spark: SparkSession, dir: String): DataFrame =
    zorderManifestDf(Tables(spark, dir).orders
      .select(col("o_custkey").as("x"),
        expr("CAST(o_orderdate AS BIGINT) div 86400").as("y")))

  /** Attach the z key to any frame with non-negative integral
    * columns `x` and `y`: one ungrouped bounds aggregate broadcast
    * back over the scan, then map-side bucket + interleave. Shared
    * by the manifest query and [[graft.sources.IO.writeZOrdered]],
    * so the two cannot drift.
    *
    * The non-negative precondition is ENFORCED, not just documented
    * (the [[graft.operators.Cluster]] quantizer-gate discipline): a
    * negative dimension would silently yield negative buckets and a
    * meaningless Morton key — a complete but UNCLUSTERED layout that
    * no downstream check catches (the files exist, min/max just never
    * prune). Fail fast instead. */
  private[graft] def zorderKey(df: DataFrame, x: String, y: String)
      : DataFrame = {
    val bounds = df.agg(min(x).as("zo_xmin"), max(x).as("zo_xmax"),
      min(y).as("zo_ymin"), max(y).as("zo_ymax"))
    df.crossJoin(broadcast(bounds))
      .withColumn("zo_bx",
        when(col(x) < 0 || col(y) < 0,
          raise_error(concat(
            lit(s"zorderKey: negative dimension ($x="), col(x).cast("string"),
            lit(s", $y="), col(y).cast("string"),
            lit(") — z-order buckets require non-negative inputs")))
            .cast("long"))
          .otherwise(expr(bucketSql(x, "zo_xmin", "zo_xmax", "div"))))
      .withColumn("zo_by", expr(bucketSql(y, "zo_ymin", "zo_ymax", "div")))
      .withColumn("z", expr(zSql("zo_bx", "zo_by", "div")))
      .drop("zo_xmin", "zo_xmax", "zo_ymin", "zo_ymax", "zo_bx", "zo_by")
  }

  /** Core over any (x, y) BIGINT frame (both non-negative). */
  private[graft] def zorderManifestDf(xy: DataFrame): DataFrame =
    zorderKey(xy, "x", "y")
      .withColumn("file_id", expr(s"z div $FileDiv"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("min_custkey"), max("x").as("max_custkey"),
        min("y").as("min_day"), max("y").as("max_day"))
      .orderBy("file_id") // bounded: ZFiles rows

  /** Generated DuckDB oracle for [[zorderManifest]] — the same
    * bucket / interleave / file expressions rendered with `//`. */
  def zorderOracleSql: String =
    s"""WITH o AS (SELECT o_custkey AS x,
              CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS y
            FROM orders),
       b AS (SELECT min(x) AS xmin, max(x) AS xmax,
                    min(y) AS ymin, max(y) AS ymax FROM o),
       k AS (SELECT x, y,
               ${bucketSql("x", "xmin", "xmax", "//")} AS bx,
               ${bucketSql("y", "ymin", "ymax", "//")} AS by
             FROM o, b),
       z AS (SELECT x, y, ${zSql("bx", "by", "//")} AS z FROM k)
       SELECT z // $FileDiv AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
              min(x) AS min_custkey, max(x) AS max_custkey,
              min(y) AS min_day, max(y) AS max_day
       FROM z GROUP BY file_id ORDER BY file_id"""

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    // z-order manifest: bucket, interleave, and file expressions all
    // render from one Scala source into both dialects — integer math
    // on non-negatives, so div ≡ // and the manifest hash-matches
    Query("pipeline_zorder", zorderManifest, zorderOracleSql),
  )
}
