package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables}
import graft.functions.PortableHash

/** Snapshot differencing — the change-data-capture primitive of an
  * incremental pipeline: given two versions of a keyed table, emit
  * exactly the rows that were inserted, deleted, or updated. At
  * 100 TB this is how a daily re-crawl folds into the standing
  * corpus without reprocessing it: one co-partitioned full-outer
  * hash join on the key (both sides shuffle ONCE on c_custkey; no
  * broadcast — both snapshots scale with the corpus), and the
  * unchanged majority is filtered before the result ever moves
  * again, so the output is proportional to the churn, not the
  * table.
  *
  * The two snapshots are carved deterministically out of the one
  * driver-generated `customer` table with the engine-portable hash
  * (so the DuckDB oracle reconstructs identical versions): ~5% of
  * keys exist only in the old version (deletes), ~5% only in the new
  * (inserts), and ~14% of the surviving rows get an account-balance
  * bump (updates). Balances compare in exact cents.
  */
object Snapshot {

  private val Buckets = 20

  /** The carved customer row set every snapshot version slices from:
    * key, the caller's extra `cols`, exact-cents balance, and the
    * portable hash bucket that decides each key's CDC fate. */
  private def carve(spark: SparkSession, dir: String, cols: Column*): DataFrame =
    Tables(spark, dir).customer
      .select(col("c_custkey") +: cols :+
        round(col("c_acctbal") * 100, 0).cast("long").as("cents") :+
        pmod(PortableHash.h60(col("c_custkey").cast("string")),
          lit(Buckets.toLong)).as("hv"): _*)

  /** DuckDB twin of [[carve]] over `customer`: the same columns, with
    * the caller's extra `cols` as SQL select items. */
  def carveSql(cols: String*): String =
    s"""SELECT ${("c_custkey" +: cols).mkString(", ")},
                CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
                ${PortableHash.h60Sql("CAST(c_custkey AS VARCHAR)")} % $Buckets AS hv
         FROM customer"""

  /** SCD-2 dimension-history build — the warehouse step downstream of
    * CDC: fold a SEQUENCE of keyed snapshots into one validity-interval
    * row per (key, value run): `valid_from`/`valid_to` version stamps
    * (`valid_to` NULL = still open) and an `is_current` flag. Three
    * deterministically carved versions exercise every transition:
    * inserts (bucket 0 joins at v2), deletes (bucket 1 at v2, bucket 2
    * at v3), updates (the v2 `+100` and v3 `+50` bump buckets), and a
    * DISAPPEAR-THEN-RETURN key (bucket 5 skips v2) — the gap case that
    * breaks naive lag-only implementations: its v1 interval must CLOSE
    * at v2 even though the value never changed.
    *
    * Gaps-and-islands shape: one union of version slices (each a
    * filter+projection of the carved base — no joins), a per-key
    * window (lag → change/gap flag, running sum → island id; ≤ one
    * row per key per version, so partitions are version-count-sized —
    * millions of tiny key partitions is the one shape where a window
    * is scale-correct, the tfidf argument), one groupBy(key, island).
    * Output ∝ value runs ⇒ within-partition presentation order. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val cust = carve(spark, dir)
    val maxVer = 3
    def slice(n: Int, present: Column, cents: Column) =
      cust.filter(present)
        .select(col("c_custkey"), lit(n).as("ver"), cents.as("cents"))
    val b2 = col("cents") +
      when(col("hv") % 7 === 3, 100L).otherwise(0L)
    val b3 = b2 + when(col("hv") % 5 === 4, 50L).otherwise(0L)
    scd2Fold(
      slice(1, col("hv") =!= 0, col("cents"))
        .unionAll(slice(2, col("hv") =!= 1 && col("hv") =!= 5, b2))
        .unionAll(slice(3, col("hv") =!= 1 && col("hv") =!= 2, b3)),
      maxVer)
  }

  /** The gaps-and-islands fold over any (c_custkey, ver, cents)
    * version-row frame (spec surface). */
  def scd2Fold(rows: DataFrame, maxVer: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_custkey")).orderBy(col("ver"))
    val flagged = rows
      .withColumn("pver", lag(col("ver"), 1).over(w))
      .withColumn("pcents", lag(col("cents"), 1).over(w))
      .withColumn("newint",
        when(col("pver").isNull || col("ver") =!= col("pver") + 1
          || col("cents") =!= col("pcents"), 1L).otherwise(0L))
      .withColumn("isl", sum(col("newint")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
    flagged.groupBy(col("c_custkey"), col("isl"))
      .agg(min(col("cents")).as("cents"), // constant within an island
        min(col("ver")).as("valid_from"), max(col("ver")).as("last_ver"))
      .select(col("c_custkey"), col("cents"),
        col("valid_from").cast("long").as("valid_from"),
        when(col("last_ver") === maxVer, lit(null).cast("long"))
          .otherwise(col("last_ver") + 1L).as("valid_to"),
        (col("last_ver") === maxVer).cast("int").as("is_current"))
      .sortWithinPartitions("c_custkey", "valid_from")
  }

  /** ONE version's incremental SCD-2 merge against the standing
    * history — the maintenance step a dimension service runs per
    * arriving snapshot, and the streaming twin's per-batch fold
    * ([[graft.streaming.Streams.scd2Stream]]): closed rows pass
    * through; open rows matching the new version unchanged stay open;
    * open rows whose key changed value or disappeared CLOSE at `v`;
    * new or changed keys OPEN at `v`. Equivalent, version by version,
    * to the batch gaps-and-islands fold ([[scd2Fold]]) when versions
    * arrive complete and in order — StreamingSpec pins stream ≡
    * batch on the carved versions. Cost per version ∝ |history ∪
    * version| with one co-partitioned full-outer join — the
    * snapshot_diff shape applied to maintenance. */
  def scd2Step(hist: DataFrame, version: DataFrame,
      v: Long): DataFrame = {
    val outCols = Seq(col("c_custkey"), col("cents"), col("valid_from"),
      col("valid_to"), col("is_current"))
    val closed = hist.filter(col("is_current") === 0).select(outCols: _*)
    val open = hist.filter(col("is_current") === 1)
      .select(col("c_custkey"), col("cents"), col("valid_from"))
    val cur = version.select(col("c_custkey"), col("cents").as("vcents"))
    val j = open.join(cur, Seq("c_custkey"), "full_outer")
    // open-side presence = valid_from non-NULL (cents is non-NULL by
    // construction on both sides, so the join marker is unambiguous)
    val still = j.filter(col("valid_from").isNotNull &&
        col("vcents").isNotNull && col("cents") === col("vcents"))
      .select(col("c_custkey"), col("cents"), col("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(1).as("is_current"))
    val close = j.filter(col("valid_from").isNotNull &&
        (col("vcents").isNull || col("cents") =!= col("vcents")))
      .select(col("c_custkey"), col("cents"), col("valid_from"),
        lit(v).as("valid_to"), lit(0).as("is_current"))
    val opened = j.filter(col("vcents").isNotNull &&
        (col("valid_from").isNull || col("cents") =!= col("vcents")))
      .select(col("c_custkey"), col("vcents").as("cents"),
        lit(v).as("valid_from"), lit(null).cast("long").as("valid_to"),
        lit(1).as("is_current"))
    closed.unionByName(still).unionByName(close).unionByName(opened)
  }

  /** TIME-TRAVEL READ over the SCD-2 history — "the dimension as of
    * version v": one validity-interval filter over the history table
    * (`valid_from ≤ v < valid_to`, open intervals pass), no joins, no
    * windows; at 100 TB the history is interval-partitioned and the
    * filter prunes to the live slice. The oracle is the CONTRACT, not
    * a mirror: it rebuilds version v's snapshot DIRECTLY from the
    * carved base (a genuinely different computation path), so a hash
    * match proves reconstruct(history, v) ≡ snapshot_v — the
    * round-trip guarantee a lakehouse time-travel reader rests on
    * (the IVM fold(old, delta) ≡ agg(new) discipline applied to
    * SCD-2). */
  def asOf(spark: SparkSession, dir: String, v: Long = 2L): DataFrame =
    asOfFrom(scd2(spark, dir), v)

  /** The interval filter over ANY SCD-2 history frame (the persisted-
    * history production entry; [[asOf]] derives the history inline). */
  def asOfFrom(hist: DataFrame, v: Long): DataFrame =
    hist
      .filter(col("valid_from") <= v &&
        (col("valid_to").isNull || col("valid_to") > v))
      .select(col("c_custkey"), col("cents"))
      .sortWithinPartitions("c_custkey")

  /** Generated DuckDB oracle for [[asOf]] (v = 2): version 2 carved
    * straight from the base — the other side of the round-trip. */
  def asOfOracleSql: String =
    s"""WITH c AS (
         ${carveSql()})
       SELECT c_custkey,
              cents + CASE WHEN hv % 7 = 3 THEN 100 ELSE 0 END AS cents
       FROM c WHERE hv != 1 AND hv != 5 ORDER BY c_custkey"""

  /** Empty history frame with the SCD-2 schema (stream bootstrap). */
  private[graft] def emptyScd2(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("cents", LongType),
        StructField("valid_from", LongType),
        StructField("valid_to", LongType),
        StructField("is_current", IntegerType))))
  }

  /** CDC APPLY — the merge step downstream of [[snapshotDiff]]: fold
    * a change set (insert/update/delete rows) into the base snapshot
    * and emit the new snapshot. One co-partitioned full-outer join on
    * the key (both sides shuffle once; the changeset is churn-sized,
    * the base corpus-sized — at 100 TB AQE degrades this to a
    * broadcast of the churn side when it fits), untouched keys pass
    * through, updated/inserted keys take the new value, deleted keys
    * drop. A changeset that contradicts the base fails FAST instead
    * of silently merging garbage: an `insert` whose key already
    * exists, an `update`/`delete` whose key is absent, or a key that
    * appears MORE THAN ONCE in the changeset (a misordered replay's
    * update+delete pair) all raise (the at-least-once replay /
    * wrong-base-version mistakes a merge job actually sees).
    *
    * The oracle carves the new snapshot DIRECTLY from the base (no
    * diff, no join — a genuinely different path), so the hash match
    * proves `apply(base, diff(base, v2)) ≡ v2` — the merge
    * round-trip contract, the [[asOf]]/IVM discipline applied to the
    * row level. */
  def applyDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = carve(spark, dir).filter(col("hv") =!= 0)
      .select(col("c_custkey"), col("cents"))
    applyChanges(base, snapshotDiff(spark, dir))
  }

  /** The merge fold over ANY (c_custkey, cents) base + typed change
    * set (spec surface; [[applyDiff]] derives both inline). */
  def applyChanges(base: DataFrame, changes: DataFrame): DataFrame = {
    // changeset key-uniqueness guard: a key carrying two change rows
    // (e.g. an update AND a delete from a misordered replay) would fan
    // out through the full_outer join and emit conflicting output rows
    // — corrupt changesets must raise, same as the contradiction
    // checks below. One aggregate over the churn-sized side (map-side
    // partial), no self-join; `first` never surfaces when n_ch > 1
    // because the raise fires first.
    val ch = changes
      .select(col("c_custkey"), col("change"), col("new_cents"))
      .groupBy(col("c_custkey"))
      .agg(count(lit(1)).as("n_ch"), first(col("change")).as("change"),
        first(col("new_cents")).as("new_cents"))
      .select(col("c_custkey"),
        when(col("n_ch") > 1,
          raise_error(concat(lit("applyChanges: duplicate changeset rows for key "),
            col("c_custkey").cast("string"))))
          .otherwise(col("change")).as("change"),
        col("new_cents"))
    val j = base.join(ch, Seq("c_custkey"), "full_outer")
    val checked = j.withColumn("change",
      when(col("change") === "insert" && col("cents").isNotNull,
        raise_error(concat(lit("applyChanges: insert for existing key "),
          col("c_custkey").cast("string"))))
        .when(col("change").isin("update", "delete") && col("cents").isNull,
          raise_error(concat(lit("applyChanges: "), col("change"),
            lit(" for absent key "), col("c_custkey").cast("string"))))
        .otherwise(col("change")))
    checked
      .filter(col("change").isNull || col("change") =!= "delete")
      .select(col("c_custkey"),
        when(col("change").isNotNull, col("new_cents"))
          .otherwise(col("cents")).as("cents"))
      .sortWithinPartitions("c_custkey")
  }

  /** Generated DuckDB oracle for [[applyDiff]]: the post-merge
    * snapshot carved straight from the base — the other side of the
    * round-trip. */
  def applyOracleSql: String =
    s"""WITH c AS (
         ${carveSql()})
       SELECT c_custkey,
              cents + CASE WHEN hv % 7 = 3 THEN 100 ELSE 0 END AS cents
       FROM c WHERE hv != 1 ORDER BY c_custkey"""

  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val cust = carve(spark, dir)
    val base = cust.filter(col("hv") =!= 0)
      .select(col("c_custkey").as("b_key"), col("cents").as("old_cents"))
    val curr = cust.filter(col("hv") =!= 1)
      .select(col("c_custkey").as("n_key"),
        when(col("hv") % 7 === 3, col("cents") + 100)
          .otherwise(col("cents")).as("new_cents"))
    base.join(curr, col("b_key") === col("n_key"), "full_outer")
      .withColumn("change",
        when(col("b_key").isNull, "insert")
          .when(col("n_key").isNull, "delete")
          .when(col("old_cents") =!= col("new_cents"), "update"))
      .filter(col("change").isNotNull)
      .select(coalesce(col("b_key"), col("n_key")).as("c_custkey"),
        col("change"), col("old_cents"), col("new_cents"))
      .sortWithinPartitions("c_custkey")
  }

  /** Per-COLUMN churn between two snapshot versions — the
    * schema-drift readout ([[snapshotDiff]] reports row fates; this
    * reports WHICH columns move, the signal that tells a pipeline
    * owner whether an upstream producer changed semantics): for each
    * column, how many common keys changed it, over how many common
    * keys, plus the row-fate counts once. The v2 carve perturbs
    * three columns on DISJOINT hash buckets (cents +100 on hv%7=3,
    * nation +1 on hv%7=5, segment rewrite on hv%7=2), so every
    * per-column counter carries an independent nonzero signal.
    * Shape: ONE full-outer join on the key, then every column's
    * change flag is a row-local conditional summed in one aggregate
    * and stack-unpivoted — adding a column = adding a counter, the
    * checksProfile contract. */
  def columnChurn(spark: SparkSession, dir: String): DataFrame = {
    val cust = carve(spark, dir, col("c_nationkey").cast("long").as("nat"),
      col("c_mktsegment").as("seg"))
    val base = cust.filter(col("hv") =!= 0)
      .select(col("c_custkey").as("b_key"), col("cents").as("o_cents"),
        col("nat").as("o_nat"), col("seg").as("o_seg"))
    val curr = cust.filter(col("hv") =!= 1)
      .select(col("c_custkey").as("n_key"),
        when(col("hv") % 7 === 3, col("cents") + 100)
          .otherwise(col("cents")).as("n_cents"),
        when(col("hv") % 7 === 5, col("nat") + 1)
          .otherwise(col("nat")).as("n_nat"),
        when(col("hv") % 7 === 2, concat(lit("NEW_"), col("seg")))
          .otherwise(col("seg")).as("n_seg"))
    base.join(curr, col("b_key") === col("n_key"), "full_outer")
      .agg(
        sum(when(col("b_key").isNull, 1L).otherwise(0L)).as("inserts"),
        sum(when(col("n_key").isNull, 1L).otherwise(0L)).as("deletes"),
        sum(when(col("b_key").isNotNull && col("n_key").isNotNull, 1L)
          .otherwise(0L)).as("common"),
        sum(when(col("b_key").isNotNull && col("n_key").isNotNull &&
          col("o_cents") =!= col("n_cents"), 1L).otherwise(0L)).as("ch_cents"),
        sum(when(col("b_key").isNotNull && col("n_key").isNotNull &&
          col("o_nat") =!= col("n_nat"), 1L).otherwise(0L)).as("ch_nat"),
        sum(when(col("b_key").isNotNull && col("n_key").isNotNull &&
          col("o_seg") =!= col("n_seg"), 1L).otherwise(0L)).as("ch_seg"))
      .select(expr("""stack(3,
          'c_acctbal_cents', ch_cents,
          'c_mktsegment', ch_seg,
          'c_nationkey', ch_nat) as (column_name, n_changed)"""),
        col("common").as("n_common"), col("inserts").as("n_inserts"),
        col("deletes").as("n_deletes"))
      .orderBy(col("column_name"))
  }

  /** Generated DuckDB oracle for [[columnChurn]]. */
  val columnChurnOracleSql: String =
    s"""WITH c AS (
         ${carveSql("CAST(c_nationkey AS BIGINT) AS nat", "c_mktsegment AS seg")}),
       base AS (SELECT c_custkey AS b_key, cents AS o_cents, nat AS o_nat,
                       seg AS o_seg
                FROM c WHERE hv != 0),
       curr AS (SELECT c_custkey AS n_key,
                       CASE WHEN hv % 7 = 3 THEN cents + 100 ELSE cents END AS n_cents,
                       CASE WHEN hv % 7 = 5 THEN nat + 1 ELSE nat END AS n_nat,
                       CASE WHEN hv % 7 = 2 THEN 'NEW_' || seg ELSE seg END AS n_seg
                FROM c WHERE hv != 1),
       a AS (
         SELECT CAST(sum(CASE WHEN b_key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS inserts,
                CAST(sum(CASE WHEN n_key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS deletes,
                CAST(sum(CASE WHEN b_key IS NOT NULL AND n_key IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS common,
                CAST(sum(CASE WHEN b_key IS NOT NULL AND n_key IS NOT NULL
                     AND o_cents != n_cents THEN 1 ELSE 0 END) AS BIGINT) AS ch_cents,
                CAST(sum(CASE WHEN b_key IS NOT NULL AND n_key IS NOT NULL
                     AND o_nat != n_nat THEN 1 ELSE 0 END) AS BIGINT) AS ch_nat,
                CAST(sum(CASE WHEN b_key IS NOT NULL AND n_key IS NOT NULL
                     AND o_seg != n_seg THEN 1 ELSE 0 END) AS BIGINT) AS ch_seg
         FROM base FULL OUTER JOIN curr ON b_key = n_key)
       SELECT * FROM (
         SELECT 'c_acctbal_cents' AS column_name, ch_cents AS n_changed,
                common AS n_common, inserts AS n_inserts, deletes AS n_deletes
         FROM a
         UNION ALL
         SELECT 'c_mktsegment', ch_seg, common, inserts, deletes FROM a
         UNION ALL
         SELECT 'c_nationkey', ch_nat, common, inserts, deletes FROM a)
       ORDER BY column_name"""

  /** Incremental view maintenance — the reason [[snapshotDiff]]
    * exists: a standing grouped aggregate (per-nation customer count
    * + exact-cents balance sum) is REFRESHED by folding only the CDC
    * delta into yesterday's aggregate, never rescanning the corpus.
    * At 100 TB this is the difference between a view refresh that
    * costs O(churn) and one that costs O(table): the standing
    * aggregate is one tiny row-per-group table, the delta is
    * proportional to the day's churn, and the refresh is a
    * churn-sized groupBy plus a full-outer join of two group-sized
    * frames — the base snapshot is never touched by the refresh
    * path.
    *
    * Each CDC row contributes a signed (count, cents) pair to its
    * group: insert (+1, +new), delete (−1, −old), update
    * (0, new−old) — sum and count are self-maintainable aggregates,
    * so the fold needs no per-group history. Groups whose count
    * reaches zero leave the view (a full recompute would not emit
    * them). The oracle recomputes the same aggregate FROM the new
    * snapshot directly — a genuinely different computation path, so
    * a hash match is exactly the IVM contract: fold(old_agg, delta)
    * ≡ agg(new). */
  def aggDelta(spark: SparkSession, dir: String): DataFrame =
    foldView(standingView(spark, dir),
      contributions(cdcRows(spark, dir))
        .groupBy(col("c_nationkey"))
        .agg(sum(col("d_cnt")).as("d_cnt"),
          sum(col("d_cents")).as("d_cents")))

  /** Yesterday's standing view — in production a materialized table,
    * not a scan; the refresh path never reads the base snapshot. */
  private[graft] def standingView(spark: SparkSession, dir: String)
      : DataFrame =
    carve(spark, dir, col("c_nationkey")).filter(col("hv") =!= 0)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("sum_cents"))

  /** The CDC feed with the group key aboard: change-typed rows
    * (c_nationkey, change, old_cents, new_cents) — what a CDC
    * connector delivers, and what [[graft.streaming.Streams]]'s IVM
    * twin consumes as a stream. */
  private[graft] def cdcRows(spark: SparkSession, dir: String): DataFrame = {
    val cust = carve(spark, dir, col("c_nationkey"))
    val base = cust.filter(col("hv") =!= 0)
      .select(col("c_custkey").as("b_key"), col("c_nationkey").as("b_nat"),
        col("cents").as("old_cents"))
    val curr = cust.filter(col("hv") =!= 1)
      .select(col("c_custkey").as("n_key"), col("c_nationkey").as("n_nat"),
        when(col("hv") % 7 === 3, col("cents") + 100)
          .otherwise(col("cents")).as("new_cents"))
    base.join(curr, col("b_key") === col("n_key"), "full_outer")
      .filter(col("b_key").isNull || col("n_key").isNull ||
        col("old_cents") =!= col("new_cents"))
      .select(coalesce(col("b_nat"), col("n_nat")).as("c_nationkey"),
        when(col("b_key").isNull, "insert")
          .when(col("n_key").isNull, "delete")
          .otherwise("update").as("change"),
        col("old_cents"), col("new_cents"))
  }

  /** Each CDC row reduced to its signed group contribution — insert
    * (+1, +new), delete (−1, −old), update (0, new−old). Shared by
    * the batch fold and the streaming twin so they cannot drift. */
  private[graft] def contributions(cdc: DataFrame): DataFrame =
    cdc.select(col("c_nationkey"),
      when(col("change") === "insert", 1L)
        .when(col("change") === "delete", -1L)
        .otherwise(0L).as("d_cnt"),
      (coalesce(col("new_cents"), lit(0L)) -
        coalesce(col("old_cents"), lit(0L))).as("d_cents"))

  /** The refresh itself: standing view ⋈ aggregated delta — two
    * group-sized frames, zero corpus reads. Groups whose count
    * reaches zero leave the view. */
  private[graft] def foldView(standing: DataFrame, deltaAgg: DataFrame)
      : DataFrame =
    standing.join(deltaAgg, Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey"),
        (coalesce(col("n_cust"), lit(0L)) +
          coalesce(col("d_cnt"), lit(0L))).as("n_cust"),
        (coalesce(col("sum_cents"), lit(0L)) +
          coalesce(col("d_cents"), lit(0L))).as("sum_cents"))
      .filter(col("n_cust") > 0)
      .orderBy(col("c_nationkey"))

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    // both snapshots rebuilt from the same portable-hash carve the
    // Spark side uses, so the diff is value-identical
    Query("snapshot_diff", snapshotDiff,
      s"""WITH c AS (
           ${carveSql()}),
         base AS (SELECT c_custkey AS b_key, cents AS old_cents
                  FROM c WHERE hv != 0),
         curr AS (SELECT c_custkey AS n_key,
                         CASE WHEN hv % 7 = 3 THEN cents + 100
                              ELSE cents END AS new_cents
                  FROM c WHERE hv != 1)
         SELECT coalesce(b_key, n_key) AS c_custkey,
                CASE WHEN b_key IS NULL THEN 'insert'
                     WHEN n_key IS NULL THEN 'delete'
                     WHEN old_cents != new_cents THEN 'update' END AS change,
                old_cents, new_cents
         FROM base FULL OUTER JOIN curr ON b_key = n_key
         WHERE (b_key IS NULL OR n_key IS NULL OR old_cents != new_cents)
         ORDER BY c_custkey"""),
    // which columns move between versions — one full-outer join, one
    // stacked conditional aggregate
    Query("snapshot_column_churn", columnChurn,
      columnChurnOracleSql),
    // same carved versions, same gaps-and-islands fold: lag flags a
    // new interval on first-row / version-gap / value-change, the
    // running flag sum is the island id, min/max version per island
    // become the validity stamps
    Query("snapshot_scd2", scd2,
      s"""WITH c AS (
           ${carveSql()}),
         rows_ AS (
           SELECT c_custkey, 1 AS ver, cents FROM c WHERE hv != 0
           UNION ALL
           SELECT c_custkey, 2,
                  cents + CASE WHEN hv % 7 = 3 THEN 100 ELSE 0 END
           FROM c WHERE hv != 1 AND hv != 5
           UNION ALL
           SELECT c_custkey, 3,
                  cents + CASE WHEN hv % 7 = 3 THEN 100 ELSE 0 END
                        + CASE WHEN hv % 5 = 4 THEN 50 ELSE 0 END
           FROM c WHERE hv != 1 AND hv != 2),
         f AS (SELECT c_custkey, ver, cents,
                      CASE WHEN lag(ver) OVER w IS NULL
                             OR ver != lag(ver) OVER w + 1
                             OR cents != lag(cents) OVER w
                           THEN 1 ELSE 0 END AS newint
               FROM rows_
               WINDOW w AS (PARTITION BY c_custkey ORDER BY ver)),
         isl AS (SELECT c_custkey, ver, cents,
                        sum(newint) OVER (PARTITION BY c_custkey
                          ORDER BY ver ROWS UNBOUNDED PRECEDING) AS isl
                 FROM f),
         runs AS (SELECT c_custkey, isl,
                         CAST(min(cents) AS BIGINT) AS cents,
                         CAST(min(ver) AS BIGINT) AS valid_from,
                         max(ver) AS last_ver
                  FROM isl GROUP BY 1, 2)
         SELECT c_custkey, cents, valid_from,
                CASE WHEN last_ver = 3 THEN NULL
                     ELSE CAST(last_ver + 1 AS BIGINT) END AS valid_to,
                CAST(last_ver = 3 AS INT) AS is_current
         FROM runs ORDER BY c_custkey, valid_from"""),
    // IVM contract probed from the other side: Spark folds the CDC
    // delta into yesterday's aggregate; the oracle recomputes the
    // aggregate from the NEW snapshot directly. A hash match means
    // fold(old_agg, delta) == agg(new) — the incremental refresh is
    // indistinguishable from a full rescan.
    Query("snapshot_agg_delta", aggDelta,
      s"""WITH c AS (
           ${carveSql("c_nationkey")}),
         curr AS (SELECT c_nationkey,
                         CASE WHEN hv % 7 = 3 THEN cents + 100
                              ELSE cents END AS new_cents
                  FROM c WHERE hv != 1)
         SELECT c_nationkey, count(*) AS n_cust,
                CAST(sum(new_cents) AS BIGINT) AS sum_cents
         FROM curr GROUP BY c_nationkey ORDER BY c_nationkey"""),
    // time-travel round-trip contract: Spark reconstructs version 2
    // from the SCD-2 validity intervals; the oracle carves version 2
    // directly from the base — match ⇔ reconstruct ≡ snapshot_v
    Query("snapshot_asof", (s, d) => asOf(s, d), asOfOracleSql),
    // merge round-trip: the oracle carves the post-merge snapshot
    // directly from the base, so the hash match proves
    // apply(base, diff(base, v2)) == v2
    Query("snapshot_apply", applyDiff, applyOracleSql),
  )
}
