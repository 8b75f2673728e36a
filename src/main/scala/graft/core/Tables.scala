package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Schema-typed readers over the driver-generated parquet tables.
  *
  * Each accessor is a plain `spark.read.parquet` — column pruning and
  * predicate pushdown are left to Catalyst, so a caller that selects
  * two columns scans two columns (verified in ExplainSpec).
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.relation(spark, dir, name)

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = ltz(t("orders"), "o_orderdate")
  def lineitem: DataFrame   = ltz(t("lineitem"), "l_shipdate")
  /** The driver's `events.ts` encoding has varied across testdata
    * generations — int64 nanoseconds (read as LongType under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), then naive
    * `timestamp[us]` (read as TIMESTAMP_NTZ unless the session sets
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false`). This reader
    * normalizes every variant to a session-local TimestampType `ts`
    * (sessions run UTC, so the NTZ→LTZ cast is value-preserving and
    * matches DuckDB's naive-timestamp epoch), so downstream code is
    * insulated from the file encoding. */
  def events: DataFrame = Tables.normalizeTs(t("events"), "ts")
  private def ltz(df: DataFrame, c: String): DataFrame =
    Tables.normalizeTs(df, c)
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** SQL-first entry path: registers every table as a temp view plus
    * graft's custom expressions ([[graft.GraftFunctions.register]],
    * idempotent), then runs the query text through `spark.sql` — what
    * an SQL-only user's session looks like. The `*_sql` queries go
    * through here and are gated against the SAME DuckDB oracle as
    * their DataFrame twins, so the SQL surface can't drift from the
    * library one. */
  def runSql(spark: SparkSession, dir: String, sql: String): DataFrame = {
    val t = Tables(spark, dir)
    Seq("region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    graft.GraftFunctions.register(spark)
    spark.sql(sql)
  }

  /** Normalize a timestamp column to session-local TimestampType,
    * whatever the file encoding handed us — the ONE switch batch
    * ([[Tables]] accessors) and streaming
    * ([[graft.streaming.Streams.readEvents]]) reads share, so the
    * two paths cannot drift across testdata generations:
    *  - int64 nanoseconds (read as LongType under
    *    `spark.sql.legacy.parquet.nanosAsLong=true`): integer FLOOR
    *    division to micros — exact for any value incl. pre-epoch
    *    negatives (`div` alone truncates toward zero, shifting
    *    negative non-µs-aligned nanos +1 µs; a double-division
    *    floor mis-truncates large values — ulp at 1.7e15 > 0.25);
    *  - naive timestamp[us] (TIMESTAMP_NTZ unless the session sets
    *    `spark.sql.parquet.inferTimestampNTZ.enabled=false`): cast to
    *    LTZ — value-preserving under the pinned UTC session zone and
    *    equal to the oracle engine's naive-timestamp epoch;
    *  - already TimestampType: identity. */
  private[graft] def normalizeTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case LongType =>
        // floor division in integers: truncate, then correct the
        // negative-remainder case downward
        df.withColumn(c, timestamp_micros(
          expr(s"($c div 1000) - if($c % 1000 < 0, 1, 0)")))
      case TimestampNTZType =>
        df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }

  // Resolved-relation reuse: `spark.read.parquet` re-lists the path
  // and re-reads footers for the schema on EVERY call, which at ~60
  // queries × 2-3 table reads each is pure driver-side latency. A
  // DataFrame is an immutable logical plan, so handing the same one
  // to every caller is safe — and each query still gets its own
  // pruning/pushdown on top. Keyed by session so concurrent test
  // sessions don't share analyzer state.
  //
  // BOUNDED (LRU): a resolved DataFrame strongly references its
  // SparkSession, so an unbounded map would retain every session a
  // long-lived process ever creates (tests spawn them via
  // newSession()) — and weak keys can't work here, the VALUE pins the
  // key. 64 entries covers many sessions × the 9 tables; evicted
  // entries just re-resolve on next use. A cached plan also pins the
  // parquet FILE LISTING as of resolve time — after rewriting a table
  // path in place, call [[invalidate]] or reads fail/stale.
  private val MaxEntries = 64
  private val cache =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        size() > MaxEntries
    }

  private def relation(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (spark, s"$dir/$name.parquet")
    val hit = cache.synchronized(cache.get(key))
    if (hit != null) hit
    else {
      // resolve OUTSIDE the monitor: file listing + footer reads are
      // I/O, and holding the single lock across them would serialize
      // every session's first resolution process-wide. A racing
      // duplicate resolution is idempotent; first insert wins.
      val resolved =
        maybeSpread(spark, spark.read.parquet(key._2), key._2, name)
      cache.synchronized {
        val raced = cache.get(key)
        if (raced != null) raced
        else { cache.put(key, resolved); resolved }
      }
    }
  }

  /** Tables spread UNCONDITIONALLY at the relation level, keyed by
    * their dominant key: ONLY the two corpora whose per-row map work
    * is heavy for every consumer (shingling/tokenization/decode over
    * documents, vector math over embeddings), where serializing that
    * work into a 1-row-group scan stage dominates the query. The
    * relational fact tables are deliberately ABSENT: an r13 A/B over
    * the 66-query relational family measured a global lineitem/orders
    * spread at +18.6 s (23.2 → 41.9 s, steal-gated captures) — their
    * scan-fused work is cheap and multi-reference TPC-H plans pay the
    * extra exchange per branch. Map-heavy fact consumers (the graph
    * pair builders) opt in via [[spread]] instead. Hash-by-key (not
    * round-robin) avoids sort-before-repartition and stays
    * deterministic under task retry (SPARK-38388 class). */
  private val SpreadKey = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** Opt-in spread for a map-heavy consumer of an otherwise unspread
    * table: `keyCols`-hash-repartition `df` to defaultParallelism
    * when (and only when) `dir/name.parquet` cannot plan at least
    * that many splits — same condition as the relation-level spread,
    * so this is a no-op at production scale. The caller picks the key
    * its own downstream groupBy/join needs, making the spread
    * exchange the one that operation required anyway. */
  def spread(spark: SparkSession, dir: String, name: String,
      df: DataFrame, keyCols: String*): DataFrame =
    if (underParallelized(spark, s"$dir/$name.parquet"))
      df.repartition(math.max(spark.sparkContext.defaultParallelism, 1),
        keyCols.map(col): _*)
    else df

  /** Input-skew fix for unsplittable-in-practice inputs (the
    * optimization guide's §2.5 prescription: "one huge unsplittable
    * file ... repartition immediately after the read"): the driver's
    * testdata is ONE parquet file per table with ONE row group, so a
    * scan stage — and every map-side operation fused into it (filter,
    * projection, partial aggregation, shingling) — runs effectively
    * single-threaded at any session core count. When the file layout
    * cannot yield at least `defaultParallelism` splits under the
    * session's own split-planning constants, append a hash
    * repartition on the table's dominant key ([[SpreadKey]]; a table
    * MISSING its declared key column skips the spread entirely —
    * deliberate, not a fallback: the spread is an optimization, never
    * a requirement, and a keyless round-robin would pay
    * sort-before-repartition) so downstream map work runs at full
    * width;
    * the serial part shrinks to scan + shuffle-write, and consumers
    * keyed the same way (per-order groupBys, the orderkey join)
    * reuse the spread exchange instead of adding their own.
    *
    * Scale-adaptive by construction, not a 32-core constant: the
    * condition reads the actual file bytes and the session's
    * maxPartitionBytes/openCostInBytes/defaultParallelism, so a
    * production table (row groups ≈ 128 MB, bytes ≫ cores ×
    * maxPartitionBytes) plans ≥ cores splits and is returned
    * UNCHANGED — the exchange exists only where the input could not
    * be parallelized anyway, and its cost there is bounded by the
    * (small) table itself. Catalyst pushes filters and column pruning
    * THROUGH Repartition, so PushedFilters/ReadSchema still reach the
    * scan (ExplainSpec pins this), and the exchange carries only the
    * pruned columns. Values are unaffected: every gated query's
    * output is partition-order-insensitive by repo discipline (exact
    * integer/decimal aggregates, one final double), and the
    * driver's hash compare is row-order-insensitive.
    *
    * Non-local paths (scheme-qualified URIs) skip the probe: sizing
    * via java.nio is only valid for the local testdata layout, and
    * a conservative skip preserves pre-r13 behavior exactly. */
  private def maybeSpread(spark: SparkSession, df: DataFrame,
      path: String, name: String): DataFrame =
    SpreadKey.get(name) match {
      case Some(k) if df.columns.contains(k) &&
          underParallelized(spark, path) =>
        df.repartition(
          math.max(spark.sparkContext.defaultParallelism, 1), col(k))
      case _ => df
    }

  /** True when the parquet path's file layout cannot plan at least
    * `defaultParallelism` splits under the session's own
    * maxPartitionBytes / openCostInBytes — i.e. the scan stage (and
    * all map work fused into it) cannot use the session's cores. At
    * production sizes (bytes ≫ cores × maxPartitionBytes) this is
    * false and every spread is a no-op. Non-local (scheme-qualified)
    * paths conservatively report false: the java.nio probe only
    * understands the local testdata layout.
    *
    * Known limitation (r13 ADVICE, kept deliberate): the estimate is
    * byte-based only. A single file big enough to plan ≥ cores
    * byte-splits but holding ONE row group still scans effectively
    * single-threaded and reports false here — reading the parquet
    * footer per probe would fix that case but puts file I/O on every
    * relation resolve; the driver's testdata never hits it (every
    * under-parallelized table is also byte-small). Perf-only either
    * way. */
  private def underParallelized(spark: SparkSession, path: String): Boolean = {
    try {
      if (path.contains("://")) return false
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) return false
      val files = if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(f =>
            java.nio.file.Files.isRegularFile(f) &&
              !f.getFileName.toString.startsWith("_") &&
              !f.getFileName.toString.startsWith(".")).toVector
        } finally s.close()
      } else Vector(p)
      val sizes = files.map(java.nio.file.Files.size(_)).filter(_ > 0)
      if (sizes.isEmpty) return false
      // tiny tables (the region/nation class): a serial scan is
      // already ~ms — never worth an exchange
      if (sizes.sum < 256 * 1024) return false
      val conf = spark.sessionState.conf
      val maxPart = conf.filesMaxPartitionBytes
      val openCost = conf.filesOpenCostInBytes
      val cores = math.max(spark.sparkContext.defaultParallelism, 1)
      val total = sizes.sum + openCost * sizes.length
      // Spark's own split planning: bytes-per-split bounded below by
      // openCost and above by maxPartitionBytes, targeting `cores`
      // splits when the data allows
      val splitBytes =
        math.min(maxPart, math.max(openCost, total / cores))
      val estSplits = sizes.map(s =>
        ((s + openCost) + splitBytes - 1) / splitBytes).sum
      estSplits < cores
    } catch { case _: Throwable => false }
  }

  /** Drop every cached relation (all sessions, all paths), plus all
    * [[PlanCache]] derived-frame memos. */
  def invalidate(): Unit = {
    cache.synchronized(cache.clear())
    PlanCache.invalidate("")
  }

  /** Drop cached relations under `dir` — call after rewriting any of
    * its parquet tables in place so the next read re-lists files.
    * Also drops the [[PlanCache]] derived frames built over `dir`
    * (their keys embed it), so operator memos can't serve results
    * from the pre-rewrite corpus. */
  def invalidate(dir: String): Unit = {
    cache.synchronized {
      cache.keySet.removeIf(_._2.startsWith(dir + "/"))
    }
    PlanCache.invalidate(dir)
  }
}
