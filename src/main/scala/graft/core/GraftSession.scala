package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is configured. Every main and
  * the test base build through here, so the physical strategy handed
  * to Catalyst and Tungsten (shuffle writer, local dir, AQE, the
  * timestamp reading the DuckDB oracle depends on) cannot drift
  * between entry points. The only input is the core count; the rest
  * are constants. */
object GraftSession {
  /** Core count for a main: `SPARK_GRAFT_CPUS`, else every processor
    * the JVM sees. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The configured builder, for a caller that layers its own
    * confs on top before `getOrCreate` (JobProbe's A/B knob). */
  def builder(cores: Int): SparkSession.Builder =
    ShuffleIo.tune(SparkSession.builder().master(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive parquet timestamps read as LTZ (pre-Spark-4 behavior):
      // the testdata encodes ts/o_orderdate/l_shipdate as
      // timestamp[us] without a zone, and the UTC session makes the
      // LTZ reading value-identical to DuckDB's naive interpretation
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Long-run block hygiene. localCheckpoint blocks (every iterative
      // loop's lineage truncation) are freed by ContextCleaner only
      // after a GC drops their RDD references into its queue — and on a
      // 24g heap that never fills, the only guaranteed GC is Spark's
      // periodic one, whose DEFAULT interval (30min) is close to a full
      // 133-query × 3-rep run. Measured effect of the backlog: the
      // cache-retained suite pass after the ~35-min median phase ran
      // 193 s with q1_agg at 9.9 s, vs 114 s / sub-second q1_agg on a
      // fresh JVM — same code, same box. A 2-minute cadence bounds the
      // block pile-up; ExplicitGCInvokesConcurrent (build.sbt) keeps
      // each cycle concurrent instead of a stop-the-world Full GC
      // inside someone's timed rep.
      .config("spark.cleaner.periodicGC.interval", "2min")
      // the SQL status store retains up to 1000 executions' plan
      // graphs even with the UI disabled — a multi-rep 133-query run
      // holds every one of them on the heap
      .config("spark.sql.ui.retainedExecutions", "15")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.log.level", "WARN")

  /** The session at `cores` local cores. */
  def apply(cores: Int = GraftSession.cores): SparkSession = builder(cores).getOrCreate()
}
