package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Wall, process CPU and JIT compile seconds of one op or round. */
final case class Cost(wallS: Double, cpuS: Double, jitS: Double)

/** What one measuring window produced: the cost of each op and of
  * each round (the workload's fixed unit of work). */
final case class Measurement(ops: Seq[Cost], rounds: Seq[Cost],
    attempted: Int, failures: Seq[String], detail: Map[String, Any])

trait Workload {
  /** Resolve or stage the generated inputs (part of set-up). */
  def prepare(spark: SparkSession): Unit
  /** Untimed rounds in set-up. The JIT keeps compiling for tens of
    * seconds after a session starts, and a round is only comparable
    * between runs once most of that has finished. */
  def warmRounds: Int
  /** Untimed checks that run once at the end of set-up: the number of
    * ops checked and the failures among them. */
  def validate(spark: SparkSession): (Int, Seq[String]) = (0, Nil)
  /** Untimed checks of the outputs the measured ops left behind. */
  def check(spark: SparkSession): Seq[String] = Nil
  /** Fewest rounds a timed run makes, whatever its length. */
  def minRounds: Int = 2
  /** Run whole rounds until `seconds` have passed (at least
    * `minRounds`), every op through `probe`. */
  def measure(spark: SparkSession, seconds: Double, minRounds: Int,
      probe: Probe): Measurement
}

/** Harness entry point, launched by perfbench/run.py:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --out FILE [--rate FILES_PER_S]`.
  * Writes one JSON object to FILE; run.py turns it into the metrics. */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val s = graft.core.ShuffleIo.tune(SparkSession.builder()
      .master(s"local[$cores]"))
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.sql.ui.retainedExecutions", "15")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val w: Workload = a("workload") match {
      case "wordcount" => new WordCount(work)
      case "query_mix" => new QueryMix(work, seed, a.get("queries"))
      case "event_stream" => new EventStream(work, a("rate").toDouble)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up is timed from JVM start to the first timed op, so class
    // loading, JIT and first-use initialisation count in it.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    w.prepare(spark)
    val warmUp = w.measure(spark, 0, w.warmRounds, NoTrace)
    val t0 = System.nanoTime()
    val (validated, validation) = w.validate(spark)
    val validateS = (System.nanoTime() - t0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] set-up: $setupS%.2f s (session $sessionS%.2f s)")

    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "session_s" -> sessionS, "validate_s" -> validateS, "cores" -> cores)
    val m =
      if (!traced) w.measure(spark, seconds, w.minRounds, NoTrace)
      else {
        // Rounds alternate untraced and traced in U T T U blocks until
        // the window has passed, so the overhead compares rounds of the
        // same warmth. Untraced rounds run with the listeners detached.
        val tracer = new Tracer(spark, sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", work))
        val chunks = mutable.ArrayBuffer.empty[(Boolean, Measurement)]
        val t1 = System.nanoTime()
        while (chunks.isEmpty || (System.nanoTime() - t1) / 1e9 < seconds)
          for (on <- Seq(false, true, true, false)) {
            tracer.enable(on)
            chunks += on -> w.measure(spark, 0, 1, if (on) tracer else NoTrace)
          }
        val (layers, summary) = tracer.finish(cores,
          Paths.get(work, "trace", s"${a("workload")}-$seed.spans.jsonl"))
        def walls(on: Boolean) = chunks.filter(_._1 == on).flatMap(_._2.rounds.map(_.wallS)).toSeq
        val (u, t) = (Stats.median(walls(false)), Stats.median(walls(true)))
        out("layers") = layers ++ Kernels.run(spark, seed) ++ Map(
          "trace.overhead_pct" -> (t - u) / u * 100,
          "trace.noise_pct" -> (walls(false).max - walls(false).min) / u * 100)
        out("op_summary") = summary
        val ms = chunks.map(_._2).toSeq
        Measurement(ms.flatMap(_.ops), ms.flatMap(_.rounds), ms.map(_.attempted).sum,
          ms.flatMap(_.failures), ms.last.detail)
      }
    val checked = w.check(spark)
    out ++= Seq(
      "ops_wall_s" -> m.ops.map(_.wallS), "ops_cpu_s" -> m.ops.map(_.cpuS),
      "rounds_wall_s" -> m.rounds.map(_.wallS), "rounds_cpu_s" -> m.rounds.map(_.cpuS),
      "rounds_jit_s" -> m.rounds.map(_.jitS),
      "attempted" -> (warmUp.attempted + validated + m.attempted),
      "failures" -> (warmUp.failures ++ validation ++ m.failures ++ checked),
      "detail" -> m.detail, "peak_rss_mb" -> peakRssMb())
    spark.stop()
    Files.writeString(Paths.get(a("out")), Json.render(out))
  }

  /** VmHWM of this JVM, MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
