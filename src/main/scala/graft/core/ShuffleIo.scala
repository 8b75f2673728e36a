package graft.core

import org.apache.spark.sql.SparkSession

/** Shuffle-I/O session tuning, applied by [[GraftSession]] (so by
  * Bench / Verify / BenchStream / BenchIvf / JobProbe / PlanDump and
  * the test base) and by the benchmark harness's own session.
  *
  * Why this exists (optimization guide §2.1-§2.2, measured r14): the
  * default bypass-merge shuffle writer creates R temp files per map
  * task and then concatenates them into the final shuffle file. At
  * R = 32 reduce partitions that is 32×32 = 1024 file creates plus
  * 1024 stream copies PER SHUFFLE — and thread dumps of the iterative
  * graph loops show task workers spending most of their RUNNABLE time
  * in `DiskBlockObjectWriter.initialize` (file create) and
  * `copyFileStreamNIO` (the concat), on an ext4 sandbox where a small
  * file create costs ~0.3 ms. The per-task fixed cost this adds is
  * why several tiny-data queries measured FASTER on 8 cores than
  * on 32 in BENCH_r13 vs BENCH_r13_c8 (emb_kmeans 8.5 s vs 0.64 s:
  * 8×8 = 64 file ops per shuffle instead of 1024).
  *
  * Both knobs below are deployment-layer I/O choices, not semantics,
  * and neither is a 32-core-only constant:
  *
  *  - `spark.shuffle.sort.bypassMergeThreshold = 0` routes every SQL
  *    exchange through the serialized (tungsten-sort) writer: ONE
  *    data file + one index file per map task, R-independent. At
  *    production reduce counts (R > 200, the default threshold) the
  *    bypass writer is never chosen anyway — this only removes the
  *    small-R local pathology, it cannot change behavior at scale.
  *
  *  - shuffle/spill dirs go to the RAM-backed tmpfs when one is
  *    mounted with at least [[MinShmBytes]] usable: shuffle data at
  *    the bench's scale factors is a few MB per exchange and
  *    transient, and the guide's own framing ("local disk bandwidth
  *    for shuffle files can be the tighter limit — check both")
  *    makes local-dir placement a measured deployment choice. A
  *    cluster deployment points `spark.local.dir` at NVMe through
  *    cluster conf; `SPARK_GRAFT_LOCAL_DIR` overrides here, and a
  *    missing, unwritable or small tmpfs falls back to the JVM
  *    default, so nothing breaks on a host without one. The floor
  *    matters because container runtimes default `/dev/shm` to 64 MB,
  *    where the first large shuffle or spill would fail with ENOSPC.
  */
object ShuffleIo {
  /** Smallest usable tmpfs that shuffle and spill files may land on. */
  private[graft] val MinShmBytes: Long = 4L << 30

  private val Shm = java.nio.file.Paths.get("/dev/shm")

  /** The local-dir choice: the explicit override, else the tmpfs when
    * it has at least [[MinShmBytes]] usable, else None (Spark's
    * default). */
  private[graft] def chooseLocalDir(overrideDir: Option[String],
      shmUsableBytes: Long): Option[String] =
    overrideDir.orElse(
      if (shmUsableBytes >= MinShmBytes)
        Some(Shm.resolve("graft-spark-local").toString)
      else None)

  /** Usable bytes of the tmpfs, 0 when it is absent or unwritable. */
  private def shmUsableBytes(): Long =
    try {
      if (java.nio.file.Files.isDirectory(Shm) &&
        java.nio.file.Files.isWritable(Shm))
        java.nio.file.Files.getFileStore(Shm).getUsableSpace
      else 0L
    } catch { case _: Throwable => 0L }

  /** Pick the shuffle local dir (see [[chooseLocalDir]]), creating
    * the tmpfs one; None when it cannot be created. */
  private[graft] def localDir(): Option[String] = {
    val overrideDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR")
    chooseLocalDir(overrideDir,
      if (overrideDir.isDefined) 0L else shmUsableBytes())
      .filter { d =>
        val f = new java.io.File(d)
        overrideDir.isDefined || f.isDirectory || f.mkdirs()
      }
  }

  /** Apply the shuffle-I/O tuning to a session builder. Call BEFORE
    * caller-specific configs so a caller can still override. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = {
    val withWriter =
      b.config("spark.shuffle.sort.bypassMergeThreshold", "0")
    localDir() match {
      case Some(d) => withWriter.config("spark.local.dir", d)
      case None => withWriter
    }
  }
}
