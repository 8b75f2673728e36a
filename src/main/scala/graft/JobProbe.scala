package graft

import org.apache.spark.scheduler._

/** Optimization-round tooling: run ONE query and print per-job /
  * per-stage wall, task counts and shuffle bytes — the local stand-in
  * for the Spark UI's stage table (no UI in this sandbox). Args:
  * <sfDir> <queryName> [reps=1]. */
object JobProbe {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.lift(2).exists(r => r.toIntOption.isEmpty)) {
      System.err.println("usage: JobProbe <sfDir> <queryName> [reps]")
      sys.exit(2)
    }
    val Array(sfDir, name) = args.take(2)
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    // A/B tooling: extra session confs as "k=v;k=v" (probe-only knob)
    val extra = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
      .split(";").map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    // extras LAST, on the shared builder, so the probe can override any fixed conf
    val spark = extra.foldLeft(graft.core.GraftSession.builder(
        graft.core.GraftSession.cores)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    val fn = SparkEntry.queries(name)
    def run(): Unit = graft.core.WorkingSet.scope(
      fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    // warm up (codegen, file listing) untimed
    run()

    case class St(var tasks: Int = 0, var taskTimeMs: Long = 0,
      var cpuMs: Long = 0, var gcMs: Long = 0, var deserMs: Long = 0,
      var shufReadB: Long = 0, var shufWriteB: Long = 0,
      var submit: Long = 0, var done: Long = 0, var name: String = "")
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, St]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int], String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, (e.time, -1L, e.stageIds, desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) jobs.put(e.jobId, (j._1, e.time, j._3, j._4))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val st = stages.computeIfAbsent(i.stageId, _ => St())
        st.tasks = i.numTasks
        st.name = i.name.takeWhile(_ != '\n')
        st.submit = i.submissionTime.getOrElse(-1L)
        st.done = i.completionTime.getOrElse(-1L)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val st = stages.computeIfAbsent(e.stageId, _ => St())
        val m = e.taskMetrics
        if (m != null) {
          st.taskTimeMs += m.executorRunTime
          st.cpuMs += m.executorCpuTime / 1000000
          st.gcMs += m.jvmGCTime
          st.deserMs += m.executorDeserializeTime
          st.shufReadB += m.shuffleReadMetrics.totalBytesRead
          st.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (r <- 1 to reps) {
      spark.catalog.clearCache()
      jobs.clear(); stages.clear()
      val t0 = System.nanoTime()
      run()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(600) // let the listener bus drain
      println(f"===== rep $r: wall=$wall%.3f s =====")
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      var covered = 0L
      js.foreach { case (id, (s, e, stIds, desc)) =>
        val dur = if (e > 0) e - s else -1
        covered += math.max(dur, 0)
        println(f"job $id%3d ${dur}%6d ms  stages=${stIds.size}%2d  $desc")
        stIds.sorted.foreach { sid =>
          val st = stages.get(sid)
          if (st != null && st.submit > 0)
            println(f"    stage $sid%4d ${st.done - st.submit}%6d ms tasks=${st.tasks}%3d run=${st.taskTimeMs}%6d cpu=${st.cpuMs}%6d gc=${st.gcMs}%5d deser=${st.deserMs}%5d shufR=${st.shufReadB}%9d shufW=${st.shufWriteB}%9d  ${st.name}")
        }
      }
      println(f"jobs=${js.size} sum(job wall)=${covered} ms  (query wall ${wall * 1000}%.0f ms — gap = driver/planning)")
    }
    spark.stop()
  }
}
