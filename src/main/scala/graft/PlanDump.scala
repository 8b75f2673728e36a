package graft

import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * queries to files (the judge checks plan claims against committed
  * plan text). Args: <sfDir> <outDir> <suffix> [comma-separated names
  * or prefixes; default = all]. Each query is MATERIALIZED through the
  * noop sink first so AQE settles, then the final executed plan plus
  * the formatted string land in `<outDir>/<name>_<suffix>.txt`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = graft.core.GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.forall(_.exists(n.startsWith)) }
      .foreach { case (name, fn) =>
        try {
          spark.catalog.clearCache()
          spark.sparkContext.setJobDescription(s"plandump: $name")
          val qe = graft.core.WorkingSet.scope {
            val df = fn(spark, sfDir)
            df.write.format("noop").mode("overwrite").save()
            df.queryExecution
          }
          val txt = qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) +
            "\n===== executedPlan (post-AQE where applicable) =====\n" +
            qe.executedPlan.toString
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          System.err.println(s"[plandump] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
