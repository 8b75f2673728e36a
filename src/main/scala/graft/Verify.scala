package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: regex over query names (local dev loop only —
    // the driver always passes exactly two args = full run)
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter = args.lift(2).map(_.r)
    def selected(name: String): Boolean =
      nameFilter.forall(_.pattern.matcher(name).matches())
    val spark = graft.core.GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      // the scope releases the query's working sets; clearCache also
      // drops the PlanCache memos' blocks between queries
      try graft.core.WorkingSet.scope {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle entries for the selected queries only: tools/check.py
    // fails an entry without output, so a query that threw is a fail
    val json = SparkEntry.oracleSql
      .collect { case (k, v) if selected(k) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
