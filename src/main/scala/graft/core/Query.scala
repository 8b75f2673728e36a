package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of graft's query surface, declared once beside the operator
  * that implements it: its name, its Spark build over a table
  * directory, and the DuckDB SQL over the same parquet tables whose
  * rows the build must hash-match. `graft.SparkEntry` derives its
  * `queries` and `oracleSql` maps from these declarations, so a query
  * cannot exist without its oracle. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)
