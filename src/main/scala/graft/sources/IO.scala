package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.Query

/** Source/sink surface (SURVEY.md §2 H). Parquet is the primary
  * contract (driver-provided tables); CSV and JSON cover interchange.
  * All readers take an explicit schema — schema inference is a full
  * extra pass over the data and non-deterministic under dirty input,
  * neither acceptable at 100 TB.
  */
object IO {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .json(path)

  /** Safe JSON column parse with quarantine: rows whose payload
    * doesn't match the schema keep a null struct and route their raw
    * text to `quarantineCol` instead of failing the job — the
    * only sane contract for dirty data at 100 TB. */
  def parseJsonSafe(df: DataFrame, jsonCol: String, schema: StructType,
      quarantineCol: String = "_corrupt"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.StringType
    // PERMISSIVE from_json yields an all-null-fields struct for bad
    // input (not a null struct) — the corrupt-record column is the
    // reliable malformed signal.
    val cr = "__graft_corrupt"
    val parsed = from_json(col(jsonCol), schema.add(cr, StringType),
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> cr))
    df.withColumn("__p", parsed)
      .withColumn(quarantineCol, col(s"__p.$cr"))
      .withColumn(s"${jsonCol}_parsed",
        when(col(quarantineCol).isNull && col(jsonCol).isNotNull,
          col("__p").dropFields(cr)))
      .drop("__p")
  }

  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** Bucketed write (hash-bucketed by join key, sorted within
    * buckets): two tables bucketed the same way join with NO shuffle —
    * the co-location contract a 100 TB star schema is laid out on.
    * Bucketing metadata lives in the session catalog, so this writes
    * a managed table (`saveAsTable`), not a bare path. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      key: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Sort-on-write layout for range-filtered scans: rows sorted by
    * the filter column cluster each value range into few row groups,
    * so parquet's min/max row-group statistics skip everything else
    * at read time. At 100 TB this is THE knob for time-range queries
    * — the same pushed filter reads orders of magnitude fewer rows
    * from a sorted layout than from an unsorted one (SourcesSpec
    * measures the scan-output difference). `repartitionByRange` +
    * `sortWithinPartitions` keeps the sort fully parallel — no
    * single-task global sort. */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
      partitions: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    val ranged =
      if (partitions > 0) df.repartitionByRange(partitions, col(sortCol))
      else df.repartitionByRange(col(sortCol))
    ranged.sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Shard layout for the deterministic training shuffle
    * ([[graft.operators.Curation.pipelineShuffle]]): rows carrying
    * (shard, skey) land in one directory per shard, each file sorted
    * by (skey, doc_id) — so a training reader streams a shard in the
    * epoch's permutation order by merging its sorted files (O(n),
    * k-way heap over file heads; with the default one file per shard,
    * a plain scan). `filesPerShard > 1` splits each shard across
    * subfiles by `skey mod filesPerShard` for write parallelism at
    * scale — each subfile is still a sorted run, so the merge
    * contract holds. One exchange total (the repartition), the sort
    * is per-partition — no global sort, no per-shard row_number. */
  def writeShuffledShards(df: DataFrame, path: String,
      filesPerShard: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val parted =
      if (filesPerShard > 1)
        df.repartition(col("shard"),
          pmod(col("skey"), lit(filesPerShard.toLong)))
      else df.repartition(col("shard"))
    parted.sortWithinPartitions("shard", "skey", "doc_id")
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(path)
  }

  /** Z-order clustered layout ([[graft.operators.Layout]]): rows are
    * ranged into `files` contiguous z intervals and sorted by z
    * within each, so every output file covers a disjoint z range and
    * parquet footer min/max prune on BOTH clustered dimensions. One
    * exchange (the range repartition), per-partition sorts only —
    * the same cost shape as [[writeSorted]], buying two-dimensional
    * pruning instead of one. The z key is kept in the output: it is
    * the table's clustering key (re-sorting on ingest, merge-on-read
    * compaction) and costs 8 bytes/row. `x`/`y` must be non-negative
    * integral columns. */
  def writeZOrdered(df: DataFrame, path: String, x: String, y: String,
      files: Int = graft.operators.Layout.ZFiles): Unit = {
    import org.apache.spark.sql.functions.col
    graft.operators.Layout.zorderKey(df, x, y)
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions("z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC — the other columnar interchange format a lake ingests from;
    * same pushdown/pruning machinery as parquet in Spark. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Avro — the row-oriented interchange format event streams land
    * in (Kafka topics, log shippers). This Spark build bundles the
    * Avro connector classes inside spark-sql but does NOT register
    * the `avro` short name in its DataSourceRegister service file,
    * so the fully-qualified provider class is used — same engine
    * path, explicit resolution. Row-oriented means no column pruning
    * at the storage layer — an Avro landing zone should be compacted
    * to parquet (see [[writeSorted]]) before analytical reads; these
    * entry points cover the ingest hop. */
  private val AvroProvider = "org.apache.spark.sql.avro.AvroFileFormat"

  def readAvro(spark: SparkSession, path: String): DataFrame =
    spark.read.format(AvroProvider).load(path)

  def writeAvro(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).format(AvroProvider).save(path)
  // The per-column Kafka envelope (`from_avro`/`to_avro`): Spark's
  // BUILT-IN SQL functions refuse to resolve in this build (their
  // expressions ship only in the external spark-avro module —
  // AVRO_NOT_LOADED by runtime probe), but the converter classes the
  // file source itself runs rows through DO ship inside spark-sql,
  // so [[graft.functions.AvroCodec]] provides the codec surface as
  // custom expressions over them — real binary Avro on the wire
  // (AvroCodecSpec decodes it with the plain org.apache.avro reader).

  /** Avro envelope round trip over the documents table — the Kafka
    * ingest-hop shape (struct → binary Avro column → struct),
    * wired as a driver-checked query: the codec pair is
    * value-invisible, so the oracle is the PLAIN projection and the
    * hash match is the proof (same argument as q_salted_join /
    * q_bloom_join). */
  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables(spark, dir).documents
    val payload = struct(col("doc_id"), col("text"))
    val schema = graft.functions.AvroCodec.schemaFor(
      docs.select(payload.as("s")).schema("s").dataType)
    docs.select(graft.functions.AvroCodec.to_avro(payload).as("bin"))
      .select(graft.functions.AvroCodec.from_avro(col("bin"), schema).as("st"))
      .select(col("st.doc_id").as("doc_id"), col("st.text").as("text"))
      .sortWithinPartitions("doc_id")
  }

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    // the per-column Avro envelope (Kafka ingest hop)
    // the PLAIN projection: a hash match proves the to_avro→from_avro
    // codec pair is value-invisible (lossless round trip) — same
    // argument as Relational's q_salted_join
    Query("avro_roundtrip", avroRoundtrip,
      "SELECT doc_id, text FROM documents ORDER BY doc_id"),
  )
}
