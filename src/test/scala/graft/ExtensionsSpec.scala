package graft

/** The custom expressions are reachable from plain SQL once
  * registered. */
class ExtensionsSpec extends SparkSpecBase {

  test("cosine_sim and ngram_shingles work from spark.sql") {
    GraftFunctions.register(spark)
    val cos = spark.sql(
      "SELECT cosine_sim(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
        "array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))) AS c")
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)

    val grams = spark.sql(
      "SELECT ngram_shingles(split('a b c d', ' '), 3) AS g")
      .head().getSeq[String](0)
    assert(grams == Seq("a b c", "b c d"))

    val toks = spark.sql(
      "SELECT ascii_tokens('He said: ta''en 42 times!', true) AS t")
      .head().getSeq[String](0)
    assert(toks == Seq("He", "said", "ta", "en", "42", "times"))
    val letters = spark.sql(
      "SELECT ascii_tokens('He said: 42') AS t").head().getSeq[String](0)
    assert(letters == Seq("He", "said"))

    // normalize_text: NFC + simple casefold from plain SQL
    val norm = spark.sql(
      "SELECT normalize_text('İstanbul ÉLÈVE') AS n")
      .head().getString(0)
    assert(norm == "istanbul élève", norm.map(_.toInt).mkString(","))
  }

  test("sketch and top-k aggregates work from spark.sql") {
    GraftFunctions.register(spark)
    spark.sql("SELECT * FROM VALUES (1, 'a'), (1, 'b'), (1, 'a'), (2, 'c') t(g, w)")
      .createOrReplaceTempView("words")

    // minhash_agg: same signature as the Column-level aggregate
    import org.apache.spark.sql.functions.col
    val viaSql = spark.sql(
      "SELECT minhash_agg(CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT), 8) FROM words")
      .head().getSeq[Long](0)
    val viaCol = spark.table("words")
      .select(graft.functions.PortableHash.h60(col("w")).as("h"))
      .agg(graft.functions.SketchAggs.minhashAgg(col("h"), 8))
      .head().getSeq[Long](0)
    assert(viaSql == viaCol)

    // simhash_agg packs to one long
    val sim = spark.sql(
      "SELECT simhash_agg(CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)) FROM words")
      .head().getLong(0)
    val simCol = spark.table("words")
      .select(graft.functions.PortableHash.h60(col("w")).as("h"))
      .agg(graft.functions.SketchAggs.simhashAgg(col("h"))).head().getLong(0)
    assert(sim == simCol)

    // topk_by_score: per-group top-2 by (score desc, id asc)
    val topk = spark.sql(
      """SELECT g, topk_by_score(s, id, 2) AS top FROM VALUES
         (1, 10, 0.5), (1, 11, 0.9), (1, 12, 0.9), (1, 13, 0.1)
         t(g, id, s) GROUP BY g""").selectExpr("top.id").head().getSeq[Long](0)
    assert(topk == Seq(11L, 12L))

    // topk_freq: heavy hitters with (count desc, item asc) order
    val freq = spark.sql(
      "SELECT topk_freq(w, 2) FROM words WHERE g = 1").head()
      .getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getLong(1)))
    assert(freq == Seq(("a", 2L), ("b", 1L)))
  }

  test("avro codecs round-trip from plain SQL") {
    GraftFunctions.register(spark)
    val schema = graft.functions.AvroCodec.schemaFor(
      spark.sql("SELECT struct(CAST(7 AS BIGINT) AS id, 'x' AS s) AS p")
        .schema("p").dataType)
    val row = spark.sql(
      s"""SELECT graft_from_avro(
         |         graft_to_avro(struct(CAST(7 AS BIGINT) AS id, 'x' AS s)),
         |         '${schema.replace("'", "''")}') AS st""".stripMargin)
      .select("st.id", "st.s").head()
    assert(row.getLong(0) == 7L && row.getString(1) == "x")
  }

  /** The SQL-surface twins (SparkEntry `*_sql`) must be row-identical
    * to their DataFrame operators — the same pinning the DuckDB gate
    * applies at sf0.01, run here at sf0.001 so a twin drift fails in
    * `sbt test` before it reaches the gate. */
  test("SQL-surface twins match their DataFrame operators row-for-row") {
    def sorted(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .orderBy(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().toSeq
    }
    for (name <- Seq("dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
        "ann_bruteforce", "text_tfidf", "q_sessionize", "events_retention",
        "graph_degree_dist", "profile_psi")) {
      val base = SparkEntry.queries(name)(spark, Sf)
      val twin = SparkEntry.queries(name + "_sql")(spark, Sf)
      assert(twin.columns.sorted.toSeq == base.columns.sorted.toSeq,
        s"$name twin schema drift")
      assert(sorted(twin) == sorted(base), s"$name twin rows drift")
    }
  }

  test("minhash_sig and simhash_sig from SQL match the Column kernels") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables(spark, Sf).documents.limit(50)
    docs.createOrReplaceTempView("sigdocs")
    val viaSql = spark.sql(
      """SELECT doc_id,
               minhash_sig(ngram_shingles(split(trim(text), '\\s+'), 3), 16) AS m,
               simhash_sig(ngram_shingles(split(trim(text), '\\s+'), 3)) AS s
         FROM sigdocs ORDER BY doc_id""").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    val g = graft.functions.Shingles.grams3(col("text"))
    val viaCol = docs.select(col("doc_id"),
        graft.functions.SketchExprs.minhashSig(g, 16).as("m"),
        graft.functions.SketchExprs.simhashSig(g).as("s"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    assert(viaSql.toSeq == viaCol.toSeq)
  }

  test("ngram_shingles rejects a non-literal n") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT ngram_shingles(split('a b', ' '), CAST(id AS INT)) FROM range(1)")
        .collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      e.getMessage.contains("ngram_shingles"))
  }
}
