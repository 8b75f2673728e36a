package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables}
import graft.functions.{TopKScoreAgg, Vectors}

/** Hybrid retrieval: reciprocal-rank fusion of the sparse (BM25) and
  * dense (cosine-ANN) rankings over the shared `doc_id ≡ vec_id`
  * surface (SURVEY.md §2 — round-4 roadmap item "hybrid BM25+vector
  * fusion ranking").
  *
  * RRF (Cormack et al., SIGIR'09): `score(d) = Σ_lists 1/(K + rank)`
  * with the standard K = 60. Rank fusion deliberately ignores the
  * incomparable raw score scales (BM25 mass vs cosine), which is what
  * makes it the default hybrid combiner in production search stacks.
  *
  * Determinism/portability: both rank lists are derived from already
  * hash-proven score surfaces (the micro-quantized BM25 of
  * [[TextOps.textBm25Df]], the round-6 cosine of the ANN block) with
  * (score desc, id asc) tie-breaks, and the fused score is a
  * two-term double sum of exact-integer reciprocals — identical IEEE
  * arithmetic in Spark and DuckDB (the divisions are explicitly
  * DOUBLE-typed on both sides; a bare `1.0 / n` would be DECIMAL
  * division in DuckDB — the q1_sql lesson).
  *
  * Scale shape: each side ends in a bounded-heap top-nCand
  * ([[TopKScore]] / TakeOrderedAndProject — never a global Window),
  * so the fusion join is nCand × nCand rows regardless of corpus
  * size; the corpus-scaled work is one BM25 term-explode and one
  * embedding scan, both map-parallel. At 100 TB the dense side swaps
  * the exact scan for the IVF/LSH probe paths — the fusion stage is
  * unchanged.
  */
object Search {

  /** Standard RRF dampening constant. */
  val RrfK = 60

  /** Candidates taken from each ranker before fusion. */
  val NCand = 50

  /** Fused results returned. */
  val TopK = 20

  /** The dense query: the embedding of vec_id 0 stands in for the
    * encoded text query (the corpus has no text-to-vector encoder —
    * what matters is the fusion machinery, not the encoder). */
  val QueryVecId = 0L

  /** Rank positions 1..k of a scored set via the bounded-heap top-k
    * aggregate — (score desc, id asc), the same order every ranked
    * surface in this repo uses. */
  private def ranksOf(scored: DataFrame, score: Column, id: Column,
      k: Int, rankName: String): DataFrame =
    scored
      .agg(TopKScoreAgg.topk(score, id, k).as("a"))
      .select(posexplode(col("a")).as(Seq("p", "e")))
      .select(col("e.id").as("doc_id"),
        (col("p") + 1).cast("long").as(rankName))

  def hybrid(spark: SparkSession, dir: String,
      topK: Int = TopK, nCand: Int = NCand): DataFrame = {
    val t = Tables(spark, dir)

    val textRanks = ranksOf(
      TextOps.textBm25Df(t.documents, nCand),
      col("bm25"), col("doc_id"), nCand, "r_text")

    val qv = t.embeddings
      .filter(col("vec_id") === QueryVecId)
      .select(col("embedding").as("qe"))
    val denseScored = t.embeddings
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
    val denseRanks = ranksOf(denseScored,
      col("cosine"), col("vec_id"), nCand, "r_vec")

    def rrfTerm(rank: Column): Column =
      coalesce(lit(1.0) / (lit(RrfK) + rank), lit(0.0))

    textRanks
      .join(denseRanks, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_text"), col("r_vec"),
        (rrfTerm(col("r_text")) + rrfTerm(col("r_vec"))).as("rrf_raw"))
      .orderBy(col("rrf_raw").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("r_text"), col("r_vec"),
        round(col("rrf_raw"), 6).as("rrf"))
  }

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    // RRF fusion of the two rank lists above/below: ranks come from
    // already-hash-proven score surfaces, the fused score is a
    // two-term DOUBLE sum of exact-integer reciprocals.
    Query("search_hybrid", (s, d) => hybrid(s, d), searchHybridSql),
  )

  /** search_hybrid oracle: RRF fusion of the BM25 CTE chain and the
    * cosine ranking (the ann_bruteforce scoring surface) for
    * the fixed dense query vec_id 0. The reciprocal terms are forced
    * DOUBLE — a bare `1.0 / n` is DECIMAL division in DuckDB (the
    * q1_sql lesson) — and ordering is on the unrounded fused sum with
    * a doc_id tie-break, exactly like the Spark side. */
  private def searchHybridSql: String = {
    s"""WITH ${TextOps.bm25Ctes(NCand)},
         bmr AS (SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_text
                 FROM bm),
         qv AS (SELECT embedding AS qe FROM embeddings
                WHERE vec_id = $QueryVecId),
         sc AS (SELECT e.vec_id AS doc_id,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                        CAST(qv.qe AS DOUBLE[])), 6) AS cosine
                FROM embeddings e CROSS JOIN qv),
         vr AS (SELECT doc_id,
                  row_number() OVER (ORDER BY cosine DESC, doc_id) AS r_vec
                FROM sc QUALIFY r_vec <= $NCand),
         f AS (SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
                      b.r_text, v.r_vec,
                      coalesce(CAST(1 AS DOUBLE) / ($RrfK + b.r_text), 0)
                    + coalesce(CAST(1 AS DOUBLE) / ($RrfK + v.r_vec), 0) AS rrf_raw
               FROM bmr b FULL OUTER JOIN vr v ON b.doc_id = v.doc_id)
         SELECT doc_id, r_text, r_vec, round(rrf_raw, 6) AS rrf
         FROM f ORDER BY rrf_raw DESC, doc_id LIMIT $TopK"""
  }
}
