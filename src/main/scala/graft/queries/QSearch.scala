package graft.queries

import org.apache.spark.sql.functions._

import Q._
import graft.ops.Bm25

/** Text-retrieval gates: BM25 ranking over the `documents` corpus —
  * batch (query-relation join path) and interactive (single literal
  * query, shuffle-free scan path) — both replayed term-for-term by the
  * DuckDB oracle so scores AND ranking order verify differentially.
  */
object QSearch extends Batch {

  /** Fixed query relation for the gates: tokens drawn from the fixture
    * vocabulary so matches are dense enough to exercise tf/dl
    * discrimination (every common term has high df → low idf). */
  private val gateQueries: Seq[(Int, String)] = Seq(
    1 -> "spark hash join",
    2 -> "customer query filter",
    3 -> "window agg stream vector")

  private val oneQuery = "merge sort batch"

  val queries: Map[String, QueryFn] = Map(
    // batch BM25: broadcast query terms prune the exploded corpus tokens
    // map-side; only matched postings shuffle. Top-10 per query, rank on
    // the rounded score so the order is engine-reproducible.
    "q_text_bm25" -> { (s, dir) =>
      import s.implicits._
      val q = gateQueries.toDF("qid", "qtext")
      Bm25.search(t(s, dir, "documents"), "doc_id", "text",
          q, "qid", "qtext", k = 10)
        .orderBy("qid", "rank")
    },

    // interactive BM25: zero-shuffle corpus pass (per-term tf as column
    // expressions, df/N/avgdl as one broadcast scalar row), TakeOrdered
    // top-10.
    "q_text_bm25_one" -> { (s, dir) =>
      Bm25.searchOne(t(s, dir, "documents"), "doc_id", "text",
        oneQuery, k = 10)
    },

    // hybrid retrieval: BM25 (zero-shuffle interactive leg) and brute
    // cosine top-20 (the ANN legs swap in at index scale) fused by
    // reciprocal rank — both leg rankings and the fused order replay
    // exactly in the oracle (scores rounded before ranking; 1/(60+r)
    // sums are single commutative additions).
    "q_hybrid_rrf" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val qvec = emb.filter(col("vec_id") === 7)
        .select("embedding").head().getSeq[Float](0).toArray
      val lexical = graft.ops.Hybrid.ranked(
        Bm25.searchOne(docs, "doc_id", "text", oneQuery, k = 20),
        "doc_id", "score")
      val semantic = graft.ops.Hybrid.ranked(
        graft.ops.Similarity.topK(emb, "vec_id", "embedding", qvec, 20)
          .withColumnRenamed("vec_id", "doc_id"),
        "doc_id", "cosine")
      graft.ops.Hybrid.rrfFuse(
          Seq(lexical.select("doc_id", "rank"),
            semantic.select("doc_id", "rank")),
          "doc_id", kRrf = 60, k = 10)
        .orderBy("rank")
    },

    // sketch-first exact top-k terms: Misra–Gries candidates + exact
    // recount (ops/HeavyHitters). The fixture vocabulary (31 terms)
    // fits the 64-counter sketch, so this runs the lossless branch;
    // HeavyHittersSpec drives the overflow→recount→provability branch
    // on a skewed fixture. Output is exact in every branch — that is
    // the operator's contract — so the oracle is the plain GROUP BY.
    "q_top_terms" -> { (s, dir) =>
      val terms = t(s, dir, "documents")
        .select(explode(Bm25.tokens(col("text"))).as("term"))
      graft.ops.HeavyHitters.exactTopK(terms, "term", k = 10,
          capacity = 64)
        .orderBy(col("cnt").desc, col("term"))
    })

  private def bm25Sql(queryValues: String, whereRank: String): String =
    s"""WITH q(qid, qtext) AS (VALUES $queryValues),
       |qterms AS (
       |  SELECT DISTINCT qid, tok AS term
       |  FROM (SELECT qid,
       |          unnest(string_split_regex(lower(qtext), '[\\s[:punct:]]+'))
       |            AS tok
       |        FROM q)
       |  WHERE length(tok) > 0),
       |toks AS (
       |  SELECT doc_id, tok AS term
       |  FROM (SELECT doc_id,
       |          unnest(string_split_regex(lower(text), '[\\s[:punct:]]+'))
       |            AS tok
       |        FROM documents)
       |  WHERE length(tok) > 0),
       |dls AS (
       |  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
       |  FROM toks GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(coalesce(dl, 0)) AS avgdl
       |  FROM documents LEFT JOIN dls USING (doc_id)),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM toks
       |  WHERE term IN (SELECT term FROM qterms)
       |  GROUP BY doc_id, term),
       |dfreq AS (
       |  SELECT term, CAST(count(*) AS DOUBLE) AS df
       |  FROM tf GROUP BY term),
       |scored AS (
       |  SELECT qterms.qid, tf.doc_id,
       |    round(sum(
       |      ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
       |      tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
       |    ), 6) AS score
       |  FROM tf
       |  JOIN qterms USING (term)
       |  JOIN dfreq USING (term)
       |  JOIN dls USING (doc_id)
       |  CROSS JOIN stats
       |  GROUP BY qterms.qid, tf.doc_id),
       |ranked AS (
       |  SELECT qid,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY score DESC, doc_id) AS INT) AS rank,
       |    doc_id, score
       |  FROM scored)
       |$whereRank""".stripMargin

  override val oracleSql: Map[String, String] = Map(
    "q_text_bm25" -> bm25Sql(
      "(1, 'spark hash join'), (2, 'customer query filter'), " +
        "(3, 'window agg stream vector')",
      "SELECT qid, rank, doc_id, score FROM ranked WHERE rank <= 10 " +
        "ORDER BY qid, rank"),
    "q_text_bm25_one" -> bm25Sql(
      s"(1, '$oneQuery')",
      "SELECT doc_id, score FROM ranked WHERE rank <= 10 AND score > 0 " +
        "ORDER BY score DESC, doc_id"),

    // hybrid RRF: the bm25 skeleton's `ranked` CTE is the lexical leg;
    // the cosine leg and the fusion continue the same WITH list.
    // CAST(1.0 AS DOUBLE): a bare 1.0 is DECIMAL in DuckDB and the
    // division would round differently than Spark's double.
    "q_hybrid_rrf" -> bm25Sql(
      s"(1, '$oneQuery')",
      """, lex AS (
        |  SELECT doc_id, rank FROM ranked WHERE rank <= 20 AND score > 0),
        |v AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |        generate_subscripts(embedding, 1) AS pos FROM embeddings),
        |qv AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
        |        generate_subscripts(embedding, 1) AS pos
        |       FROM embeddings WHERE vec_id = 7),
        |cos AS (SELECT v.vec_id AS doc_id,
        |    round(sum(v.x * qv.x) /
        |      (sqrt(sum(v.x * v.x)) * sqrt(sum(qv.x * qv.x))), 6) AS cosine
        |  FROM v JOIN qv USING (pos) GROUP BY v.vec_id),
        |sem AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INT)
        |      AS rank
        |  FROM cos QUALIFY rank <= 20),
        |contrib AS (
        |  SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS c FROM lex
        |  UNION ALL
        |  SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS c FROM sem),
        |fused AS (
        |  SELECT doc_id, round(sum(c), 9) AS rrf_score,
        |    CAST(count(*) AS INT) AS n_lists
        |  FROM contrib GROUP BY doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
        |    AS INT) AS rank,
        |  doc_id, rrf_score, n_lists
        |FROM fused
        |QUALIFY rank <= 10
        |ORDER BY rank""".stripMargin),

    "q_top_terms" ->
      """SELECT tok AS term, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split_regex(lower(text),
        |        '[\s[:punct:]]+')) AS tok
        |      FROM documents)
        |WHERE length(tok) > 0
        |GROUP BY tok
        |ORDER BY cnt DESC, term
        |LIMIT 10""".stripMargin)
}
