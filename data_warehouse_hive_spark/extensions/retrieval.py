"""Retrieval-quality operators — rank fusion and ANN recall evaluation
(SURVEY.md §2.12).

The reference has no retrieval surface at all (its queries stop at
HiveQL), but a training-data pipeline that builds similarity indexes
(extensions/similarity.py) also needs the evaluation half: fuse multiple
rankers into one ordering, and measure how much recall the approximate
index loses versus exact search.  Both are pure DataFrame compositions
over the existing search operators — no new physical machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_hive_spark.registry import query
from data_warehouse_hive_spark.extensions.similarity import (
    N_QUERY_VECS,
    TOP_K,
    _fixture_corpus,
    _o_lsh_bucket,
    brute_force_topk,
    eval_exact_topk,
    eval_lsh_topk,
    lsh_topk,
)
from data_warehouse_hive_spark.tables import spread, t

RRF_K = 60  # the standard reciprocal-rank-fusion constant
FUSE_TOP = 20


@query(
    "q_rank_fusion",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, n_chars,
             len(string_split_regex(trim(text), '\\s+')) AS n_words
      FROM documents
    ),
    ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rank_chars,
             ROW_NUMBER() OVER (ORDER BY n_words DESC, doc_id) AS rank_words
      FROM d
    ),
    fused AS (
      SELECT doc_id, rank_chars, rank_words,
             1.0 / ({RRF_K} + rank_chars) + 1.0 / ({RRF_K} + rank_words) AS rrf
      FROM ranked
    )
    SELECT doc_id, rank_chars, rank_words, rrf,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT {FUSE_TOP}
    """,
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, k=60): combine two independent
    rankers into one ordering — the standard way to merge lexical and
    embedding retrieval lists without score calibration.

    Here the two rankers are corpus-wide orderings (char mass and word
    count), which demonstrates the algebra; in production each ranker
    contributes a BOUNDED per-query candidate list (top-k from
    q_sim_search / a lexical index), so the window never sees the full
    corpus and partitions by query_id.  The RRF score is a sum of two
    reciprocals of small integers evaluated in a fixed order — identical
    IEEE ops in both engines, so fused ranks hash-match exactly.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_words"),
    )
    ranked = d.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("n_chars").desc(), F.col("doc_id")))
        .alias("rank_chars"),
        F.row_number()
        .over(Window.orderBy(F.col("n_words").desc(), F.col("doc_id")))
        .alias("rank_words"),
    )
    rrf = (
        F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_chars"))
        + F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_words"))
    ).alias("rrf")
    fused = ranked.select("doc_id", "rank_chars", "rank_words", rrf)
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number()
            .over(Window.orderBy(F.col("rrf").desc(), F.col("doc_id")))
            .cast("long"),
        )
        .orderBy(F.col("rrf").desc(), F.col("doc_id"))
        .limit(FUSE_TOP)
    )


@query(
    "q_sim_recall",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
    exact_scored AS (
      SELECT q.query_id, v.vec_id,
             round(list_dot_product(q.qe, v.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
      FROM q JOIN v ON v.vec_id != q.query_id
    ),
    exact_topk AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM exact_scored
      ) WHERE rk <= {TOP_K}
    ),
    vb AS (SELECT *, {_o_lsh_bucket('e')} AS bucket FROM v),
    qb AS (SELECT vec_id AS query_id, e AS qe, bucket
           FROM vb WHERE vec_id < {N_QUERY_VECS}),
    lsh_scored AS (
      SELECT qb.query_id, vb.vec_id,
             round(list_dot_product(qb.qe, vb.e)
                   / (sqrt(list_dot_product(qb.qe, qb.qe))
                      * sqrt(list_dot_product(vb.e, vb.e))), 6) AS cosine
      FROM qb JOIN vb ON vb.bucket = qb.bucket AND vb.vec_id != qb.query_id
    ),
    lsh_topk AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM lsh_scored
      ) WHERE rk <= {TOP_K}
    )
    SELECT e.query_id,
           COUNT(*) AS n_exact,
           CAST(COUNT(l.vec_id) AS BIGINT) AS n_hit,
           CAST(COUNT(l.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS recall_at_k
    FROM exact_topk e
    LEFT JOIN lsh_topk l
      ON l.query_id = e.query_id AND l.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
)
def q_sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index evaluation: recall@k of the LSH-bucketed search against
    exact brute force, per query — the measurement that decides whether
    an approximate index is shippable.

    Composition of two existing operators: exact top-k (ground truth) LEFT
    JOINs the LSH top-k on (query, neighbor); the hit ratio is recall.
    Both sides end in Q×k-row lists, so the join and the per-query
    aggregate are negligible next to the searches themselves; at 100 TB
    ground truth is computed once per index build on a sampled query set
    (Q is bounded by contract), which is exactly this plan's shape.  The
    recall division is one double op on identical small-integer operands.
    """
    exact = eval_exact_topk(spark, sf_dir).select("query_id", "vec_id")
    approx = eval_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("l_query_id"), F.col("vec_id").alias("l_vec_id")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("l_query_id"))
            & (F.col("vec_id") == F.col("l_vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("l_vec_id").alias("n_hit"),
            (
                F.count("l_vec_id").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("recall_at_k"),
        )
    )


@query(
    "q_rank_fusion_per_query",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
    exact_scored AS (
      SELECT q.query_id, v.vec_id,
             round(list_dot_product(q.qe, v.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
      FROM q JOIN v ON v.vec_id != q.query_id
    ),
    exact_topk AS (
      SELECT query_id, vec_id, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, vec_id)
                       AS BIGINT) AS rk
        FROM exact_scored
      ) WHERE rk <= {TOP_K}
    ),
    vb AS (SELECT *, {_o_lsh_bucket('e')} AS bucket FROM v),
    qb AS (SELECT vec_id AS query_id, e AS qe, bucket
           FROM vb WHERE vec_id < {N_QUERY_VECS}),
    lsh_scored AS (
      SELECT qb.query_id, vb.vec_id,
             round(list_dot_product(qb.qe, vb.e)
                   / (sqrt(list_dot_product(qb.qe, qb.qe))
                      * sqrt(list_dot_product(vb.e, vb.e))), 6) AS cosine
      FROM qb JOIN vb ON vb.bucket = qb.bucket AND vb.vec_id != qb.query_id
    ),
    lsh_topk AS (
      SELECT query_id, vec_id, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, vec_id)
                       AS BIGINT) AS rk
        FROM lsh_scored
      ) WHERE rk <= {TOP_K}
    ),
    fused AS (
      SELECT COALESCE(e.query_id, l.query_id) AS query_id,
             COALESCE(e.vec_id, l.vec_id) AS vec_id,
             e.rk AS rk_exact, l.rk AS rk_lsh,
             coalesce(1.0 / ({RRF_K} + e.rk), 0.0)
               + coalesce(1.0 / ({RRF_K} + l.rk), 0.0) AS rrf
      FROM exact_topk e FULL JOIN lsh_topk l
        ON l.query_id = e.query_id AND l.vec_id = e.vec_id
    )
    SELECT query_id, vec_id, rk_exact, rk_lsh, rrf, fused_rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY rrf DESC, vec_id)
                     AS BIGINT) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= {TOP_K}
    ORDER BY query_id, fused_rank
    """,
)
def q_rank_fusion_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion in its PRODUCTION shape: each ranker
    contributes a BOUNDED per-query candidate list (exact cosine top-k
    and LSH-bucketed top-k from the similarity tier), the lists full-join
    on (query_id, vec_id), and every window — including the final fused
    rank — partitions by query_id over ≤2k candidate rows.  This is the
    per-query discipline q_rank_fusion's docstring promises (that id
    keeps the corpus-wide demonstration algebra); nothing here ever
    ranks the corpus globally, so the plan scales with Q×k, not N.

    A doc missing from one list contributes only its present ranks
    (coalesce to 0 — standard RRF over union of candidates).  The RRF
    score is two reciprocals of small integers added in a fixed order —
    identical IEEE doubles both engines, so fused ranks hash-match."""
    a = eval_exact_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.col("rk").alias("rk_exact")
    )
    b = eval_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("lq"),
        F.col("vec_id").alias("lv"),
        F.col("rk").alias("rk_lsh"),
    )
    fused = a.join(
        b,
        (F.col("lq") == F.col("query_id")) & (F.col("lv") == F.col("vec_id")),
        "full",
    ).select(
        F.coalesce("query_id", "lq").alias("query_id"),
        F.coalesce("vec_id", "lv").alias("vec_id"),
        "rk_exact",
        "rk_lsh",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("rk_exact")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("rk_lsh")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("vec_id")
    )
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(wq).cast("long")
        )
        .filter(F.col("fused_rank") <= TOP_K)
        .orderBy("query_id", "fused_rank")
    )


# ---------------------------------------------------------------------------
# BM25 lexical retrieval + hybrid fusion
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
N_QUERY_DOCS = 3  # doc_id < 3 form the query set (mirrors N_QUERY_VECS)
RETR_TOP = 10

# Shared CTE prefix: postings (tf per doc/term), df, corpus stats, and the
# carrier-quantized BM25 per-(query, doc) score.  Per-TERM scores are exact
# doubles on identical operands in both engines, but their SUM across a
# document's matched terms is order-dependent — so each term's score is
# quantized to a scaled long first and the sum is exact integer addition
# (the same carrier rule as every other float aggregation here).
_O_BM25_BODY = f"""
    words AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM words WHERE term != '' GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    df AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
    idf AS (
      SELECT term, df,
             round(ln((((SELECT n_docs FROM stats) - df + 0.5) / (df + 0.5)) + 1.0), 9)
               AS idf
      FROM df
    ),
    qterms AS (
      SELECT doc_id AS query_id, term FROM postings WHERE doc_id < {N_QUERY_DOCS}
    ),
    term_scores AS (
      SELECT q.query_id, p.doc_id,
             CAST(floor(
               i.idf * (p.tf * ({BM25_K1} + 1.0))
                 / (p.tf + {BM25_K1} * (1.0 - {BM25_B}
                    + {BM25_B} * d.dl / (SELECT avgdl FROM stats)))
               * 1e6 + 0.5) AS BIGINT) AS sc
      FROM qterms q
      JOIN postings p ON p.term = q.term AND p.doc_id != q.query_id
      JOIN idf i ON i.term = q.term
      JOIN dl d ON d.doc_id = p.doc_id
    ),
    bm25 AS (
      SELECT query_id, doc_id,
             CAST(SUM(sc) AS DOUBLE) / 1e6 AS bm25,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM term_scores GROUP BY query_id, doc_id
    )
"""


@query(
    "q_text_bm25",
    oracle=f"""
    WITH {_O_BM25_BODY}
    SELECT query_id, doc_id, bm25, n_terms, rk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rk
      FROM bm25
    ) WHERE rk <= {RETR_TOP}
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75): top-10 corpus documents
    per query document, scored over the inverted-posting join — the
    standard lexical ranker and the counterpart to q_sim_search's dense
    ranker.

    Scale shape: the postings list is the classic retrieval layout —
    (term, doc, tf) partitioned by TERM, so the query-terms ⋈ postings
    join shuffles on the term key and each query term touches only its
    posting list; per-(query, doc) accumulation then shuffles on the
    bounded candidate pairs.  df/avgdl/N are vocab-sized or scalar
    broadcasts.  idf is pinned at 9 dp (transcendental rule) and per-term
    scores ride the carrier so the cross-term sum is order-exact.
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    postings = (
        d.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # dl / df / qterms / the candidate join all read this relation —
        # without a checkpoint the tokenize+aggregate lineage replays once
        # per consumer (5 document scans at sf0.1).  At cluster scale this
        # is "build the inverted index once", the production shape.
        .localCheckpoint(eager=False)
    )
    dl = postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_rel = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_rel.crossJoin(F.broadcast(stats)).select(
        "term",
        "df",
        F.round(
            F.log(
                ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)) + 1.0
            ),
            9,
        ).alias("idf"),
        "avgdl",
    )
    qterms = postings.filter(F.col("doc_id") < N_QUERY_DOCS).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    term_scores = (
        qterms.join(
            postings.withColumnRenamed("doc_id", "cand_id"),
            "term",
        )
        .filter(F.col("cand_id") != F.col("query_id"))
        .join(idf, "term")
        .join(dl.withColumnRenamed("doc_id", "cand_id"), "cand_id")
        .select(
            "query_id",
            F.col("cand_id").alias("doc_id"),
            F.floor(
                F.col("idf") * (F.col("tf") * (BM25_K1 + 1.0)) / denom * 1e6 + 0.5
            )
            .cast("long")
            .alias("sc"),
        )
    )
    bm25 = term_scores.groupBy("query_id", "doc_id").agg(
        (F.sum("sc").cast("double") / 1e6).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return bm25.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= RETR_TOP
    )


HYB_DEPTH = 20  # candidate-list depth fed into the fusion


@query(
    "q_retrieval_hybrid",
    oracle=f"""
    WITH {_O_BM25_BODY},
    lex AS (
      SELECT query_id, doc_id, rk AS rank_lex FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id) AS rk
        FROM bm25
      ) WHERE rk <= {HYB_DEPTH}
    ),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    qv AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERY_DOCS}),
    cos_scored AS (
      SELECT qv.query_id, v.vec_id AS doc_id,
             round(list_dot_product(qv.qe, v.e)
                   / (sqrt(list_dot_product(qv.qe, qv.qe))
                      * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
      FROM qv JOIN v ON v.vec_id != qv.query_id
    ),
    vec AS (
      SELECT query_id, doc_id, rk AS rank_vec FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, doc_id) AS rk
        FROM cos_scored
      ) WHERE rk <= {HYB_DEPTH}
    ),
    fused AS (
      SELECT COALESCE(l.query_id, s.query_id) AS query_id,
             COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.rank_lex, s.rank_vec,
             COALESCE(1.0 / ({RRF_K} + l.rank_lex), 0.0)
               + COALESCE(1.0 / ({RRF_K} + s.rank_vec), 0.0) AS rrf
      FROM lex l FULL OUTER JOIN vec s
        ON s.query_id = l.query_id AND s.doc_id = l.doc_id
    )
    SELECT query_id, doc_id, rank_lex, rank_vec, rrf, fused_rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= {RETR_TOP}
    """,
)
def q_retrieval_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end HYBRID retrieval: BM25 lexical candidates and
    embedding-cosine candidates for the same query documents, fused with
    RRF over the UNION of both lists (absent ranks contribute zero) —
    the production retrieval stack in one plan (lexical index + vector
    index + calibration-free fusion).

    Every stage reuses an already-verified operator: the BM25 CTE body,
    the brute-force cosine ranking (q_sim_search's shape with the same
    6-dp cosine pin), and q_rank_fusion's reciprocal algebra — two
    COALESCEd reciprocal terms in a fixed order, so fusion is
    engine-exact.  Both candidate lists are per-query bounded (depth 20),
    so the FULL OUTER fusion join touches Q×depth rows, never the corpus.
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    postings = (
        d.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # dl / df / qterms / the candidate join all read this relation —
        # without a checkpoint the tokenize+aggregate lineage replays once
        # per consumer (5 document scans at sf0.1).  At cluster scale this
        # is "build the inverted index once", the production shape.
        .localCheckpoint(eager=False)
    )
    dl = postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_rel = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_rel.crossJoin(F.broadcast(stats)).select(
        "term",
        F.round(
            F.log(
                ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)) + 1.0
            ),
            9,
        ).alias("idf"),
        "avgdl",
    )
    qterms = postings.filter(F.col("doc_id") < N_QUERY_DOCS).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    bm25 = (
        qterms.join(postings.withColumnRenamed("doc_id", "cand_id"), "term")
        .filter(F.col("cand_id") != F.col("query_id"))
        .join(idf, "term")
        .join(dl.withColumnRenamed("doc_id", "cand_id"), "cand_id")
        .select(
            "query_id",
            F.col("cand_id").alias("doc_id"),
            F.floor(
                F.col("idf") * (F.col("tf") * (BM25_K1 + 1.0)) / denom * 1e6 + 0.5
            )
            .cast("long")
            .alias("sc"),
        )
        .groupBy("query_id", "doc_id")
        .agg((F.sum("sc").cast("double") / 1e6).alias("bm25"))
    )
    wl = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    lex = (
        bm25.withColumn("rank_lex", F.row_number().over(wl))
        .filter(F.col("rank_lex") <= HYB_DEPTH)
        .select("query_id", "doc_id", "rank_lex")
    )

    v, q = _fixture_corpus(spark, sf_dir)
    q = q.filter(F.col("query_id") < N_QUERY_DOCS)
    vec = (
        brute_force_topk(v, q, HYB_DEPTH)
        .select(
            F.col("query_id").alias("v_query_id"),
            F.col("vec_id").alias("v_doc_id"),
            F.col("rk").cast("int").alias("rank_vec"),
        )
    )
    fused = lex.join(
        vec,
        (F.col("query_id") == F.col("v_query_id"))
        & (F.col("doc_id") == F.col("v_doc_id")),
        "full_outer",
    ).select(
        F.coalesce(F.col("query_id"), F.col("v_query_id")).alias("query_id"),
        F.coalesce(F.col("doc_id"), F.col("v_doc_id")).alias("doc_id"),
        "rank_lex",
        "rank_vec",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_vec")), F.lit(0.0))
        ).alias("rrf"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return fused.withColumn("fused_rank", F.row_number().over(wf).cast("long")).filter(
        F.col("fused_rank") <= RETR_TOP
    )


MAX_BASKET = 64  # baskets above this contribute O(n²) pairs and ~0 signal


@query(
    "q_recs_similar_items",
    oracle=f"""
    WITH baskets_raw AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    baskets AS (
      SELECT ok, pk FROM (
        SELECT ok, pk, COUNT(*) OVER (PARTITION BY ok) AS bsz
        FROM baskets_raw
      ) WHERE bsz <= {MAX_BASKET}
    ),
    item_cnt AS (
      SELECT pk, COUNT(*) AS cnt FROM baskets GROUP BY pk
    ),
    cooc AS (
      SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS co
      FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    ),
    scored AS (
      SELECT c.pa, c.pb, c.co,
             round(CAST(c.co AS DOUBLE)
                   / sqrt(CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)),
                   6) AS cosine
      FROM cooc c
      JOIN item_cnt ca ON ca.pk = c.pa
      JOIN item_cnt cb ON cb.pk = c.pb
    ),
    sym AS (
      SELECT pa AS item, pb AS other, co, cosine FROM scored
      UNION ALL
      SELECT pb, pa, co, cosine FROM scored
    ),
    ranked AS (
      SELECT item, other, co, cosine,
             ROW_NUMBER() OVER (PARTITION BY item
                                ORDER BY cosine DESC, co DESC, other) AS rk
      FROM sym
    )
    SELECT item, other, co, cosine, rk
    FROM ranked WHERE rk <= 5
    ORDER BY item, rk
    """,
)
def q_recs_similar_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering ("customers who bought X also
    bought"): basket co-occurrence normalized to cosine
    co/√(cnt_a·cnt_b), top-5 neighbors per item — the memory-based CF
    recommender that runs entirely as joins + windows.

    Scale shape (r15, guide §2.4 remove shuffles outright): ONE exchange
    on the order key builds each basket's distinct sorted item array
    (collect_set partial-aggregates map-side — the old DISTINCT +
    count-window + basket-to-basket self-join spent three exchanges and
    an SMJ sort to reach the same pairs), the MAX_BASKET cap is a
    size() filter on the array (a 10k-line order contributes 5·10⁷
    pairs and zero signal), and the i<j pair expansion is a NARROW
    array generator per basket — pairs never cross the network until
    they collapse into (pa, pb) counts.  item_cnt re-derives from the
    same checkpointed basket arrays, so the capped corpus is scanned
    once.  Cosine divides two exact integers — deterministic to the
    1e-6 pin."""
    l = t(spark, sf_dir, "lineitem")
    items = (
        l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        # collect_set = the old DISTINCT, fused into the one exchange;
        # sort_array pins the combination order so pa < pb by slicing
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("ps"))
        .filter(F.size("ps") <= MAX_BASKET)
        .select("ps")
        .localCheckpoint(eager=False)  # consumed by item_cnt AND cooc
    )
    item_cnt = (
        items.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # all i<j combinations of the sorted array: x at 0-based index i
    # pairs with every later element (slice is 1-based; length size(ps)
    # clamps to the tail) — exactly the old self-join's pa < pb pairs
    pair_structs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size("ps")),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    cooc = (
        items.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("co"))
    )
    scored = (
        cooc.join(
            item_cnt.select(F.col("pk").alias("ka"), F.col("cnt").alias("ca")),
            F.col("ka") == F.col("pa"),
        )
        .join(
            item_cnt.select(F.col("pk").alias("kb"), F.col("cnt").alias("cb")),
            F.col("kb") == F.col("pb"),
        )
        .select(
            "pa",
            "pb",
            "co",
            F.round(
                F.col("co").cast("double")
                / F.sqrt(F.col("ca").cast("double") * F.col("cb").cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    sym = scored.select(
        F.col("pa").alias("item"), F.col("pb").alias("other"), "co", "cosine"
    ).unionAll(
        scored.select(
            F.col("pb").alias("item"), F.col("pa").alias("other"), "co", "cosine"
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("co").desc(), F.col("other")
    )
    return (
        sym.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("item", "other", "co", "cosine", "rk")
        .orderBy("item", "rk")
    )


@query(
    "q_basket_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    nb AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM baskets),
    item_cnt AS (SELECT pk, COUNT(*) AS cnt FROM baskets GROUP BY pk),
    cooc AS (
      SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS co
      FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
      HAVING COUNT(*) >= 2
    )
    SELECT c.pa, c.pb, c.co,
           round(CAST(c.co AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE), 6)
             AS support,
           round(CAST(c.co AS DOUBLE) / CAST(ca.cnt AS DOUBLE), 6)
             AS confidence,
           round(CAST(c.co AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
                 / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)), 6)
             AS lift
    FROM cooc c
    JOIN item_cnt ca ON ca.pk = c.pa
    JOIN item_cnt cb ON cb.pk = c.pb
    CROSS JOIN nb
    ORDER BY lift DESC, pa, pb
    LIMIT 50
    """,
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics over co-purchase pairs: support,
    confidence(A→B) and lift, top-50 by lift — the Apriori step after
    q_basket_pairs' raw counts: lift > 1 separates genuinely-associated
    items from merely-popular ones (confidence alone promotes anything
    co-occurring with bestsellers).

    All three metrics divide exact integers (pair count, item counts,
    basket total) — deterministic to the 1e-6 pin; the ≥2-support
    HAVING prunes the pair tail before the metric joins, and the 1-row
    basket total broadcasts.

    Bounded-failure caveat: the `flatten(transform(...))` pair generator
    materializes all m²/2 (pa, pb) structs of one m-item basket in a
    single row before the explode, so one mega-basket is one quadratic
    row.  ROADMAP open item 5 ("Mega-baskets") replaces it with a
    two-level posexplode + per-position slice generator."""
    l = t(spark, sf_dir, "lineitem")
    # r15 (guide §2.4): one exchange on the order key builds each
    # basket's sorted distinct item array (collect_set = the old
    # DISTINCT, fused); the i<j pair expansion is a narrow per-basket
    # array generator — the old basket-to-basket self-join shuffled the
    # (ok, pk) relation twice more and SMJ-sorted it for the same pairs.
    items = (
        l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("ps"))
        .select("ps")
        .localCheckpoint(eager=False)  # consumed by nb, item_cnt, cooc
    )
    nb = items.agg(F.count(F.lit(1)).alias("n_baskets"))
    item_cnt = (
        items.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size("ps")),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    cooc = (
        items.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 2)
    )
    cod = F.col("co").cast("double")
    return (
        cooc.join(
            item_cnt.select(F.col("pk").alias("ka"), F.col("cnt").alias("ca")),
            F.col("ka") == F.col("pa"),
        )
        .join(
            item_cnt.select(F.col("pk").alias("kb"), F.col("cnt").alias("cb")),
            F.col("kb") == F.col("pb"),
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "pa",
            "pb",
            "co",
            F.round(cod / F.col("n_baskets").cast("double"), 6).alias("support"),
            F.round(cod / F.col("ca").cast("double"), 6).alias("confidence"),
            F.round(
                cod
                * F.col("n_baskets").cast("double")
                / (F.col("ca").cast("double") * F.col("cb").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "pa", "pb")
        .limit(50)
    )


@query(
    "q_sim_ndcg",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
    exact_scored AS (
      SELECT q.query_id, v.vec_id,
             round(list_dot_product(q.qe, v.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
      FROM q JOIN v ON v.vec_id != q.query_id
    ),
    exact_topk AS (
      SELECT query_id, vec_id, rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM exact_scored
      ) WHERE rk <= {TOP_K}
    ),
    vb AS (SELECT *, {{bucket}} AS bucket FROM v),
    qb AS (SELECT vec_id AS query_id, e AS qe, bucket
           FROM vb WHERE vec_id < {N_QUERY_VECS}),
    lsh_scored AS (
      SELECT qb.query_id, vb.vec_id,
             round(list_dot_product(qb.qe, vb.e)
                   / (sqrt(list_dot_product(qb.qe, qb.qe))
                      * sqrt(list_dot_product(vb.e, vb.e))), 6) AS cosine
      FROM qb JOIN vb ON vb.bucket = qb.bucket AND vb.vec_id != qb.query_id
    ),
    lsh_topk AS (
      SELECT query_id, vec_id, rk AS pos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM lsh_scored
      ) WHERE rk <= {TOP_K}
    ),
    graded AS (
      SELECT l.query_id, l.pos,
             COALESCE({TOP_K} + 1 - e.rk, 0) AS rel
      FROM lsh_topk l LEFT JOIN exact_topk e
        ON e.query_id = l.query_id AND e.vec_id = l.vec_id
    ),
    dcg AS (
      SELECT query_id,
             CAST(SUM(CAST(floor(CAST(rel AS DOUBLE)
                   / log2(CAST(pos + 1 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT))
                  AS BIGINT) AS dcg_c,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_graded
      FROM graded GROUP BY query_id
    ),
    ideal AS (
      SELECT query_id, rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rel DESC, pos) AS ipos
      FROM graded
    ),
    idcg AS (
      SELECT query_id,
             CAST(SUM(CAST(floor(CAST(rel AS DOUBLE)
                   / log2(CAST(ipos + 1 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT))
                  AS BIGINT) AS idcg_c
      FROM ideal GROUP BY query_id
    )
    SELECT d.query_id, d.n_graded,
           CASE WHEN i.idcg_c > 0
                THEN round(CAST(d.dcg_c AS DOUBLE)
                           / CAST(i.idcg_c AS DOUBLE), 6)
                ELSE 0.0 END AS ndcg_at_k
    FROM dcg d JOIN idcg i ON i.query_id = d.query_id
    ORDER BY d.query_id
    """,
)
def q_sim_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of the LSH-bucketed search against exact brute force —
    the GRADED companion to q_sim_recall's binary hit rate: recall says
    how many true neighbors the index found; NDCG says whether it put
    the BEST ones first (rel = k+1−exact_rank, log2-position discount,
    normalized by the ideal reordering of what was retrieved).

    Same two-search composition as the recall query; the grading join
    is Q×k rows.  Every DCG term rides a 1e9 carrier (rel and position
    are small exact ints, log2 of identical doubles), so per-query sums
    are order-exact, and the final ratio is one mirrored division.
    """
    exact = eval_exact_topk(spark, sf_dir).select(
        F.col("query_id").alias("eq"), F.col("vec_id").alias("ev"),
        F.col("rk").alias("erk"),
    )
    pred = eval_lsh_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.col("rk").alias("pos")
    )
    graded = pred.join(
        F.broadcast(exact),
        (F.col("eq") == F.col("query_id")) & (F.col("ev") == F.col("vec_id")),
        "left",
    ).select(
        "query_id",
        "pos",
        F.coalesce(F.lit(TOP_K + 1) - F.col("erk"), F.lit(0)).alias("rel"),
    ).localCheckpoint(eager=False)
    term = lambda pos_col: F.floor(
        F.col("rel").cast("double")
        / F.log2((pos_col + 1).cast("double"))
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    dcg = graded.groupBy("query_id").agg(
        F.sum(term(F.col("pos"))).alias("dcg_c"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_graded"),
    )
    wi = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "pos")
    ideal = graded.withColumn("ipos", F.row_number().over(wi))
    idcg = ideal.groupBy(F.col("query_id").alias("qi")).agg(
        F.sum(term(F.col("ipos"))).alias("idcg_c")
    )
    return (
        dcg.join(F.broadcast(idcg), F.col("qi") == F.col("query_id"))
        .select(
            "query_id",
            "n_graded",
            F.when(
                F.col("idcg_c") > 0,
                F.round(
                    F.col("dcg_c").cast("double")
                    / F.col("idcg_c").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg_at_k"),
        )
        .orderBy("query_id")
    )


from data_warehouse_hive_spark.registry import REGISTRY as _REG6  # noqa: E402
from data_warehouse_hive_spark.extensions.similarity import (  # noqa: E402
    _o_lsh_bucket as _olb6,
)

_spec6 = _REG6["q_sim_ndcg"]
object.__setattr__(_spec6, "oracle", _spec6.oracle.format(bucket=_olb6("e")))
del _REG6, _spec6


def _pq_topk_oracle() -> str:
    from data_warehouse_hive_spark.registry import REGISTRY as _R

    return _R["q_sim_search_pq"].oracle


@query(
    "q_sim_recall_pq",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id < {N_QUERY_VECS}),
    exact_scored AS (
      SELECT q.query_id, v.vec_id,
             list_sum(list_transform(range(1, 65), i ->
               CAST(floor((q.qe[i] - v.e[i]) * (q.qe[i] - v.e[i]) * 1e6
                          + 0.5) AS BIGINT))) AS d2s
      FROM q JOIN v ON v.vec_id != q.query_id
    ),
    exact_topk AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY d2s, vec_id) AS rk
        FROM exact_scored
      ) WHERE rk <= {TOP_K}
    ),
    pq_topk AS (
      SELECT query_id, vec_id FROM ({{pq}})
    )
    SELECT e.query_id,
           COUNT(*) AS n_exact,
           CAST(COUNT(p.vec_id) AS BIGINT) AS n_hit,
           CAST(COUNT(p.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS recall_at_k
    FROM exact_topk e
    LEFT JOIN pq_topk p
      ON p.query_id = e.query_id AND p.vec_id = e.vec_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)
def q_sim_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ/ADC quantized index against exact L2 search —
    the eval that closes the PQ loop (q_sim_recall covers the LSH
    index; an index you can't measure you can't ship).  Exact ground
    truth uses the same carrier-quantized squared-distance algebra as
    the PQ oracle, so both sides are engine-identical.

    Shape: ground truth is the broadcast-query brute-force top-k
    (Q×k rows); the approximate side is exactly the registered
    q_sim_search_pq plan; the recall join runs over two Q×k-row lists
    — negligible next to the searches, and at 100 TB ground truth is
    computed once per index build on the bounded query set."""
    from data_warehouse_hive_spark.extensions.similarity import (
        q_sim_search_pq,
    )

    v, q = _fixture_corpus(spark, sf_dir)
    d2 = F.aggregate(
        F.zip_with(
            F.col("qe"),
            F.col("e"),
            lambda a, b: F.floor((a - b) * (a - b) * 1e6 + 0.5).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = v.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id", d2.alias("d2s"))
    w = Window.partitionBy("query_id").orderBy("d2s", "vec_id")
    exact = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id")
    )
    approx = q_sim_search_pq(spark, sf_dir).select(
        F.col("query_id").alias("a_query_id"),
        F.col("vec_id").alias("a_vec_id"),
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("a_query_id"))
            & (F.col("vec_id") == F.col("a_vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("a_vec_id").cast("long").alias("n_hit"),
            (
                F.count("a_vec_id").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def _assemble_recall_pq_oracle() -> None:
    from data_warehouse_hive_spark.registry import REGISTRY as _R

    spec = _R["q_sim_recall_pq"]
    object.__setattr__(
        spec, "oracle", spec.oracle.format(pq=_pq_topk_oracle())
    )


_assemble_recall_pq_oracle()


# ---------------------------------------------------------------------------
# MRR / MAP: the other two standard ranking-quality metrics
# ---------------------------------------------------------------------------

_O_EVAL_LISTS = f"""
    v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {{nq}}),
    exact_scored AS (
      SELECT q.query_id, v.vec_id,
             round(list_dot_product(q.qe, v.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
      FROM q JOIN v ON v.vec_id != q.query_id
    ),
    exact_topk AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM exact_scored
      ) WHERE rk <= {{k}}
    ),
    vb AS (SELECT *, {{bucket}} AS bucket FROM v),
    qb AS (SELECT vec_id AS query_id, e AS qe, bucket
           FROM vb WHERE vec_id < {{nq}}),
    lsh_scored AS (
      SELECT qb.query_id, vb.vec_id,
             round(list_dot_product(qb.qe, vb.e)
                   / (sqrt(list_dot_product(qb.qe, qb.qe))
                      * sqrt(list_dot_product(vb.e, vb.e))), 6) AS cosine
      FROM qb JOIN vb ON vb.bucket = qb.bucket AND vb.vec_id != qb.query_id
    ),
    lsh_topk AS (
      SELECT query_id, vec_id, CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM lsh_scored
      ) WHERE rk <= {{k}}
    )
"""


def _eval_lists(spark: SparkSession, sf_dir: str):
    """Shared eval fixture: (exact ground-truth top-k, LSH ranked top-k),
    session-memoized by similarity.eval_exact_topk / eval_lsh_topk."""
    exact = eval_exact_topk(spark, sf_dir).select("query_id", "vec_id")
    ranked = eval_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("l_query_id"),
        F.col("vec_id").alias("l_vec_id"),
        F.col("rk").cast("long").alias("rk"),
    )
    return exact, ranked


@query(
    "q_sim_mrr",
    oracle=f"""
    WITH {_O_EVAL_LISTS.format(nq=N_QUERY_VECS, k=TOP_K,
                               bucket=_o_lsh_bucket('e'))}
    SELECT e.query_id,
           MIN(l.rk) AS first_hit_rank,
           round(coalesce(1.0 / MIN(l.rk), 0.0), 6) AS rr
    FROM exact_topk e LEFT JOIN lsh_topk l
      ON l.query_id = e.query_id AND l.vec_id = e.vec_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)
def q_sim_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the approximate index per query: 1/rank of the
    FIRST relevant result in the LSH ranking (relevant = exact top-k) —
    the metric that matters when the consumer only reads the top of the
    list (retrieval-augmented sampling, link suggestions).  The fleet
    mean of `rr` is MRR@k; per-query rows keep the distribution visible
    (a great mean can hide dead queries, which show up here as rr=0).

    Same Q×k-bounded composition as q_sim_recall: both sides end in
    per-query candidate lists, the join key is (query_id, vec_id), and
    the aggregate is per query — nothing global, nothing corpus-wide
    beyond the two searches themselves.  rr is one reciprocal of a small
    integer, identical IEEE both engines.
    """
    exact, ranked = _eval_lists(spark, sf_dir)
    return (
        exact.join(
            ranked,
            (F.col("query_id") == F.col("l_query_id"))
            & (F.col("vec_id") == F.col("l_vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.min("rk").alias("first_hit_rank"),
            F.round(
                F.coalesce(F.lit(1.0) / F.min("rk"), F.lit(0.0)), 6
            ).alias("rr"),
        )
        .orderBy("query_id")
    )


@query(
    "q_sim_map",
    oracle=f"""
    WITH {_O_EVAL_LISTS.format(nq=N_QUERY_VECS, k=TOP_K,
                               bucket=_o_lsh_bucket('e'))},
    flagged AS (
      SELECT l.query_id, l.rk,
             CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM lsh_topk l LEFT JOIN exact_topk e
        ON e.query_id = l.query_id AND e.vec_id = l.vec_id
    ),
    prec AS (
      SELECT query_id, hit,
             CAST(floor((CAST(SUM(hit) OVER (PARTITION BY query_id
                                             ORDER BY rk) AS DOUBLE) / rk)
                        * 1e9 + 0.5) AS BIGINT) AS pq
      FROM flagged
    ),
    nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
             FROM exact_topk GROUP BY query_id)
    SELECT n.query_id,
           CAST(coalesce(SUM(p.hit), 0) AS BIGINT) AS n_hits,
           round(coalesce(CAST(SUM(CASE WHEN p.hit = 1 THEN p.pq END)
                               AS DOUBLE), 0.0)
                 / 1e9 / LEAST(n.n_rel, {TOP_K}), 6) AS ap
    FROM nrel n LEFT JOIN prec p ON p.query_id = n.query_id
    GROUP BY n.query_id, n.n_rel
    ORDER BY n.query_id
    """,
)
def q_sim_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision of the approximate index per query: mean of
    precision@i over the ranks i where the LSH list hits a relevant doc
    (relevant = exact top-k), normalized by min(k, |relevant|).  The
    fleet mean is MAP@k — the order-sensitive complement to recall@k
    (recall counts hits; AP penalizes burying them low in the list).

    Plan: LSH list LEFT JOINs the ground-truth set on (query_id,
    vec_id), a per-query running-hit window over ≤k rows computes
    precision@i, and each precision is quantized to a 1e9 long before
    the per-query sum (integer adds, partition-proof).  All windows
    partition by query_id; everything after the two searches is Q×k.
    """
    exact, ranked = _eval_lists(spark, sf_dir)
    flagged = ranked.join(
        exact,
        (F.col("query_id") == F.col("l_query_id"))
        & (F.col("vec_id") == F.col("l_vec_id")),
        "left",
    ).select(
        F.col("l_query_id").alias("fq"),
        "rk",
        F.when(F.col("vec_id").isNotNull(), 1).otherwise(0).alias("hit"),
    )
    wq = Window.partitionBy("fq").orderBy("rk")
    prec = flagged.select(
        "fq",
        "hit",
        F.floor(
            (F.sum("hit").over(wq).cast("double") / F.col("rk")) * 1e9 + 0.5
        )
        .cast("long")
        .alias("pq"),
    )
    nrel = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rel")
    )
    return (
        nrel.join(prec, F.col("fq") == F.col("query_id"), "left")
        .groupBy("query_id", "n_rel")
        .agg(
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("hit") == 1, F.col("pq"))).cast(
                        "double"
                    ),
                    F.lit(0.0),
                )
                / 1e9
                / F.least(F.col("n_rel"), F.lit(TOP_K)),
                6,
            ).alias("ap"),
        )
        .select("query_id", "n_hits", "ap")
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Pseudo-relevance feedback (RM3-style query expansion over BM25)
# ---------------------------------------------------------------------------

PRF_FB_DOCS = 3  # feedback depth: top documents assumed relevant
PRF_FB_TERMS = 5  # expansion terms mined from the feedback docs
PRF_WEIGHT = 0.5  # expansion-term weight (originals weigh 1.0)


@query(
    "q_retrieval_prf",
    oracle=f"""
    WITH {_O_BM25_BODY},
    fb AS (
      SELECT query_id, doc_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id) AS rk
        FROM bm25
      ) WHERE rk <= {PRF_FB_DOCS}
    ),
    exp_scores AS (
      SELECT f.query_id, p.term,
             CAST(SUM(CAST(floor(p.tf * i.idf * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS eq
      FROM fb f
      JOIN postings p ON p.doc_id = f.doc_id
      JOIN idf i ON i.term = p.term
      LEFT JOIN qterms o ON o.query_id = f.query_id AND o.term = p.term
      WHERE o.term IS NULL
      GROUP BY f.query_id, p.term
    ),
    expn AS (
      SELECT query_id, term FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY eq DESC, term) AS rk
        FROM exp_scores
      ) WHERE rk <= {PRF_FB_TERMS}
    ),
    wq AS (
      SELECT query_id, term, 1.0 AS wt FROM qterms
      UNION ALL
      SELECT query_id, term, {PRF_WEIGHT} AS wt FROM expn
    ),
    prf_term_scores AS (
      SELECT q.query_id, p.doc_id,
             CAST(floor(
               q.wt * i.idf * (p.tf * ({BM25_K1} + 1.0))
                 / (p.tf + {BM25_K1} * (1.0 - {BM25_B}
                    + {BM25_B} * d.dl / (SELECT avgdl FROM stats)))
               * 1e6 + 0.5) AS BIGINT) AS sc
      FROM wq q
      JOIN postings p ON p.term = q.term AND p.doc_id != q.query_id
      JOIN idf i ON i.term = q.term
      JOIN dl d ON d.doc_id = p.doc_id
    ),
    prf AS (
      SELECT query_id, doc_id,
             CAST(SUM(sc) AS DOUBLE) / 1e6 AS prf_score,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM prf_term_scores GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, prf_score, n_terms, rk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY prf_score DESC, doc_id) AS BIGINT) AS rk
      FROM prf
    ) WHERE rk <= {RETR_TOP}
    ORDER BY query_id, rk
    """,
)
def q_retrieval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (RM3-style): run BM25, ASSUME the top
    {PRF_FB_DOCS} documents are relevant, mine their {PRF_FB_TERMS}
    highest tf·idf terms the query didn't already contain, and rescore
    with the expanded weighted query (originals 1.0, expansions
    {PRF_WEIGHT}) — the classic zero-training recall booster (a query
    about 'engines' pulls in docs saying 'motors') that every Lucene/
    Terrier stack ships, and the lexical complement to the dense-side
    q_sim_multiprobe expansion.

    Scale shape: one inverted-index build feeds BOTH rounds (the
    checkpointed postings relation — the expensive part does not run
    twice); the feedback mining joins the Q×{PRF_FB_DOCS} doc list back
    to postings on doc_id, and the second scoring pass is the same
    term-keyed postings join as the first with a Q×(|q|+{PRF_FB_TERMS})
    term set.  Weighted per-term scores quantize to the 1e6 carrier
    before the per-doc sum; idf is pinned at 9 dp.
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    postings = (
        d.select(
            "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_rel = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_rel.crossJoin(F.broadcast(stats)).select(
        "term",
        F.round(
            F.log(
                ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                + 1.0
            ),
            9,
        ).alias("idf"),
        "avgdl",
    )
    qterms = postings.filter(F.col("doc_id") < N_QUERY_DOCS).select(
        F.col("doc_id").alias("query_id"), "term"
    )

    def score_pass(weighted_terms: DataFrame) -> DataFrame:
        """BM25 scoring of (query_id, term, wt) against the postings."""
        denom = F.col("tf") + BM25_K1 * (
            1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
        )
        ts = (
            weighted_terms.join(
                postings.withColumnRenamed("doc_id", "cand_id"), "term"
            )
            .filter(F.col("cand_id") != F.col("query_id"))
            .join(idf, "term")
            .join(dl.withColumnRenamed("doc_id", "cand_id"), "cand_id")
            .select(
                "query_id",
                F.col("cand_id").alias("doc_id"),
                F.floor(
                    F.col("wt")
                    * F.col("idf")
                    * (F.col("tf") * (BM25_K1 + 1.0))
                    / denom
                    * 1e6
                    + 0.5
                )
                .cast("long")
                .alias("sc"),
            )
        )
        return ts.groupBy("query_id", "doc_id").agg(
            (F.sum("sc").cast("double") / 1e6).alias("prf_score"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )

    base = score_pass(qterms.withColumn("wt", F.lit(1.0)))
    wfb = Window.partitionBy("query_id").orderBy(
        F.col("prf_score").desc(), "doc_id"
    )
    fb = (
        base.withColumn("rk", F.row_number().over(wfb))
        .filter(F.col("rk") <= PRF_FB_DOCS)
        .select("query_id", F.col("doc_id").alias("fb_doc"))
    )
    exp_scores = (
        fb.join(
            postings.withColumnRenamed("doc_id", "fb_doc"), "fb_doc"
        )
        .join(idf.select("term", "idf"), "term")
        .join(
            qterms.withColumnRenamed("term", "o_term"),
            (F.col("o_term") == F.col("term"))
            & (qterms["query_id"] == fb["query_id"]),
            "left_anti",
        )
        .groupBy("query_id", "term")
        .agg(
            F.sum(
                F.floor(F.col("tf") * F.col("idf") * 1e6 + 0.5).cast("long")
            )
            .cast("long")
            .alias("eq")
        )
    )
    wex = Window.partitionBy("query_id").orderBy(F.col("eq").desc(), "term")
    expn = (
        exp_scores.withColumn("rk", F.row_number().over(wex))
        .filter(F.col("rk") <= PRF_FB_TERMS)
        .select("query_id", "term")
    )
    expanded = qterms.withColumn("wt", F.lit(1.0)).unionByName(
        expn.withColumn("wt", F.lit(PRF_WEIGHT))
    )
    prf = score_pass(expanded)
    wr = Window.partitionBy("query_id").orderBy(
        F.col("prf_score").desc(), "doc_id"
    )
    return (
        prf.withColumn("rk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rk") <= RETR_TOP)
        .orderBy("query_id", "rk")
    )


QL_MU = 100.0  # Dirichlet prior mass; ~avg doc length for this corpus


@query(
    "q_text_dirichlet_ql",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM words WHERE term != '' GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM postings GROUP BY doc_id),
    cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf
           FROM postings GROUP BY term),
    coll AS (SELECT CAST(SUM(dl) AS BIGINT) AS c FROM dl),
    qterms AS (
      SELECT doc_id AS query_id, term, tf AS qtf
      FROM postings WHERE doc_id < {N_QUERY_DOCS}
    ),
    qlen AS (
      SELECT query_id, CAST(SUM(qtf) AS BIGINT) AS ql
      FROM qterms GROUP BY query_id
    ),
    matched AS (
      SELECT q.query_id, p.doc_id,
             CAST(SUM(CAST(floor(
               q.qtf * ln(1.0 + p.tf
                 / ({QL_MU!r} * (CAST(f.cf AS DOUBLE)
                                 / (SELECT c FROM coll))))
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS m6,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM qterms q
      JOIN postings p ON p.term = q.term AND p.doc_id != q.query_id
      JOIN cf f ON f.term = q.term
      GROUP BY q.query_id, p.doc_id
    ),
    scored AS (
      SELECT m.query_id, m.doc_id, m.n_terms,
             (CAST(m.m6
               + CAST(floor(l.ql * ln({QL_MU!r} / (d.dl + {QL_MU!r}))
                            * 1e6 + 0.5) AS BIGINT) AS DOUBLE)) / 1e6
               AS ql_score
      FROM matched m
      JOIN dl d ON d.doc_id = m.doc_id
      JOIN qlen l ON l.query_id = m.query_id
    )
    SELECT query_id, doc_id, round(ql_score, 6) AS ql_score, n_terms, rk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY ql_score DESC, doc_id) AS BIGINT) AS rk
      FROM scored
    ) WHERE rk <= {RETR_TOP}
    """,
)
def q_text_dirichlet_ql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    μ={QL_MU:.0f}): the language-modeling ranker next to q_text_bm25's
    probabilistic one — the two classic lexical baselines every hybrid
    stack fuses.  Uses the rank-equivalent decomposition
    score = Σ_t qtf·ln(1 + tf/(μ·p(t|C))) + |q|·ln(μ/(dl+μ)), which
    touches only MATCHED postings plus a per-document length penalty —
    never the full vocabulary per document.

    Scale shape is the bm25 plan verbatim: term-partitioned postings,
    query-terms ⋈ postings on the term key, vocab-sized collection-
    frequency broadcast, per-(query,doc) accumulation on bounded
    candidates.  Per-term scores and the length penalty are pinned onto
    1e6 carrier grids so the cross-term sum is order-exact; candidates
    are documents matching ≥1 query term (the standard pruning — the
    length penalty is shared by all survivors)."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    postings = (
        d.select(
            "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    cf = postings.groupBy("term").agg(F.sum("tf").cast("long").alias("cf"))
    coll = dl.agg(F.sum("dl").cast("long").alias("c"))
    qterms = postings.filter(F.col("doc_id") < N_QUERY_DOCS).select(
        F.col("doc_id").alias("query_id"), "term", F.col("tf").alias("qtf")
    )
    qlen = qterms.groupBy("query_id").agg(
        F.sum("qtf").cast("long").alias("ql")
    )
    matched = (
        qterms.join(
            postings.withColumnRenamed("doc_id", "cand_id"), "term"
        )
        .filter(F.col("cand_id") != F.col("query_id"))
        .join(cf, "term")
        .crossJoin(F.broadcast(coll))
        .select(
            "query_id",
            F.col("cand_id").alias("doc_id"),
            F.floor(
                F.col("qtf")
                * F.log(
                    1.0
                    + F.col("tf")
                    / (
                        QL_MU
                        * (F.col("cf").cast("double") / F.col("c"))
                    )
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("t6"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("t6").cast("long").alias("m6"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )
    scored = (
        matched.join(dl, "doc_id")
        .join(F.broadcast(qlen), "query_id")
        .select(
            "query_id",
            "doc_id",
            "n_terms",
            (
                (
                    F.col("m6")
                    + F.floor(
                        F.col("ql")
                        * F.log(QL_MU / (F.col("dl") + QL_MU))
                        * 1e6
                        + 0.5
                    ).cast("long")
                ).cast("double")
                / 1e6
            ).alias("ql_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ql_score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= RETR_TOP)
        .select(
            "query_id",
            "doc_id",
            F.round("ql_score", 6).alias("ql_score"),
            "n_terms",
            "rk",
        )
    )
