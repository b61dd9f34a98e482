"""Similarity search over `embeddings` — SURVEY.md §2.12 north-star.

Three tiers, mirroring production vector-search architecture, exposed as
reusable DataFrame→DataFrame functions (`brute_force_topk`, `ivf_topk`,
`lsh_topk`) plus registry-checked queries over the fixture table:

  brute force  — exact top-k cosine for a bounded query set: broadcast
                 the Q query vectors against the corpus (corpus never
                 shuffles; per-partition local top-k via window rank).
                 Cost O(N·Q·d) map-side — the correctness baseline any
                 ANN recall is measured against.
  IVF          — two-stage search: coarse cells with decimal-anchored
                 exact centroids; probe the nearest `n_probe` cell(s)
                 only.  At 100 TB the cell id is the partition key, so a
                 query touches n_probe/K of the data.  Recall depends on
                 how well cells capture neighborhood structure: with the
                 planted-cluster test fixture recall ≈ 1.0; with the
                 driver fixture's *random* labels it degrades to
                 ~|cell|/N by construction (documented, tested).
  LSH buckets  — random-hyperplane signature buckets (tier 3, below):
                 bucket id is the shuffle key; a query probes ~N/2^bits
                 of the corpus.  Signature bits are carrier-quantized so
                 bucketing itself is oracle-checkable.

Dot products use `F.zip_with` + left-fold `F.aggregate` (JVM-side, no
Python); cosines are rounded to 6 dp before ranking/thresholding so both
engines rank identical values (fold order inside an engine is sequential
but FMA/vectorization could differ in the last ulp).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from data_warehouse_hive_spark.registry import query
from data_warehouse_hive_spark.tables import session_memo, spread, t, table_path

N_QUERY_VECS = 5  # vec_id < 5 are the query set in the fixtures
TOP_K = 10


def as_double_vec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(x: Column, y: Column) -> Column:
    """JVM-side dot product: zip_with multiply + sequential left fold."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(x: Column, y: Column, dp: int = 6) -> Column:
    return F.round(dot(x, y) / (F.sqrt(dot(x, x)) * F.sqrt(dot(y, y))), dp)


def _with_norms(v: DataFrame, q: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Hoist self-norms to one column per vector: the interpreted dot()
    otherwise runs THREE times per scored pair (dot + both self-dots) —
    per-vector hoisting cuts 2/3 of the lambda work.  Same values, same
    rounded cosines (sqrt of the same input is the same double)."""
    return (
        v.withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e")))),
        q.withColumn("qnrm", F.sqrt(dot(F.col("qe"), F.col("qe")))),
    )


def _pair_cosine(dp: int = 6) -> Column:
    return F.round(
        dot(F.col("qe"), F.col("e")) / (F.col("qnrm") * F.col("nrm")), dp
    )


def brute_force_topk(v: DataFrame, q: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact top-k cosine: v=(vec_id, label, e) corpus, q=(query_id, qe)
    queries (small, broadcast).  Rank filter plans as WindowGroupLimit —
    each partition keeps only k rows per query before the shuffle."""
    v, q = _with_norms(v, q)
    scored = v.join(broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", "label", _pair_cosine().alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


def cell_centroids(v: DataFrame, cell_col: str = "label") -> DataFrame:
    """Exact per-cell centroids: explode to (cell, pos, val), decimal-mean
    (order-independent, engine-exact), re-pack ordered by pos."""
    elems = v.select(F.col(cell_col).alias("cell"), F.posexplode("e").alias("pos", "val"))
    per_dim = elems.groupBy("cell", "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("cval")
    )
    return (
        per_dim.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pv"))
        .select("cell", F.transform("pv", lambda s: s.cval).alias("ce"))
    )


def ivf_topk(
    v: DataFrame, q: DataFrame, k: int = TOP_K, n_probe: int = 1, cell_col: str = "label"
) -> DataFrame:
    """IVF-style ANN: route each query to its nearest `n_probe` cell
    centroids, exact top-k within the probed cells only."""
    cents = cell_centroids(v, cell_col)
    wq = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cell"))
    probes = (
        q.crossJoin(broadcast(cents))
        .select("query_id", "cell", cosine(F.col("qe"), F.col("ce")).alias("ccos"))
        .withColumn("crk", F.row_number().over(wq))
        .filter(F.col("crk") <= n_probe)
        .select("query_id", F.col("cell").alias("probe_cell"))
    )
    v, q = _with_norms(v, q)
    scored = (
        q.join(broadcast(probes), "query_id")
        .join(
            v,
            (F.col(cell_col) == F.col("probe_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", "label", _pair_cosine().alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


def _fixture_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    # corpus side is spread (the interpreted zip_with/aggregate dot
    # products run in the scan stage otherwise — see tables.spread); the
    # query side re-scans with the vec_id predicate pushed down, so the
    # tiny broadcast build never waits on the corpus shuffle
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    q = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"), as_double_vec("embedding").alias("qe")
        )
    )
    return v, q


@query(
    "q_sim_search",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
    scored AS (
      SELECT q.query_id, v.vec_id, v.label,
             round(list_dot_product(q.qe, v.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
      FROM q JOIN v ON v.vec_id != q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM scored
    )
    SELECT query_id, vec_id, label, cosine, rk
    FROM ranked WHERE rk <= {TOP_K}
    """,
)
def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k cosine search: Q=5 query vectors broadcast
    against the corpus, per-query top-10 via window rank (rounded-cosine
    order with vec_id tiebreak → fully deterministic result set)."""
    v, q = _fixture_corpus(spark, sf_dir)
    return brute_force_topk(v, q, TOP_K)


@query(
    "q_sim_search_ivf",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    elems AS (
      SELECT v.label AS cell, u.pos, u.val
      FROM v, LATERAL (SELECT unnest(v.e) AS val,
                              unnest(range(len(v.e))) AS pos) u
    ),
    centroids AS (
      SELECT cell, pos,
             CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS cval
      FROM elems GROUP BY cell, pos
    ),
    cent_vecs AS (
      SELECT cell, list(cval ORDER BY pos) AS ce FROM centroids GROUP BY cell
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
    cell AS (
      SELECT query_id, cell AS probe_cell
      FROM (
        SELECT q.query_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(q.qe, c.ce)
                       / (sqrt(list_dot_product(q.qe, q.qe))
                          * sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
                 c.cell) AS crk
        FROM q CROSS JOIN cent_vecs c
      ) WHERE crk <= 1
    ),
    scored AS (
      SELECT q.query_id, v.vec_id, v.label,
             round(list_dot_product(q.qe, v.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
      FROM q
      JOIN cell ON cell.query_id = q.query_id
      JOIN v ON v.label = cell.probe_cell AND v.vec_id != q.query_id
    )
    SELECT query_id, vec_id, label, cosine, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN over the fixture table: (1) exact decimal-anchored
    centroid per label cell, (2) route each query to its nearest centroid,
    (3) exact top-k within that single cell — each query scans 1/|cells|
    of the corpus (the scale path).

    NOTE: the driver fixture's labels are random, not learned clusters, so
    recall vs brute force is ≈ |cell|/N here by construction; the
    planted-cluster test in tests/test_extensions.py shows the same
    operator at ≈1.0 recall when cells reflect real structure (production
    uses k-means cells).  The oracle checks the *algebra* end-to-end."""
    v, q = _fixture_corpus(spark, sf_dir)
    return ivf_topk(v, q, TOP_K, n_probe=1)


# ---------------------------------------------------------------------------
# Tier 3: LSH-bucketed ANN (random-hyperplane signatures)
# ---------------------------------------------------------------------------

import hashlib

LSH_BITS = 4  # 2^4 buckets; production: more bits + banded multi-probe
EMB_DIM = 64


def _hyperplane(j: int, dim: int = EMB_DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane weights in [-1, 1), derived
    driver-side from md5 so BOTH engines receive the identical literal
    array — no engine hash function is involved at all."""
    return [
        int(hashlib.md5(f"lsh_{j}_{i}".encode()).hexdigest()[:8], 16) / 2**31 - 1.0
        for i in range(dim)
    ]


def lsh_bucket_col(e: Column) -> Column:
    """4-bit random-hyperplane signature of a vector column.

    Each bit is sign(Σ_i e_i·w_ji) — but the raw double fold's sign could
    flip between engines on near-orthogonal vectors (fold order differs in
    the last ulp), so each TERM is quantized through the scaled-long
    carrier first: floor(e_i·w_ji·1e6+0.5) summed as integers.  The sign
    test is then on an exact integer — identical buckets by construction.
    (64 terms × |term| ≤ 1e6 ≈ 6.4e7 ≪ 2^63: no overflow at any dim that
    fits a bucket key.)
    """
    bits = []
    for j in range(LSH_BITS):
        w = F.array(*[F.lit(x) for x in _hyperplane(j)])
        term_sum = F.aggregate(
            F.zip_with(e, w, lambda a, b: F.floor(a * b * 1e6 + 0.5).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(term_sum >= 0, F.lit(2**j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def _o_lsh_bucket(e_expr: str) -> str:
    """DuckDB twin of lsh_bucket_col — identical weight literals,
    identical carrier algebra."""
    parts = []
    for j in range(LSH_BITS):
        w = "[" + ", ".join(repr(x) for x in _hyperplane(j)) + "]"
        parts.append(
            f"(CASE WHEN list_sum(list_transform(range(1, {EMB_DIM} + 1),"
            f" i -> CAST(floor(({e_expr})[i] * ({w})[i] * 1e6 + 0.5) AS BIGINT)"
            f")) >= 0 THEN {2**j} ELSE 0 END)"
        )
    return "CAST((" + " + ".join(parts) + ") AS BIGINT)"


def lsh_topk(v: DataFrame, q: DataFrame, k: int = TOP_K) -> DataFrame:
    """LSH-bucketed ANN: candidates = corpus vectors sharing the query's
    signature bucket; exact top-k cosine within the bucket.  At 100 TB
    the bucket id is the partition key — each query touches ~N/2^bits of
    the corpus, and the bucket equi-join shuffles on a uniform key."""
    v, q = _with_norms(v, q)
    vb = v.withColumn("bucket", lsh_bucket_col(F.col("e")))
    qb = q.withColumn("qbucket", lsh_bucket_col(F.col("qe")))
    scored = vb.join(
        broadcast(qb),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id", "label", _pair_cosine().alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


@query(
    "q_sim_search_lsh",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    vb AS (SELECT *, {_o_lsh_bucket('e')} AS bucket FROM v),
    q AS (SELECT vec_id AS query_id, e AS qe, bucket
          FROM vb WHERE vec_id < {N_QUERY_VECS}),
    scored AS (
      SELECT q.query_id, vb.vec_id, vb.label,
             round(list_dot_product(q.qe, vb.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(vb.e, vb.e))), 6) AS cosine
      FROM q JOIN vb ON vb.bucket = q.bucket AND vb.vec_id != q.query_id
    )
    SELECT query_id, vec_id, label, cosine, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def q_sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (tier 3, next to brute force and IVF): 4-bit
    random-hyperplane signature → bucket equi-join → exact top-k cosine
    inside the bucket.  Hyperplanes are md5-derived driver-side literals
    and every sign test runs on carrier-quantized integer sums, so the
    whole pipeline — bucketing included — is value-checked against the
    DuckDB oracle.  Recall-vs-cost on planted clusters is covered in
    tests/test_extensions.py for IVF; LSH recall rises with bits/probes
    (production: banded multi-probe, same shape as q_dedup_minhash)."""
    v, q = _fixture_corpus(spark, sf_dir)
    return lsh_topk(v, q, TOP_K)


# ---------------------------------------------------------------------------
# Arrow-vectorized brute force (the Python-side scale path)
# ---------------------------------------------------------------------------


def brute_force_topk_arrow(v: DataFrame, q: DataFrame, k: int = TOP_K) -> DataFrame:
    """Same semantics as `brute_force_topk`, computed as numpy matrix
    products inside `mapInPandas` (Arrow batches in, BLAS dot out).

    The JVM fold (`zip_with` + `aggregate`) is interpreted per element;
    when the per-row arithmetic dominates (high dim × many queries), a
    batched `corpus_block @ query_matrix.T` is the faster shape and the
    canonical pattern for embedding workloads Spark builtins can't
    vectorize.  The bounded query set (Q rows) rides into the closure —
    the corpus still never shuffles; per-partition top-k then one final
    window, exactly like the JVM version."""
    import numpy as np
    import pandas as pd

    qrows = q.collect()  # bounded: the query set is Q rows by contract
    q_ids = np.array([r.query_id for r in qrows], dtype=np.int64)
    q_mat = np.array([r.qe for r in qrows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            emb = np.stack(pdf["e"].to_numpy())
            emb_n = emb / np.linalg.norm(emb, axis=1, keepdims=True)
            cos = emb_n @ q_norm.T  # (batch, Q)
            n, nq = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(q_ids, n),
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nq),
                    "label": np.repeat(pdf["label"].to_numpy(), nq),
                    "cosine": np.round(cos.reshape(-1), 6),
                }
            )

    scored = v.mapInPandas(
        score, schema="query_id long, vec_id long, label int, cosine double"
    ).filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


@query(
    "q_dedup_embedding_lsh",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    vb AS (SELECT *, {_o_lsh_bucket('e')} AS bucket FROM v),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM vb a JOIN vb b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine
    FROM pairs
    WHERE cosine >= 0.2
    """,
)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with UNSUPERVISED blocking: random-hyperplane
    LSH buckets replace the label column as the block key, so the
    pairwise cosine runs only within buckets — the no-labels scale path
    (q_dedup_embedding's label blocking assumes a partition key exists;
    this derives one from the vectors themselves).  Same carrier-exact
    bucket bits as q_sim_search_lsh, so blocking is oracle-checked;
    near-identical vectors agree on every hyperplane sign and always
    share a bucket, which is what makes LSH blocking recall-safe for
    near-dup thresholds close to 1."""
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        ),
        spark,
    ).withColumn("bucket", lsh_bucket_col(F.col("e"))).withColumn(
        "nrm", F.sqrt(dot(F.col("e"), F.col("e")))
    )
    a = v.select(
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("bucket").alias("bucket_b"),
    )
    cosine = F.round(
        dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        # production threshold would be ~0.95+; the fixture's random
        # vectors have no true near-dups, so the checkable surface is the
        # blocking + cosine algebra at a threshold that yields rows
        .filter(F.col("cosine") >= 0.2)
    )


@query(
    "q_embed_centroids",
    oracle="""
    WITH pairs AS (
      SELECT label,
             unnest(list_transform(range(1, len(embedding) + 1),
                    i -> {'dim': i - 1, 'v': embedding[i]})) AS u
      FROM embeddings
    ),
    elems AS (
      SELECT label, u.dim AS dim, CAST(u.v AS DOUBLE) AS v FROM pairs
    )
    SELECT label, dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(floor(v * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6
             / CAST(COUNT(v) AS DOUBLE) AS centroid
    FROM elems
    GROUP BY label, dim
    """,
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors, one row per (label, dimension) — the
    k-means E-step / class-prototype computation over a tensor column.

    posexplode flattens (vector → dim rows) map-side; the only shuffle is
    the partial+final agg on the tiny (label, dim) key domain, so shuffled
    volume is O(labels × dims × partitions) — independent of corpus size.
    Element means ride the exact scaled-long carrier (float32 → float64
    widening is exact in both engines), so centroids are bit-identical
    cross-engine.  The flat (label, dim, centroid) layout IS the
    broadcast-ready form the IVF router consumes."""
    e = t(spark, sf_dir, "embeddings").select("label", "embedding")
    elems = e.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "v")
    ).select("label", "dim", F.col("v").cast("double").alias("v"))
    return elems.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (
            F.sum(F.floor(F.col("v") * 1e6 + 0.5).cast("long")).cast("double")
            / 1e6
            / F.count("v").cast("double")
        ).alias("centroid"),
    )


# ---------------------------------------------------------------------------
# k-NN graph construction (SemDeDup / clustering substrate)
# ---------------------------------------------------------------------------

KNN_K = 3


@query(
    "q_embed_knn",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    vb AS (SELECT *, {_o_lsh_bucket('e')} AS bucket FROM v),
    scored AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
    )
    SELECT vec_id, neighbor_id, cosine, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {KNN_K}
    """,
)
def q_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN GRAPH over the whole embedding corpus (every
    vector's top-{KNN_K} neighbors within its LSH bucket) — the substrate
    for SemDeDup-style semantic dedup, graph clustering, and label
    propagation, where the query set IS the corpus.

    Unlike the query-broadcast searches (q_sim_search*), this is a bucket
    SELF-join: both sides shuffle on the uniform bucket key and pairs
    expand inside each bucket only — all-pairs never materializes.  At
    100 TB the knobs are bits (bucket count) and banding, exactly as in
    q_dedup_minhash; the top-k rank filter plans as WindowGroupLimit so
    each task keeps k rows per vector before the final shuffle.
    """
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    vb = v.withColumn("bucket", lsh_bucket_col(F.col("e"))).withColumn(
        "nrm", F.sqrt(dot(F.col("e"), F.col("e")))
    )
    other = vb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ne"),
        F.col("bucket").alias("nbucket"),
        F.col("nrm").alias("nnrm"),
    )
    scored = vb.join(
        other,
        (F.col("bucket") == F.col("nbucket"))
        & (F.col("vec_id") != F.col("neighbor_id")),
    ).select(
        "vec_id",
        "neighbor_id",
        F.round(
            dot(F.col("e"), F.col("ne")) / (F.col("nrm") * F.col("nnrm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= KNN_K
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup shape): embedding near-dup graph → components
# ---------------------------------------------------------------------------

SEMANTIC_COS = 0.2  # production ~0.95+; fixture vectors are random (see
                    # q_dedup_embedding_lsh) so the checkable surface is
                    # the composed pipeline at a threshold that yields rows


@query(
    "q_dedup_semantic",
    oracle=f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    vb AS (SELECT *, {_o_lsh_bucket('e')} AS bucket FROM v),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM vb a JOIN vb b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e))
                     * sqrt(list_dot_product(b.e, b.e))), 6) >= {SEMANTIC_COS}
    ),
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION ALL
      SELECT vec_b, vec_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS v FROM edges),
    reach(v, r) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.v
    )
    SELECT CAST(v AS BIGINT) AS vec_id,
           CAST(MIN(r) AS BIGINT) AS group_id,
           (CAST(v AS BIGINT) = CAST(MIN(r) AS BIGINT)) AS is_survivor
    FROM reach GROUP BY v
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup, end to end: unsupervised LSH
    blocking → within-bucket cosine threshold (the near-dup edge set of
    q_dedup_embedding_lsh) → connected components (the iterative
    min-label machinery of q_dedup_groups) → one survivor per semantic
    cluster (the component's min vec_id).

    This is the embedding-space twin of the MinHash text pipeline
    (candidates → verify → groups → survivors) — the two compose into
    the standard two-pass dedup: lexical first (cheap, high precision),
    then semantic over the survivors (catches paraphrases MinHash cannot
    see).  Scale: bucket self-join + diameter-bounded label propagation;
    no all-pairs stage anywhere.
    """
    from data_warehouse_hive_spark.extensions.dedup import min_label_propagation

    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        ),
        spark,
    ).withColumn("bucket", lsh_bucket_col(F.col("e"))).withColumn(
        "nrm", F.sqrt(dot(F.col("e"), F.col("e")))
    )
    a = v.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
        F.col("nrm").alias("nb"), F.col("bucket").alias("bucket_b"),
    )
    cosine = F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
    pairs = (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .filter(cosine >= SEMANTIC_COS)
        .select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    )
    labels, _ = min_label_propagation(pairs)
    return labels.select(
        F.col("doc").alias("vec_id"),
        "group_id",
        (F.col("doc") == F.col("group_id")).alias("is_survivor"),
    )


# ---------------------------------------------------------------------------
# Unsupervised clustering: Lloyd's k-means, engine-exact
# ---------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ITERS = 2


def _d2q(e: Column, ce: Column) -> Column:
    """Carrier-quantized squared L2 distance: each per-dim term
    floor((a-b)²·1e6+0.5) is an exact long, so the cross-dim sum is
    associative integer addition — identical in any engine and any
    evaluation order (the lsh_bucket_col sign-test rule, applied to
    distances)."""
    return F.aggregate(
        F.zip_with(e, ce, lambda a, b: F.floor((a - b) * (a - b) * 1e6 + 0.5).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _kmeans_assign(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: K is small by contract, so the
    centroid table broadcasts and the argmin is a per-row window over K
    candidates (tie → lowest cid)."""
    w = Window.partitionBy("vec_id").orderBy("d2q", "cid")
    return (
        v.crossJoin(broadcast(cents))
        .withColumn("d2q", _d2q(F.col("e"), F.col("ce")))
        .withColumn("ark", F.row_number().over(w))
        .filter(F.col("ark") == 1)
        .select("vec_id", "e", "cid", "d2q")
    )


def kmeans_converged(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The converged k-means state: (assignment, centroids) after
    KMEANS_ITERS update rounds + final assignment.  Assignment columns:
    (vec_id, e, cid, d2q); centroid columns: (cid, ce).  Deterministic
    end to end (first-K init, carrier distances, decimal means), so
    caching cannot change any dependent query's result: clustering and
    every evaluation query over it share ONE Lloyd's loop per session."""
    return session_memo(
        spark, ("kmeans", sf_dir), lambda: _kmeans_build(spark, sf_dir),
        reads=(table_path(sf_dir, "embeddings"),),
    )


def _kmeans_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    cents = v.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    for _ in range(KMEANS_ITERS):
        a = _kmeans_assign(v, cents)
        cents = (
            cell_centroids(a.select(F.col("cid"), "e"), "cid")
            .select(F.col("cell").alias("cid"), "ce")
            .localCheckpoint(eager=False)
        )
    a = _kmeans_assign(v, cents).localCheckpoint(eager=False)
    return a, cents


def _o_kmeans_assign(name: str, cent: str) -> str:
    return f"""
    {name} AS (
      SELECT vec_id, e, cid, d2q FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2q, cid) AS rk
        FROM (
          SELECT v.vec_id, v.e, c.cid,
                 list_sum(list_transform(range(1, {EMB_DIM} + 1),
                   i -> CAST(floor((v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])
                             * 1e6 + 0.5) AS BIGINT))) AS d2q
          FROM v CROSS JOIN {cent} c
        )
      ) WHERE rk = 1
    )"""


def _o_kmeans_update(name: str, assign: str) -> str:
    return f"""
    {name} AS (
      SELECT cid, list(cval ORDER BY pos) AS ce FROM (
        SELECT a.cid, u.pos,
               CAST(SUM(CAST(u.val AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS cval
        FROM {assign} a, LATERAL (SELECT unnest(a.e) AS val,
                                         unnest(range(len(a.e))) AS pos) u
        GROUP BY a.cid, u.pos
      ) GROUP BY cid
    )"""


@query(
    "q_embed_kmeans",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {KMEANS_K}),
    {_o_kmeans_assign('a1', 'c0')},
    {_o_kmeans_update('c1', 'a1')},
    {_o_kmeans_assign('a2', 'c1')},
    {_o_kmeans_update('c2', 'a2')},
    {_o_kmeans_assign('a3', 'c2')}
    SELECT a.cid,
           COUNT(*) AS n_members,
           CAST(SUM(a.d2q) AS DOUBLE) / 1e6 AS sum_d2,
           ANY_VALUE(md5(array_to_string(list_transform(c.ce,
             x -> CAST(CAST(floor(x * 1e6 + 0.5) AS BIGINT) AS VARCHAR)), ',')))
             AS centroid_digest
    FROM a3 a JOIN c2 c ON c.cid = a.cid
    GROUP BY a.cid
    """,
)
def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised k-means (Lloyd's algorithm, K=4, 2 update rounds +
    final assignment) over the embedding corpus — the clustering that
    LEARNS the IVF cells q_sim_search_ivf probes and the SemDeDup
    partitioning, rather than assuming a label column.

    Engine-exact end to end, which is rare for k-means: deterministic
    first-K init, carrier-quantized integer distances (associative sums,
    tie → lowest cid), and decimal-exact centroid means (the
    cell_centroids algebra).  Scale: assignment is a broadcast of K
    centroid rows against the corpus (narrow map + per-row argmin — the
    window is per vec_id over K rows); the update is one posexplode
    shuffle on the (cid, dim) key, K×dim groups.  The driver loop is
    bounded like q_dedup_groups/q_graph_pagerank; localCheckpoint
    truncates lineage so iteration count doesn't compound planning cost.
    The converged state comes from `kmeans_converged` — one Lloyd's loop
    per session, shared with q_embed_cluster_purity.
    """
    a, cents = kmeans_converged(spark, sf_dir)
    digest = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.col("ce"),
                lambda x: F.floor(x * 1e6 + 0.5).cast("long").cast("string"),
            ),
        )
    ).alias("centroid_digest")
    return (
        a.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (F.sum("d2q").cast("double") / 1e6).alias("sum_d2"),
        )
        .join(broadcast(cents.select("cid", digest)), "cid")
    )


# ---------------------------------------------------------------------------
# Int8 quantization — the memory-scale path for vector search
# ---------------------------------------------------------------------------

def quantized_corpus(v: DataFrame, vec_col: str = "e") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5).  The explicit floor(+0.5) is the
    engine-portable round — no dependence on either engine's round()
    tie-breaking.  Adds columns `scale` (double) and `qv` (array<long>,
    values in [-127, 127])."""
    e = F.col(vec_col)
    scaled = v.withColumn(
        "scale", F.array_max(F.transform(e, lambda x: F.abs(x))) / 127.0
    )
    return scaled.withColumn(
        "qv",
        F.transform(e, lambda x: F.floor(x / F.col("scale") + 0.5).cast("long")),
    )


_O_QUANT = """
    v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    scaled AS (
      SELECT vec_id, label, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    ),
    quant AS (
      SELECT vec_id, label, e, scale,
             list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
      FROM scaled
    )"""


@query(
    "q_embed_quantize",
    oracle=f"""
    WITH {_O_QUANT}
    SELECT vec_id,
           round(scale, 6) AS scale,
           round(sqrt(CAST(list_sum(list_transform(
                 list_zip(e, qv),
                 p -> CAST(floor(pow(p[1] - CAST(p[2] AS DOUBLE) * scale, 2)
                                 * 1e12 + 0.5) AS BIGINT)
               )) AS DOUBLE) / 1e12
               / CAST(len(e) AS DOUBLE)), 6) AS rmse
    FROM quant
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization with reconstruction RMSE —
    the standard 4× memory reduction that makes a 100 TB float corpus a
    25 TB int8 corpus (plus one fp32 scale per vector).

    Pure map over the embeddings scan — no shuffle at all; the per-element
    squared error is carried as an exact scaled long (1e12: errors are
    O(scale²) ≈ 1e-5, well inside the carrier's resolution and far from
    overflow at 64 dims) so the RMSE is bit-identical cross-engine.
    """
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    qd = quantized_corpus(v)
    err2_carrier = F.aggregate(
        F.zip_with(
            F.col("e"),
            F.col("qv"),
            lambda x, q: F.floor(
                F.pow(x - q.cast("double") * F.col("scale"), 2) * 1e12 + 0.5
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # NOTE: rmse is computed in a separate projection BEFORE the output
    # rounding of `scale` — putting round(scale).alias("scale") in the
    # same select list makes the err² lambda resolve `scale` to the
    # ROUNDED column (select-list self-reference), silently changing the
    # dequantization error.
    return qd.select(
        "vec_id",
        "scale",
        F.round(
            F.sqrt(
                err2_carrier.cast("double") / 1e12 / F.size("e").cast("double")
            ),
            6,
        ).alias("rmse"),
    ).select("vec_id", F.round(F.col("scale"), 6).alias("scale"), "rmse")


@query(
    "q_sim_search_int8",
    oracle=f"""
    WITH {_O_QUANT},
    qs AS (
      SELECT vec_id AS query_id, qv AS qqv FROM quant WHERE vec_id < {N_QUERY_VECS}
    ),
    scored AS (
      SELECT qs.query_id, c.vec_id, c.label,
             round(list_dot_product(qs.qqv, c.qv)
                   / (sqrt(list_dot_product(qs.qqv, qs.qqv))
                      * sqrt(list_dot_product(c.qv, c.qv))), 6) AS cosine_q
      FROM qs JOIN quant c ON c.vec_id != qs.query_id
    )
    SELECT query_id, vec_id, label, cosine_q, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_q DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def q_sim_search_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k cosine over int8-QUANTIZED vectors — the search
    that runs on the 4×-smaller corpus q_embed_quantize produces.

    The per-vector scales cancel out of the cosine, so scoring is pure
    integer arithmetic: dot products of [-127,127] int arrays (exact in
    int64 AND in double — every intermediate is an integer < 2^53, so
    even DuckDB's double list_dot_product is exact), one sqrt+divide at
    the end.  Integer dots are also what SIMD int8 kernels compute in
    production ANN engines — this is the semantics, Spark-side.
    Plan shape matches q_sim_search: corpus never shuffles, queries
    broadcast, WindowGroupLimit keeps k rows per query per partition.
    """
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    qd = quantized_corpus(v).select("vec_id", "label", "qv")
    q = (
        qd.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv"))
    )
    idot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    corpus = qd.withColumn("nrm", F.sqrt(idot(F.col("qv"), F.col("qv")).cast("double")))
    queries = q.withColumn(
        "qnrm", F.sqrt(idot(F.col("qqv"), F.col("qqv")).cast("double"))
    )
    scored = corpus.join(
        broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        "label",
        F.round(
            idot(F.col("qqv"), F.col("qv")).cast("double")
            / (F.col("qnrm") * F.col("nrm")),
            6,
        ).alias("cosine_q"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_q").desc(), F.col("vec_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= TOP_K
    )


# ---------------------------------------------------------------------------
# Feature-hashing (hashing-trick) embeddings — text → vector without a model
# ---------------------------------------------------------------------------

HASH_EMB_DIM = 16


@query(
    "q_embed_hashing",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, u.word
      FROM documents, LATERAL (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
      ) u
      WHERE u.word != ''
    ),
    dims AS (
      SELECT doc_id,
             (('0x' || substr(md5(word), 1, 8))::UBIGINT % {HASH_EMB_DIM}) AS dim,
             COUNT(*) AS cnt
      FROM words GROUP BY doc_id, dim
    ),
    vecs AS (
      SELECT a.doc_id, a.dim, a.cnt, n.nrm2
      FROM dims a
      JOIN (SELECT doc_id, CAST(SUM(cnt * cnt) AS BIGINT) AS nrm2
            FROM dims GROUP BY doc_id) n ON n.doc_id = a.doc_id
    ),
    pairs AS (
      SELECT q.doc_id AS query_id, c.doc_id,
             CAST(SUM(q.cnt * c.cnt) AS BIGINT) AS dot_i,
             ANY_VALUE(q.nrm2) AS qn, ANY_VALUE(c.nrm2) AS cn
      FROM vecs q
      JOIN vecs c ON c.dim = q.dim AND c.doc_id != q.doc_id
      WHERE q.doc_id < 3
      GROUP BY q.doc_id, c.doc_id
    )
    SELECT query_id, doc_id,
           round(CAST(dot_i AS DOUBLE)
                 / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))), 6)
             AS cosine,
           rk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               round(CAST(dot_i AS DOUBLE)
                     / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))), 6)
               DESC, doc_id) AS BIGINT) AS rk
      FROM pairs
    ) WHERE rk <= {TOP_K}
    """,
)
def q_embed_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document embeddings + top-k retrieval with NO model:
    each word hashes (md5) into one of {HASH_EMB_DIM} dimensions, the
    vector is the integer count profile, and similarity is cosine over
    the SPARSE (doc, dim, cnt) layout — an inverted-index-shaped join on
    the dimension key, never a dense all-pairs product.

    This is the classic feature-hashing vectorizer (Weinberger et al.):
    the embed step is one narrow map + a (doc, dim) aggregation, the
    search is a dim-key join — both pure integer arithmetic until the
    final cosine, hence bit-identical cross-engine.  The same sparse-join
    shape serves real learned sparse embeddings (SPLADE-style) at scale.
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    dims = (
        words.select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
                % HASH_EMB_DIM
            ).alias("dim"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    norms = dims.groupBy(F.col("doc_id").alias("n_id")).agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("nrm2")
    )
    vecs = dims.join(norms, F.col("n_id") == F.col("doc_id")).select(
        "doc_id", "dim", "cnt", "nrm2"
    )
    q = vecs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.col("dim").alias("q_dim"),
        F.col("cnt").alias("q_cnt"),
        F.col("nrm2").alias("qn"),
    )
    pairs = (
        q.join(
            vecs,
            (F.col("dim") == F.col("q_dim")) & (F.col("doc_id") != F.col("query_id")),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.col("q_cnt") * F.col("cnt")).alias("dot_i"),
            F.first("qn").alias("qn"),
            F.first("nrm2").alias("cn"),
        )
    )
    cosine = F.round(
        F.col("dot_i").cast("double")
        / (F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("cn").cast("double"))),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("doc_id"))
    return (
        pairs.select("query_id", "doc_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
    )


@query(
    "q_embed_norms",
    oracle="""
    WITH norms AS (
      SELECT label,
             round(sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS nrm
      FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           round(MIN(nrm), 6) AS min_norm,
           round(MAX(nrm), 6) AS max_norm,
           round(CAST(SUM(CAST(floor(nrm * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1e6 / CAST(COUNT(*) AS DOUBLE), 6) AS avg_norm,
           CAST(SUM(CASE WHEN nrm < 1e-9 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero
    FROM norms
    GROUP BY label
    ORDER BY label
    """,
)
def q_embed_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-batch health check: per-label L2-norm distribution
    (min/max/mean) and zero-vector count — the guardrail that catches a
    broken encoder run (all-zero rows, exploding norms, un-normalized
    batches mixed into a normalized index) BEFORE those vectors poison
    ANN results downstream.

    Per-row norm is a codegen'd JVM fold over the 64-dim float array
    (cast to double per element — identical operands both engines),
    rounded to 1e-6 before aggregating so the fold-order ulp cannot leak
    into the exact carrier mean.  One narrow map + one grouped agg."""
    em = t(spark, sf_dir, "embeddings")
    nrm = F.round(
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    )
    norms = em.select("label", nrm.alias("nrm"))
    return (
        norms.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
            F.round(
                F.sum(F.floor(F.col("nrm") * F.lit(1e6) + F.lit(0.5)).cast("long"))
                .cast("double")
                / F.lit(1e6)
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_norm"),
            F.sum(F.when(F.col("nrm") < 1e-9, 1).otherwise(0)).alias("n_zero"),
        )
        .orderBy("label")
    )


_MMR_COS = (
    "round(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    "    * sqrt(list_dot_product({b}, {b}))), 6)"
)


def _mmr_oracle() -> str:
    """Greedy MMR as four chained argmax CTE stages (k=4, λ=0.7 over an
    8-candidate pool) — the closed-form unrolling of the iterative
    selection, with (score DESC, vec_id) as the universal tiebreak."""
    steps = []
    prev_picks = "p1"
    for i in (2, 3, 4):
        steps.append(f"""
    sc{i} AS (
      SELECT c.vec_id, c.rel,
             round(0.7 * c.rel - 0.3 * MAX(s.sim), 6) AS score
      FROM cand0 c
      JOIN sims s ON s.ca = c.vec_id
                 AND s.cb IN (SELECT vec_id FROM {prev_picks})
      WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev_picks})
      GROUP BY c.vec_id, c.rel
    ),
    p{i}x AS (
      SELECT vec_id, rel, score, {i} AS sel_rank FROM sc{i}
      ORDER BY score DESC, vec_id LIMIT 1
    ),
    p{i + 10} AS (
      SELECT vec_id FROM {prev_picks} UNION ALL SELECT vec_id FROM p{i}x
    )""")
        prev_picks = f"p{i + 10}"
    return f"""
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    qv AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    cand0 AS (
      SELECT v.vec_id, {_MMR_COS.format(a="qv.qe", b="v.e")} AS rel, v.e
      FROM v CROSS JOIN qv WHERE v.vec_id <> 0
      ORDER BY rel DESC, vec_id LIMIT 8
    ),
    sims AS (
      SELECT x.vec_id AS ca, y.vec_id AS cb,
             {_MMR_COS.format(a="x.e", b="y.e")} AS sim
      FROM cand0 x JOIN cand0 y ON x.vec_id <> y.vec_id
    ),
    p1 AS (
      SELECT vec_id, rel, rel AS score, 1 AS sel_rank FROM cand0
      ORDER BY rel DESC, vec_id LIMIT 1
    ),{",".join(steps)}
    """


@query(
    "q_sim_mmr",
    oracle=f"""
    WITH {_mmr_oracle()}
    SELECT sel_rank, vec_id, rel, score FROM p1
    UNION ALL SELECT sel_rank, vec_id, rel, score FROM p2x
    UNION ALL SELECT sel_rank, vec_id, rel, score FROM p3x
    UNION ALL SELECT sel_rank, vec_id, rel, score FROM p4x
    ORDER BY sel_rank
    """,
)
def q_sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified retrieval: from the top-8
    cosine candidates of query vec 0, greedily select k=4 maximizing
    λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s) with λ=0.7 — the
    re-ranking that stops "top-k = five near-copies of the same doc"
    in RAG retrieval.

    The greedy loop is unrolled into four chained argmax stages — NO
    driver-side iteration: each stage is an anti-join against the picks
    so far, a bounded (≤8-row) aggregate over the pairwise-sim relation,
    and a deterministic (score, vec_id) limit 1.  The candidate pool and
    its 8×8 sim matrix compute once (checkpointed); at corpus scale only
    the FIRST stage (candidate generation) touches the index — the
    re-rank is O(k·pool²) regardless of corpus size.  All cosines pinned
    to 1e-6 before any comparison so argmax ties cannot flip between
    engines."""
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    qv = v.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    rel = F.round(
        dot(F.col("qe"), F.col("e"))
        / (
            F.sqrt(dot(F.col("qe"), F.col("qe")))
            * F.sqrt(dot(F.col("e"), F.col("e")))
        ),
        6,
    )
    cand = (
        v.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", rel.alias("rel"), "e")
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(8)
        .localCheckpoint(eager=False)
    )
    x = cand.select(F.col("vec_id").alias("ca"), F.col("e").alias("ea"))
    y = cand.select(F.col("vec_id").alias("cb"), F.col("e").alias("eb"))
    sim = F.round(
        dot(F.col("ea"), F.col("eb"))
        / (
            F.sqrt(dot(F.col("ea"), F.col("ea")))
            * F.sqrt(dot(F.col("eb"), F.col("eb")))
        ),
        6,
    )
    sims = (
        x.join(y, F.col("ca") != F.col("cb"))
        .select("ca", "cb", sim.alias("sim"))
        .localCheckpoint(eager=False)
    )
    cand_slim = cand.select("vec_id", "rel")
    p1 = (
        cand_slim.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select(
            "vec_id", "rel", F.col("rel").alias("score"), F.lit(1).alias("sel_rank")
        )
    )
    picks = p1
    out = p1
    for i in (2, 3, 4):
        picked_ids = picks.select(F.col("vec_id").alias("pid"))
        scored = (
            cand_slim.join(
                picked_ids, F.col("vec_id") == F.col("pid"), "left_anti"
            )
            .join(sims, F.col("ca") == F.col("vec_id"))
            .join(
                picks.select(F.col("vec_id").alias("pb")),
                F.col("cb") == F.col("pb"),
                "left_semi",
            )
            .groupBy("vec_id", "rel")
            .agg(
                F.round(
                    F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.max("sim"), 6
                ).alias("score")
            )
        )
        pi = (
            scored.orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
            .select("vec_id", "rel", "score", F.lit(i).alias("sel_rank"))
        )
        picks = picks.select("vec_id", "rel", "score", "sel_rank").unionAll(pi)
        out = out.unionAll(pi)
    return out.orderBy("sel_rank")


@query(
    "q_embed_cluster_purity",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {KMEANS_K}),
    {_o_kmeans_assign('a1', 'c0')},
    {_o_kmeans_update('c1', 'a1')},
    {_o_kmeans_assign('a2', 'c1')},
    {_o_kmeans_update('c2', 'a2')},
    {_o_kmeans_assign('a3', 'c2')},
    lab AS (
      SELECT a.cid, e2.label, COUNT(*) AS n
      FROM a3 a JOIN embeddings e2 ON e2.vec_id = a.vec_id
      GROUP BY a.cid, e2.label
    ),
    best AS (
      SELECT cid, label AS majority_label, n AS n_majority, n_members
      FROM (
        SELECT cid, label, n,
               ROW_NUMBER() OVER (PARTITION BY cid
                                  ORDER BY n DESC, label) AS rk,
               CAST(SUM(n) OVER (PARTITION BY cid) AS BIGINT) AS n_members
        FROM lab
      ) WHERE rk = 1
    )
    SELECT cid, CAST(majority_label AS INT) AS majority_label,
           CAST(n_majority AS BIGINT) AS n_majority, n_members,
           round(CAST(n_majority AS DOUBLE) / CAST(n_members AS DOUBLE), 6)
             AS purity
    FROM best
    ORDER BY cid
    """,
)
def q_embed_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering evaluation — per-cluster purity of the k-means result
    against the held-out label column: majority label, its share of the
    cluster, the external-validation number that says whether the
    learned cells agree with ground truth (and therefore whether
    IVF-by-kmeans will route queries sensibly).

    Composes the engine-exact Lloyd's pipeline (same deterministic init,
    carrier distances, decimal centroids as q_embed_kmeans) with one
    (cid, label) count and a per-cluster argmax window; the converged
    assignment comes from the session-scoped `kmeans_converged` memo —
    the purity query re-runs ZERO Lloyd's iterations when clustering
    already ran, and exactly one loop otherwise."""
    a, _cents = kmeans_converged(spark, sf_dir)
    labels = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("lv"), "label"
    )
    lab = (
        a.join(labels, F.col("lv") == F.col("vec_id"))
        .groupBy("cid", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wrk = Window.partitionBy("cid").orderBy(F.col("n").desc(), "label")
    wtot = Window.partitionBy("cid")
    best = (
        lab.withColumn("rk", F.row_number().over(wrk))
        .withColumn("n_members", F.sum("n").over(wtot))
        .filter(F.col("rk") == 1)
    )
    return best.select(
        "cid",
        F.col("label").cast("int").alias("majority_label"),
        F.col("n").alias("n_majority"),
        "n_members",
        F.round(
            F.col("n").cast("double") / F.col("n_members").cast("double"), 6
        ).alias("purity"),
    ).orderBy("cid")


@query(
    "q_dedup_semantic_sweep",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    pairs AS (
      SELECT round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    bucketed AS (
      SELECT CAST(least(greatest(floor(cosine * 20.0), 0), 19) AS BIGINT)
               AS bucket,
             COUNT(*) AS n
      FROM pairs WHERE cosine >= 0.0
      GROUP BY 1
    )
    SELECT CAST(bucket AS DOUBLE) / 20.0 AS threshold,
           CAST(SUM(n) OVER (ORDER BY bucket DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS pairs_at_or_above,
           n AS pairs_in_bucket
    FROM bucketed
    ORDER BY threshold
    """,
)
def q_dedup_semantic_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup threshold-selection sweep: for every cosine threshold on
    a 0.05 grid, how many (label-blocked) pairs would count as
    near-duplicates — computed in ONE pass by bucketing each pair's
    cosine and running a descending cumulative sum, instead of
    re-scanning pairs per candidate threshold.  This is the table you
    read before committing to "0.95": the knee in pairs_at_or_above IS
    the threshold.

    The pair generation is the label-blocked pattern of
    q_dedup_embedding (never all-pairs); everything after operates on
    the 20-bucket rollup."""
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    a = v.select(
        F.col("vec_id").alias("va"), F.col("label").alias("la"), F.col("e").alias("ea")
    )
    b = v.select(
        F.col("vec_id").alias("vb"), F.col("label").alias("lb"), F.col("e").alias("eb")
    )
    cos = F.round(
        dot(F.col("ea"), F.col("eb"))
        / (
            F.sqrt(dot(F.col("ea"), F.col("ea")))
            * F.sqrt(dot(F.col("eb"), F.col("eb")))
        ),
        6,
    )
    pairs = a.join(
        b, (F.col("la") == F.col("lb")) & (F.col("va") < F.col("vb"))
    ).select(cos.alias("cosine"))
    bucketed = (
        pairs.filter(F.col("cosine") >= 0.0)
        .groupBy(
            F.least(
                F.greatest(F.floor(F.col("cosine") * F.lit(20.0)), F.lit(0)),
                F.lit(19),
            )
            .cast("long")
            .alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return bucketed.select(
        (F.col("bucket").cast("double") / F.lit(20.0)).alias("threshold"),
        F.sum("n").over(w).alias("pairs_at_or_above"),
        F.col("n").alias("pairs_in_bucket"),
    ).orderBy("threshold")


@query(
    "q_embed_outliers",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    cents AS (
      SELECT label AS cell, list(cval ORDER BY pos) AS ce FROM (
        SELECT v.label, u.pos,
               CAST(SUM(CAST(u.val AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS cval
        FROM v, LATERAL (SELECT unnest(v.e) AS val,
                                unnest(range(len(v.e))) AS pos) u
        GROUP BY v.label, u.pos
      ) GROUP BY label
    ),
    dists AS (
      SELECT v.vec_id, v.label,
             list_sum(list_transform(range(1, {EMB_DIM} + 1),
               i -> CAST(floor((v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])
                         * 1e6 + 0.5) AS BIGINT))) AS d2q
      FROM v JOIN cents c ON c.cell = v.label
    ),
    ranked AS (
      SELECT vec_id, label, d2q,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY d2q DESC, vec_id) AS rk
      FROM dists
    )
    SELECT label, vec_id, rk,
           round(CAST(d2q AS DOUBLE) / 1e6, 6) AS d2_centroid
    FROM ranked WHERE rk <= 3
    ORDER BY label, rk
    """,
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier detection: the 3 vectors farthest from their own
    label centroid, per label — the vector-space QA pass (after the norm
    check, q_embed_norms) that surfaces mislabeled rows, encoder
    glitches, and adversarial points before they enter an index or a
    semantic-dedup threshold is trusted.

    Reuses the decimal-exact centroid algebra (cell_centroids) and the
    carrier-quantized distances of the k-means pipeline; the per-label
    argmax is a bounded window.  One centroid shuffle + one broadcast
    join — no pairwise anything."""
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    cents = cell_centroids(v, "label")
    dists = v.join(
        broadcast(cents), F.col("cell") == F.col("label")
    ).select("vec_id", "label", _d2q(F.col("e"), F.col("ce")).alias("d2q"))
    w = Window.partitionBy("label").orderBy(F.col("d2q").desc(), "vec_id")
    return (
        dists.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "label",
            "vec_id",
            "rk",
            F.round(F.col("d2q").cast("double") / F.lit(1e6), 6).alias(
                "d2_centroid"
            ),
        )
        .orderBy("label", "rk")
    )


def _o_matvec(out: str, mat: str, vec: str) -> str:
    """One power-method step in SQL: y = C·v with carrier-exact term
    sums, then L2-normalized and 9 dp-pinned.  Mirrors _pca_matvec."""
    return f"""
    {out}_raw AS (
      SELECT m.i AS pos,
             CAST(SUM(CAST(floor(m.c * v.val * 1e12 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1e12 AS yv
      FROM {mat} m JOIN {vec} v ON v.pos = m.j
      GROUP BY m.i
    ),
    {out}_norm AS (
      SELECT sqrt(CAST(SUM(CAST(floor(yv * yv * 1e12 + 0.5) AS BIGINT))
                       AS DOUBLE) / 1e12) AS nrm
      FROM {out}_raw
    ),
    {out} AS (
      SELECT r.pos, round(r.yv / n.nrm, 9) AS val
      FROM {out}_raw r CROSS JOIN {out}_norm n
    )"""


@query(
    "q_embed_pca",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    elems AS (
      SELECT v.vec_id, u.pos, u.val
      FROM v, LATERAL (SELECT unnest(v.e) AS val,
                              unnest(range(len(v.e))) AS pos) u
    ),
    n_t AS (SELECT COUNT(*) AS n FROM v),
    mean_t AS (
      SELECT pos,
             CAST(SUM(CAST(val AS DECIMAL(18,9))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS m
      FROM elems GROUP BY pos
    ),
    centered AS (
      SELECT e.vec_id, e.pos, e.val - m.m AS cv
      FROM elems e JOIN mean_t m ON m.pos = e.pos
    ),
    cov AS (
      SELECT a.pos AS i, b.pos AS j,
             round(CAST(SUM(CAST(floor(a.cv * b.cv * 1e6 + 0.5) AS BIGINT))
                        AS DOUBLE) / 1e6 / CAST(t.n AS DOUBLE), 9) AS c
      FROM centered a
      JOIN centered b ON b.vec_id = a.vec_id
      CROSS JOIN n_t t
      GROUP BY a.pos, b.pos, t.n
    ),
    v0 AS (SELECT pos, 0.125 AS val FROM (SELECT unnest(range(64)) AS pos)),
    {_o_matvec('v1', 'cov', 'v0')},
    {_o_matvec('v2', 'cov', 'v1')},
    {_o_matvec('v3', 'cov', 'v2')},
    y4 AS (
      SELECT m.i AS pos,
             CAST(SUM(CAST(floor(m.c * v.val * 1e12 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1e12 AS yv
      FROM cov m JOIN v3 v ON v.pos = m.j
      GROUP BY m.i
    ),
    lambda_t AS (
      SELECT round(sqrt(CAST(SUM(CAST(floor(yv * yv * 1e12 + 0.5) AS BIGINT))
                             AS DOUBLE) / 1e12), 6) AS eigenvalue
      FROM y4
    ),
    top AS (
      SELECT pos, round(val, 6) AS loading,
             ROW_NUMBER() OVER (ORDER BY abs(val) DESC, pos) AS rk
      FROM v3
    )
    SELECT l.eigenvalue, t.rk, CAST(t.pos AS BIGINT) AS dim, t.loading
    FROM lambda_t l CROSS JOIN top t
    WHERE t.rk <= 5
    ORDER BY t.rk
    """,
)
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by an UNROLLED
    3-step power method.  PCA is the eigengap diagnostic run before
    trusting cosine similarity (a single dominant direction — an
    un-centered corpus, a "rogue dimension" — makes every cosine look
    alike).

    The 100 TB-shaped plan: TWO scans of `embeddings` and zero wide
    shuffles.  Pass 1 computes decimal-exact per-dimension means (64
    groups, map-side combined).  Pass 2 accumulates the mean-centered
    covariance as per-partition outer-product PARTIALS inside
    `mapInArrow` — each task emits exactly d² int64 carrier sums
    (`floor(cᵢ·cⱼ·1e6 + 0.5)` summed, associative by construction), so
    the shuffle moving to the final combine is d²·P rows regardless of
    corpus size.  The three matvec+normalize stages then run on the
    driver's d×d copy with the SAME carrier algebra the DuckDB oracle
    states (every product floored onto a 1e12 grid before summation,
    each stage re-pinned to 9 dp via decimal HALF_UP — the semantics of
    both engines' round on these post-carrier values), so the result is
    bit-identical to the oracle's join-based formulation without ever
    materializing the n×d² element self-join it describes."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pyarrow as pa

    def _rnd(x: float, dp: int) -> float:
        return float(
            Decimal(repr(float(x))).quantize(
                Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP
            )
        )

    v = spread(
        t(spark, sf_dir, "embeddings").select(
            as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    mean_rows = (
        v.select(F.posexplode("e").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("m")
        )
        .collect()
    )
    d = 1 + max(r["pos"] for r in mean_rows)
    means = np.zeros(d)
    for r in mean_rows:
        means[r["pos"]] = r["m"]

    def cov_partials(batches):
        acc = np.zeros((d, d), dtype=np.int64)
        cnt = 0
        for batch in batches:
            flat = (
                batch.column("e")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype("float64")
            )
            mat = flat.reshape(len(batch), d)
            # chunk so the B×d×d product tensor stays ~16 MB
            for lo in range(0, len(mat), 512):
                c = mat[lo : lo + 512] - means[None, :]
                prods = c[:, :, None] * c[:, None, :]
                acc += np.floor(prods * 1e6 + 0.5).astype(np.int64).sum(axis=0)
            cnt += len(batch)
        ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        cnt_col = np.zeros(d * d, dtype=np.int64)
        cnt_col[0] = cnt
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ii.ravel(), type=pa.int32()),
                pa.array(jj.ravel(), type=pa.int32()),
                pa.array(acc.ravel(), type=pa.int64()),
                pa.array(cnt_col, type=pa.int64()),
            ],
            names=["i", "j", "s", "cnt"],
        )

    rows = (
        v.mapInArrow(cov_partials, "i int, j int, s long, cnt long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
        .collect()
    )
    n = float(sum(r["cnt"] for r in rows))
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["i"], r["j"]] = _rnd(float(r["s"]) / 1e6 / n, 9)

    def matvec_raw(val: np.ndarray) -> np.ndarray:
        terms = np.floor(cov * val[None, :] * 1e12 + 0.5).astype(np.int64)
        return terms.sum(axis=1).astype("float64") / 1e12

    def carrier_normsq(yv: np.ndarray) -> float:
        return float(
            np.floor(yv * yv * 1e12 + 0.5).astype(np.int64).sum()
        ) / 1e12

    val = np.full(d, 0.125)
    for _ in range(3):
        yv = matvec_raw(val)
        nrm = math.sqrt(carrier_normsq(yv))
        val = np.array([_rnd(y / nrm, 9) for y in yv])
    y4 = matvec_raw(val)
    eig = _rnd(math.sqrt(carrier_normsq(y4)), 6)

    order = sorted(range(d), key=lambda p: (-abs(val[p]), p))[:5]
    out = [
        (eig, rk + 1, int(p), _rnd(val[p], 6)) for rk, p in enumerate(order)
    ]
    schema = (
        "eigenvalue double, rk int, dim long, loading double"
    )
    return spark.createDataFrame(out, schema).orderBy("rk")


SIM_THRESH = 0.3  # cosine radius for the range search


@query(
    "q_sim_threshold_search",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    vb AS (SELECT *, {{bucket}} AS bucket FROM v),
    q AS (SELECT vec_id AS query_id, e AS qe, bucket
          FROM vb WHERE vec_id < {N_QUERY_VECS}),
    scored AS (
      SELECT q.query_id, vb.vec_id,
             round(list_dot_product(q.qe, vb.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(vb.e, vb.e))), 6) AS cosine
      FROM q JOIN vb ON vb.bucket = q.bucket AND vb.vec_id != q.query_id
    )
    SELECT q.query_id,
           CAST(COUNT(s.vec_id) AS BIGINT) AS n_bucket_mates,
           CAST(SUM(CASE WHEN s.cosine >= {SIM_THRESH} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_radius,
           COALESCE(MAX(s.cosine), -2.0) AS best_cosine
    FROM q LEFT JOIN scored s ON s.query_id = q.query_id
    GROUP BY q.query_id
    ORDER BY q.query_id
    """,
)
def q_sim_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (threshold) similarity search — "everything within cosine
    ≥ τ of each query", the dedup/recall-oriented twin of top-k search
    (SemDeDup asks exactly this question; top-k asks "the k nearest no
    matter how far").  Per query: bucket-candidate count, in-radius
    count, and the best cosine seen — the triple that calibrates
    whether the LSH bucketing is tight enough for the chosen τ.

    Same scale shape as q_sim_search_lsh: the bucket id is the shuffle
    key, each query probes ~N/2^bits of the corpus, queries broadcast;
    the left join keeps every query in the output even with an empty
    bucket (sentinel best_cosine = -2, outside cosine range).
    """
    v, q = _fixture_corpus(spark, sf_dir)
    v, q = _with_norms(v, q)
    vb = v.withColumn("bucket", lsh_bucket_col(F.col("e")))
    qb = q.withColumn("qbucket", lsh_bucket_col(F.col("qe"))).localCheckpoint(
        eager=False
    )
    scored = vb.join(
        broadcast(qb),
        (F.col("bucket") == F.col("qbucket"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id", _pair_cosine().alias("cosine"))
    per_q = scored.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("nm"),
        F.sum(F.when(F.col("cosine") >= SIM_THRESH, 1).otherwise(0)).alias(
            "nr"
        ),
        F.max("cosine").alias("bc"),
    )
    return (
        qb.select("query_id")
        .join(F.broadcast(per_q), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("nm"), F.lit(0)).cast("long").alias(
                "n_bucket_mates"
            ),
            F.coalesce(F.col("nr"), F.lit(0)).cast("long").alias("n_in_radius"),
            F.coalesce(F.col("bc"), F.lit(-2.0)).alias("best_cosine"),
        )
        .orderBy("query_id")
    )


from data_warehouse_hive_spark.registry import REGISTRY as _REG5  # noqa: E402

_spec5 = _REG5["q_sim_threshold_search"]
object.__setattr__(
    _spec5, "oracle", _spec5.oracle.format(bucket=_o_lsh_bucket("e"))
)
del _REG5, _spec5


MATRYOSHKA_DIM = 16  # truncation prefix evaluated against full-dim search


@query(
    "q_embed_matryoshka",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id < {N_QUERY_VECS}),
    scored AS (
      SELECT q.query_id, v.vec_id,
             round(list_dot_product(q.qe, v.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(v.e, v.e))), 6) AS cos_full,
             round(list_dot_product(q.qe[1:{MATRYOSHKA_DIM}],
                                    v.e[1:{MATRYOSHKA_DIM}])
                   / (sqrt(list_dot_product(q.qe[1:{MATRYOSHKA_DIM}],
                                            q.qe[1:{MATRYOSHKA_DIM}]))
                      * sqrt(list_dot_product(v.e[1:{MATRYOSHKA_DIM}],
                                              v.e[1:{MATRYOSHKA_DIM}]))),
                   6) AS cos_trunc
      FROM q JOIN v ON v.vec_id != q.query_id
    ),
    tf AS (
      SELECT query_id, vec_id AS top1_full, cos_full FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_full DESC, vec_id) AS rk FROM scored
      ) WHERE rk = 1
    ),
    tt AS (
      SELECT query_id, vec_id AS top1_trunc, cos_trunc FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_trunc DESC, vec_id) AS rk FROM scored
      ) WHERE rk = 1
    )
    SELECT f.query_id, f.top1_full, f.cos_full, t.top1_trunc, t.cos_trunc,
           (f.top1_full = t.top1_trunc) AS agree
    FROM tf f JOIN tt t ON t.query_id = f.query_id
    ORDER BY f.query_id
    """,
)
def q_embed_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation eval: does top-1 retrieval under the first
    {MATRYOSHKA_DIM} dimensions agree with full-dim top-1?  The go/no-go
    check before shipping truncated embeddings (4× memory/bandwidth cut
    for vector search) — run per query, with both cosines reported so
    disagreements show HOW far apart the two rankings were.

    ONE pass computes both cosines (the truncated dot is a slice of the
    same row — no second corpus scan), both argmaxes are per-query
    windows over the same scored relation, queries broadcast, and the
    rank filters plan as WindowGroupLimit.  Cosines pin at 6 dp before
    ranking so both engines rank identical values.
    """
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    q = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            as_double_vec("embedding").alias("qe"),
        )
    )
    et = F.slice(F.col("e"), 1, MATRYOSHKA_DIM)
    qt = F.slice(F.col("qe"), 1, MATRYOSHKA_DIM)
    scored = (
        v.join(broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("qe"), F.col("e")).alias("cos_full"),
            F.round(
                dot(qt, et) / (F.sqrt(dot(qt, qt)) * F.sqrt(dot(et, et))), 6
            ).alias("cos_trunc"),
        )
        .localCheckpoint(eager=False)
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), "vec_id"
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("cos_trunc").desc(), "vec_id"
    )
    tf = (
        scored.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") == 1)
        .select(
            "query_id", F.col("vec_id").alias("top1_full"), "cos_full"
        )
    )
    tt = (
        scored.withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") == 1)
        .select(
            F.col("query_id").alias("qid2"),
            F.col("vec_id").alias("top1_trunc"),
            "cos_trunc",
        )
    )
    return (
        tf.join(F.broadcast(tt), F.col("qid2") == F.col("query_id"))
        .select(
            "query_id",
            "top1_full",
            "cos_full",
            "top1_trunc",
            "cos_trunc",
            (F.col("top1_full") == F.col("top1_trunc")).alias("agree"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ/ADC) — the memory-bound tier below int8
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 8   # S: 64 dims → 8 subspaces × 8 dims
PQ_SUBDIM = 8
PQ_CODES = 16      # K: static codebook = first-K corpus vectors' sub-vectors

_O_PQ_D2 = (
    "list_sum(list_transform(range(1, {d} + 1), i -> "
    "CAST(floor(({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) * 1e6 + 0.5) "
    "AS BIGINT)))"
)


@query(
    "q_sim_search_pq",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, sx.s AS s, v.e[sx.s * {PQ_SUBDIM} + 1 : sx.s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sv
      FROM v, LATERAL (SELECT unnest(range({PQ_SUBSPACES})) AS s) sx
    ),
    cb AS (
      SELECT vec_id AS code, s, sv AS cv FROM sub WHERE vec_id < {PQ_CODES}
    ),
    encd AS (
      SELECT vec_id, s, code, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                ORDER BY d2, code) AS rk
      FROM (
        SELECT sub.vec_id, sub.s, cb.code,
               {_O_PQ_D2.format(d=PQ_SUBDIM, a='sub.sv', b='cb.cv')} AS d2
        FROM sub JOIN cb ON cb.s = sub.s
      )
    ),
    enc AS (SELECT vec_id, s, code FROM encd WHERE rk = 1),
    qd AS (
      SELECT q.vec_id AS query_id, cb.s, cb.code,
             {_O_PQ_D2.format(d=PQ_SUBDIM, a='q.sv', b='cb.cv')} AS d2
      FROM sub q JOIN cb ON cb.s = q.s
      WHERE q.vec_id < {N_QUERY_VECS}
    ),
    adc AS (
      SELECT qd.query_id, enc.vec_id, CAST(SUM(qd.d2) AS BIGINT) AS d2s
      FROM enc JOIN qd ON qd.s = enc.s AND qd.code = enc.code
      WHERE enc.vec_id != qd.query_id
      GROUP BY qd.query_id, enc.vec_id
    )
    SELECT query_id, vec_id,
           round(CAST(d2s AS DOUBLE) / 1e6, 6) AS approx_d2,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY d2s, vec_id) AS rk
      FROM adc
    )
    WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
)
def q_sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the memory-bound search tier below int8: each 64-dim float
    vector compresses to {PQ_SUBSPACES} one-byte codes (codebook =
    first-{PQ_CODES} vectors' sub-vectors, the same deterministic-init
    convention as k-means; production trains per-subspace k-means
    codebooks with the q_embed_kmeans machinery).  A query precomputes
    its {PQ_SUBSPACES}×{PQ_CODES} distance table once, and every corpus
    distance is then {PQ_SUBSPACES} table lookups + adds — no float math
    against corpus data at all, which is why PQ serves billion-vector
    search from RAM.

    Plan shape: the encode pass is a map-side join against the broadcast
    128-row codebook with partial-aggregated argmin (min of the
    lexicographic (d2, code) struct — tie → lowest code) — the shuffle
    carries n×{PQ_SUBSPACES} code rows, never the float vectors.  The
    ADC pass joins codes to the broadcast query distance table on
    (subspace, code) and sums EXACT carrier integers, so ranking is
    engine-identical; per-query top-{TOP_K} plans as WindowGroupLimit.
    """
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    s_idx = F.explode(
        F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1))
    ).alias("s")
    sub = v.select("vec_id", "e", s_idx).select(
        "vec_id",
        "s",
        F.slice(F.col("e"), F.col("s") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
    )
    cb = (
        sub.filter(F.col("vec_id") < PQ_CODES)
        .select(
            F.col("vec_id").alias("code"),
            F.col("s").alias("cs"),
            F.col("sv").alias("cv"),
        )
        .localCheckpoint(eager=False)
    )
    d2 = _d2q(F.col("sv"), F.col("cv"))
    enc = (
        sub.join(broadcast(cb), F.col("cs") == F.col("s"))
        .select("vec_id", "s", "code", d2.alias("d2"))
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "code")).getField("code").alias("code"))
    )
    qd = (
        sub.filter(F.col("vec_id") < N_QUERY_VECS)
        .join(broadcast(cb), F.col("cs") == F.col("s"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("s").alias("qs"),
            F.col("code").alias("qcode"),
            d2.alias("qd2"),
        )
    )
    adc = (
        enc.join(
            broadcast(qd),
            (F.col("qs") == F.col("s"))
            & (F.col("qcode") == F.col("code"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd2").alias("d2s"))
    )
    w = Window.partitionBy("query_id").orderBy("d2s", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("d2s").cast("double") / 1e6, 6).alias("approx_d2"),
            "rk",
        )
        .orderBy("query_id", "rk")
    )


@query(
    "q_embed_centroid_drift",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             CASE WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                         ::UBIGINT::BIGINT % 100 < 80
                  THEN 'train' ELSE 'eval' END AS split
      FROM embeddings
    ),
    elems AS (
      SELECT split, label, u.pos, u.val
      FROM v, LATERAL (SELECT unnest(e) AS val,
                              unnest(range(len(e))) AS pos) u
    ),
    cent AS (
      SELECT split, label, pos,
             CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS cval
      FROM elems GROUP BY split, label, pos
    ),
    cnt AS (
      SELECT label,
             SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
             SUM(CASE WHEN split = 'eval' THEN 1 ELSE 0 END) AS n_eval
      FROM v GROUP BY label
    ),
    drift AS (
      SELECT a.label,
             CAST(SUM(CAST(floor((a.cval - b.cval) * (a.cval - b.cval)
                                 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS d2c
      FROM cent a JOIN cent b
        ON b.label = a.label AND b.pos = a.pos
       AND a.split = 'train' AND b.split = 'eval'
      GROUP BY a.label
    )
    SELECT c.label, CAST(c.n_train AS BIGINT) AS n_train,
           CAST(c.n_eval AS BIGINT) AS n_eval,
           round(CAST(d.d2c AS DOUBLE) / 1e6, 6) AS centroid_d2
    FROM cnt c JOIN drift d ON d.label = c.label
    ORDER BY c.label
    """,
)
def q_embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval embedding drift per label: squared distance between
    the two splits' per-label centroids (deterministic md5 holdout
    assignment, the q_split_holdout rule applied to vec_id) — the
    monitoring statistic that says whether the held-out slice actually
    looks like training data in embedding space, per cluster, before
    trusting eval numbers.

    Centroids use the engine-exact decimal-mean idiom (cell_centroids
    algebra) grouped by (split, label, dim) — K×2×64 groups, map-side
    combined — and the drift distance is the 1e6-carrier sum over the
    64 paired dims.  No corpus-side join anywhere: vectors are touched
    once, in the centroid aggregation.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            as_double_vec("embedding").alias("e"),
            F.when(bucket < 80, "train").otherwise("eval").alias("split"),
        ),
        spark,
    )
    elems = v.select("split", "label", F.posexplode("e").alias("pos", "val"))
    cent = elems.groupBy("split", "label", "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("cval")
    )
    cnt = v.groupBy("label").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "n_train"
        ),
        F.sum(F.when(F.col("split") == "eval", 1).otherwise(0)).alias(
            "n_eval"
        ),
    )
    a = cent.filter(F.col("split") == "train").select(
        "label", "pos", F.col("cval").alias("ca")
    )
    b = cent.filter(F.col("split") == "eval").select(
        F.col("label").alias("lb"), F.col("pos").alias("pb"),
        F.col("cval").alias("cb"),
    )
    drift = (
        a.join(b, (F.col("lb") == F.col("label")) & (F.col("pb") == F.col("pos")))
        .groupBy("label")
        .agg(
            F.sum(
                F.floor(
                    (F.col("ca") - F.col("cb"))
                    * (F.col("ca") - F.col("cb"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("long")
            ).alias("d2c")
        )
    )
    return (
        cnt.join(F.broadcast(drift), "label")
        .select(
            "label",
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_eval").cast("long").alias("n_eval"),
            F.round(F.col("d2c").cast("double") / 1e6, 6).alias("centroid_d2"),
        )
        .orderBy("label")
    )


KCENTERS_K = 5  # seed + 4 greedy farthest-point picks

_O_D2_64 = (
    "list_sum(list_transform(range(1, {dim} + 1), i -> "
    "CAST(floor(({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) * 1e6 + 0.5) "
    "AS BIGINT)))"
)


def _o_kcenters() -> str:
    d2 = _O_D2_64.format(dim=EMB_DIM, a="x.e", b="c.e")
    parts = [
        """
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    cent0 AS (SELECT vec_id, e FROM v WHERE vec_id = 0)"""
    ]
    for k in range(1, KCENTERS_K):
        parts.append(f"""
    m{k} AS (
      SELECT x.vec_id, MIN({d2}) AS md
      FROM v x CROSS JOIN cent{k - 1} c
      WHERE x.vec_id NOT IN (SELECT vec_id FROM cent{k - 1})
      GROUP BY x.vec_id
    ),
    p{k} AS (SELECT vec_id, md FROM m{k} ORDER BY md DESC, vec_id LIMIT 1),
    cent{k} AS (
      SELECT * FROM cent{k - 1}
      UNION ALL
      SELECT v.vec_id, v.e FROM v JOIN p{k} ON p{k}.vec_id = v.vec_id
    )""")
    selects = [
        "SELECT 0 AS sel_rank, CAST(0 AS BIGINT) AS vec_id, 0.0 AS min_d2"
    ] + [
        f"SELECT {k}, vec_id, round(CAST(md AS DOUBLE) / 1e6, 6) FROM p{k}"
        for k in range(1, KCENTERS_K)
    ]
    return (
        "WITH " + ",".join(parts) + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY sel_rank"
    )


@query("q_sample_kcenters", oracle=_o_kcenters())
def q_sample_kcenters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-centers (farthest-point) coreset selection over the
    embedding corpus: seed with vec_id 0, then repeatedly pick the point
    FARTHEST from everything chosen so far — the diversity sampler used
    to build maximally-covering eval/annotation subsets (where
    q_sample_stratified balances fields and q_sim_mmr balances
    relevance, k-centers maximizes metric coverage; it is the 2-approx
    of the k-center objective).

    Each of the K−1 rounds (r15, guide §1.2 the-distributed-algorithm):
    the classic INCREMENTAL farthest-point form carries one running
    (vec_id, e, md) relation where md = min distance to the chosen set,
    and each round updates it with least(md, d2-to-latest-pick) — one
    broadcast of a single row + a narrow project, NO per-round exchange.
    The pre-r15 form recomputed a k-way crossJoin + groupBy-MIN per
    round: n·K(K−1)/2 distance evaluations and a hash-agg shuffle per
    round vs n·(K−1) and none now; min is associative, so the md longs
    (and the rounded min_d2 doubles) are bit-identical.  Already-chosen
    ids are excluded by a tiny left_anti; the global top-1 is a
    TakeOrderedAndProject.  The driver loop is bounded by the constant
    K, localCheckpoint truncates the compounding plan — the
    q_embed_kmeans/MMR iteration discipline.
    """
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        ),
        spark,
    ).localCheckpoint(eager=False)
    seed = v.filter(F.col("vec_id") == 0)
    out = seed.select(
        F.lit(0).alias("sel_rank"),
        "vec_id",
        F.lit(0.0).alias("min_d2"),
    )
    cur = (
        v.crossJoin(broadcast(seed.select(F.col("e").alias("ce"))))
        .select("vec_id", "e", _d2q(F.col("e"), F.col("ce")).alias("md"))
        .localCheckpoint(eager=False)
    )
    chosen = seed.select("vec_id")
    for k in range(1, KCENTERS_K):
        pick = (
            cur.join(chosen, "vec_id", "left_anti")
            .orderBy(F.col("md").desc(), "vec_id")
            .limit(1)
            .localCheckpoint(eager=False)  # out row + md update + chosen
        )
        out = out.unionAll(
            pick.select(
                F.lit(k).alias("sel_rank"),
                "vec_id",
                F.round(F.col("md").cast("double") / 1e6, 6).alias("min_d2"),
            )
        )
        if k < KCENTERS_K - 1:
            cur = (
                cur.crossJoin(broadcast(pick.select(F.col("e").alias("ce"))))
                .select(
                    "vec_id",
                    "e",
                    F.least(F.col("md"), _d2q(F.col("e"), F.col("ce"))).alias(
                        "md"
                    ),
                )
                .localCheckpoint(eager=False)
            )
            chosen = chosen.unionAll(pick.select("vec_id")).localCheckpoint(
                eager=False
            )
    return out.orderBy("sel_rank")


@query(
    "q_sim_multiprobe",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    vb AS (SELECT *, {{bucket}} AS bucket FROM v),
    qb AS (SELECT vec_id AS query_id, e AS qe, bucket
           FROM vb WHERE vec_id < {N_QUERY_VECS}),
    probes AS (
      SELECT query_id, qe,
             CASE p.j WHEN -1 THEN bucket
                      ELSE CAST(xor(bucket, CAST(1 << p.j AS BIGINT))
                                AS BIGINT) END AS pbucket
      FROM qb, LATERAL (SELECT unnest([-1, 0, 1, 2, 3]) AS j) p
    ),
    cand AS (
      SELECT DISTINCT pr.query_id, vb.vec_id, pr.qe, vb.e
      FROM probes pr JOIN vb ON vb.bucket = pr.pbucket
       AND vb.vec_id != pr.query_id
    ),
    scored AS (
      SELECT query_id, vec_id,
             round(list_dot_product(qe, e)
                   / (sqrt(list_dot_product(qe, qe))
                      * sqrt(list_dot_product(e, e))), 6) AS cosine
      FROM cand
    )
    SELECT query_id, vec_id, cosine, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM scored
    )
    WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
)
def q_sim_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH search: each query probes its own signature
    bucket PLUS the {LSH_BITS} single-bit-flip neighbors — the standard
    recall upgrade that trades {LSH_BITS}+1 bucket reads for the recall
    a single-probe search loses on boundary vectors (a vector whose
    hyperplane margin is small lands one bit away), WITHOUT growing the
    index or re-hashing the corpus.

    The probe expansion happens on the QUERY side only (Q×5 rows,
    broadcast) — the corpus keeps exactly one bucket id per vector and
    never duplicates; candidates dedup before scoring so a vector found
    via two probes scores once.  Same bucket equi-join shape as
    q_sim_search_lsh, ~5×N/2^bits of the corpus touched per query.
    """
    v, q = _fixture_corpus(spark, sf_dir)
    vb = v.withColumn("bucket", lsh_bucket_col(F.col("e")))
    qb = q.withColumn("qbucket", lsh_bucket_col(F.col("qe")))
    probe_j = F.explode(F.array(*[F.lit(j) for j in range(-1, LSH_BITS)]))
    probes = qb.select(
        "query_id", "qe", "qbucket", probe_j.alias("j")
    ).select(
        "query_id",
        "qe",
        F.when(F.col("j") == -1, F.col("qbucket"))
        .otherwise(F.expr("qbucket ^ shiftleft(1, j)"))
        .cast("long")
        .alias("pbucket"),
    )
    cand = (
        vb.join(
            broadcast(probes),
            (F.col("bucket") == F.col("pbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", "qe", "e")
        .distinct()
    )
    scored = cand.select(
        "query_id", "vec_id", cosine(F.col("qe"), F.col("e")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "vec_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("query_id", "rk")
    )


from data_warehouse_hive_spark.registry import REGISTRY as _REG7  # noqa: E402

_spec7 = _REG7["q_sim_multiprobe"]
object.__setattr__(
    _spec7, "oracle", _spec7.oracle.format(bucket=_o_lsh_bucket("e"))
)
del _REG7, _spec7


HARD_NEG_K = 5


@query(
    "q_embed_hard_negatives",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel, e AS qe
          FROM v WHERE vec_id < {N_QUERY_VECS}),
    scored AS (
      SELECT q.query_id, v.vec_id, v.label,
             round(list_dot_product(q.qe, v.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
      FROM q JOIN v
        ON v.vec_id != q.query_id AND v.label != q.qlabel
    )
    SELECT query_id, vec_id, label AS neg_label, cosine,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM scored
    )
    WHERE rk <= {HARD_NEG_K}
    ORDER BY query_id, rk
    """,
)
def q_embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    {HARD_NEG_K} most-similar vectors with a DIFFERENT label — the
    negatives that actually teach an embedding model (random negatives
    are trivially separable; near-boundary impostors carry the
    gradient).  This is the data-prep query behind every dual-encoder /
    reranker fine-tune.

    The label-mismatch predicate rides the same broadcast-query
    brute-force shape as q_sim_search (corpus never shuffles; rank
    filter plans WindowGroupLimit); at scale the anchor set is the
    bounded training batch and the corpus side is the LSH/IVF-routed
    candidate pool rather than the full scan.
    """
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    q = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            as_double_vec("embedding").alias("qe"),
        )
    )
    v, q = _with_norms(v, q)
    scored = v.join(
        broadcast(q),
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("qlabel")),
    ).select(
        "query_id",
        "vec_id",
        F.col("label").alias("neg_label"),
        _pair_cosine().alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "vec_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= HARD_NEG_K)
        .orderBy("query_id", "rk")
    )


@query(
    "q_embed_davies_bouldin",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    elems AS (
      SELECT v.label AS cell, u.pos, u.val
      FROM v, LATERAL (SELECT unnest(v.e) AS val,
                              unnest(range(len(v.e))) AS pos) u
    ),
    centroids AS (
      SELECT cell, pos,
             CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS cval
      FROM elems GROUP BY cell, pos
    ),
    cent_vecs AS (
      SELECT cell, list(cval ORDER BY pos) AS ce FROM centroids GROUP BY cell
    ),
    member_d AS (
      SELECT v.label AS cell,
             sqrt(CAST({_O_D2_64.format(dim=EMB_DIM, a='v.e', b='c.ce')}
                       AS DOUBLE) / 1e6) AS dist
      FROM v JOIN cent_vecs c ON c.cell = v.label
    ),
    spread AS (
      SELECT cell,
             CAST(SUM(CAST(floor(dist * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e6 / CAST(COUNT(*) AS DOUBLE) AS s
      FROM member_d GROUP BY cell
    ),
    pair_r AS (
      SELECT a.cell AS ci,
             (sa.s + sb.s)
             / sqrt(CAST({_O_D2_64.format(dim=EMB_DIM, a='a.ce', b='b.ce')}
                         AS DOUBLE) / 1e6) AS r
      FROM cent_vecs a
      JOIN cent_vecs b ON b.cell != a.cell
      JOIN spread sa ON sa.cell = a.cell
      JOIN spread sb ON sb.cell = b.cell
    ),
    worst AS (
      SELECT ci, MAX(r) AS ri FROM pair_r GROUP BY ci
    )
    SELECT CAST(COUNT(*) AS INT) AS n_clusters,
           round(CAST(SUM(CAST(floor(ri * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1e9 / CAST(COUNT(*) AS DOUBLE), 6) AS davies_bouldin
    FROM worst
    """,
)
def q_embed_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin index of the label clustering — the internal
    cluster-validity score (lower = tighter, better-separated): for
    each cluster, the worst-case (sᵢ+sⱼ)/Dᵢⱼ ratio against every other
    cluster, averaged.  The third leg of the clustering-eval family
    (purity = external validity, centroid drift = stability, DB =
    geometry), and the one that needs NO labels beyond the clustering
    itself — usable on q_embed_kmeans's output in production.

    Per-member distances are one broadcast-centroid join over the
    corpus (the IVF assignment shape); everything after is K-sized:
    K×K centroid distances, K spreads, K worst-ratios.  Distances are
    sqrt of exact carrier integers (identical doubles both engines),
    means re-floor onto the carrier before cross-row sums.
    """
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    cents = cell_centroids(v, "label")
    member = v.join(
        broadcast(cents), F.col("cell") == F.col("label")
    ).select(
        "label",
        F.sqrt(_d2q(F.col("e"), F.col("ce")).cast("double") / F.lit(1e6)).alias(
            "dist"
        ),
    )
    spread_df = member.groupBy("label").agg(
        (
            F.sum(F.floor(F.col("dist") * 1e6 + 0.5).cast("long")).cast(
                "double"
            )
            / 1e6
            / F.count(F.lit(1)).cast("double")
        ).alias("s")
    )
    a = cents.select(F.col("cell").alias("ci"), F.col("ce").alias("cea"))
    b = cents.select(F.col("cell").alias("cj"), F.col("ce").alias("ceb"))
    pair_r = (
        a.join(broadcast(b), F.col("cj") != F.col("ci"))
        .join(
            F.broadcast(spread_df.select(F.col("label").alias("li"), F.col("s").alias("sa"))),
            F.col("li") == F.col("ci"),
        )
        .join(
            F.broadcast(spread_df.select(F.col("label").alias("lj"), F.col("s").alias("sb"))),
            F.col("lj") == F.col("cj"),
        )
        .select(
            "ci",
            (
                (F.col("sa") + F.col("sb"))
                / F.sqrt(
                    _d2q(F.col("cea"), F.col("ceb")).cast("double")
                    / F.lit(1e6)
                )
            ).alias("r"),
        )
    )
    worst = pair_r.groupBy("ci").agg(F.max("r").alias("ri"))
    return worst.agg(
        F.count(F.lit(1)).cast("int").alias("n_clusters"),
        F.round(
            F.sum(F.floor(F.col("ri") * 1e9 + 0.5).cast("long")).cast(
                "double"
            )
            / 1e9
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("davies_bouldin"),
    )


# ---------------------------------------------------------------------------
# Simplified silhouette of the label clustering
# ---------------------------------------------------------------------------


@query(
    "q_embed_silhouette",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    elems AS (
      SELECT v.label AS cell, u.pos, u.val
      FROM v, LATERAL (SELECT unnest(v.e) AS val,
                              unnest(range(len(v.e))) AS pos) u
    ),
    centroids AS (
      SELECT cell, pos,
             CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS cval
      FROM elems GROUP BY cell, pos
    ),
    cent_vecs AS (
      SELECT cell, list(cval ORDER BY pos) AS ce FROM centroids GROUP BY cell
    ),
    dists AS (
      SELECT v.vec_id, v.label, c.cell,
             {_O_D2_64.format(dim=EMB_DIM, a='v.e', b='c.ce')} AS d2q
      FROM v CROSS JOIN cent_vecs c
    ),
    ab AS (
      SELECT vec_id, label,
             sqrt(CAST(MIN(CASE WHEN cell = label THEN d2q END) AS DOUBLE)
                  / 1e6) AS a,
             sqrt(CAST(MIN(CASE WHEN cell != label THEN d2q END) AS DOUBLE)
                  / 1e6) AS b
      FROM dists GROUP BY vec_id, label
    ),
    sil AS (
      SELECT label,
             CAST(floor(CASE WHEN greatest(a, b) = 0.0 THEN 0.0
                             ELSE (b - a) / greatest(a, b) END
                        * 1e9 + 0.5) AS BIGINT) AS sq
      FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
           round(CAST(SUM(sq) AS DOUBLE) / 1e9
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_silhouette
    FROM sil GROUP BY label
    ORDER BY label
    """,
)
def q_embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster of the label
    partition: s(i) = (b−a)/max(a,b) with a = distance to the OWN
    cluster centroid and b = distance to the NEAREST other centroid —
    the O(n·K) silhouette every large-scale clustering eval uses in
    place of the O(n²) pairwise original (Rousseeuw's definition needs
    all-pairs distances; the centroid form preserves the ranking).
    Completes the internal-validity family next to q_embed_davies_bouldin
    (per-cluster resolution vs one global index).

    One broadcast cross-join of the corpus against K centroid rows, a
    per-vector conditional MIN (no window, no shuffle beyond the
    centroid build's 64·K hash agg), and a per-label mean of 1e9-grid
    quantized scores — associative integer adds, partition-proof.
    Distances are sqrt of exact carrier integers, identical both
    engines; ties at a=b=0 guard to 0.
    """
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    cents = cell_centroids(v, "label")
    dists = v.crossJoin(broadcast(cents)).select(
        "vec_id",
        "label",
        "cell",
        _d2q(F.col("e"), F.col("ce")).alias("d2q"),
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.sqrt(
            F.min(F.when(F.col("cell") == F.col("label"), F.col("d2q")))
            .cast("double")
            / F.lit(1e6)
        ).alias("a"),
        F.sqrt(
            F.min(F.when(F.col("cell") != F.col("label"), F.col("d2q")))
            .cast("double")
            / F.lit(1e6)
        ).alias("b"),
    )
    sq = F.floor(
        F.when(F.greatest("a", "b") == 0.0, F.lit(0.0))
        .otherwise((F.col("b") - F.col("a")) / F.greatest("a", "b"))
        * 1e9
        + 0.5
    ).cast("long")
    return (
        ab.select("label", sq.alias("sq"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(
                F.sum("sq").cast("double")
                / 1e9
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Binary-signature ANN: sign bits + Hamming pre-rank, exact cosine re-rank
# ---------------------------------------------------------------------------

HAMMING_BITS = 62  # sign bits used (bits 0..61 keep the long positive
#                    in both engines; dims 63-64 still count in the re-rank)
HAMMING_POOL = 50  # Hamming candidates re-ranked exactly per query


@query(
    "q_sim_search_hamming",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    sigs AS (
      SELECT vec_id, label, e,
             list_sum(list_transform(range(1, {HAMMING_BITS} + 1),
               i -> CASE WHEN e[i] >= 0
                         THEN (CAST(1 AS BIGINT) << (i - 1))
                         ELSE CAST(0 AS BIGINT) END)) AS sig
      FROM v
    ),
    q AS (SELECT vec_id AS query_id, e AS qe, sig AS qsig
          FROM sigs WHERE vec_id < {N_QUERY_VECS}),
    ham AS (
      SELECT q.query_id, s.vec_id, s.label, q.qe, s.e,
             CAST(bit_count(xor(s.sig, q.qsig)) AS BIGINT) AS hamming
      FROM q JOIN sigs s ON s.vec_id != q.query_id
    ),
    pool AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, vec_id) AS hrk
        FROM ham
      ) WHERE hrk <= {HAMMING_POOL}
    ),
    rer AS (
      SELECT query_id, vec_id, label, hamming,
             round(list_dot_product(qe, e)
                   / (sqrt(list_dot_product(qe, qe))
                      * sqrt(list_dot_product(e, e))), 6) AS cosine
      FROM pool
    )
    SELECT query_id, vec_id, label, hamming, cosine, rk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id)
                     AS BIGINT) AS rk
      FROM rer
    ) WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
)
def q_sim_search_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-signature ANN (tier 4): each vector compresses to a
    {HAMMING_BITS}-bit SIGN signature (bit i = sign of dimension i), the
    query pre-ranks the corpus by popcount Hamming distance — 8 bytes
    per vector, XOR+popcount per comparison, ~50× cheaper than a float
    dot product — and only the top-{HAMMING_POOL} Hamming candidates
    get the exact cosine re-rank.  This is the binary-embedding retrieval
    trick production vector stores ship (sign bits preserve cosine
    neighborhoods for zero storage); it completes the index family:
    LSH (bucketed), IVF (routed), PQ (quantized), Hamming (binarized).

    The signature build is one JVM-side fold (integer adds of distinct
    powers of two — no overflow, bits 0..61 keep the long positive in
    both engines); the Hamming scan is Q×N cheap integer ops with the
    Q-row query side broadcast (the brute_force_topk shape, minus the
    float math); every window partitions by query_id.  Ties break
    (hamming, vec_id) then (cosine desc, vec_id) — fully deterministic.
    """
    v, q = _fixture_corpus(spark, sf_dir)
    sig_expr = (
        f"aggregate(transform(slice({{col}}, 1, {HAMMING_BITS}),"
        f" (x, i) -> IF(x >= 0D, shiftleft(CAST(1 AS BIGINT), i),"
        f" CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, b) -> a + b)"
    )
    sigs = v.withColumn("sig", F.expr(sig_expr.format(col="e")))
    qs = q.withColumn("qsig", F.expr(sig_expr.format(col="qe")))
    ham = sigs.join(
        broadcast(qs), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        "label",
        "qe",
        "e",
        F.expr("CAST(bit_count(sig ^ qsig) AS BIGINT)").alias("hamming"),
    )
    wh = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    pool = ham.withColumn("hrk", F.row_number().over(wh)).filter(
        F.col("hrk") <= HAMMING_POOL
    )
    rer = pool.select(
        "query_id",
        "vec_id",
        "label",
        "hamming",
        F.round(
            dot(F.col("qe"), F.col("e"))
            / (
                F.sqrt(dot(F.col("qe"), F.col("qe")))
                * F.sqrt(dot(F.col("e"), F.col("e")))
            ),
            6,
        ).alias("cosine"),
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        rer.withColumn("rk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("query_id", "rk")
    )


# ---------------------------------------------------------------------------
# IVF nprobe sweep: the recall/cost tuning curve
# ---------------------------------------------------------------------------

IVF_SWEEP_PROBES = (1, 2, 4)


def _o_ivf_sweep_one(np_: int) -> str:
    return f"""
      SELECT {np_} AS n_probe,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN x.rk IS NOT NULL AND x.rk <= {TOP_K}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM (
        SELECT q.query_id, v.vec_id
        FROM q
        JOIN (
          SELECT query_id, cell AS probe_cell FROM (
            SELECT q.query_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                     round(list_dot_product(q.qe, c.ce)
                           / (sqrt(list_dot_product(q.qe, q.qe))
                              * sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
                     c.cell) AS crk
            FROM q CROSS JOIN cent_vecs c
          ) WHERE crk <= {np_}
        ) p ON p.query_id = q.query_id
        JOIN v ON v.label = p.probe_cell AND v.vec_id != q.query_id
      ) cand
      LEFT JOIN exact_rk x
        ON x.query_id = cand.query_id AND x.vec_id = cand.vec_id
    """


@query(
    "q_sim_ivf_sweep",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    elems AS (
      SELECT v.label AS cell, u.pos, u.val
      FROM v, LATERAL (SELECT unnest(v.e) AS val,
                              unnest(range(len(v.e))) AS pos) u
    ),
    centroids AS (
      SELECT cell, pos,
             CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS cval
      FROM elems GROUP BY cell, pos
    ),
    cent_vecs AS MATERIALIZED (
      SELECT cell, list(cval ORDER BY pos) AS ce FROM centroids GROUP BY cell
    ),
    q AS MATERIALIZED (
      SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}
    ),
    exact_rk AS MATERIALIZED (
      SELECT query_id, vec_id, rk FROM (
        SELECT q.query_id, v.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(q.qe, v.e)
                       / (sqrt(list_dot_product(q.qe, q.qe))
                          * sqrt(list_dot_product(v.e, v.e))), 6) DESC,
                 v.vec_id) AS rk
        FROM q JOIN v ON v.vec_id != q.query_id
      ) WHERE rk <= {TOP_K}
    ),
    sweep AS (
      {" UNION ALL ".join(_o_ivf_sweep_one(np_) for np_ in IVF_SWEEP_PROBES)}
    )
    SELECT n_probe, n_candidates, n_hits,
           round(CAST(n_hits AS DOUBLE) / ({N_QUERY_VECS} * {TOP_K}), 6)
             AS mean_recall
    FROM sweep
    ORDER BY n_probe
    """,
)
def q_sim_ivf_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning sweep: recall@k AND candidate-scan cost for n_probe ∈
    {IVF_SWEEP_PROBES} in one result — the curve an index operator
    actually reads when choosing the probe budget (recall climbs with
    n_probe, scan cost climbs linearly; pick the knee).  The tuning-
    harness sibling of q_dedup_lsh_tuning, applied to the IVF family.

    Each sweep point reuses the SAME centroid relation and the SAME
    exact ground-truth top-k (computed once — the expensive parts do
    not multiply with sweep size); candidates per point are the probed
    cells' members joined against the Q-row query set, and recall is
    hits/(Q·k) on exact integers.  At 100 TB this is the index-build
    acceptance job: ground truth on a bounded sampled query set, sweep
    points as cheap conditional re-probes of the cell index.
    """
    v, q = _fixture_corpus(spark, sf_dir)
    exact = brute_force_topk(v, q, TOP_K).select(
        F.col("query_id").alias("x_query_id"),
        F.col("vec_id").alias("x_vec_id"),
    ).localCheckpoint(eager=False)
    cents = cell_centroids(v, "label").localCheckpoint(eager=False)
    out = None
    for np_ in IVF_SWEEP_PROBES:
        wq = Window.partitionBy("query_id").orderBy(
            F.col("ccos").desc(), F.col("cell")
        )
        probes = (
            q.crossJoin(broadcast(cents))
            .select(
                "query_id",
                "cell",
                F.round(
                    dot(F.col("qe"), F.col("ce"))
                    / (
                        F.sqrt(dot(F.col("qe"), F.col("qe")))
                        * F.sqrt(dot(F.col("ce"), F.col("ce")))
                    ),
                    6,
                ).alias("ccos"),
            )
            .withColumn("crk", F.row_number().over(wq))
            .filter(F.col("crk") <= np_)
            .select("query_id", F.col("cell").alias("probe_cell"))
        )
        cand = (
            q.join(broadcast(probes), "query_id")
            .join(
                v,
                (F.col("label") == F.col("probe_cell"))
                & (F.col("vec_id") != F.col("query_id")),
            )
            .select("query_id", "vec_id")
        )
        point = cand.join(
            exact,
            (F.col("x_query_id") == F.col("query_id"))
            & (F.col("x_vec_id") == F.col("vec_id")),
            "left",
        ).agg(
            F.lit(np_).cast("long").alias("n_probe"),
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.count("x_vec_id").cast("long").alias("n_hits"),
        )
        out = point if out is None else out.unionByName(point)
    return out.select(
        "n_probe",
        "n_candidates",
        "n_hits",
        F.round(
            F.col("n_hits").cast("double") / (N_QUERY_VECS * TOP_K), 6
        ).alias("mean_recall"),
    ).orderBy("n_probe")


# ---------------------------------------------------------------------------
# Session-memoized evaluation ground truth (exact + LSH top-k lists)
# ---------------------------------------------------------------------------

def eval_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized exact top-k ground truth (query_id, vec_id, rk, cosine)
    over the fixture query set, shared by every ranking-quality query."""
    return session_memo(
        spark,
        ("eval_topk", sf_dir, "exact"),
        lambda: brute_force_topk(*_fixture_corpus(spark, sf_dir), TOP_K)
        .localCheckpoint(eager=False),
        reads=(table_path(sf_dir, "embeddings"),),
    )


def eval_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized LSH top-k ranking (query_id, vec_id, rk, cosine)."""
    return session_memo(
        spark,
        ("eval_topk", sf_dir, "lsh"),
        lambda: lsh_topk(*_fixture_corpus(spark, sf_dir), TOP_K)
        .localCheckpoint(eager=False),
        reads=(table_path(sf_dir, "embeddings"),),
    )


# ---------------------------------------------------------------------------
# Index health report: bucket/cell balance across the ANN index families
# ---------------------------------------------------------------------------


@query(
    "q_embed_index_stats",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    lsh AS (
      SELECT 'lsh_bucket' AS family, CAST({_o_lsh_bucket('e')} AS VARCHAR) AS cell
      FROM v
    ),
    ivf AS (
      SELECT 'label_cell' AS family, CAST(label AS VARCHAR) AS cell FROM v
    ),
    cells AS (
      SELECT family, cell, CAST(COUNT(*) AS BIGINT) AS sz
      FROM (SELECT * FROM lsh UNION ALL SELECT * FROM ivf)
      GROUP BY family, cell
    )
    SELECT family,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(sz) AS BIGINT) AS n_vecs,
           CAST(MAX(sz) AS BIGINT) AS max_cell,
           CAST(MIN(sz) AS BIGINT) AS min_cell,
           round(CAST(MAX(sz) AS DOUBLE)
                 / (CAST(SUM(sz) AS DOUBLE) / COUNT(*)), 6) AS balance
    FROM cells
    GROUP BY family
    ORDER BY family
    """,
)
def q_embed_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index health report across the ANN index families: cell count,
    population, largest/smallest cell, and the balance ratio
    max/mean — the operational check an index build runs BEFORE
    serving, because one overloaded LSH bucket or IVF cell turns every
    query routed there into a near-linear scan (balance ≈ 1 is ideal;
    at 100 TB this report decides whether to re-hash with more bits or
    re-train the coarse quantizer).  Companion to q_sim_ivf_sweep:
    sweep grades recall/cost, this grades the partitioning itself.

    One scan computes both families' cell keys (the 4-bit hyperplane
    signature and the label cell), one hash aggregate per (family,
    cell), and the report rolls up O(cells) rows.  Balance is a single
    division of exact longs, rounded at 6.
    """
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    keyed = v.select(
        F.lit("lsh_bucket").alias("family"),
        lsh_bucket_col(F.col("e")).cast("string").alias("cell"),
    ).unionByName(
        v.select(
            F.lit("label_cell").alias("family"),
            F.col("label").cast("string").alias("cell"),
        )
    )
    cells = keyed.groupBy("family", "cell").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return (
        cells.groupBy("family")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("sz").cast("long").alias("n_vecs"),
            F.max("sz").cast("long").alias("max_cell"),
            F.min("sz").cast("long").alias("min_cell"),
            F.round(
                F.max("sz").cast("double")
                / (F.sum("sz").cast("double") / F.count(F.lit(1))),
                6,
            ).alias("balance"),
        )
        .orderBy("family")
    )


@query(
    "q_embed_knn_accuracy",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    vb AS (SELECT *, {{bucket}} AS bucket FROM v),
    scored AS (
      SELECT a.vec_id, a.label, b.label AS nlabel,
             round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine,
             b.vec_id AS neighbor_id
      FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
    ),
    topk AS (
      SELECT vec_id, label, nlabel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cosine DESC, neighbor_id) AS rk
        FROM scored
      ) WHERE rk <= {{k}}
    ),
    votes AS (
      SELECT vec_id, label, nlabel, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM topk GROUP BY vec_id, label, nlabel
    ),
    pred AS (
      SELECT vec_id, label, nlabel AS predicted FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cnt DESC, nlabel) AS vr
        FROM votes
      ) WHERE vr = 1
    ),
    totals AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_total FROM v GROUP BY label
    )
    SELECT t.label, t.n_total,
           CAST(COUNT(p.vec_id) AS BIGINT) AS n_scored,
           CAST(SUM(CASE WHEN p.predicted = p.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(SUM(CASE WHEN p.predicted = p.label
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(p.vec_id), 6) AS accuracy
    FROM totals t LEFT JOIN pred p ON p.label = t.label
    GROUP BY t.label, t.n_total
    ORDER BY t.label
    """.format(bucket=_o_lsh_bucket("e"), k=KNN_K),
)
def q_embed_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out k-NN label accuracy per class: predict each
    vector's label by majority vote of its top-{KNN_K} in-bucket
    neighbors and grade against the stored label — the standard
    label-quality / embedding-quality probe (if a class's k-NN accuracy
    is low, either its labels are noisy or the embedding doesn't
    separate it), complementing q_embed_cluster_purity (unsupervised
    k-means view) with a supervised readout.

    Same scale contract as q_embed_knn: the LSH-bucket SELF-join is the
    only pair expansion, top-k plans as WindowGroupLimit, and the
    majority vote is a (vec, label) hash agg + one per-vec window with
    a deterministic (count DESC, label ASC) tiebreak.  Vectors whose
    bucket holds no neighbor drop out of n_scored — reported next to
    n_total so the coverage loss is visible."""
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    vb = (
        v.withColumn("bucket", lsh_bucket_col(F.col("e")))
        .withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))
        # self-join (twice) + per-label totals all consume this
        .localCheckpoint(eager=False)
    )
    other = vb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        F.col("e").alias("ne"),
        F.col("bucket").alias("nbucket"),
        F.col("nrm").alias("nnrm"),
    )
    scored = vb.join(
        other,
        (F.col("bucket") == F.col("nbucket"))
        & (F.col("vec_id") != F.col("neighbor_id")),
    ).select(
        "vec_id",
        "label",
        "nlabel",
        "neighbor_id",
        F.round(
            dot(F.col("e"), F.col("ne")) / (F.col("nrm") * F.col("nnrm")),
            6,
        ).alias("cosine"),
    )
    wk = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= KNN_K)
        .select("vec_id", "label", "nlabel")
    )
    votes = topk.groupBy("vec_id", "label", "nlabel").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.col("cnt").desc(), F.col("nlabel")
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("vec_id", "label", F.col("nlabel").alias("predicted"))
    )
    totals = vb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    return (
        totals.join(pred, "label", "left")
        .groupBy("label", "n_total")
        .agg(
            F.count("vec_id").cast("long").alias("n_scored"),
            F.sum(
                F.when(F.col("predicted") == F.col("label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(
                        F.col("predicted") == F.col("label"), 1
                    ).otherwise(0)
                ).cast("double")
                / F.count("vec_id"),
                6,
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


@query(
    "q_embed_isotropy",
    oracle="""
    WITH rows_n AS (
      SELECT embedding,
             sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN nrm > 1e-9 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unit
      FROM rows_n
    ),
    comp AS (
      SELECT p.i,
             CASE WHEN nrm > 1e-9
                  THEN CAST(floor(CAST(p.x AS DOUBLE) / nrm * 1e6 + 0.5)
                            AS BIGINT)
                  ELSE 0 END AS uq,
             CAST(floor(CAST(p.x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS mq,
             CAST(floor(CAST(p.x AS DOUBLE) * CAST(p.x AS DOUBLE) * 1e9
                        + 0.5) AS BIGINT) AS sq
      FROM rows_n,
           LATERAL (SELECT unnest(list_transform(
                      range(1, len(embedding) + 1),
                      i -> {'i': i, 'x': embedding[i]})) AS p) z
    ),
    dims AS (
      SELECT i, CAST(SUM(uq) AS BIGINT) AS su,
             CAST(SUM(mq) AS BIGINT) AS sm,
             CAST(SUM(sq) AS BIGINT) AS s2
      FROM comp GROUP BY i
    ),
    dterm AS (
      SELECT i,
             CAST(floor((CAST(su AS DOUBLE) / 1e6)
                        * (CAST(su AS DOUBLE) / 1e6) * 1e6 + 0.5)
                  AS HUGEINT) AS q2,
             CAST(floor((CAST(sm AS DOUBLE) / 1e6 / t.n)
                        * (CAST(sm AS DOUBLE) / 1e6 / t.n) * 1e12 + 0.5)
                  AS BIGINT) AS mu2,
             CAST(floor((CAST(s2 AS DOUBLE) / 1e9 / t.n
                         - (CAST(sm AS DOUBLE) / 1e6 / t.n)
                           * (CAST(sm AS DOUBLE) / 1e6 / t.n)) * 1e12
                        + 0.5) AS BIGINT) AS v12,
             t.n, t.n_unit
      FROM dims CROSS JOIN tot t
    )
    SELECT MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS dim,
           round(sqrt(CAST(SUM(mu2) AS DOUBLE) / 1e12), 6)
             AS mean_vec_norm,
           round((CAST(SUM(q2) AS DOUBLE) / 1e6 - MAX(n_unit))
                 / (MAX(n_unit) * (MAX(n_unit) - 1.0)), 6) AS avg_cos,
           round(CAST(MAX(v12) AS DOUBLE) / SUM(v12), 6)
             AS axis_max_var_share
    FROM dterm
    """,
)
def q_embed_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy diagnostics — the index-quality screen
    retrieval papers run before trusting cosine similarity at all: a
    strongly anisotropic space (all vectors leaning into a common cone)
    makes cosine scores saturate and ANN recall curves lie.  Reports
    the mean-vector norm (0 for a centered space), the average pairwise
    cosine, and the largest single axis' share of total variance.

    The O(n²) pairwise-cosine average collapses via the exact identity
    Σ_{i≠j} v̂ᵢ·v̂ⱼ = ||Σ v̂||² − Σ||v̂||²: ONE narrow pass pins each
    normalized component onto a 1e6 grid (per-row norm is the codegen'd
    fixed-order fold from q_embed_norms), per-dimension sums are then
    exact integers at any partition count, and the 64-row finish squares
    them on a 1e6 summand grid into HUGEINT (S_k² · 1e6 passes BIGINT at
    sf10).  Mean vector and per-axis variance ride the same exploded
    pass on 1e6/1e9 grids — no second scan, no pair join anywhere."""
    em = t(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    rows_n = em.select("embedding", nrm.alias("nrm"))
    tot = rows_n.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("nrm") > 1e-9, 1).otherwise(0))
        .cast("long")
        .alias("n_unit"),
    )
    xd = F.col("x").cast("double")
    comp = rows_n.select(
        "nrm", F.posexplode("embedding").alias("pos", "x")
    ).select(
        (F.col("pos") + 1).alias("i"),
        F.when(
            F.col("nrm") > 1e-9,
            F.floor(xd / F.col("nrm") * 1e6 + 0.5).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("uq"),
        F.floor(xd * 1e6 + 0.5).cast("long").alias("mq"),
        F.floor(xd * xd * 1e9 + 0.5).cast("long").alias("sq"),
    )
    dims = comp.groupBy("i").agg(
        F.sum("uq").cast("long").alias("su"),
        F.sum("mq").cast("long").alias("sm"),
        F.sum("sq").cast("long").alias("s2"),
    )
    mu = F.col("sm").cast("double") / 1e6 / F.col("n")
    dterm = dims.crossJoin(F.broadcast(tot)).select(
        "i",
        F.floor(
            (F.col("su").cast("double") / 1e6)
            * (F.col("su").cast("double") / 1e6)
            * 1e6
            + 0.5
        )
        .cast("decimal(38,0)")
        .alias("q2"),
        F.floor(mu * mu * 1e12 + 0.5).cast("long").alias("mu2"),
        F.floor(
            (F.col("s2").cast("double") / 1e9 / F.col("n") - mu * mu)
            * 1e12
            + 0.5
        )
        .cast("long")
        .alias("v12"),
        "n",
        "n_unit",
    )
    return dterm.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("long").alias("dim"),
        F.round(F.sqrt(F.sum("mu2").cast("double") / 1e12), 6).alias(
            "mean_vec_norm"
        ),
        F.round(
            (F.sum("q2").cast("double") / 1e6 - F.max("n_unit"))
            / (F.max("n_unit") * (F.max("n_unit") - 1.0)),
            6,
        ).alias("avg_cos"),
        F.round(
            F.max("v12").cast("double") / F.sum("v12"), 6
        ).alias("axis_max_var_share"),
    )


CASCADE_DEPTH = 50  # int8 candidates per query fed to the exact reranker


@query(
    "q_sim_rerank_cascade",
    oracle=f"""
    WITH {_O_QUANT},
    qs AS (
      SELECT vec_id AS query_id, qv AS qqv, e AS qe
      FROM quant WHERE vec_id < {N_QUERY_VECS}
    ),
    coarse AS (
      SELECT query_id, vec_id, label, e, crk FROM (
        SELECT qs.query_id, c.vec_id, c.label, c.e,
               ROW_NUMBER() OVER (PARTITION BY qs.query_id ORDER BY
                 round(list_dot_product(qs.qqv, c.qv)
                       / (sqrt(list_dot_product(qs.qqv, qs.qqv))
                          * sqrt(list_dot_product(c.qv, c.qv))), 6) DESC,
                 c.vec_id) AS crk
        FROM qs JOIN quant c ON c.vec_id != qs.query_id
      ) WHERE crk <= {CASCADE_DEPTH}
    ),
    rer AS (
      SELECT co.query_id, co.vec_id, co.label,
             CAST(co.crk AS BIGINT) AS coarse_rk,
             round(list_dot_product(q2.qe, co.e)
                   / (sqrt(list_dot_product(q2.qe, q2.qe))
                      * sqrt(list_dot_product(co.e, co.e))), 6) AS cosine
      FROM coarse co JOIN qs q2 ON q2.query_id = co.query_id
    )
    SELECT query_id, vec_id, label, cosine, coarse_rk, rk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
      FROM rer
    ) WHERE rk <= {TOP_K}
    """,
)
def q_sim_rerank_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN cascade — the production search pipeline in one
    plan: stage 1 scores every candidate with the 4×-smaller int8
    corpus (pure integer dot products, SIMD semantics) and keeps the
    top-{CASCADE_DEPTH} per query; stage 2 reranks ONLY those
    {CASCADE_DEPTH} with exact float cosine.  The emitted coarse_rk
    next to the final rk shows exactly how much the cheap stage
    misordered — the observability a cascade deployment needs.

    Scale shape: stage 1 is q_sim_search_int8's plan (corpus never
    shuffles, queries broadcast, WindowGroupLimit keeps
    {CASCADE_DEPTH}/query/partition); stage 2 touches Q×{CASCADE_DEPTH}
    rows — negligible at any corpus size, which is the entire point of
    a cascade.  Both stages' cosines round at 6 with vec_id tiebreaks,
    so the pipeline is deterministic end to end."""
    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double_vec("embedding").alias("e")
        ),
        spark,
    )
    qd = quantized_corpus(v)
    queries = (
        qd.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("qv").alias("qqv"),
            F.col("e").alias("qe"),
        )
    )
    idot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    corpus = qd.select("vec_id", "label", "e", "qv").withColumn(
        "nrm_q", F.sqrt(idot(F.col("qv"), F.col("qv")).cast("double"))
    )
    qn = queries.withColumn(
        "qnrm_q", F.sqrt(idot(F.col("qqv"), F.col("qqv")).cast("double"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cosine_q").desc(), F.col("vec_id")
    )
    coarse = (
        corpus.join(broadcast(qn), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            "e",
            "qe",
            F.round(
                idot(F.col("qqv"), F.col("qv")).cast("double")
                / (F.col("qnrm_q") * F.col("nrm_q")),
                6,
            ).alias("cosine_q"),
        )
        .withColumn("crk", F.row_number().over(wq).cast("long"))
        .filter(F.col("crk") <= CASCADE_DEPTH)
    )
    rer = coarse.select(
        "query_id",
        "vec_id",
        "label",
        F.col("crk").alias("coarse_rk"),
        cosine(F.col("qe"), F.col("e")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        rer.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "label", "cosine", "coarse_rk", "rk")
    )


FILT_K = 5
FILT_POST_DEPTH = 20


@query(
    "q_sim_filtered_search",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel, e AS qe
          FROM v WHERE vec_id < {N_QUERY_VECS}),
    pre AS (
      SELECT query_id, vec_id, cosine, rk FROM (
        SELECT q.query_id, v.vec_id,
               round(list_dot_product(q.qe, v.e)
                     / (sqrt(list_dot_product(q.qe, q.qe))
                        * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(q.qe, v.e)
                       / (sqrt(list_dot_product(q.qe, q.qe))
                          * sqrt(list_dot_product(v.e, v.e))), 6) DESC,
                 v.vec_id) AS rk
        FROM q JOIN v ON v.label = q.qlabel AND v.vec_id != q.query_id
      ) WHERE rk <= {FILT_K}
    ),
    post AS (
      SELECT query_id, vec_id, prk FROM (
        SELECT query_id, vec_id, qlabel, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS prk
        FROM (
          SELECT q.query_id, v.vec_id, q.qlabel, v.label,
                 round(list_dot_product(q.qe, v.e)
                       / (sqrt(list_dot_product(q.qe, q.qe))
                          * sqrt(list_dot_product(v.e, v.e))), 6)
                   AS cosine,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   round(list_dot_product(q.qe, v.e)
                         / (sqrt(list_dot_product(q.qe, q.qe))
                            * sqrt(list_dot_product(v.e, v.e))), 6) DESC,
                   v.vec_id) AS urk
          FROM q JOIN v ON v.vec_id != q.query_id
        ) WHERE urk <= {FILT_POST_DEPTH} AND label = qlabel
      ) WHERE prk <= {FILT_K}
    )
    SELECT p.query_id,
           CAST(COUNT(*) AS BIGINT) AS k_pre,
           CAST(SUM(CASE WHEN po.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS k_post_matched,
           round(CAST(SUM(CASE WHEN po.vec_id IS NOT NULL THEN 1
                               ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS postfilter_recall
    FROM pre p
    LEFT JOIN post po ON po.query_id = p.query_id
                     AND po.vec_id = p.vec_id
    GROUP BY p.query_id ORDER BY p.query_id
    """,
)
def q_sim_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, both ways production systems do it:
    PRE-filter (exact top-{FILT_K} within the label-matching corpus
    slice — the ground truth) vs POST-filter (take the unfiltered
    top-{FILT_POST_DEPTH}, then apply the predicate, keep {FILT_K}) —
    reporting per-query post-filter recall.  This is THE decision
    metric for whether an ANN index needs predicate awareness: with a
    selective filter, post-filtering's candidate list runs dry and
    recall collapses, which this op quantifies instead of asserting.

    Both arms are the q_sim_search plan (corpus never shuffles for
    scoring, queries broadcast, WindowGroupLimit top-k); the pre-filter
    arm pushes the label predicate INTO the join — at scale that is
    partition pruning on a label-partitioned corpus; the recall join
    touches Q×{FILT_K} rows."""
    v, q = _fixture_corpus(spark, sf_dir)
    qlab = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
    )
    q = q.join(broadcast(qlab), "query_id")
    vv, qq = _with_norms(v, q)
    pre_scored = vv.join(
        broadcast(qq),
        (F.col("label") == F.col("qlabel"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id", _pair_cosine().alias("cosine"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    pre = (
        pre_scored.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= FILT_K)
        .select("query_id", "vec_id")
    )
    un_scored = vv.join(
        broadcast(qq), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id", "vec_id", "label", "qlabel", _pair_cosine().alias("cosine")
    )
    post = (
        un_scored.withColumn("urk", F.row_number().over(wq))
        .filter(
            (F.col("urk") <= FILT_POST_DEPTH)
            & (F.col("label") == F.col("qlabel"))
        )
        .withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= FILT_K)
        .select("query_id", F.col("vec_id").alias("post_vec"))
    )
    post_r = post.select(
        F.col("query_id").alias("pq"), F.col("post_vec")
    )
    return (
        pre.join(
            post_r,
            (F.col("pq") == F.col("query_id"))
            & (F.col("post_vec") == F.col("vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_pre"),
            F.sum(F.when(F.col("post_vec").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("k_post_matched"),
            F.round(
                F.sum(
                    F.when(F.col("post_vec").isNotNull(), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("postfilter_recall"),
        )
        .orderBy("query_id")
    )
