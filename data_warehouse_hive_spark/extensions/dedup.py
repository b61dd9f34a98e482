"""Deduplication operators over `documents` — SURVEY.md §2.12 north-star.

Seven dedup operators, each the Spark-idiomatic scalable shape:

  exact          — hash-groupBy on a normalized fingerprint (one shuffle
                   on the fingerprint; survivor = min doc_id).
  MinHash + LSH  — shingle → K independent minhashes → B bands → bucket
                   grouping.  Candidate generation shuffles once on the
                   uniform (band_id, band_key): at 100 TB this is the
                   standard near-dup pipeline (no pairwise cross join
                   ever materializes; cost is O(docs × K) + bucket pass).
  SimHash        — 16-bit sign-sum sketch; near-dups share the sketch.
  n-gram Jaccard — exact Jaccard verification on a bounded block.
  LSH → verify   — the composed production pipeline: exact Jaccard on
                   LSH candidates only, thresholded (q_dedup_verify).
  components     — duplicate-cluster ids via iterative min-label
                   propagation over the candidate graph (q_dedup_groups).
  embedding cosine — near-dup by cosine over the embeddings table,
                   blocked by label (the IVF-style pre-partition).

Cross-engine determinism: ALL hashing is md5-based (bit-identical in
Spark and DuckDB), so even the LSH pipeline is oracle-checkable — the
DuckDB oracle reimplements the identical minhash algebra in SQL.
xxhash64/murmur would be faster in production; md5 keeps every stage
verifiable, and swapping the hash is a one-line change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_hive_spark.registry import query
from data_warehouse_hive_spark.tables import session_memo, spread, t, table_path

# MinHash configuration: K hashes in B bands of R rows (K = B*R).
MINHASH_K = 12
LSH_BANDS = 4
LSH_ROWS = 3


def normalized_text(col: str | Column = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array of strings (distinct).

    NOTE: inline form — the words expression re-evaluates per lambda
    element (higher-order fns are interpreted).  Fine for bounded blocks;
    for corpus-wide shingling use `shingle_arrays`, which materializes
    the words column first and builds each shingle from element lookups
    instead of slice() copies (~8× faster)."""
    words = F.split(col, " ")
    k = F.size(words) - (n - 1)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )


def shingle_arrays(docs: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """documents → (doc_id, sh) with the fast shingle construction
    (materialized words column + try_element_at — see signature())."""
    wdf = spread(
        docs.select("doc_id", F.split(normalized_text("text"), " ").alias("w")),
        docs.sparkSession,
    )
    shingle = lambda i: F.concat_ws(
        " ", *[F.try_element_at(F.col("w"), i + j) for j in range(1, n + 1)]
    )
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("w") - n, F.lit(0))), shingle
    )
    if distinct:
        sh = F.array_distinct(sh)
    return wdf.select("doc_id", sh.alias("sh"))


# Universal-hash family over a single md5-derived 32-bit base hash:
# h = int(md5(shingle)[:8], 16) % P;  h_j = (A_j * h + B_j) % P.
# One md5 per shingle total (instead of K) — the K permutations are cheap
# integer ops, identical in both engines (products < 2^62, no overflow).
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
MINHASH_AB = [
    (1_103_515_245, 12_345),
    (1_234_567_891, 987_654_321),
    (766_245_317, 88_888_887),
    (99_990_001, 55_555_333),
    (1_034_567_891, 271_828_183),
    (314_159_257, 161_803_399),
    (999_999_937, 42),
    (192_837_465, 918_273_645),
    (777_767_777, 123_456_789),
    (1_111_111_121, 222_222_227),
    (1_412_356_789, 333_444_555),
    (658_123_741, 777_888_999),
]
assert len(MINHASH_AB) == MINHASH_K


def base_hash(s: Column) -> Column:
    """Engine-portable 32-bit shingle hash: first 8 hex chars of md5 → int,
    reduced mod P (Spark: conv(hex,16,10); DuckDB: '0x'||hex cast)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long") % MINHASH_P


def signature(docs: DataFrame, n: int = 3, k: int = MINHASH_K) -> DataFrame:
    """documents → (doc_id, mh_0..mh_{k-1}) minhash signature via explode +
    one grouped aggregation (one shuffle on doc_id; md5 computed once per
    shingle, the K permutations are integer min-aggregates).

    Shingling details that matter for speed: higher-order lambdas are
    interpreted (not codegen), so the words array is materialized as a
    real column first (otherwise the regex split re-evaluates per lambda
    element), and each shingle is built from n try_element_at lookups
    rather than slice() (which copies a sub-array per shingle) — ~8×
    faster end-to-end.  No array_distinct: duplicate shingles cannot
    change a min-aggregate, so the signature equals the set-based one the
    oracle computes.  try_element_at → null past the end, and concat_ws
    skips nulls, which reproduces slice()'s shorter-tail-shingle
    semantics for docs with < n words."""
    # NOTE: the explode stays INLINE over the transform expression — if the
    # shingle array is materialized as a named column first (shingle_arrays)
    # and then exploded, InferFiltersFromGenerate infers `size(sh) > 0` and
    # pushes that filter below the repartition, where it re-evaluates the
    # entire shingle transform against the inline split per row on the
    # single-core scan (~17× slower).  Inline generator input infers no
    # filter.
    wdf = spread(
        docs.select("doc_id", F.split(normalized_text("text"), " ").alias("w")),
        docs.sparkSession,
    )
    shingle = lambda i: F.concat_ws(
        " ", *[F.try_element_at(F.col("w"), i + j) for j in range(1, n + 1)]
    )
    sh = wdf.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("w") - n, F.lit(0))),
                shingle,
            )
        ).alias("s"),
    )
    hashed = sh.select("doc_id", base_hash(F.col("s")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"mh_{j}")
        for j, (a, b) in enumerate(MINHASH_AB[:k])
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


# ---------------------------------------------------------------------------
# Oracle-side SQL builders (DuckDB) — same algebra, same md5 hashing.
# ---------------------------------------------------------------------------

_O_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"


def _o_shingles(n: int = 3) -> str:
    return f"""
      list_distinct(list_transform(
        range(greatest(len(string_split({_O_NORM}, ' ')) - {n - 1}, 1)),
        i -> array_to_string(string_split({_O_NORM}, ' ')[i + 1 : i + {n}], ' ')
      ))"""


def _o_base_hash(expr: str = "s") -> str:
    return f"(('0x' || substr(md5({expr}), 1, 8))::UBIGINT::BIGINT % {MINHASH_P})"


@query(
    "q_dedup_exact",
    oracle=f"""
    SELECT md5({_O_NORM}) AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5({_O_NORM})
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: group by fingerprint, keep the
    lowest doc_id.  One shuffle on the (high-cardinality, uniform) md5 key
    — the scalable exact-dedup shape; `dropDuplicates` would not let us
    pick a deterministic survivor.

    No `spread()` here, deliberately: the groupBy's own hash exchange
    already redistributes, and the per-row work (one regex + one md5) is
    too light to pay for a second round-robin shuffle first — measured
    2.4× slower WITH the pre-repartition at sf0.1 (r4 bench regression,
    0.529 s → 0.683 s).  spread() stays on the shingling queries, whose
    per-row explode/hash compute dwarfs one shuffle of the text bytes."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.select(F.md5(normalized_text("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _mh_exprs_oracle() -> str:
    return ",\n           ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh_{j}"
        for j, (a, b) in enumerate(MINHASH_AB)
    )


def _o_minhash_bands_cte() -> str:
    """The shingle → signature → banded-keys chain of CTEs, stopping at
    `bands` — the shared prefix of the uncapped pair join, the capped
    variant (which filters buckets by size first), and the bucket-stats
    audit."""
    return f"""sh_t AS (
      SELECT doc_id, {_o_shingles(3)} AS sh FROM documents
    ),
    hashed AS (
      SELECT doc_id, {_o_base_hash('u.s')} AS h
      FROM sh_t, LATERAL (SELECT unnest(sh) AS s) u
    ),
    sig AS (
      SELECT doc_id,
           {_mh_exprs_oracle()}
      FROM hashed
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.band_id,
             CASE b.band_id
               {" ".join(
                   f"WHEN {b} THEN concat_ws('_', mh_{b * LSH_ROWS}"
                   + "".join(f", mh_{b * LSH_ROWS + r}" for r in range(1, LSH_ROWS))
                   + ")"
                   for b in range(LSH_BANDS)
               )}
             END AS band_key
      FROM sig, LATERAL (SELECT unnest(range({LSH_BANDS})) AS band_id) b
    )"""


def _o_minhash_pairs_cte() -> str:
    """The shared shingle-signature-bands-pairs chain of CTEs (reused by
    the candidate-pair query and connected-components grouping)."""
    return f"""{_o_minhash_bands_cte()},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )"""


def minhash_candidate_pairs(docs: DataFrame, sig: DataFrame | None = None) -> DataFrame:
    """documents → distinct (doc_a < doc_b) LSH candidate pairs.

    Pass a precomputed (possibly checkpointed) ``sig`` when the caller
    also consumes the signature — otherwise the shingle→hash lineage
    replays once per consumer.
    """
    if sig is None:
        sig = signature(docs)
    band_cols = [
        F.concat_ws(
            "_", *[F.col(f"mh_{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        ).alias(f"band_{b}")
        for b in range(LSH_BANDS)
    ]
    banded = sig.select(
        "doc_id",
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_key"),
    )
    # Bucketize instead of self-joining: a self-join would recompute the
    # whole shingle→signature lineage once per side AND shuffle it twice;
    # grouping pays one shuffle on the uniform (band_id, band_key) and
    # expands pairs inside each bucket.  A pathological hot bucket is
    # quadratic either way — LSH band keys keep buckets tiny by design.
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    ids = F.col("ids")
    pairs = F.filter(
        F.flatten(
            F.transform(
                ids,
                lambda x: F.transform(
                    ids, lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
                ),
            )
        ),
        lambda p: p.getField("doc_a") < p.getField("doc_b"),
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def candidate_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_a < doc_b) LSH candidate pairs for this corpus, built at
    most once per session and corpus version and checkpointed, so a
    second consumer scans materialized blocks instead of the documents."""
    return session_memo(
        spark,
        ("pairs", sf_dir),
        lambda: minhash_candidate_pairs(
            t(spark, sf_dir, "documents")
        ).localCheckpoint(eager=False),
        reads=(table_path(sf_dir, "documents"),),
    )


@query(
    "q_dedup_minhash",
    oracle=f"""
    WITH {_o_minhash_pairs_cte()}
    SELECT doc_a, doc_b FROM pairs
    """,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs: shingle → md5-seeded universal
    hashes (K=12) → 4 bands × 3 rows → band-bucket equi-join → distinct
    candidate pairs.

    The join is on (band_id, band_key) — uniformly distributed keys, so
    the shuffle is balanced; no O(n²) comparison ever happens.  md5 runs
    once per shingle; the K permutations are integer (A·h+B) mod P ops.
    The DuckDB oracle reimplements the identical algebra, making the LSH
    pipeline fully value-checked.

    Returns the session-cached checkpointed relation: this id IS the
    index build — downstream pair consumers reuse its blocks.
    """
    return candidate_pairs_cached(spark, sf_dir)


# Hot-bucket admission cap (r11 VERDICT task 1).  In-bucket pair
# expansion is quadratic in bucket size by the nature of LSH; band keys
# keep buckets tiny on natural corpora, but a boilerplate-flooded corpus
# CAN herd a large doc family into one degenerate bucket (text10 already
# measures 27.3M pairs from 500k docs — legitimate there, ruinous if one
# bucket owned them).  The standard production mitigation is an
# admission cap: buckets with more than CAP members are excluded from
# pair expansion entirely and their skipped mass is emitted as an audit
# so the recall loss is quantified, never silent.  64 bounds any single
# bucket's expansion at 2,016 pairs — with ~2k buckets/band at sf0.01
# density that keeps worst-case pair work linear in bucket count.
DEDUP_BUCKET_CAP = 64

# The registered correctness id uses a deliberately tiny cap so the
# sf0.01 fixture exercises BOTH paths: the corpus there has 83 buckets
# of size 2 (expanded) and 3 buckets of size 3 (skipped, 9 pairs of
# audited mass).  Production callers pass DEDUP_BUCKET_CAP.
_CAPPED_DEMO_CAP = 2


def minhash_candidate_pairs_capped(
    docs: DataFrame, cap: int = DEDUP_BUCKET_CAP
) -> tuple[DataFrame, DataFrame]:
    """LSH candidate pairs with a hot-bucket admission cap.

    Returns ``(pairs, audit)``: distinct (doc_a < doc_b) pairs expanded
    ONLY from buckets with 2..cap members, and a 1-row audit relation
    (skipped_buckets, skipped_pair_work = Σ s(s−1)/2 over skipped
    buckets, skipped_docs = distinct docs appearing in any skipped
    bucket).  A doc in a skipped bucket can still pair through its
    other B−1 bands — the cap degrades recall gracefully (quantified
    against q_dedup_lsh_tuning's S-curve), it does not drop docs.

    Plan shape: identical single (band_id, band_key) shuffle as the
    uncapped generator; the bucket relation is checkpointed once and
    re-scanned by the three consumers (pair expansion + two audit
    aggregates), so the shingle→signature lineage runs exactly once.
    """
    sig = signature(docs)
    band_cols = [
        F.concat_ws(
            "_", *[F.col(f"mh_{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        ).alias(f"band_{b}")
        for b in range(LSH_BANDS)
    ]
    banded = sig.select(
        "doc_id",
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_key"),
    )
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .localCheckpoint(eager=False)
    )
    ids = F.col("ids")
    pair_arr = F.filter(
        F.flatten(
            F.transform(
                ids,
                lambda x: F.transform(
                    ids, lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
                ),
            )
        ),
        lambda p: p.getField("doc_a") < p.getField("doc_b"),
    )
    pairs = (
        buckets.filter(F.size("ids") <= cap)
        .select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    hot = buckets.filter(F.size("ids") > cap)
    mass = hot.agg(
        F.count(F.lit(1)).cast("long").alias("skipped_buckets"),
        F.coalesce(
            F.sum(F.expr("size(ids) * (size(ids) - 1) div 2")), F.lit(0)
        )
        .cast("long")
        .alias("skipped_pair_work"),
    )
    docs_skipped = hot.select(F.explode("ids").alias("d")).agg(
        F.count_distinct(F.col("d")).cast("long").alias("skipped_docs")
    )
    return pairs, mass.crossJoin(docs_skipped)


@query(
    "q_dedup_minhash_capped",
    oracle=f"""
    WITH {_o_minhash_bands_cte()},
    sizes AS (
      SELECT band_id, band_key, COUNT(*) AS sz
      FROM bands GROUP BY band_id, band_key
    ),
    small AS (
      SELECT b.band_id, b.band_key, b.doc_id
      FROM bands b JOIN sizes s
        ON b.band_id = s.band_id AND b.band_key = s.band_key
      WHERE s.sz BETWEEN 2 AND {_CAPPED_DEMO_CAP}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM small a JOIN small b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    hot AS (
      SELECT band_id, band_key, sz FROM sizes WHERE sz > {_CAPPED_DEMO_CAP}
    ),
    mass AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS skipped_buckets,
             CAST(COALESCE(SUM(sz * (sz - 1) // 2), 0) AS BIGINT)
               AS skipped_pair_work
      FROM hot
    ),
    hotdocs AS (
      SELECT CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS skipped_docs
      FROM bands b JOIN hot h
        ON b.band_id = h.band_id AND b.band_key = h.band_key
    )
    SELECT doc_a, doc_b, skipped_buckets, skipped_pair_work, skipped_docs
    FROM pairs CROSS JOIN mass CROSS JOIN hotdocs
    """,
)
def q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket-capped LSH candidate generation (r11 VERDICT task 1):
    q_dedup_minhash's expansion with buckets over the admission cap
    EXCLUDED and their skipped bucket/pair/doc mass carried on every
    output row as audit columns — the production guardrail for the one
    regime where banded LSH goes quadratic (a degenerate band key
    herding a template-flooded doc family into one bucket).

    q_dedup_bucket_stats MEASURES the Σ s(s−1)/2 workload; this op
    BOUNDS it: no bucket contributes more than cap·(cap−1)/2 pairs, so
    total pair work is ≤ buckets × cap² regardless of corpus shape.
    The audit columns make the recall loss first-class data — at 100 TB
    you alert on skipped_pair_work and either raise the cap or route
    the hot buckets through exact dedup (their members share a full
    band, i.e. 3 identical minhashes — overwhelmingly template clones
    that exact/substring dedup handles at linear cost).

    Uses a cap of 2 (_CAPPED_DEMO_CAP) so the correctness fixture
    exercises both the expansion and the skip path (sf0.01: 83 buckets
    expanded, 3 skipped); production callers use DEDUP_BUCKET_CAP via
    minhash_candidate_pairs_capped.  Reference: delegated HiveQL dedup
    class (backend/hive_manager.py:400); cap mitigation per Manku et
    al. 2007 / Lee et al. 2022 (public)."""
    pairs, audit = minhash_candidate_pairs_capped(
        t(spark, sf_dir, "documents"), cap=_CAPPED_DEMO_CAP
    )
    return pairs.crossJoin(F.broadcast(audit))


@query(
    "q_dedup_groups",
    oracle=f"""
    WITH RECURSIVE {_o_minhash_pairs_cte()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc FROM edges),
    reach(doc, r) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc
    )
    SELECT CAST(doc AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS group_id
    FROM reach GROUP BY doc
    """,
)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the LSH
    candidate graph via iterative min-label propagation (each doc adopts
    the smallest doc_id reachable; fixpoint = component id).

    This is the genuinely iterative operator in the dedup pipeline — a
    driver loop over DataFrame joins, the standard Spark shape for
    Pregel-style algorithms (GraphX/GraphFrames do the same under the
    hood).  Per iteration: one join edges⋈labels + grouped min + one
    bounded-driver count for convergence; `localCheckpoint` truncates
    the growing lineage so plan size stays O(1) across iterations.
    Iteration count is the component diameter — near-dup clusters are
    tiny, so 2-4 rounds in practice; O(log n) with path-doubling if ever
    needed.  The DuckDB oracle computes the same fixpoint with a
    recursive CTE, so even the iterative operator is value-checked.
    """
    pairs = candidate_pairs_cached(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels, _ = min_label_propagation(edges)
    return labels.select(F.col("doc").alias("doc_id"), "group_id")


def min_label_propagation(
    directed_edges: DataFrame, *, max_iterations: int = 50
) -> tuple[DataFrame, int]:
    """Connected components by iterative min-label propagation over an
    edge list (src, dst); edges are symmetrized internally.  Returns
    (labels DataFrame (doc, group_id), iterations run).

    The driver loop is BOUNDED: iteration count equals the largest
    component's diameter, so `max_iterations` is a circuit breaker for
    pathological graphs (a 10k-node chain would otherwise spin the driver
    for 10k rounds); hitting it raises instead of silently returning
    unconverged labels.  Near-dup clusters have tiny diameters (2-4
    rounds in practice); raise the cap or switch to path-doubling
    (O(log n) rounds) if a use case legitimately needs deep graphs.
    `localCheckpoint` per round truncates lineage so plan size stays O(1)
    across iterations."""
    edges = (
        directed_edges.select("src", "dst")
        .unionAll(
            directed_edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .select("doc", F.col("doc").alias("group_id"))
        .localCheckpoint()
    )
    for iteration in range(1, max_iterations + 1):
        neigh = (
            edges.join(labels, edges.dst == labels.doc)
            .groupBy("src")
            .agg(F.min("group_id").alias("ng"))
        )
        # carry old + new label side by side so the convergence check is a
        # filter-count over the SAME checkpointed rows — not a third join
        # per round against the previous labels
        upd = (
            labels.join(neigh, labels.doc == neigh.src, "left")
            .select(
                labels.doc,
                F.col("group_id").alias("old_gid"),
                F.least(
                    F.col("group_id"), F.coalesce(F.col("ng"), F.col("group_id"))
                ).alias("group_id"),
            )
            .localCheckpoint()
        )
        changed = upd.filter(F.col("group_id") != F.col("old_gid")).count()
        labels = upd.select("doc", "group_id")
        if changed == 0:
            return labels, iteration
    raise RuntimeError(
        f"min_label_propagation did not converge in {max_iterations} "
        "iterations — component diameter exceeds the cap; raise "
        "max_iterations or use path-doubling for deep graphs"
    )


@query(
    "q_dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS words
      FROM documents
    ),
    bits AS (
      SELECT doc_id, b.bit_pos,
             CASE WHEN SUM(CASE WHEN substr(md5(w.word), b.bit_pos + 1, 1) >= '8'
                   THEN 1 ELSE -1 END) >= 0 THEN 1 ELSE 0 END AS bit_val
      FROM tok,
           LATERAL (SELECT unnest(words) AS word) w,
           LATERAL (SELECT unnest(range(16)) AS bit_pos) b
      GROUP BY doc_id, b.bit_pos
    )
    SELECT doc_id,
           CAST(SUM(bit_val * CAST(pow(2, bit_pos) AS BIGINT)) AS BIGINT) AS simhash16
    FROM bits
    GROUP BY doc_id
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash sketch (16-bit): each distinct word votes ±1 per bit
    position via its md5 nibble parity (hex char ≥ '8' → +1); bit = 1 when
    the vote sum is ≥ 0.  Near-dup docs differ in few bits (compare by
    Hamming distance downstream).  Pure map + one grouped sum — linear
    scale.  The md5-nibble vote (hex char >= '8', i.e. high bit of the
    nibble set) makes the sketch engine-independent."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    words = F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    exploded = d.select("doc_id", F.explode(words).alias("word"))
    bit = F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bit_pos")
    votes = exploded.select(
        "doc_id",
        F.md5("word").alias("h"),
        bit,
    ).select(
        "doc_id",
        "bit_pos",
        F.when(
            F.substring(F.col("h"), F.col("bit_pos") + 1, 1) >= F.lit("8"), 1
        )
        .otherwise(-1)
        .alias("vote"),
    )
    bits = (
        votes.groupBy("doc_id", "bit_pos")
        .agg(F.sum("vote").alias("vote_sum"))
        .select(
            "doc_id",
            "bit_pos",
            F.when(F.col("vote_sum") >= 0, 1).otherwise(0).alias("bit_val"),
        )
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.col("bit_val") * F.pow(F.lit(2.0), F.col("bit_pos")).cast("long")
        )
        .cast("long")
        .alias("simhash16")
    )


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH sh_t AS (
      SELECT doc_id, {_o_shingles(3)} AS sh FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
      FROM sh_t a JOIN sh_t b ON a.doc_id < b.doc_id
      WHERE a.doc_id < 40 AND b.doc_id < 40
    )
    SELECT doc_a, doc_b, jaccard
    FROM pairs
    WHERE jaccard >= 0.2
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity on a bounded candidate block
    (doc_id < 40 here; in the full pipeline the block IS the LSH candidate
    set from q_dedup_minhash — exact verification is only ever run on
    candidates, never all pairs)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sh = shingle_arrays(d, 3)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter_n = F.size(F.array_intersect("sh_a", "sh_b"))
    inter = inter_n.cast("double")
    # |a∪b| = |a|+|b|−|a∩b| for distinct shingle arrays (shingle_arrays
    # dedups) — the same integer size(array_distinct(concat)) built a
    # 2n-element hash set per pair to count (r15, guide §1.2)
    uni = (F.size("sh_a") + F.size("sh_b") - inter_n).cast("double")
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", (inter / uni).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


@query(
    "q_dedup_embedding",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
             round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, label, cosine
    FROM pairs
    WHERE cosine >= 0.99
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, blocked by label: pairwise cosine is only
    computed within a block (the IVF-style pre-partition — at 100 TB the
    block key is a coarse quantizer cell, here the given label).  Cosine is
    rounded to 6 dp before the threshold so the float-fold order inside
    the two engines cannot flip a comparison."""
    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    # self-norms computed ONCE per vector, not per pair: the interpreted
    # dot runs O(blocks·|block|²) times in the pairwise stage, so hoisting
    # the two per-pair self-dots cuts 2/3 of the lambda work
    emb = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        ),
        spark,
    ).withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))

    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cosine = F.round(
        dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", "label", cosine.alias("cosine"))
        .filter(F.col("cosine") >= 0.99)
    )


@query(
    "q_dedup_verify",
    oracle=f"""
    WITH {_o_minhash_pairs_cte()},
    shv AS (
      SELECT doc_id, {_o_shingles(3)} AS sh FROM documents
    ),
    verified AS (
      SELECT p.doc_a, p.doc_b,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) AS jaccard
      FROM pairs p
      JOIN shv a ON a.doc_id = p.doc_a
      JOIN shv b ON b.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b, jaccard
    FROM verified
    WHERE jaccard >= 0.8
    """,
)
def q_dedup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline end-to-end: LSH candidate generation →
    exact n-gram Jaccard verification on candidates only → confirmed
    duplicates at ≥ 0.8 similarity.

    This is the production dedup shape at 100 TB: the quadratic exact
    check runs on O(candidates) — a vanishing fraction of all pairs —
    and the shingle arrays are joined back per side (shuffle on doc_id)
    rather than carried through the LSH stage, keeping the wide arrays
    out of the band shuffle.  Jaccard is rounded to 6 dp before the
    threshold so the engines' division cannot flip a boundary case.
    """
    docs = t(spark, sf_dir, "documents")
    pairs = candidate_pairs_cached(spark, sf_dir)
    sh = shingle_arrays(docs, 3)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter_n = F.size(F.array_intersect("sh_a", "sh_b"))
    inter = inter_n.cast("double")
    # |a∪b| = |a|+|b|−|a∩b| on distinct shingle arrays — same integer,
    # no 2n-element per-pair hash set (r15, guide §1.2)
    uni = (F.size("sh_a") + F.size("sh_b") - inter_n).cast("double")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", F.round(inter / uni, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
    )


@query(
    "q_dedup_group_stats",
    oracle=f"""
    WITH RECURSIVE {_o_minhash_pairs_cte()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc FROM edges),
    reach(doc, r) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc
    ),
    comp AS (
      SELECT doc, MIN(r) AS group_id FROM reach GROUP BY doc
    ),
    sizes AS (
      SELECT group_id, COUNT(*) AS group_size FROM comp GROUP BY group_id
    )
    SELECT CAST(group_size AS BIGINT) AS group_size,
           COUNT(*) AS n_groups,
           CAST(SUM(group_size) AS BIGINT) AS n_docs
    FROM sizes
    GROUP BY group_size
    """,
)
def q_dedup_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup summary a pipeline
    reports (how many pairs/triples/bigger clusters, how many docs are
    removable).  Rides on q_dedup_groups' label propagation; at scale
    this is the cheap audit query run after every dedup pass."""
    groups = q_dedup_groups(spark, sf_dir)
    sizes = groups.groupBy("group_id").agg(F.count(F.lit(1)).alias("group_size"))
    return sizes.groupBy("group_size").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("group_size").alias("n_docs"),
    )


@query(
    "q_dedup_url",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             concat(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END,
                    '://',
                    CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
                    '.Example.COM/p/', CAST(doc_id % 50 AS VARCHAR),
                    '?utm_source=feed&session=', CAST(doc_id AS VARCHAR)) AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             concat(
               lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
               regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(/[^?#]*)', 1)
             ) AS canonical_url
      FROM raw
    )
    SELECT canonical_url,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM canon GROUP BY canonical_url
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the cheap FIRST pass of every web
    crawl pipeline, run before any content hashing: lowercase the
    scheme-less host, keep the path, strip query/fragment (tracking
    params make raw-URL dedup useless), then exact-group on the
    canonical form with a deterministic min-doc survivor.

    URLs are synthesized with the real noise sources (mixed-case scheme
    and host, per-visit tracking params) so the canonicalizer provably
    collapses them: 500 raw URLs → 50 canonical groups.  Same scale shape
    as q_dedup_exact — one shuffle on a uniform string key.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM/p/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?utm_source=feed&session="),
        F.col("doc_id").cast("string"),
    )
    canonical = F.concat(
        F.lower(F.parse_url(url, F.lit("HOST"))), F.parse_url(url, F.lit("PATH"))
    )
    return (
        d.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "q_dedup_survivor",
    oracle=f"""
    WITH RECURSIVE {_o_minhash_pairs_cte()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc FROM edges),
    reach(doc, r) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc
    ),
    groups AS (
      SELECT CAST(doc AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS group_id
      FROM reach GROUP BY doc
    ),
    ranked AS (
      SELECT g.group_id, g.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY g.group_id
                                ORDER BY d.n_chars DESC, g.doc_id) AS rk
      FROM groups g JOIN documents d ON d.doc_id = g.doc_id
    )
    SELECT group_id,
           MAX(CASE WHEN rk = 1 THEN doc_id END) AS survivor_doc_id,
           MAX(CASE WHEN rk = 1 THEN n_chars END) AS survivor_n_chars,
           COUNT(*) AS n_members
    FROM ranked
    GROUP BY group_id
    ORDER BY group_id
    """,
)
def q_dedup_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection over near-dup clusters: within
    each LSH connected component, KEEP the longest document (n_chars,
    doc_id tiebreak) instead of the arbitrary min-id — the policy real
    curation pipelines use ("keep the most complete copy").

    Pipeline composition: candidate pairs → connected components (the
    iterative min-label propagation of q_dedup_groups) → one window
    argmax per component joined against the documents quality column.
    Components are tiny (near-dup clusters), so the per-group window
    state is bounded; the join back to documents is on the doc_id key.
    """
    docs = t(spark, sf_dir, "documents")
    pairs = candidate_pairs_cached(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels, _ = min_label_propagation(edges)
    groups = labels.select(F.col("doc").alias("doc_id"), "group_id")
    from pyspark.sql import Window

    joined = groups.join(
        docs.select(F.col("doc_id").alias("d_id"), "n_chars"),
        F.col("d_id") == F.col("doc_id"),
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .groupBy("group_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "survivor_doc_id"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).alias(
                "survivor_n_chars"
            ),
            F.count(F.lit(1)).alias("n_members"),
        )
        .orderBy("group_id")
    )


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH {_o_minhash_pairs_cte()},
    shv AS (
      SELECT doc_id, {_o_shingles(3)} AS sh FROM documents
    )
    SELECT p.doc_a, p.doc_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) AS jaccard,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / CAST(len(a.sh) AS DOUBLE), 6) AS containment_a,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / CAST(len(b.sh) AS DOUBLE), 6) AS containment_b
    FROM pairs p
    JOIN shv a ON a.doc_id = p.doc_a
    JOIN shv b ON b.doc_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment scoring on LSH candidates: C(A,B) =
    |A∩B|/|A| alongside Jaccard.  Jaccard under-scores subset
    relationships (a doc embedded whole inside a longer one scores
    |A|/|B|), so real dedup policies check containment to catch
    quote-expansion and boilerplate-wrapping duplicates that Jaccard's
    0.8 threshold misses.

    Same scale shape as q_dedup_verify: exact set ops run on O(candidate
    pairs) only, shingle arrays joined per side on the doc_id key.
    """
    docs = t(spark, sf_dir, "documents")
    pairs = candidate_pairs_cached(spark, sf_dir)
    sh = shingle_arrays(docs, 3)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter_n = F.size(F.array_intersect("sh_a", "sh_b"))
    inter = inter_n.cast("double")
    # |a∪b| = |a|+|b|−|a∩b| on distinct shingle arrays — same integer,
    # no 2n-element per-pair hash set (r15, guide §1.2)
    uni = (F.size("sh_a") + F.size("sh_b") - inter_n).cast("double")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / uni, 6).alias("jaccard"),
            F.round(inter / F.size("sh_a").cast("double"), 6).alias("containment_a"),
            F.round(inter / F.size("sh_b").cast("double"), 6).alias("containment_b"),
        )
        .orderBy("doc_a", "doc_b")
    )


_SIMHASH_HAM_MAX = 2


@query(
    "q_dedup_simhash_pairs",
    oracle=f"""
    WITH sk AS (
      {{simhash}}
    ),
    blocked AS (SELECT doc_id, simhash16, simhash16 // 256 AS blk FROM sk)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash16, b.simhash16)) AS INT) AS hamming
    FROM blocked a
    JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash16, b.simhash16)) <= {_SIMHASH_HAM_MAX}
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs: block on the sketch's high byte,
    compare Hamming distance (bit_count of XOR) within blocks only — the
    Manku/Google-style simhash dedup pipeline, complementing the
    MinHash family with an O(1)-per-doc sketch.

    The sketch relation is checkpointed and self-joined on the 256-value
    block key (high-byte blocking = the 1-table special case of the
    permuted-table scheme; pairs differing inside the top byte are
    missed by design — add rotated block keys for higher recall).  The
    Hamming filter is pure integer bit math, identical in both engines.
    """
    sk = q_dedup_simhash(spark, sf_dir).localCheckpoint(eager=False)
    blocked = sk.select(
        "doc_id", "simhash16", (F.col("simhash16") / 256).cast("long").alias("blk")
    )
    a = blocked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash16").alias("sh_a"),
        F.col("blk").alias("blk_a"),
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash16").alias("sh_b"),
        F.col("blk").alias("blk_b"),
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, (F.col("blk_a") == F.col("blk_b")) & (F.col("doc_a") < F.col("doc_b")))
        .filter(ham <= _SIMHASH_HAM_MAX)
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


# splice the simhash sketch SQL (registered above) into the pair oracle
from data_warehouse_hive_spark.registry import REGISTRY as _REG2  # noqa: E402

_sp = _REG2["q_dedup_simhash_pairs"]
object.__setattr__(
    _sp, "oracle", _sp.oracle.format(simhash=_REG2["q_dedup_simhash"].oracle)
)
del _REG2, _sp


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH {_o_minhash_pairs_cte()},
    fp AS (
      SELECT doc_id, md5({_O_NORM}) AS fp FROM documents
    ),
    corpus_fp AS (
      SELECT DISTINCT fp FROM fp WHERE doc_id % 7 <> 0
    ),
    near AS (
      SELECT DISTINCT CASE WHEN doc_a % 7 = 0 THEN doc_a ELSE doc_b END
               AS doc_id
      FROM pairs
      WHERE (doc_a % 7 = 0) <> (doc_b % 7 = 0)
    )
    SELECT f.doc_id,
           CASE WHEN f.fp IN (SELECT fp FROM corpus_fp) THEN 'dup_exact'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS status
    FROM fp f LEFT JOIN near n ON n.doc_id = f.doc_id
    WHERE f.doc_id % 7 = 0
    ORDER BY f.doc_id
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the admission gate of a
    continuously-fed training corpus: an incoming batch (doc_id % 7 = 0
    here) is classified against the EXISTING corpus only, never against
    itself: `dup_exact` if its normalized-text fingerprint already exists
    in the corpus, else `near_dup` if LSH banding yields a cross-side
    candidate, else `new` (admit).

    Exact tier: fingerprint left-semi against the corpus fingerprint set
    — one shuffle on the uniform md5 key.  Near tier: the SAME banded
    signature pipeline as q_dedup_minhash, keeping only pairs that cross
    the batch/corpus boundary.  At 100 TB the corpus side of both tiers
    is a *persisted index* (fingerprints + band keys, written once,
    bucketed by key) so each nightly batch joins against the index
    without rescanning corpus text — the band-bucket join shape shown
    here is exactly the plan that index join produces.
    """
    docs = t(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 7 == 0
    fp = docs.select("doc_id", F.md5(normalized_text("text")).alias("fp"))
    batch_fp = fp.filter(is_batch)
    corpus_fp = fp.filter(~is_batch).select("fp").distinct()
    exact_dup = (
        batch_fp.join(corpus_fp, "fp", "left_semi").select("doc_id")
    )
    pairs = candidate_pairs_cached(spark, sf_dir)
    cross = pairs.filter(
        (F.col("doc_a") % 7 == 0) != (F.col("doc_b") % 7 == 0)
    )
    near = cross.select(
        F.when(F.col("doc_a") % 7 == 0, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id")
    ).distinct()
    return (
        docs.filter(is_batch)
        .select("doc_id")
        .join(exact_dup.withColumn("is_exact", F.lit(1)), "doc_id", "left")
        .join(near.withColumn("is_near", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact") == 1, "dup_exact")
            .when(F.col("is_near") == 1, "near_dup")
            .otherwise("new")
            .alias("status"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_dedup_minhash_est",
    oracle=f"""
    WITH {_o_minhash_pairs_cte()},
    shv AS (
      SELECT doc_id, {_o_shingles(3)} AS sh FROM documents
    )
    SELECT p.doc_a, p.doc_b,
           round(CAST({" + ".join(
               f"(CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END)"
               for j in range(MINHASH_K)
           )} AS DOUBLE) / {MINHASH_K}.0, 6) AS est_jaccard,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6)
             AS jaccard,
           round(abs(CAST({" + ".join(
               f"(CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END)"
               for j in range(MINHASH_K)
           )} AS DOUBLE) / {MINHASH_K}.0
               - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)), 6)
             AS abs_err
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    JOIN shv a ON a.doc_id = p.doc_a
    JOIN shv b ON b.doc_id = p.doc_b
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: per LSH candidate pair, the SIGNATURE-based
    Jaccard estimate (fraction of equal minhash components — the number
    production pipelines actually threshold on, because it needs no
    shingle rescan) next to the exact shingle Jaccard and the absolute
    error.  This is the calibration query run before trusting a K: with
    K=12 the estimator's std error is √(J(1−J)/12) ≈ 0.14 worst-case,
    visible in abs_err.

    Plan: the signature is computed ONCE and checkpointed (three
    consumers: banding and both pair sides); the estimate join touches
    only K integers per doc — at 100 TB this runs off the stored
    signature index without touching text, while the exact column (the
    audit part) joins the shingle sets for candidates only.
    """
    docs = t(spark, sf_dir, "documents")
    sig = signature(docs).localCheckpoint(eager=False)
    pairs = minhash_candidate_pairs(docs, sig=sig)
    eq = sum(
        (
            F.when(F.col(f"a_mh_{j}") == F.col(f"b_mh_{j}"), 1).otherwise(0)
            for j in range(MINHASH_K)
        ),
        F.lit(0),
    )
    sa = sig.select(
        F.col("doc_id").alias("sa_id"),
        *[F.col(f"mh_{j}").alias(f"a_mh_{j}") for j in range(MINHASH_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("sb_id"),
        *[F.col(f"mh_{j}").alias(f"b_mh_{j}") for j in range(MINHASH_K)],
    )
    shv = shingle_arrays(docs).select(
        "doc_id", F.col("sh").alias("shs")
    )
    a = shv.select(F.col("doc_id").alias("a_id"), F.col("shs").alias("sh_a"))
    b = shv.select(F.col("doc_id").alias("b_id"), F.col("shs").alias("sh_b"))
    est_raw = eq.cast("double") / F.lit(float(MINHASH_K))
    # |a∪b| = |a|+|b|−|a∩b| on distinct shingle arrays — same integer,
    # no 2n-element per-pair hash set (r15, guide §1.2)
    _inter_n = F.size(F.array_intersect("sh_a", "sh_b"))
    exact_raw = _inter_n.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - _inter_n
    ).cast("double")
    return (
        pairs.join(sa, F.col("sa_id") == F.col("doc_a"))
        .join(sb, F.col("sb_id") == F.col("doc_b"))
        .join(a, F.col("a_id") == F.col("doc_a"))
        .join(b, F.col("b_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(est_raw, 6).alias("est_jaccard"),
            F.round(exact_raw, 6).alias("jaccard"),
            F.round(F.abs(est_raw - exact_raw), 6).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q_dedup_lsh_tuning",
    oracle=f"""
    WITH {_o_minhash_pairs_cte()},
    shv AS (
      SELECT doc_id, source, {_o_shingles(3)} AS sh FROM documents
    ),
    blocked AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS j
      FROM shv a JOIN shv b
        ON a.source = b.source AND a.doc_id < b.doc_id
    ),
    tagged AS (
      SELECT CAST(floor(bl.j * 10.0) AS BIGINT) AS bucket,
             CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
      FROM blocked bl
      LEFT JOIN pairs p ON p.doc_a = bl.da AND p.doc_b = bl.db
    ),
    agg AS (
      SELECT bucket, COUNT(*) AS n_pairs,
             CAST(SUM(is_cand) AS BIGINT) AS n_candidates
      FROM tagged GROUP BY bucket
    )
    SELECT bucket, n_pairs, n_candidates,
           round(CAST(n_candidates AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6)
             AS empirical_rate,
           round(1.0 - (1.0 - ((CAST(bucket AS DOUBLE) + 0.5) / 10.0)
                              * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0)
                              * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0))
                     * (1.0 - ((CAST(bucket AS DOUBLE) + 0.5) / 10.0)
                              * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0)
                              * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0))
                     * (1.0 - ((CAST(bucket AS DOUBLE) + 0.5) / 10.0)
                              * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0)
                              * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0))
                     * (1.0 - ((CAST(bucket AS DOUBLE) + 0.5) / 10.0)
                              * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0)
                              * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0)), 6)
             AS theoretical_rate
    FROM agg
    ORDER BY bucket
    """,
)
def q_dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve calibration: per exact-Jaccard bucket (width 0.1,
    pairs blocked by source so ground truth stays sub-quadratic), the
    EMPIRICAL candidate rate of the 4-band × 3-row scheme next to the
    THEORETICAL 1−(1−s³)⁴ at the bucket midpoint — the table consulted
    before trusting a (B, R) choice: if the empirical curve sags below
    theory near the 0.8 threshold, the hash family (not the banding
    math) is the problem.

    Ground-truth pairs come from the same label-blocked pattern as
    q_dedup_embedding (never all-pairs); candidacy is a LEFT JOIN
    against the banded pair list; the S-curve polynomial is written as
    explicit multiplications (no pow()) so both engines compute
    identical bits."""
    docs = t(spark, sf_dir, "documents")
    pairs = candidate_pairs_cached(spark, sf_dir).withColumn("is_c", F.lit(1))
    # slim pair-key generation first: the source block key has only ~20
    # distinct values, so joining the HEAVY shingle arrays on it would
    # both skew (3 busy partitions) and shuffle every array per pair.
    # Instead the block join runs on (doc_id, source) alone, then each
    # side's shingles attach via uniform doc_id hash joins — the
    # q_dedup_verify shape (measured 4.6× faster at sf0.1).
    ids = docs.select("doc_id", "source")
    blocked_keys = (
        ids.select(F.col("doc_id").alias("da"), F.col("source").alias("sa"))
        .join(
            ids.select(F.col("doc_id").alias("db"), F.col("source").alias("sb")),
            (F.col("sa") == F.col("sb")) & (F.col("da") < F.col("db")),
        )
        .select("da", "db")
        # the block join's output is hash-partitioned on ~20 source
        # values (a handful of busy partitions); re-spread the SLIM key
        # pairs so the expensive per-pair set arithmetic downstream runs
        # at full width.  The partition count is EXPLICIT: AQE would
        # coalesce this byte-tiny shuffle to a few partitions, which is
        # right for IO but wrong for the compute-bound intersect map
        # that follows (AQE sizes by bytes, not CPU).
        .repartition(docs.sparkSession.sparkContext.defaultParallelism, "da", "db")
    )
    shv = shingle_arrays(docs).localCheckpoint(eager=False)
    a = shv.select(F.col("doc_id").alias("ka"), F.col("sh").alias("sh_a"))
    b = shv.select(F.col("doc_id").alias("kb"), F.col("sh").alias("sh_b"))
    # |a∪b| = |a|+|b|−|a∩b| on distinct shingle arrays — same integer,
    # no 2n-element per-pair hash set (r15, guide §1.2)
    _inter_n = F.size(F.array_intersect("sh_a", "sh_b"))
    j = _inter_n.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - _inter_n
    ).cast("double")
    blocked = (
        blocked_keys.join(a, F.col("ka") == F.col("da"))
        .join(b, F.col("kb") == F.col("db"))
        .select("da", "db", j.alias("j"))
    )
    tagged = blocked.join(
        pairs,
        (F.col("doc_a") == F.col("da")) & (F.col("doc_b") == F.col("db")),
        "left",
    ).select(
        F.floor(F.col("j") * F.lit(10.0)).cast("long").alias("bucket"),
        F.coalesce(F.col("is_c"), F.lit(0)).alias("is_cand"),
    )
    agg = tagged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("is_cand").alias("n_candidates"),
    )
    s = (F.col("bucket").cast("double") + F.lit(0.5)) / F.lit(10.0)
    s3 = s * s * s
    miss = F.lit(1.0) - s3
    theo = F.lit(1.0) - miss * miss * miss * miss
    return agg.select(
        "bucket",
        "n_pairs",
        "n_candidates",
        F.round(
            F.col("n_candidates").cast("double") / F.col("n_pairs").cast("double"),
            6,
        ).alias("empirical_rate"),
        F.round(theo, 6).alias("theoretical_rate"),
    ).orderBy("bucket")


@query(
    "q_dedup_prefix_join",
    oracle=f"""
    WITH shv AS (
      SELECT doc_id, {_o_shingles(3)} AS sh FROM documents
    ),
    tok AS (
      SELECT s.doc_id, u.t AS s
      FROM shv s, LATERAL (SELECT unnest(s.sh) AS t) u
    ),
    freq AS (SELECT s, COUNT(*) AS df FROM tok GROUP BY s),
    ranked AS (
      SELECT t.doc_id, t.s,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY f.df, t.s) AS rk,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS len
      FROM tok t JOIN freq f ON f.s = t.s
    ),
    prefix AS (
      SELECT doc_id, s FROM ranked
      WHERE rk <= len - CAST(floor((4 * len + 4) / 5) AS BIGINT) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON b.s = a.s AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / CAST(len(list_distinct(x.sh || y.sh)) AS DOUBLE), 6)
             AS jaccard
    FROM cand c
    JOIN shv x ON x.doc_id = c.doc_a
    JOIN shv y ON y.doc_id = c.doc_b
    WHERE len(list_intersect(x.sh, y.sh)) * 5
          >= len(list_distinct(x.sh || y.sh)) * 4
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (PPJoin/AllPairs):
    for Jaccard ≥ 0.8, two shingle sets MUST share at least one token in
    their rarest-first prefixes of length |s| − ⌈0.8·|s|⌉ + 1 — so the
    candidate join runs only on prefix tokens (the rarest slivers of
    each set) and the exact verification runs only on those candidates.
    Unlike MinHash LSH this has PERFECT recall at the threshold: the
    prefix condition is a theorem, not a probability — the
    exact-guarantee alternative when a legal/eval dedup cannot tolerate
    LSH misses.

    Rarest-first ordering (global document frequency, token tiebreak)
    is what makes prefixes selective: frequent shingles never appear in
    short prefixes, so the hot-token blowup of a naive token join
    disappears.  The threshold test is the integer cross-multiplication
    5·|∩| ≥ 4·|∪| — no float threshold anywhere.  The df table is one
    aggregation of the postings both sides reuse."""
    docs = t(spark, sf_dir, "documents")
    shv = shingle_arrays(docs).localCheckpoint(eager=False)
    tok = shv.select("doc_id", F.explode("sh").alias("s")).localCheckpoint(
        eager=False
    )
    freq = tok.groupBy(F.col("s").alias("fs")).agg(
        F.count(F.lit(1)).alias("df")
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("doc_id").orderBy("df", "s")
    wl = Window.partitionBy("doc_id")
    ranked = (
        tok.join(freq, F.col("fs") == F.col("s"))
        .select(
            "doc_id",
            "s",
            F.row_number().over(wr).alias("rk"),
            F.count(F.lit(1)).over(wl).alias("len"),
        )
    )
    klim = (
        F.col("len")
        - F.floor((4 * F.col("len") + 4) / 5).cast("long")
        + 1
    )
    prefix = ranked.filter(F.col("rk") <= klim).select("doc_id", "s")
    cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
        .join(
            prefix.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")),
            (F.col("sb") == F.col("sa")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
        # explicit width: AQE would coalesce the byte-tiny candidate
        # shuffle to a few partitions, serializing the compute-bound
        # set-intersection verify that follows (the q_dedup_lsh_tuning
        # lesson — AQE sizes by bytes, not CPU)
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_a", "doc_b"
        )
    )
    x = shv.select(F.col("doc_id").alias("xa"), F.col("sh").alias("sh_a"))
    y = shv.select(F.col("doc_id").alias("yb"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # |a∪b| = |a|+|b|−|a∩b| on distinct shingle arrays — same integer,
    # no 2n-element per-pair hash set (r15, guide §1.2); the integer
    # cross-multiplication threshold below is unchanged
    uni = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(x, F.col("xa") == F.col("doc_a"))
        .join(y, F.col("yb") == F.col("doc_b"))
        .filter(inter * 5 >= uni * 4)
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / uni.cast("double"), 6).alias(
                "jaccard"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Round 5: Bloom-filter admission audit
# ---------------------------------------------------------------------------

BLOOM_BITS = 65536  # m = 2^16
BLOOM_K = 4         # hash functions (4 disjoint md5 nibble-quads)


@query(
    "q_dedup_bloom",
    oracle=f"""
    WITH fp AS (SELECT DISTINCT md5({_O_NORM}) AS f FROM documents),
    pos AS (
      SELECT DISTINCT f,
             ('0x' || substr(f, 1 + 4 * i.i, 4))::UBIGINT::BIGINT
               % {BLOOM_BITS} AS p
      FROM fp, LATERAL (SELECT unnest(range({BLOOM_K})) AS i) i
    ),
    pc AS (SELECT p, COUNT(*) AS nf FROM pos GROUP BY p),
    keyshare AS (
      SELECT pos.f,
             MIN(CASE WHEN pc.nf >= 2 THEN 1 ELSE 0 END) AS all_shared
      FROM pos JOIN pc ON pc.p = pos.p GROUP BY pos.f
    ),
    summ AS (
      SELECT (SELECT COUNT(*) FROM fp) AS n_keys,
             (SELECT COUNT(*) FROM pc) AS bits_set,
             (SELECT CAST(SUM(all_shared) AS BIGINT) FROM keyshare)
               AS n_shadowed
    )
    SELECT CAST(n_keys AS BIGINT) AS n_keys,
           CAST(bits_set AS BIGINT) AS bits_set,
           round(CAST(bits_set AS DOUBLE) / {BLOOM_BITS}, 9) AS fill_ratio,
           n_shadowed,
           round((CAST(bits_set AS DOUBLE) / {BLOOM_BITS})
                 * (CAST(bits_set AS DOUBLE) / {BLOOM_BITS})
                 * (CAST(bits_set AS DOUBLE) / {BLOOM_BITS})
                 * (CAST(bits_set AS DOUBLE) / {BLOOM_BITS}), 9) AS fpr_est
    FROM summ
    """,
)
def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing audit for the dedup admission gate: simulate
    an m=2^16 / k=4 filter over the distinct normalized-text
    fingerprints and measure (a) realized fill ratio, (b) how many
    PRESENT keys are fully shadowed by other keys' bits (every one of
    their k positions also set by someone else — the keys that could
    never be distinguished from a false positive), and (c) the
    fill^k false-positive estimate.  This is the capacity check run
    before deploying q_dedup_incremental's admission filter at a new
    corpus scale: fill > ~50% means m must grow.

    Positions are k disjoint 16-bit nibble-quads of the md5 the dedup
    family already computes (engine-portable hex→int, the base_hash
    idiom).  Plan: one distinct on the fingerprint, one explode to k
    positions, one groupBy per position (bounded ≤ m groups), one
    per-key min — every relation after the first dedup is bounded by m
    or by the key count; fpr_est is explicit repeated multiplication
    (no pow()), mirrored textually.
    """
    fp = (
        t(spark, sf_dir, "documents")
        .select(F.md5(normalized_text("text")).alias("f"))
        .distinct()
    )
    idx = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i")
    pos = (
        fp.select("f", idx)
        .select(
            "f",
            (
                F.conv(
                    F.substring(F.col("f"), F.col("i") * 4 + 1, 4), 16, 10
                ).cast("long")
                % BLOOM_BITS
            ).alias("p"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    pc = pos.groupBy("p").agg(F.count(F.lit(1)).alias("nf"))
    keyshare = (
        pos.join(pc, "p")
        .groupBy("f")
        .agg(
            F.min(F.when(F.col("nf") >= 2, 1).otherwise(0)).alias("all_shared")
        )
    )
    summ = keyshare.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("all_shared").alias("n_shadowed"),
    ).crossJoin(F.broadcast(pc.agg(F.count(F.lit(1)).alias("bits_set"))))
    fill = F.col("bits_set").cast("double") / F.lit(BLOOM_BITS)
    return summ.select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("bits_set").cast("long").alias("bits_set"),
        F.round(fill, 9).alias("fill_ratio"),
        F.col("n_shadowed").cast("long").alias("n_shadowed"),
        F.round(fill * fill * fill * fill, 9).alias("fpr_est"),
    )


# ---------------------------------------------------------------------------
# Round 5: cross-source n-gram contamination matrix
# ---------------------------------------------------------------------------

XDOC_N = 8        # gram width (words) — the decontamination standard
XDOC_DF_MIN = 2   # a gram in one source only is not contamination
XDOC_DF_MAX = 5   # boilerplate guard: grams in >5 sources carry no signal


@query(
    "q_text_crossdoc_overlap",
    oracle=f"""
    WITH sh_t AS (
      SELECT source, {_o_shingles(XDOC_N)} AS sh FROM documents
    ),
    g AS (
      SELECT DISTINCT source, {_o_base_hash('u.s')} AS h
      FROM sh_t, LATERAL (SELECT unnest(sh) AS s) u
    ),
    keep AS (
      SELECT h FROM (SELECT h, COUNT(*) AS nf FROM g GROUP BY h)
      WHERE nf BETWEEN {XDOC_DF_MIN} AND {XDOC_DF_MAX}
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM g a
      JOIN keep k ON k.h = a.h
      JOIN g b ON b.h = a.h AND a.source < b.source
    )
    SELECT src_a, src_b, COUNT(*) AS shared_grams
    FROM pairs GROUP BY src_a, src_b
    ORDER BY src_a, src_b
    """,
)
def q_text_crossdoc_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: how many distinct {XDOC_N}-word
    grams each PAIR of sources shares — the source-level view of
    q_decontaminate (that query asks "is the eval set leaked into the
    corpus"; this one asks "which ingestion feeds are copying from each
    other", the triage map before deciding which source to drop).

    The pair expansion is bounded BY CONSTRUCTION: grams are first
    deduped to (source, gram) and document-frequency-filtered to
    [{XDOC_DF_MIN}, {XDOC_DF_MAX}] sources — below, no pair; above,
    boilerplate with no attribution signal — so each surviving gram
    contributes at most C({XDOC_DF_MAX},2)=10 pairs no matter how hot it
    is (the same hot-key cap argument as the basket miners, enforced as
    a semi-join before the self-join).  One shingling scan, then every
    relation is keyed by the uniform gram hash.
    """
    docs = t(spark, sf_dir, "documents")
    wdf = spread(
        docs.select("source", F.split(normalized_text("text"), " ").alias("w")),
        docs.sparkSession,
    )
    n = XDOC_N
    shingle = lambda i: F.concat_ws(
        " ", *[F.try_element_at(F.col("w"), i + j) for j in range(1, n + 1)]
    )
    g = (
        wdf.select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size("w") - n, F.lit(0))
                    ),
                    shingle,
                )
            ).alias("s"),
        )
        .select("source", base_hash(F.col("s")).alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    keep = (
        g.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nf"))
        .filter(
            (F.col("nf") >= XDOC_DF_MIN) & (F.col("nf") <= XDOC_DF_MAX)
        )
        .select("h")
    )
    a = g.join(keep, "h", "left_semi")
    b = a.select(F.col("h").alias("h2"), F.col("source").alias("src_b"))
    return (
        a.select("h", F.col("source").alias("src_a"))
        .join(b, (F.col("h2") == F.col("h")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .orderBy("src_a", "src_b")
    )


@query(
    "q_dedup_savings",
    oracle=rf"""
    WITH docs AS (
      SELECT doc_id, source, md5({_O_NORM}) AS fp,
             len(string_split_regex(trim(text), '\s+')) AS n_tok
      FROM documents
    ),
    flagged AS (
      SELECT source, n_tok,
             (doc_id = MIN(doc_id) OVER (PARTITION BY fp)) AS surv
      FROM docs
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN surv THEN n_tok ELSE 0 END) AS BIGINT)
             AS kept_tokens,
           CAST(SUM(CASE WHEN surv THEN 0 ELSE n_tok END) AS BIGINT)
             AS saved_tokens,
           round(CAST(SUM(CASE WHEN surv THEN 0 ELSE n_tok END) AS DOUBLE)
                 / CAST(SUM(n_tok) AS DOUBLE), 6) AS savings_rate
    FROM flagged GROUP BY source ORDER BY source
    """,
)
def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI report: token mass removed by exact dedup, attributed
    per source — the number that justifies (or kills) a dedup stage in
    a training-data budget ("source X is 40% copies; dedup buys us N
    tokens of compute back").  Survivorship matches q_dedup_exact's
    rule (min doc_id per global fingerprint), so the report describes
    exactly what that operator would keep.

    One window over the fingerprint key (the same uniform md5 shuffle
    as exact dedup, carrying token counts along), then a source-keyed
    rollup of exact integers; the only float is the 6 dp savings rate.
    """
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(normalized_text("text")).alias("fp"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"),
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("fp")
    flagged = docs.select(
        "source",
        "n_tok",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("surv"),
    )
    saved = F.sum(F.when(F.col("surv"), 0).otherwise(F.col("n_tok")))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("surv"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
            saved.cast("long").alias("saved_tokens"),
            F.round(
                saved.cast("double") / F.sum("n_tok").cast("double"), 6
            ).alias("savings_rate"),
        )
        .orderBy("source")
    )


@query(
    "q_dedup_template_fp",
    oracle=rf"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(regexp_replace({_O_NORM}, '[0-9]+', '#', 'g')) AS tfp,
             md5({_O_NORM}) AS xfp
      FROM documents
    ),
    grouped AS (
      SELECT tfp,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT xfp) AS n_exact_variants,
             CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
      FROM fp GROUP BY tfp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_template_groups,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_groups,
           CAST(SUM(CASE WHEN n_exact_variants > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_groups_only_template_catches,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs
    FROM grouped
    """,
)
def q_dedup_template_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-invariant dedup: fingerprints computed AFTER masking
    every digit run to '#', so "Order 123 shipped" and "Order 456
    shipped" collapse into one template group — the dedup upgrade that
    catches mail-merge / log-line / receipt duplication exact
    fingerprints are blind to.  The report quantifies exactly that gap:
    groups whose members differ in their EXACT fingerprints but share
    the masked one are catches only template dedup makes.

    Same one-shuffle shape as q_dedup_exact (uniform md5 key, masked);
    the per-group exact-variant count is a COUNT(DISTINCT) inside an
    already-keyed aggregation — no extra shuffle (the group key IS the
    aggregation key).
    """
    fp = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.regexp_replace(normalized_text("text"), r"[0-9]+", "#")
        ).alias("tfp"),
        F.md5(normalized_text("text")).alias("xfp"),
    )
    grouped = fp.groupBy("tfp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("xfp").alias("n_exact_variants"),
        F.min("doc_id").alias("keep_doc_id"),
    )
    return grouped.agg(
        F.count(F.lit(1)).cast("long").alias("n_template_groups"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_groups"),
        F.sum(F.when(F.col("n_exact_variants") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_groups_only_template_catches"),
        F.sum("n_docs").cast("long").alias("n_docs"),
    )


SPAN_N = 8
SPAN_TOP = 15


@query(
    "q_dedup_crossdoc_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x != '') AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(ws[i + 1:i + {SPAN_N}], ' ') AS span
      FROM toks, LATERAL (SELECT unnest(range(len(ws) - {SPAN_N - 1}))
                          AS i) x
      WHERE len(ws) >= {SPAN_N}
    ),
    agg AS (
      SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM grams GROUP BY span
    )
    SELECT span, n_docs, n_occ FROM agg WHERE n_docs >= 2
    ORDER BY n_docs DESC, n_occ DESC, span LIMIT {SPAN_TOP}
    """,
)
def q_dedup_crossdoc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated {SPAN_N}-token spans appearing in 2+ DISTINCT
    documents — the suffix-array-lite substring-dedup audit
    (RefinedWeb/C4-style boilerplate & memorization screen): MinHash
    (q_dedup_minhash) finds near-duplicate WHOLE documents, this finds
    shared PASSAGES inside otherwise-distinct documents (licenses,
    navigation chrome, templated intros) that a trained model would
    memorize verbatim.

    One narrow pass fans each document into its word {SPAN_N}-grams
    (positions, not characters — token spans are what dedup pipelines
    drop); ONE hash aggregate on the span key (uniformly distributed —
    the span string itself hashes the shuffle) computes document
    frequency and occurrence count; only spans crossing the 2-doc
    threshold survive to the bounded top-{SPAN_TOP}.  A full
    suffix-array build would find arbitrary-length repeats; fixed-n
    spans are the standard linear-cost approximation and compose (run
    at n=50 for memorization, n=8 for boilerplate)."""
    ws = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    toks = (
        spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
        .select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= SPAN_N)
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(ws) - {SPAN_N}),"
                f" i -> array_join(slice(ws, i + 1, {SPAN_N}), ' '))"
            )
        ).alias("span"),
    )
    return (
        grams.groupBy("span")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(), "span")
        .limit(SPAN_TOP)
    )


@query(
    "q_dedup_source_matrix",
    oracle=f"""
    WITH {_o_minhash_pairs_cte()},
    srcs AS (SELECT doc_id, source FROM documents),
    flows AS (
      SELECT LEAST(sa.source, sb.source) AS source_a,
             GREATEST(sa.source, sb.source) AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs p
      JOIN srcs sa ON sa.doc_id = p.doc_a
      JOIN srcs sb ON sb.doc_id = p.doc_b
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_pairs,
           CAST(source_a = source_b AS BOOLEAN) AS within_source, rk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n_pairs DESC,
                     source_a, source_b) AS BIGINT) AS rk
      FROM flows
    ) WHERE rk <= 20
    ORDER BY rk
    """,
)
def q_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-flow matrix across SOURCES: every LSH candidate pair
    attributed to its (source, source) cell, top-20 cells — the
    curation readout that tells you WHICH feeds copy from which (or
    from themselves), i.e. where dedup budget actually goes; the
    per-pair view q_dedup_group_stats' cluster view cannot give.

    Reuses the session-cached candidate pair relation (zero rebuild of
    the LSH pipeline); each side attributes its source via a doc-keyed
    join against the narrow (doc_id, source) projection; cells are
    normalized LEAST/GREATEST so A→B and B→A collapse; the top-20 cut
    has a full lexicographic tiebreak."""
    pairs = candidate_pairs_cached(spark, sf_dir)
    srcs = t(spark, sf_dir, "documents").select("doc_id", "source")
    flows = (
        pairs.join(
            srcs.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            srcs.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    w = Window.orderBy(F.col("n_pairs").desc(), "source_a", "source_b")
    return (
        flows.orderBy(F.col("n_pairs").desc(), "source_a", "source_b")
        .limit(20)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            (F.col("source_a") == F.col("source_b")).alias("within_source"),
            "rk",
        )
        .orderBy("rk")
    )


@query(
    "q_dedup_bucket_stats",
    oracle=f"""
    WITH {_o_minhash_pairs_cte()},
    sizes AS (
      SELECT band_id, band_key, CAST(COUNT(*) AS BIGINT) AS sz
      FROM bands GROUP BY band_id, band_key
    )
    SELECT CAST(band_id AS BIGINT) AS band_id,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singleton,
           CAST(MAX(sz) AS BIGINT) AS max_size,
           CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS pair_work,
           round(CAST(MAX(sz) * (MAX(sz) - 1) // 2 AS DOUBLE)
                 / GREATEST(SUM(sz * (sz - 1) // 2), 1), 6)
             AS hot_bucket_share
    FROM sizes GROUP BY band_id ORDER BY band_id
    """,
)
def q_dedup_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-skew audit per band: bucket count, singleton share,
    the LARGEST bucket, the total in-bucket pair workload Σ s(s−1)/2,
    and the hot bucket's share of it — the monitor for the one failure
    mode that makes banded LSH quadratic (a degenerate band key
    herding the corpus into one bucket).  At 100 TB this is the
    dashboard you alarm on BEFORE q_dedup_minhash's shuffle melts;
    q_dedup_lsh_tuning calibrates recall, this guards cost.

    One pass to (band, key, size) — the identical uniform shuffle the
    candidate generator itself pays — then a 4-row per-band rollup;
    every metric is an exact integer (pair workload uses integer
    s(s−1)/2)."""
    sig = signature(t(spark, sf_dir, "documents"))
    band_cols = [
        F.concat_ws(
            "_", *[F.col(f"mh_{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        ).alias(f"band_{b}")
        for b in range(LSH_BANDS)
    ]
    banded = sig.select(
        "doc_id",
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_key"),
    )
    sizes = banded.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    pw = F.expr("sz * (sz - 1) div 2")
    return (
        sizes.groupBy(F.col("band_id").cast("long").alias("band_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(F.when(F.col("sz") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_singleton"),
            F.max("sz").cast("long").alias("max_size"),
            F.sum(pw).cast("long").alias("pair_work"),
            F.round(
                F.expr(
                    "CAST(max(sz) * (max(sz) - 1) div 2 AS DOUBLE)"
                )
                / F.greatest(F.sum(pw), F.lit(1)),
                6,
            ).alias("hot_bucket_share"),
        )
        .orderBy("band_id")
    )


# Suffix-ordering exact-substring dedup (Lee et al. 2022 family):
# token suffixes truncated at SUB_L, globally ordered once, adjacent-pair
# longest-common-prefix — finds VARIABLE-length repeats up to SUB_L where
# q_dedup_crossdoc_spans only catches a fixed n.  SUB_SEP orders joined
# token keys identically to token-array order (0x1f sorts below every
# printable char, and whitespace tokenization leaves no control chars).
SUB_L = 24
SUB_T = 8
SUB_SEP = "\x1f"


@query(
    "q_dedup_substring",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x != '') AS ws
      FROM documents
    ),
    suf AS (
      SELECT doc_id, i + 1 AS pos, ws[i + 1:i + {SUB_L}] AS arr
      FROM toks, LATERAL (SELECT unnest(range(len(ws))) AS i) x
    ),
    keyed AS (
      SELECT doc_id, pos, arr,
             array_to_string(arr, chr(31)) AS key
      FROM suf
    ),
    adj AS (
      SELECT doc_id, arr,
             LEAD(key)    OVER w AS nkey,
             LEAD(arr)    OVER w AS narr,
             LEAD(doc_id) OVER w AS ndoc
      FROM keyed
      WINDOW w AS (ORDER BY key, doc_id, pos)
    ),
    lcps AS (
      SELECT doc_id, ndoc, arr,
             CAST(CASE WHEN p0 > 0 THEN p0 - 1 ELSE m END AS BIGINT)
               AS lcp_tokens
      FROM (
        SELECT doc_id, ndoc, arr,
               least(len(arr), len(narr)) AS m,
               list_position(
                 list_transform(
                   range(1, least(len(arr), len(narr)) + 1),
                   i -> CASE WHEN arr[i] = narr[i] THEN 1 ELSE 0 END),
                 0) AS p0
        FROM adj WHERE nkey IS NOT NULL
      )
    )
    SELECT lcp_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN doc_id <> ndoc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cross_doc,
           MIN(array_to_string(arr[1:lcp_tokens], ' ')) AS sample_span
    FROM lcps WHERE lcp_tokens >= {SUB_T}
    GROUP BY lcp_tokens ORDER BY lcp_tokens
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, suffix-ordering form (the public Lee et
    al. 2022 "Deduplicating Training Data" approach, bounded): every
    token suffix truncated at {SUB_L} tokens is sorted ONCE; the
    longest duplicated substring through any corpus position is the
    LCP of lexicographically ADJACENT suffixes — variable-length
    repeats (8..{SUB_L} tokens) with one sort and NO pair join, where
    q_dedup_crossdoc_spans fixes the repeat length in advance.  Output:
    per LCP length ≥ {SUB_T}, how many adjacent-suffix pairs share a
    prefix that long, how many of those cross documents (the
    memorization signal), and the lexicographically first such span.

    Scale shape: suffix fan-out is the method's inherent {SUB_L}x byte
    cost (the suffix-array literature pays the same); the global
    adjacency is NOT a single-partition sort — suffixes hash-shuffle
    once on a 2-char prefix bucket (a monotone function of the key, so
    bucket order refines key order), lead() runs PARTITIONED per
    bucket, and the only cross-bucket work is one (first,last) row per
    bucket through an alphabet²-bounded carrier window — the same
    two-level rank pattern as q_text_heaps_law.  At 100 TB you'd widen
    the prefix to 3-4 chars (more, smaller buckets) and salt the top
    hot prefixes; the adjacency algebra is unchanged.  LCP is exact
    integer token comparison (zip_with/list_transform — bitwise
    identical cross-engine).  Reference: delegated HiveQL dedup class
    (backend/hive_manager.py:400); substring semantics from the public
    suffix-array dedup literature, re-expressed relationally."""
    ws = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    toks = (
        spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
        .select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 1)
    )
    keyed = (
        toks.select(
            "doc_id",
            "ws",
            F.explode(F.sequence(F.lit(1), F.size("ws"))).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.expr(f"slice(ws, pos, {SUB_L})").alias("arr"),
        )
        .withColumn("key", F.array_join("arr", SUB_SEP))
        .withColumn("bkt", F.substring("key", 1, 2))
        # the suffix fan-out is the expensive stage and BOTH the
        # within-bucket lead() and the per-bucket (first,last) rollup
        # consume it — cut lineage so it is computed once, not once per
        # consumer (plan audit showed 4 documents scans without this)
        .localCheckpoint(eager=False)
    )
    w_in = Window.partitionBy("bkt").orderBy("key", "doc_id", "pos")
    within = (
        keyed.select(
            "doc_id",
            "arr",
            F.lead("key").over(w_in).alias("nkey"),
            F.lead("arr").over(w_in).alias("narr"),
            F.lead("doc_id").over(w_in).alias("ndoc"),
        )
        .filter(F.col("nkey").isNotNull())
    )
    # cross-bucket adjacency: one (first, last) row per bucket — an
    # alphabet²-bounded relation, the documented carrier-window pattern
    ends = keyed.groupBy("bkt").agg(
        F.min(F.struct("key", "doc_id", "pos", "arr")).alias("lo"),
        F.max(F.struct("key", "doc_id", "pos", "arr")).alias("hi"),
    )
    w_b = Window.orderBy("bkt")
    boundary = (
        ends.select(
            F.col("hi.doc_id").alias("doc_id"),
            F.col("hi.arr").alias("arr"),
            F.lead("lo.key").over(w_b).alias("nkey"),
            F.lead("lo.arr").over(w_b).alias("narr"),
            F.lead("lo.doc_id").over(w_b).alias("ndoc"),
        )
        .filter(F.col("nkey").isNotNull())
    )
    pairs = within.unionByName(boundary.select(within.columns))
    lcps = (
        pairs.withColumn("m", F.least(F.size("arr"), F.size("narr")))
        .withColumn(
            "eq",
            F.expr(
                "zip_with(slice(arr, 1, m), slice(narr, 1, m),"
                " (x, y) -> IF(x = y, 1, 0))"
            ),
        )
        .withColumn("p0", F.array_position("eq", 0))
        .withColumn(
            "lcp_tokens",
            F.when(F.col("p0") > 0, F.col("p0") - 1)
            .otherwise(F.col("m"))
            .cast("long"),
        )
        .filter(F.col("lcp_tokens") >= SUB_T)
    )
    return (
        lcps.groupBy("lcp_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("doc_id") != F.col("ndoc"), 1).otherwise(0))
            .cast("long")
            .alias("n_cross_doc"),
            F.min(
                F.array_join(F.expr("slice(arr, 1, lcp_tokens)"), " ")
            ).alias("sample_span"),
        )
        .orderBy("lcp_tokens")
    )


# ---------------------------------------------------------------------------
# Byte-level SimHash over BINARY payloads (round 10, r9 VERDICT task 4):
# the one LLM-pipeline dedup modality not yet covered — text had
# minhash/simhash/semantic/substring, but binary media payloads had only
# exact md5 equality.  64-bit SimHash over overlapping 8-byte shingles,
# banded Manku-style (4 x 16-bit bands => every pair with Hamming <= 3
# shares at least one full band, by pigeonhole), near-dup pairs via band
# equi-join + exact Hamming filter.  All exact integer algebra, so the
# DuckDB oracle replays it bit-for-bit.
# ---------------------------------------------------------------------------

BSH_SHINGLE_BYTES = 8     # shingle width
BSH_BANDS = 4             # 16-bit bands over the 64-bit signature
BSH_MAX_HAMMING = 3       # <= BANDS - 1, so banding has perfect recall


def _bsh_oracle() -> str:
    s_h1 = ", ".join(
        f"CAST(SUM((h1 >> {j}) & 1) AS BIGINT) AS s{j}" for j in range(32)
    )
    s_h2 = ", ".join(
        f"CAST(SUM((h2 >> {j}) & 1) AS BIGINT) AS s{32 + j}"
        for j in range(32)
    )
    bands = ", ".join(
        "CAST(("
        + " + ".join(
            f"CASE WHEN 2 * s{16 * b + u} >= m THEN {1 << u} ELSE 0 END"
            for u in range(16)
        )
        + f") AS BIGINT) AS b{b}"
        for b in range(BSH_BANDS)
    )
    ex = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS bi, b{b} AS bv FROM bands"
        for b in range(BSH_BANDS)
    )
    ham = " + ".join(
        f"bit_count(xor(x.b{b}, y.b{b}))" for b in range(BSH_BANDS)
    )
    return f"""
    WITH d AS (
      SELECT doc_id, hex(encode(text)) AS hx FROM documents
    ),
    sh AS (
      SELECT doc_id, md5(substr(hx, 2 * i + 1, {2 * BSH_SHINGLE_BYTES}))
               AS h
      FROM d, LATERAL (
        SELECT unnest(range(greatest(
          length(hx) // 2 - {BSH_SHINGLE_BYTES - 1}, 1))) AS i
      ) r
    ),
    hh AS (
      SELECT doc_id,
             ('0x' || substr(h, 1, 8))::UBIGINT::BIGINT AS h1,
             ('0x' || substr(h, 9, 8))::UBIGINT::BIGINT AS h2
      FROM sh
    ),
    sig AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m, {s_h1}, {s_h2}
      FROM hh GROUP BY doc_id
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, {bands} FROM sig
    ),
    ex AS ({ex}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ex a JOIN ex b ON a.bi = b.bi AND a.bv = b.bv
                         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT c.doc_a, c.doc_b, CAST({ham} AS BIGINT) AS hamming
      FROM cand c
      JOIN bands x ON x.doc_id = c.doc_a
      JOIN bands y ON y.doc_id = c.doc_b
    ) WHERE hamming <= {BSH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """


@query("q_dedup_binary_simhash", oracle=_bsh_oracle())
def q_dedup_binary_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level near-dup pairs over BINARY payloads: 64-bit SimHash of
    overlapping {BSH_SHINGLE_BYTES}-byte shingles, Manku-banded.  The
    byte-payload sibling of the word-level q_dedup_simhash /
    q_dedup_simhash_pairs pair: those vote with a doc's word set, this
    one hashes raw BYTES (payload = encode(text) here, the same
    synthesis as ddl_multimodal_features — a real media BLOB column
    drops in unchanged, since nothing below reads the bytes as text).

    Algebra, bit-identical in both engines: payload → hex → overlapping
    16-hex-char (8-byte) windows → md5 → two 32-bit halves; per doc,
    64 bit-majority votes (bit j set iff 2·Σbit_j ≥ m, ties up) packed
    into {BSH_BANDS} 16-bit band values; candidates = band equi-join
    (pigeonhole: Hamming ≤ {BSH_MAX_HAMMING} < {BSH_BANDS} bands forces
    a shared band — banding has PERFECT recall at the threshold);
    verify = exact Hamming via bit_count(xor) over the 4 bands.

    Scale shape: one shingle fan-out (corpus-linear, ~n_bytes rows per
    doc) into ONE hash aggregation keyed on doc_id (64 conditional SUMs
    ride the same shuffle); the band self-join shuffles on the uniform
    (band_idx, band_value) key and never materializes all-pairs —
    exactly the q_dedup_minhash plan with a different sketch.  The
    16-bit bands keep bucket skew bounded: ~65k buckets per band even
    at 100 TB, and q_dedup_bucket_stats' workload audit applies as-is.
    Reference: delegated HiveQL dedup class (backend/hive_manager.py:400);
    SimHash banding from Manku et al. 2007 (public)."""
    docs = spread(
        t(spark, sf_dir, "documents").select(
            "doc_id", F.hex(F.encode("text", "UTF-8")).alias("hx")
        ),
        spark,
    )
    # the band relation feeds the explode AND both hamming sides — cut
    # lineage so the shingle fan-out + 64-sum agg runs once
    bands = binary_simhash_bands(docs).localCheckpoint(eager=False)
    ex = bands.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bi"), F.col(f"b{b}").alias("bv")
                    )
                    for b in range(BSH_BANDS)
                ]
            )
        ).alias("kv"),
    ).select("doc_id", F.col("kv.bi").alias("bi"), F.col("kv.bv").alias("bv"))
    cand = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return bsh_hamming_pairs(cand, bands).orderBy("doc_a", "doc_b")


def binary_simhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, hx hex-payload) → (doc_id, b0..b3): the 64-bit byte-level
    SimHash packed as four 16-bit band values — the per-doc stage of
    q_dedup_binary_simhash, factored out so the streaming twin
    (ddl_stream_binary_simhash) runs the identical signature algebra
    per micro-batch.  Pure doc-local compute + ONE doc-keyed agg."""
    nsh = F.greatest(
        (F.length("hx") / 2).cast("int") - (BSH_SHINGLE_BYTES - 1),
        F.lit(1),
    )
    sh = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), nsh)).alias("i"),
        "hx",
    ).select(
        "doc_id",
        F.md5(
            F.col("hx").substr(
                2 * F.col("i") - 1, F.lit(2 * BSH_SHINGLE_BYTES)
            )
        ).alias("h"),
    )
    # SWAR-packed bit-majority sums (r11, ~3x faster aggregation with
    # BYTE-IDENTICAL outputs): instead of 64 per-bit SUM aggregates,
    # pack the 64-bit hash's bits j, j+16, j+32, j+48 into the four
    # 16-bit lanes of ONE long via (h64 >> k) & 0x0001000100010001 and
    # keep 16 packed SUMs.  Lane totals are per-doc shingle bit-counts
    # ≤ m, so no carry ever crosses a lane boundary as long as
    # m < 65536; but the binding limit is tighter: Spark 4 runs ANSI
    # mode, where SUM(long) THROWS on signed-64 overflow, and the top
    # lane's weight is 2^48 — a top-lane total ≥ 2^15 (possible once
    # m ≥ 32768) crosses Long.MAX mid-aggregation and dies with an
    # opaque ARITHMETIC_OVERFLOW before any post-agg guard can run.
    # So the supported domain is m < 32768, guarded loudly below (the
    # q_stats_grubbs pack-domain idiom); docs that would ALSO overflow
    # still die in SUM first, but every non-overflowing breach of the
    # domain gets the clear message.  s_j = lane b of sp_u for
    # j = 16·b + u.
    hh = sh.select(
        "doc_id",
        F.conv(F.substring("h", 1, 8), 16, 10)
        .cast("long")
        .bitwiseOR(
            F.shiftleft(
                F.conv(F.substring("h", 9, 8), 16, 10).cast("long"), 32
            )
        )
        .alias("h64"),
    )
    lane_mask = 0x0001000100010001
    aggs = [F.count(F.lit(1)).cast("long").alias("m")]
    for k in range(16):
        aggs.append(
            F.sum(F.expr(f"shiftright(h64, {k}) & {lane_mask}")).alias(
                f"sp{k}"
            )
        )
    sig = hh.groupBy("doc_id").agg(*aggs).filter(
        F.when(
            F.col("m") >= 32768,
            F.raise_error(
                F.lit(
                    "binary_simhash_bands: >= 32768 shingles in one doc"
                    " can overflow the signed top SWAR lane under ANSI"
                    " SUM — widen lanes or sum into decimal"
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )

    def band(b: int) -> Column:
        v = None
        for u in range(16):
            s_j = F.expr(f"shiftrightunsigned(sp{u}, {16 * b}) & 65535")
            term = F.when(2 * s_j >= F.col("m"), 1 << u).otherwise(0)
            v = term if v is None else v + term
        return v.cast("long").alias(f"b{b}")

    return sig.select("doc_id", *[band(b) for b in range(BSH_BANDS)])


def bsh_hamming_pairs(cand: DataFrame, bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidates × band relation → exact-Hamming-verified
    near-dup pairs (hamming <= BSH_MAX_HAMMING), unordered."""
    x = bands.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{b}").alias(f"xb{b}") for b in range(BSH_BANDS)],
    )
    y = bands.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{b}").alias(f"yb{b}") for b in range(BSH_BANDS)],
    )
    ham = None
    for b in range(BSH_BANDS):
        term = F.bit_count(
            F.col(f"xb{b}").bitwiseXOR(F.col(f"yb{b}"))
        )
        ham = term if ham is None else ham + term
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= BSH_MAX_HAMMING)
    )
