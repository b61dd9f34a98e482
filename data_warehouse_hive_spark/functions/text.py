"""Text analysis over the `documents` table — SURVEY.md §2.12 (extension /
north-star: the ops a large-scale training-data pipeline needs).

Everything here is expressed with JVM-side builtins (split/regexp/
aggregate/transform) — no Python in the hot path — so the per-document
work is a narrow map over the corpus: at 100 TB it parallelizes linearly
with zero shuffle until the final (tiny) aggregation.

Determinism: fingerprints use md5 (identical across engines); ratios are
per-row IEEE double ops on identical operands; corpus-level aggregates use
the exact scaled-long carrier idiom from registry.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_hive_spark.registry import davg, o_davg, query
from data_warehouse_hive_spark.tables import session_memo, spread, t, table_path

# Tiny per-language stopword marker lists for the n-gram/stopword language
# heuristic.  Chosen from the fixture corpus vocabulary; the heuristic is
# the *mechanism* (stopword-ratio language scoring) — real deployments
# plug in real stopword tables.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
}


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization (the baseline tokenizer)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def bpe_ish_tokens(col: str | Column) -> Column:
    """BPE-ish sub-word tokenization by token-class *matching* (letters |
    digits | single punctuation), a regex approximation of a GPT-2-style
    pre-tokenizer.  Match-based (regexp_extract_all) rather than
    lookaround-split so the same pattern runs on both Java regex and RE2
    (DuckDB), which lacks lookarounds."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)


_O_WS_TOKENS = r"len(string_split_regex(trim(text), '\s+'))"


@query(
    "q_text_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST({_O_WS_TOKENS} AS BIGINT)) AS BIGINT) AS total_tokens,
           {o_davg(_O_WS_TOKENS, 'avg_tokens')},
           {o_davg('n_chars', 'avg_chars')},
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc counts, token totals/averages,
    char-length extremes — the profiling pass a data pipeline runs first."""
    d = spread(
        t(spark, sf_dir, "documents").select("lang", "n_chars", "text"), spark
    )
    n_tok = F.size(tokens("text")).cast("long")
    return (
        d.withColumn("n_tok", n_tok)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            davg("n_tok", "avg_tokens"),
            davg("n_chars", "avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "q_text_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
                AS BIGINT) AS bpe_ish_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed
    FROM documents
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword token count (the
    pretraining-cost estimator)."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    return d.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("ws_tokens"),
        F.size(bpe_ish_tokens("text")).cast("long").alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


@query(
    "q_text_quality",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, text, n_chars,
             string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(length(text) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS chars_per_token,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE) AS punct_ratio,
           CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
             / CAST(len(ws) AS DOUBLE) AS stopword_ratio,
           (len(ws) >= 5 AND length(text) >= 30) AS len_ok
    FROM tok
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: chars-per-token, punctuation ratio, stopword ratio,
    minimum-length gate — the standard cheap pre-filters before expensive
    model-based quality scoring."""
    d = spread(
        t(spark, sf_dir, "documents").select("doc_id", "lang", "text"), spark
    )
    ws = tokens("text")
    n_tok = F.size(ws).cast("double")
    n_chars = F.length("text").cast("double")
    stop = F.size(
        F.filter(ws, lambda x: x.isin("the", "a", "of", "and", "is"))
    ).cast("double")
    punct_chars = F.length("text") - F.length(
        F.regexp_replace("text", r"[^a-zA-Z0-9 ]", "")
    )
    return d.select(
        "doc_id",
        "lang",
        F.size(ws).cast("long").alias("n_tokens"),
        (n_chars / n_tok).alias("chars_per_token"),
        (punct_chars.cast("double") / n_chars).alias("punct_ratio"),
        (stop / n_tok).alias("stopword_ratio"),
        ((F.size(ws) >= 5) & (F.length("text") >= 30)).alias("len_ok"),
    )


@query(
    "q_text_langid",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), '\\s+') AS ws
      FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CAST(len(list_filter(ws, x -> x IN ('the','a','of'))) AS BIGINT) AS en_hits,
           CAST(len(list_filter(ws, x -> x IN ('el','la','de'))) AS BIGINT) AS es_hits,
           CAST(len(list_filter(ws, x -> x IN ('der','die','und'))) AS BIGINT) AS de_hits,
           CAST(len(list_filter(ws, x -> x IN ('le','la','et'))) AS BIGINT) AS fr_hits,
           CASE WHEN len(list_filter(ws, x -> x IN ('the','a','of'))) > 0
                THEN 'en' ELSE 'und' END AS predicted_lang
    FROM scored
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword-marker hit counts and
    an argmax-style prediction ('und' = undetermined, ISO 639-3 style).
    The fixture corpus is synthetic English-ish text with random lang
    labels, so the *mechanism* (marker scoring) is what's exercised."""
    d = spread(
        t(spark, sf_dir, "documents").select("doc_id", "lang", "text"), spark
    )
    ws = tokens(F.lower(F.col("text")))

    def hits(markers: tuple[str, ...]) -> Column:
        return F.size(F.filter(ws, lambda x: x.isin(*markers))).cast("long")

    en = hits(_LANG_MARKERS["en"])
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en.alias("en_hits"),
        hits(_LANG_MARKERS["es"]).alias("es_hits"),
        hits(_LANG_MARKERS["de"]).alias("de_hits"),
        hits(_LANG_MARKERS["fr"]).alias("fr_hits"),
        F.when(en > 0, "en").otherwise("und").alias("predicted_lang"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_md5,
           md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS fp_bag
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: (1) normalized-text md5 (exact-dup key
    after whitespace/case normalization), (2) sorted-unique-word-bag md5
    (order-insensitive near-dup key).  md5 is bit-identical across
    engines, making fingerprints portable join keys."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    bag = F.array_join(
        F.array_sort(F.array_distinct(tokens(F.lower(F.col("text"))))), " "
    )
    return d.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        F.md5(bag).alias("fp_bag"),
    )


# Winnowing parameters: k-gram length, winnow window, polynomial base/modulus.
WINNOW_K = 8
WINNOW_W = 4
WINNOW_B = 31
WINNOW_M = 2_147_483_647
_WINNOW_PREFIX = 200  # fingerprint the first N normalized chars (bounded cost)


@query(
    "q_text_winnow",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             substr(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), 1, {_WINNOW_PREFIX}) AS s
      FROM documents
    ),
    hashes AS (
      SELECT doc_id,
             list_transform(
               range(1, len(s) - {WINNOW_K} + 2),
               i -> ({" + ".join(f"CAST(ord(substr(s, i + {j}, 1)) AS BIGINT) * {WINNOW_B**j}" for j in range(WINNOW_K))}) % {WINNOW_M}
             ) AS hs
      FROM norm
      WHERE len(s) >= {WINNOW_K}
    )
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(list_transform(
             range(1, len(hs) - {WINNOW_W} + 2),
             i -> list_min(hs[i : i + {WINNOW_W} - 1])
           ))), ',') AS fingerprint,
           CAST(len(list_sort(list_distinct(list_transform(
             range(1, len(hs) - {WINNOW_W} + 2),
             i -> list_min(hs[i : i + {WINNOW_W} - 1])
           )))) AS BIGINT) AS fp_size
    FROM hashes
    """,
)
def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by rolling hash + winnowing (the MOSS
    algorithm): polynomial hash of every character k-gram, then the
    minimum hash of each sliding window of W consecutive k-grams — the
    selected minima are the document's fingerprint set.  Guarantees any
    shared substring of length ≥ k+W-1 contributes a shared fingerprint,
    which is what makes winnowed fingerprints a JOIN KEY for plagiarism /
    near-dup detection at corpus scale.

    The polynomial hash Σ ord(c_{{i+j}})·B^j mod M is evaluated per
    position (the algebraic value a rolling computation produces,
    expressed associatively so both engines compute identical integers);
    max term 255·31⁷ ≈ 7e12 ≪ 2⁶³.  Bounded to the first 200 normalized
    chars per doc — fingerprinting cost is O(prefix), not O(doc).
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    norm = F.substring(
        F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")),
        1,
        _WINNOW_PREFIX,
    )
    nd = d.select("doc_id", norm.alias("s")).filter(F.length("s") >= WINNOW_K)
    s = F.col("s")

    def kgram_hash(i):
        # Σ_j ord(c_{i+j})·B^j — Column.substr takes Column positions
        total = F.lit(0).cast("long")
        for j in range(WINNOW_K):
            total = total + F.ascii(s.substr(i + j, F.lit(1))).cast("long") * (
                WINNOW_B ** j
            )
        return total % WINNOW_M

    hs_col = F.transform(
        F.sequence(F.lit(1), F.length(s) - WINNOW_K + 1), kgram_hash
    )
    hd = nd.select("doc_id", hs_col.alias("hs"))
    hs = F.col("hs")
    winnow = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(hs) - WINNOW_W + 1),
                lambda i: F.array_min(F.slice(hs, i, WINNOW_W)),
            )
        )
    )
    # fingerprint is serialized to a comma-joined scalar: the sorted-set
    # semantics are unchanged, but scalar cells survive cross-engine
    # value-hash comparison (array cells do not)
    return hd.select(
        "doc_id",
        F.array_join(
            F.transform(winnow, lambda x: x.cast("string")), ","
        ).alias("fingerprint"),
        F.size(winnow).cast("long").alias("fp_size"),
    )


@query(
    "q_text_ngram_freq",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    bigrams AS (
      SELECT u.bg
      FROM words,
           LATERAL (SELECT unnest(list_transform(
               range(1, greatest(len(w) - 1, 0) + 1),
               i -> w[i] || ' ' || w[i + 1]
           )) AS bg) u
    ),
    counts AS (
      SELECT bg, COUNT(*) AS n FROM bigrams GROUP BY bg
    )
    SELECT bg, n FROM counts
    ORDER BY n DESC, bg
    LIMIT 20
    """,
)
def q_text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term-frequency: top-20 word bigrams.  Explode is inline over
    the transform (the InferFiltersFromGenerate trap — see
    dedup.signature), counts are a partial+final hash agg on the bigram
    (uniform key), and the top-k is TakeOrderedAndProject with a
    deterministic (count, bigram) tiebreak."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    w = F.split(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")), " ")
    # 1-word docs produce no bigram on either side (oracle range is empty;
    # the guard keeps the Spark transform from emitting a lone-word row)
    wdf = d.select(w.alias("w")).filter(F.size("w") >= 2)
    bigram = lambda i: F.concat_ws(
        " ", F.try_element_at(F.col("w"), i + 1), F.try_element_at(F.col("w"), i + 2)
    )
    bgs = wdf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("w") - 2, F.lit(0))),
                bigram,
            )
        ).alias("bg")
    )
    return (
        bgs.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bg"))
        .limit(20)
    )


@query(
    "q_text_repetition",
    oracle=r"""
    WITH parts AS (
      SELECT doc_id,
             string_split(text, chr(10)) AS lines,
             string_split_regex(trim(lower(text)), '\s+') AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
               / CAST(len(lines) AS DOUBLE) AS dup_line_frac,
           CAST(len(ws) AS BIGINT) AS n_words,
           1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
               / CAST(len(ws) AS DOUBLE) AS dup_word_frac,
           CAST(list_max(list_transform(lines, x -> length(x))) AS BIGINT)
             AS max_line_len
    FROM parts
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition metrics — the other half of the heuristic quality family
    next to q_quality_gopher's length/symbol rules: duplicate-line
    fraction, duplicate-word fraction, longest line.  Machine-generated
    and boilerplate text shows up as high dup fractions long before a
    model-based classifier runs.  Pure array builtins per row — zero
    shuffle, linear at any scale; the fractions are IEEE ops on identical
    operands (bit-identical cross-engine)."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    lines = F.split(F.col("text"), "\n")
    ws = tokens(F.lower(F.col("text")))
    n_lines = F.size(lines).cast("long")
    n_words = F.size(ws).cast("long")
    return d.select(
        "doc_id",
        n_lines.alias("n_lines"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(lines)).cast("double")
            / n_lines.cast("double")
        ).alias("dup_line_frac"),
        n_words.alias("n_words"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(ws)).cast("double")
            / n_words.cast("double")
        ).alias("dup_word_frac"),
        F.array_max(F.transform(lines, F.length)).cast("long").alias("max_line_len"),
    )


@query(
    "q_text_entropy",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tok,
           COUNT(*) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS max_freq,
           round(log2(CAST(SUM(c) AS DOUBLE))
                 - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                   / CAST(SUM(c) AS DOUBLE), 4) AS word_entropy
    FROM cnt GROUP BY doc_id
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-distribution Shannon entropy per document (plus exact
    token/distinct/max-frequency counts) — the diversity signal that
    separates natural prose (high entropy) from templated/spammy
    repetition (low) where q_text_repetition's duplicate fractions only
    see exact repeats.

    H = log2(n) − (Σ c·log2 c)/n over exact integer word counts; the two
    float sums are order-sensitive in the last ulps, so the entropy is
    reported at 4 dp — far coarser than the ~1e-11 worst-case partial-agg
    drift — while the count columns stay exact.  Two shuffles (word
    counts, per-doc rollup), both on uniform keys.
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    cnt = (
        d.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("double")
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("max_freq"),
        F.round(
            F.log2(n) - F.sum(F.col("c").cast("double") * F.log2("c")) / n, 4
        ).alias("word_entropy"),
    )


# ---------------------------------------------------------------------------
# Overlapping chunking (embedding / RAG pre-pass)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64   # tokens per chunk
CHUNK_STRIDE = 48   # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 16

# oracle-side whitespace tokenizer (DuckDB twin of tokens())
_O_TOK = r"string_split_regex(trim(text), '\s+')"


@query(
    "q_text_chunks",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id, {_O_TOK} AS toks FROM documents
    ),
    starts AS (
      SELECT doc_id, toks,
             unnest(list_transform(
               range(0, (greatest(len(toks), 1) - 1) // {CHUNK_STRIDE} + 1),
               i -> i * {CHUNK_STRIDE}
             )) AS chunk_start
      FROM w
    )
    SELECT doc_id,
           CAST(chunk_start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(least({CHUNK_TOKENS}, len(toks) - chunk_start) AS BIGINT)
             AS n_tok_chunk,
           md5(array_to_string(
             toks[chunk_start + 1 : chunk_start + {CHUNK_TOKENS}], ' '
           )) AS chunk_hash
    FROM starts
    """,
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the pre-pass that turns
    documents into embedding/RAG units: {CHUNK_TOKENS}-token chunks every
    {CHUNK_STRIDE} tokens (16-token overlap so no sentence is split
    across a hard boundary without context), each with a stable content
    hash for downstream dedup/caching and an addressable (doc_id,
    chunk_id).

    Pure row-local explode — zero shuffle; output row count is
    ~n_tokens/stride regardless of document skew, so chunking
    parallelizes with the scan at 100 TB.  The token array is
    materialized once per doc before the start-offset transform (the
    regex-split-per-element trap — see SCALING.md on shingling); the
    modest slice copy (~4/3 of tokens) is the cost of overlap itself.
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    wtok = d.select("doc_id", tokens("text").alias("toks"))
    n = F.size("toks")
    starts = wtok.select(
        "doc_id",
        "toks",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.greatest(n, F.lit(1)) - 1) / CHUNK_STRIDE).cast("int"),
                ),
                lambda i: i * CHUNK_STRIDE,
            )
        ).alias("chunk_start"),
    )
    return starts.select(
        "doc_id",
        F.floor(F.col("chunk_start") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.least(F.lit(CHUNK_TOKENS), F.size("toks") - F.col("chunk_start"))
        .cast("long")
        .alias("n_tok_chunk"),
        F.md5(
            F.array_join(
                F.slice("toks", F.col("chunk_start") + 1, CHUNK_TOKENS), " "
            )
        ).alias("chunk_hash"),
    )


@query(
    "q_text_fertility",
    oracle=rf"""
    WITH per_doc AS (
      SELECT lang,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
             CAST(len({_O_TOK}) AS BIGINT) AS n_ws
      FROM documents
    )
    SELECT lang,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
           round(CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_ws) AS DOUBLE), 9)
             AS fertility
    FROM per_doc GROUP BY lang
    """,
)
def q_text_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: sub-word (BPE-ish) tokens per
    whitespace word — the number that converts a word-count corpus
    estimate into a real token budget, and the per-language skew signal
    (scripts with high fertility consume disproportionate context).
    Integer token counts summed exactly; one ratio per language in
    double on identical operands.  One shuffle on the language key.
    """
    d = spread(t(spark, sf_dir, "documents").select("lang", "text"), spark)
    per = d.select(
        "lang",
        F.size(bpe_ish_tokens("text")).cast("long").alias("n_bpe"),
        F.size(tokens("text")).cast("long").alias("n_ws"),
    )
    return per.groupBy("lang").agg(
        F.sum("n_bpe").alias("bpe_tokens"),
        F.sum("n_ws").alias("ws_tokens"),
        F.round(
            F.sum("n_bpe").cast("double") / F.sum("n_ws").cast("double"), 9
        ).alias("fertility"),
    )


@query(
    "q_text_lang_confusion",
    oracle=r"""
    WITH scored AS (
      SELECT lang AS labeled_lang,
             CASE WHEN len(list_filter(
                    string_split_regex(trim(lower(text)), '\s+'),
                    x -> x IN ('the','a','of'))) > 0
                  THEN 'en' ELSE 'und' END AS predicted_lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT labeled_lang, predicted_lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM scored GROUP BY labeled_lang, predicted_lang
    """,
)
def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: the (labeled × predicted) confusion matrix
    with doc and token mass per cell — the quality report that decides
    whether a language filter is safe to apply to a corpus slice.  Uses
    q_text_langid's marker heuristic as the predictor and the fixture's
    lang column as labels; the matrix is the evaluation SHAPE (cells ×
    masses), which is what transfers to a real classifier.  One
    partial+final agg on a tiny (langs × langs) key domain.
    """
    d = spread(
        t(spark, sf_dir, "documents").select("lang", "text"), spark
    )
    ws = tokens(F.lower(F.col("text")))
    en_hits = F.size(F.filter(ws, lambda x: x.isin(*_LANG_MARKERS["en"])))
    return (
        d.select(
            F.col("lang").alias("labeled_lang"),
            F.when(en_hits > 0, "en").otherwise("und").alias("predicted_lang"),
            F.size(tokens("text")).cast("long").alias("n_tok"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


_TFIDF_TOP = 5


@query(
    "q_text_tfidf",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf
      FROM words WHERE word != '' GROUP BY doc_id, word
    ),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, df.df,
             round(ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 9)
               AS idf
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tf, df, idf, tf * idf AS tfidf, rk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY tf * idf DESC, word) AS BIGINT) AS rk
      FROM scored
    ) WHERE rk <= {_TFIDF_TOP}
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-5 most characteristic terms per
    document — the classic relevance weighting (and the lexical half of
    hybrid retrieval next to q_sim_search).

    Pipeline shape at scale: explode → (doc, word) hash agg (shuffle on
    the pair key), document frequency by word (shuffle on word — the df
    relation is vocab-sized, far smaller than the corpus), join df back
    on the word key, then a per-doc window top-k (WindowGroupLimit).  The
    corpus count is a 1-row broadcast.  Determinism: idf = ln(N/df) is
    transcendental, so it is pinned at 9 dp (house rule for
    transcendentals); tf·idf then multiplies identical operands, and the
    rank breaks ties on the word itself.
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    tf = (
        d.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        # df, the corpus count, and the scored join all consume this
        # relation — checkpoint so the tokenize+aggregate lineage runs
        # once instead of once per consumer (3 document scans otherwise).
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "idf",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")), 9
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf") * F.col("idf")).desc(), F.col("word")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _TFIDF_TOP)
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            "idf",
            (F.col("tf") * F.col("idf")).alias("tfidf"),
            "rk",
        )
    )


_PMI_MIN_PAIRS = 50
_PMI_TOP = 20


@query(
    "q_text_pmi",
    oracle=f"""
    WITH wd AS (
      SELECT doc_id, u.word
      FROM documents, LATERAL (
        SELECT unnest(list_distinct(
          string_split_regex(trim(lower(text)), '\\s+'))) AS word
      ) u
    ),
    pairs AS (
      SELECT a.word AS w1, b.word AS w2
      FROM wd a JOIN wd b ON a.doc_id = b.doc_id AND a.word < b.word
    ),
    cab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY w1, w2),
    ca AS (SELECT word, COUNT(*) AS c FROM wd GROUP BY word),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM wd)
    SELECT w1, w2, c_ab, pmi, rk FROM (
      SELECT w1, w2, c_ab,
             round(ln((CAST(c_ab AS DOUBLE) * n.n_docs)
                      / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))), 9) AS pmi,
             CAST(ROW_NUMBER() OVER (
               ORDER BY round(ln((CAST(c_ab AS DOUBLE) * n.n_docs)
                    / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))), 9) DESC,
               w1, w2) AS BIGINT) AS rk
      FROM cab
      JOIN ca a ON a.word = cab.w1
      JOIN ca b ON b.word = cab.w2
      CROSS JOIN n
      WHERE c_ab >= {_PMI_MIN_PAIRS}
    )
    WHERE rk <= {_PMI_TOP}
    """,
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level word
    co-occurrence: PMI(a,b) = ln(P(a,b)/(P(a)P(b))) at document
    granularity — the collocation detector behind phrase mining and
    word-association analysis.

    The pair space is generated by a per-document self-join on doc_id
    (per-doc quadratic in DISTINCT words — bounded by document length,
    the standard co-occurrence shape); unigram and document counts are
    vocab-sized side relations joined back by word.  PMI is pinned at
    9 dp (transcendental rule) before the deterministic top-k rank.
    """
    from pyspark.sql import Window

    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    wd = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        ).alias("word"),
    ).localCheckpoint(eager=False)
    a = wd.select("doc_id", F.col("word").alias("w1"))
    b = wd.select(F.col("doc_id").alias("doc_id_b"), F.col("word").alias("w2"))
    pairs = a.join(
        b, (F.col("doc_id_b") == F.col("doc_id")) & (F.col("w1") < F.col("w2"))
    )
    cab = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    ca = wd.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    n = wd.agg(F.countDistinct("doc_id").alias("n_docs"))
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") * F.col("n_docs"))
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
        ),
        9,
    )
    scored = (
        cab.join(
            F.broadcast(ca.select(F.col("word").alias("w1"), F.col("c").alias("c_a"))),
            "w1",
        )
        .join(
            F.broadcast(ca.select(F.col("word").alias("w2"), F.col("c").alias("c_b"))),
            "w2",
        )
        .join(F.broadcast(n))
        .filter(F.col("c_ab") >= _PMI_MIN_PAIRS)
        .select("w1", "w2", "c_ab", pmi.alias("pmi"))
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= _PMI_TOP
    )


@query(
    "q_dedup_chunks",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id, {_O_TOK} AS toks FROM documents
    ),
    starts AS (
      SELECT doc_id, toks,
             unnest(list_transform(
               range(0, (greatest(len(toks), 1) - 1) // {CHUNK_STRIDE} + 1),
               i -> i * {CHUNK_STRIDE}
             )) AS chunk_start
      FROM w
    ),
    hashed AS (
      SELECT doc_id,
             md5(array_to_string(
               toks[chunk_start + 1 : chunk_start + {CHUNK_TOKENS}], ' '
             )) AS chunk_hash
      FROM starts
      WHERE len(toks) - chunk_start >= {CHUNK_TOKENS}
    )
    SELECT chunk_hash,
           COUNT(*) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
    FROM hashed
    GROUP BY chunk_hash
    HAVING COUNT(DISTINCT doc_id) > 1
    ORDER BY chunk_hash
    """,
)
def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup: find {CHUNK_TOKENS}-token windows that
    recur across DIFFERENT documents — the C4 paragraph-dedup policy at
    chunk granularity (repeated chunks across docs are boilerplate or
    syndication; the survivor keeps them once, other docs drop them).

    Reuses q_text_chunks' chunking (row-local explode, zero shuffle) and
    pays exactly one shuffle on the chunk hash — a uniform md5 key, so no
    skew at 100 TB; truncated tail windows are excluded so only
    full-width chunks can match.  Output is the repeated-chunk registry
    (hash, occurrence and doc counts, deterministic first holder).
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    wtok = d.select("doc_id", tokens("text").alias("toks"))
    n = F.size("toks")
    starts = wtok.select(
        "doc_id",
        "toks",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.greatest(n, F.lit(1)) - 1) / CHUNK_STRIDE).cast("int"),
                ),
                lambda i: i * CHUNK_STRIDE,
            )
        ).alias("chunk_start"),
    )
    hashed = starts.filter(
        F.size("toks") - F.col("chunk_start") >= CHUNK_TOKENS
    ).select(
        "doc_id",
        F.md5(
            F.array_join(F.slice("toks", F.col("chunk_start") + 1, CHUNK_TOKENS), " ")
        ).alias("chunk_hash"),
    )
    return (
        hashed.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("chunk_hash")
    )


@query(
    "q_text_phrase_search",
    oracle="""
    WITH norm AS (
      SELECT doc_id, source,
             string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    postings AS (
      SELECT doc_id, source, u.pos, u.term
      FROM norm, LATERAL (SELECT unnest(toks) AS term,
                                 unnest(range(len(toks))) AS pos) u
      WHERE u.term IN ('table', 'value')
    )
    SELECT a.doc_id, ANY_VALUE(a.source) AS source, COUNT(*) AS n_hits
    FROM postings a JOIN postings b
      ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
     AND a.term = 'table' AND b.term = 'value'
    GROUP BY a.doc_id
    ORDER BY a.doc_id
    """,
)
def q_text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search ("table value" as ADJACENT words) via positional
    postings: posexplode the token stream, self-join term-1 and term-2
    postings on (doc, pos+1) — the inverted-index-with-positions plan
    every search engine runs, where a LIKE scan would re-read full text
    per query.  The oracle states the SAME postings relation (unnest
    with positions, self-join on pos+1) rather than a padded-LIKE scan:
    the scan form counts non-overlapping occurrences (replace() consumes
    the shared boundary space), so on text like 'table value table
    value table value' the two formulations genuinely differ — the
    positional form, which counts every adjacent pair, is the semantics
    a search engine implements, and now both engines state it.

    At 100 TB the postings table is built once (doc_id, term, pos),
    bucketed by term; a phrase query touches only its terms' postings —
    per-query cost is O(df), independent of corpus size."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "source", "text"), spark)
    toks = (
        d.select(
            "doc_id",
            "source",
            F.posexplode(
                F.split(
                    F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "
                )
            ).alias("pos", "term"),
        )
        # keep only the query's terms, then checkpoint: the phrase join
        # consumes the postings twice — without this the corpus is
        # scanned+exploded once per side
        .filter(F.col("term").isin("table", "value"))
        .localCheckpoint(eager=False)
    )
    t1 = toks.filter(F.col("term") == "table").select(
        "doc_id", "source", F.col("pos").alias("p1")
    )
    t2 = toks.filter(F.col("term") == "value").select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
    )
    return (
        t1.join(
            t2,
            (F.col("d2") == F.col("doc_id")) & (F.col("p2") == F.col("p1") + 1),
        )
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy("doc_id")
    )


@query(
    "q_text_js_drift",
    oracle="""
    WITH toks AS (
      SELECT source, u.t AS token
      FROM documents,
           LATERAL (SELECT unnest(string_split(
             lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS t) u
      WHERE source IN ('src0', 'src1')
    ),
    cnt AS (
      SELECT token,
             COUNT(*) FILTER (WHERE source = 'src0') AS ca,
             COUNT(*) FILTER (WHERE source = 'src1') AS cb
      FROM toks GROUP BY token
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM cnt
    ),
    probs AS (
      SELECT CAST(c.ca AS DOUBLE) / CAST(t.na AS DOUBLE) AS p,
             CAST(c.cb AS DOUBLE) / CAST(t.nb AS DOUBLE) AS q
      FROM cnt c CROSS JOIN tot t
    ),
    terms AS (
      SELECT CAST(floor(round(
               CASE WHEN p > 0.0
                    THEN 0.5 * p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END
               + CASE WHEN q > 0.0
                      THEN 0.5 * q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END,
               9) * 1e9 + 0.5) AS BIGINT) AS term_c
      FROM probs
    )
    SELECT 'src0_vs_src1' AS pair,
           round(CAST(SUM(term_c) AS DOUBLE) / 1e9, 6) AS js_divergence
    FROM terms
    """,
)
def q_text_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two sources' token
    distributions — the TEXT drift metric (the numeric twin is
    q_stats_psi): symmetric, bounded by ln 2, and zero-safe where raw KL
    blows up on vocabulary the other side lacks.  This is the
    corpus-version comparison run before/after a pipeline change: a JS
    jump means the change shifted WHAT the corpus says, not just how
    much of it there is.

    One token-count aggregation produces both distributions (conditional
    counts, single shuffle); each per-token JS term is ln-pinned to 9 dp
    and carrier-summed — the q_agg_geomean idiom — so the transcendental
    never leaks engine ulps into the exact sum."""
    d = spread(
        t(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1"))
        .select("source", "text"),
        spark,
    )
    toks = d.select(
        "source",
        F.explode(
            F.split(
                F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "
            )
        ).alias("token"),
    )
    cnt = toks.groupBy("token").agg(
        F.count(F.when(F.col("source") == "src0", 1)).alias("ca"),
        F.count(F.when(F.col("source") == "src1", 1)).alias("cb"),
    )
    tot = cnt.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    probs = cnt.crossJoin(F.broadcast(tot)).select(
        (F.col("ca").cast("double") / F.col("na").cast("double")).alias("p"),
        (F.col("cb").cast("double") / F.col("nb").cast("double")).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / F.lit(2.0)
    term = (
        F.when(
            F.col("p") > 0.0, F.lit(0.5) * F.col("p") * F.log(F.col("p") / m)
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("q") > 0.0, F.lit(0.5) * F.col("q") * F.log(F.col("q") / m)
        ).otherwise(F.lit(0.0))
    )
    term_c = F.floor(F.round(term, 9) * F.lit(1e9) + F.lit(0.5)).cast("long")
    return probs.select(term_c.alias("term_c")).agg(
        F.lit("src0_vs_src1").alias("pair"),
        F.round(F.sum("term_c").cast("double") / F.lit(1e9), 6).alias(
            "js_divergence"
        ),
    )


@query(
    "q_text_zipf",
    oracle="""
    WITH toks AS (
      SELECT u.t AS token
      FROM documents,
           LATERAL (SELECT unnest(string_split(
             lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS t) u
    ),
    freqs AS (
      SELECT token, COUNT(*) AS freq FROM toks GROUP BY token
    ),
    ranked AS (
      SELECT freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
      FROM freqs
    ),
    lg AS (
      SELECT CAST(floor(round(ln(CAST(rank AS DOUBLE)), 9) * 1e9 + 0.5)
                  AS BIGINT) AS lx,
             CAST(floor(round(ln(CAST(freq AS DOUBLE)), 9) * 1e9 + 0.5)
                  AS BIGINT) AS ly
      FROM ranked WHERE rank <= 100
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
             CAST(SUM(CAST(floor(CAST(lx AS DOUBLE) / 1e9
                                 * (CAST(ly AS DOUBLE) / 1e9) * 1e6 + 0.5)
                           AS BIGINT)) AS BIGINT) AS sxy,
             CAST(SUM(CAST(floor(CAST(lx AS DOUBLE) / 1e9
                                 * (CAST(lx AS DOUBLE) / 1e9) * 1e6 + 0.5)
                           AS BIGINT)) AS BIGINT) AS sxx
      FROM lg
    )
    SELECT n,
           round((CAST(sxy AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
                  - (CAST(sx AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))
                    * (CAST(sy AS DOUBLE) / 1e9 / CAST(n AS DOUBLE)))
                 / (CAST(sxx AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
                    - (CAST(sx AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))
                      * (CAST(sx AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))), 6)
             AS zipf_slope
    FROM s
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(freq) over ln(rank) for the top
    100 tokens — natural corpora fit ≈ −1; strong deviation flags
    synthetic, templated, or spam-heavy text, making this a one-number
    corpus-health gate alongside the Gopher rules.

    Composition of established idioms: frequency ranking (window over
    the grouped vocabulary), 9 dp ln pins, and the q_stats_regression
    power-sum slope — every sum an exact long, the slope one mirrored
    double expression."""
    d = spread(t(spark, sf_dir, "documents").select("text"), spark)
    toks = d.select(
        F.explode(
            F.split(
                F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "
            )
        ).alias("token")
    )
    freqs = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    from pyspark.sql import Window

    ranked = freqs.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), "token"))
        .alias("rank"),
    ).filter(F.col("rank") <= 100)
    pin = lambda c: F.floor(  # noqa: E731
        F.round(F.log(c.cast("double")), 9) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    lg = ranked.select(pin(F.col("rank")).alias("lx"), pin(F.col("freq")).alias("ly"))
    lxd = F.col("lx").cast("double") / F.lit(1e9)
    lyd = F.col("ly").cast("double") / F.lit(1e9)
    s = lg.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(
            F.floor(lxd * lyd * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("sxy"),
        F.sum(
            F.floor(lxd * lxd * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / F.lit(1e9) / nd
    my = F.col("sy").cast("double") / F.lit(1e9) / nd
    qxy = F.col("sxy").cast("double") / F.lit(1e6) / nd
    qxx = F.col("sxx").cast("double") / F.lit(1e6) / nd
    return s.select(
        "n",
        F.round((qxy - mx * my) / (qxx - mx * mx), 6).alias("zipf_slope"),
    )


@query(
    "q_text_lm_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, u.t AS w, u.i AS pos
      FROM documents,
           LATERAL (SELECT unnest(string_split(
                      lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                      ' ')) AS t,
                    generate_subscripts(string_split(
                      lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                      ' '), 1) AS i) u
    ),
    bigrams AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    bg_cnt AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM bigrams GROUP BY w1, w2
    ),
    ug_cnt AS (
      SELECT w AS w1, COUNT(*) AS c1 FROM toks GROUP BY w
    ),
    scored AS (
      SELECT bg.doc_id,
             CAST(floor(round(ln(CAST(c.c2 AS DOUBLE)
                                 / CAST(u.c1 AS DOUBLE)), 9) * 1e9 + 0.5)
                  AS BIGINT) AS lp
      FROM bigrams bg
      JOIN bg_cnt c ON c.w1 = bg.w1 AND c.w2 = bg.w2
      JOIN ug_cnt u ON u.w1 = bg.w1
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           round(CAST(SUM(lp) AS DOUBLE) / 1e9 / CAST(COUNT(*) AS DOUBLE), 6)
             AS avg_logprob
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: each document's mean bigram
    log-probability ln P(w₂|w₁) under the corpus's OWN bigram counts —
    the KenLM-style filter rank (low score = improbable word sequences =
    boilerplate/garbled/machine text) without shipping a model: the LM
    is two count tables the corpus induces on itself.

    One posexplode builds positions; bigram and unigram counts are two
    hash aggregations; scoring joins each doc bigram to its corpus
    counts (bounded-vocabulary keys).  Per-bigram log-probs are
    ln-pinned 9 dp and carrier-summed, so the per-doc mean is
    order-exact.  At 100 TB the count tables persist as the "model" and
    new batches score against them by join — no rescan of the corpus."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.split(
                F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "
            )
        ).alias("pos", "w"),
    ).localCheckpoint(eager=False)
    # adjacent-position pairing as ONE lead() window instead of a
    # positional self-join (r14, guide §2.4 remove shuffles outright):
    # the join shuffled the token relation TWICE on the composite
    # (doc_id, pos) key; lead over (doc_id, pos) shuffles it once.
    # posexplode positions are dense and consecutive, so lead(w) is
    # exactly the w2 the p2 = pos + 1 join produced.
    wadj = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("w2", F.lead("w").over(wadj))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.col("w").alias("w1"), "w2")
    )
    bg_cnt = bigrams.groupBy(
        F.col("w1").alias("cw1"), F.col("w2").alias("cw2")
    ).agg(F.count(F.lit(1)).alias("c2"))
    ug_cnt = toks.groupBy(F.col("w").alias("uw1")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    lp = F.floor(
        F.round(
            F.log(F.col("c2").cast("double") / F.col("c1").cast("double")), 9
        )
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    scored = (
        bigrams.join(
            bg_cnt,
            (F.col("cw1") == F.col("w1")) & (F.col("cw2") == F.col("w2")),
        )
        .join(ug_cnt, F.col("uw1") == F.col("w1"))
        .select("doc_id", lp.alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("lp").cast("double")
                / F.lit(1e9)
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Round 5: lexical diversity + readability
# ---------------------------------------------------------------------------


@query(
    "q_text_simpson",
    oracle=r"""
    WITH w AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      FROM documents
    ),
    cnt AS (
      SELECT source, word, COUNT(*) AS c FROM w GROUP BY source, word
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tok,
           COUNT(*) AS n_distinct,
           round(1.0 - CAST(SUM(c * (c - 1)) AS DOUBLE)
                       / (CAST(SUM(c) AS DOUBLE)
                          * CAST(SUM(c) - 1 AS DOUBLE)), 9) AS simpson
    FROM cnt GROUP BY source ORDER BY source
    """,
)
def q_text_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity index 1 − Σc(c−1)/(N(N−1)) of the word
    distribution per source — the probability two tokens drawn without
    replacement differ.  Complements q_text_entropy (bits, sensitive to
    the tail) with a collision-probability view that is dominated by the
    head: a template farm's source scores near its repeated boilerplate
    even when long-tail noise inflates entropy.

    Both sums are EXACT integers (c(c−1) stays well inside long at any
    corpus scale because c ≤ N and the sum telescopes to collision
    pairs), so the only float op is the final mirrored division — no
    carrier needed, any aggregation order.  Two shuffles on uniform
    keys: (source, word) counts, then the per-source rollup.
    """
    d = spread(t(spark, sf_dir, "documents").select("source", "text"), spark)
    cnt = (
        d.select(
            "source",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return (
        cnt.groupBy("source")
        .agg(
            n.alias("n_tok"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(
                F.lit(1.0)
                - F.sum(F.col("c") * (F.col("c") - 1)).cast("double")
                / (n.cast("double") * (n - 1).cast("double")),
                9,
            ).alias("simpson"),
        )
        .orderBy("source")
    )


@query(
    "q_text_readability",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS n_words,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                AS BIGINT) AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                AS BIGINT) AS n_syllables,
           round(206.835
                 - 1.015 * (CAST(len(string_split_regex(trim(text), '\s+'))
                                 AS DOUBLE)
                            / CAST(greatest(len(regexp_extract_all(text,
                                            '[.!?]+')), 1) AS DOUBLE))
                 - 84.6 * (CAST(len(regexp_extract_all(lower(text),
                                    '[aeiouy]+')) AS DOUBLE)
                           / CAST(len(string_split_regex(trim(text), '\s+'))
                                  AS DOUBLE)), 4) AS flesch
    FROM documents
    ORDER BY doc_id
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a vowel-group syllable
    proxy — the classic readability gate (very low scores flag legal
    boilerplate / machine gibberish; implausibly high ones flag word
    salad) used alongside q_text_quality's ratio heuristics.

    Pure narrow map over the documents scan — no shuffle, no UDF: word
    count, sentence count (runs of .!? — floor 1 so headlines don't
    divide by zero), and syllable proxy (runs of aeiouy) are all
    regexp+length expressions inside whole-stage codegen; the Flesch
    linear form is mirrored double arithmetic on exact integers, pinned
    at 4 dp.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    n_words = F.size(F.split(F.trim("text"), r"\s+"))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    n_syll = F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[aeiouy]+"), 0))
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
            - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double")),
            4,
        ).alias("flesch"),
    ).orderBy("doc_id")


@query(
    "q_text_artifacts",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\s+') AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(length(text) - length(regexp_replace(text, '[ -~]', '', 'g'))
                AS BIGINT) AS n_nonascii,
           CAST((length(text) - length(replace(text, '- ', ''))) // 2
                AS BIGINT) AS n_hyphen_breaks,
           CAST(len(list_filter(ws,
                x -> regexp_matches(x, '[a-z][A-Z]'))) AS BIGINT)
             AS n_mixedcase_tokens,
           round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                 AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS digit_ratio,
           ((length(text) - length(regexp_replace(text, '[ -~]', '', 'g')))
              * 20 > length(text)
            OR len(list_filter(ws, x -> regexp_matches(x, '[a-z][A-Z]'))) > 2
            OR (length(text) - length(replace(text, '- ', ''))) // 2 > 3)
             AS artifact_flag
    FROM base
    ORDER BY doc_id
    """,
)
def q_text_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR/scrape-artifact heuristics per document — the cheap detector
    for the damage modes that precede quality scoring: non-ASCII debris
    (mojibake), line-break hyphenation ("exam- ple"), mid-token case
    flips ("wordNext" — column-merge artifacts), and digit floods.  The
    flag ORs calibrated thresholds; the non-ASCII test is the integer
    cross-multiplication `n·20 > len` (ratio > 5%) so no float compare
    is involved.

    Pure narrow map in whole-stage codegen (regexp length deltas + one
    token-filter lambda); zero shuffles.  Counts are exact integers; the
    only float is the 6 dp digit ratio.  Precisely BECAUSE it is
    zero-shuffle, the one-row-group fixture scan would run every regex
    pass on a single core — spread() first (r14, guide §2.5; no-op on
    a real multi-file layout)."""
    d = spread(
        t(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    ws = tokens("text")
    n_nonascii = F.length("text") - F.length(
        F.regexp_replace("text", r"[ -~]", "")
    )
    n_hyphen = (
        F.length("text") - F.length(F.regexp_replace("text", r"- ", ""))
    ) / F.lit(2)
    n_mixed = F.size(F.filter(ws, lambda x: x.rlike("[a-z][A-Z]")))
    n_digits = F.length(F.regexp_replace("text", r"[^0-9]", ""))
    return d.select(
        "doc_id",
        n_nonascii.cast("long").alias("n_nonascii"),
        n_hyphen.cast("long").alias("n_hyphen_breaks"),
        n_mixed.cast("long").alias("n_mixedcase_tokens"),
        F.round(
            n_digits.cast("double") / F.length("text").cast("double"), 6
        ).alias("digit_ratio"),
        (
            (n_nonascii * 20 > F.length("text"))
            | (n_mixed > 2)
            | (n_hyphen.cast("long") > 3)
        ).alias("artifact_flag"),
    ).orderBy("doc_id")


BOILER_DF = 5  # a sentence in >= this many docs of one source is template


@query(
    "q_text_boilerplate",
    oracle=f"""
    WITH sent AS (
      SELECT DISTINCT source, doc_id,
             md5(trim(lower(u.s))) AS h
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, '. ')) AS s) u
      WHERE length(trim(u.s)) >= 10
    ),
    df AS (
      SELECT source, h, COUNT(*) AS n_docs
      FROM sent GROUP BY source, h
    )
    SELECT source,
           COUNT(*) AS n_distinct_sentences,
           CAST(SUM(CASE WHEN n_docs >= {BOILER_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boilerplate,
           round(CAST(SUM(CASE WHEN n_docs >= {BOILER_DF} THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS boilerplate_rate
    FROM df GROUP BY source ORDER BY source
    """,
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate sentence detection per source — the
    sentence-level document-frequency profile behind nav-bar / footer /
    terms-of-service removal: a sentence recurring in ≥ {BOILER_DF}
    documents of the SAME source is template text, not content (the
    C4-style line dedup q_clean_c4 applies within documents; this is
    the cross-document source-level census that says WHICH feeds are
    template-heavy before cleaning them).

    Sentences split on '. ', length-floored at 10 chars (fragment
    guard), normalized, and md5'd so the document-frequency shuffle
    carries 32-byte keys instead of sentence text; one (source, doc, h)
    dedup then two grouped rollups, all on uniform hash keys.
    """
    d = spread(t(spark, sf_dir, "documents").select("source", "doc_id", "text"), spark)
    sent = (
        d.select(
            "source",
            "doc_id",
            F.explode(F.split("text", r"\. ")).alias("s"),
        )
        .filter(F.length(F.trim("s")) >= 10)
        .select("source", "doc_id", F.md5(F.trim(F.lower("s"))).alias("h"))
        .distinct()
    )
    df = sent.groupBy("source", "h").agg(F.count(F.lit(1)).alias("n_docs"))
    boiler = F.sum(F.when(F.col("n_docs") >= BOILER_DF, 1).otherwise(0))
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_sentences"),
            boiler.cast("long").alias("n_boilerplate"),
            F.round(
                boiler.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("boilerplate_rate"),
        )
        .orderBy("source")
    )


@query(
    "q_text_link_density",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             string_split_regex(trim(text), '\s+') AS ws
      FROM documents
    ),
    per AS (
      SELECT source,
             len(ws) AS n_tok,
             len(list_filter(ws, x -> x LIKE 'http://%'
                                   OR x LIKE 'https://%'
                                   OR x LIKE 'www.%')) AS n_links
      FROM tok
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_links > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_links,
           CAST(SUM(n_links) AS BIGINT) AS n_link_tokens,
           round(CAST(SUM(n_links) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE),
                 9) AS link_token_ratio
    FROM per GROUP BY source ORDER BY source
    """,
)
def q_text_link_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-token density per source — the web-curation signal that
    separates prose from link farms / navigation dumps (C4 drops
    high-link-density pages outright; here it is reported per feed so
    the threshold can be source-calibrated).  Counts http(s)/www tokens
    against total whitespace tokens, plus how many docs carry any link.

    Pure narrow map (token filter lambda — JVM-side, no UDF) + one
    grouped rollup on the source key; exact integer counts, one final
    mirrored division at 9 dp.
    """
    d = spread(t(spark, sf_dir, "documents").select("source", "text"), spark)
    ws = tokens("text")
    links = F.size(
        F.filter(
            ws,
            lambda x: x.startswith("http://")
            | x.startswith("https://")
            | x.startswith("www."),
        )
    )
    per = d.select(
        "source", F.size(ws).alias("n_tok"), links.alias("n_links")
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_links") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_with_links"),
            F.sum("n_links").cast("long").alias("n_link_tokens"),
            F.round(
                F.sum("n_links").cast("double")
                / F.sum("n_tok").cast("double"),
                9,
            ).alias("link_token_ratio"),
        )
        .orderBy("source")
    )


HEAPS_BUCKET = 50  # docs per growth-curve step


@query(
    "q_text_heaps",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id // {HEAPS_BUCKET} AS bucket,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      FROM documents
    ),
    first_seen AS (
      SELECT word, CAST(MIN(bucket) AS BIGINT) AS fb FROM w GROUP BY word
    ),
    new_per AS (
      SELECT fb AS bucket, COUNT(*) AS new_words FROM first_seen GROUP BY fb
    ),
    tok_per AS (
      SELECT bucket, COUNT(*) AS toks FROM w GROUP BY bucket
    )
    SELECT t.bucket,
           CAST(SUM(t2.toks) AS BIGINT) AS cum_tokens,
           CAST(COALESCE(SUM(n2.new_words), 0) AS BIGINT) AS cum_vocab,
           round(ln(CAST(COALESCE(SUM(n2.new_words), 0) AS DOUBLE))
                 / ln(CAST(SUM(t2.toks) AS DOUBLE)), 6) AS heaps_beta
    FROM tok_per t
    JOIN tok_per t2 ON t2.bucket <= t.bucket
    LEFT JOIN new_per n2 ON n2.bucket = t2.bucket
    GROUP BY t.bucket
    ORDER BY t.bucket
    """,
)
def q_text_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct vocabulary
    vs cumulative tokens in doc-id order, with the pointwise Heaps
    exponent β = ln V / ln N — the corpus-health curve that says whether
    new data still brings new language (β plateauing toward 0 ⇒ the
    source is exhausted / template-bound; natural corpora hold β≈0.5).

    The cumulative-distinct trap is dodged the scalable way: each word
    maps to its FIRST-SEEN bucket (one shuffle on the word key), so
    cumulative vocabulary is a prefix sum of per-bucket first-occurrence
    counts — never a distinct-per-prefix rescan.  The prefix join runs
    over the O(buckets²) tiny rollup.  ln/ln on identical exact-integer
    doubles, 6 dp.
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    w = d.select(
        (F.col("doc_id") / HEAPS_BUCKET).cast("long").alias("bucket"),
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"),
    )
    first_seen = w.groupBy("word").agg(F.min("bucket").alias("fb"))
    new_per = first_seen.groupBy(F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_words")
    )
    tok_per = w.groupBy("bucket").agg(F.count(F.lit(1)).alias("toks"))
    t2 = tok_per.select(
        F.col("bucket").alias("b2"), F.col("toks").alias("toks2")
    ).join(
        F.broadcast(new_per.select(F.col("bucket").alias("b3"), "new_words")),
        F.col("b3") == F.col("b2"),
        "left",
    )
    joined = tok_per.select("bucket").join(
        F.broadcast(t2), F.col("b2") <= F.col("bucket")
    )
    cumv = F.coalesce(F.sum("new_words"), F.lit(0))
    return (
        joined.groupBy("bucket")
        .agg(
            F.sum("toks2").cast("long").alias("cum_tokens"),
            cumv.cast("long").alias("cum_vocab"),
            F.round(
                F.log(cumv.cast("double"))
                / F.log(F.sum("toks2").cast("double")),
                6,
            ).alias("heaps_beta"),
        )
        .orderBy("bucket")
    )


@query(
    "q_text_code_detect",
    oracle=r"""
    WITH feats AS (
      SELECT doc_id,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[{{}}();=\[\]<>]',
                                                  '', 'g')) AS n_codechars,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                 x -> regexp_matches(x, '^[a-z]+[A-Z]'))) AS n_camel,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                 x -> regexp_matches(x, '_'))) AS n_snake
      FROM documents
    )
    SELECT doc_id, n_codechars, CAST(n_camel AS BIGINT) AS n_camel,
           CAST(n_snake AS BIGINT) AS n_snake,
           round(CAST(n_codechars AS DOUBLE) / CAST(n_chars AS DOUBLE), 6)
             AS code_char_ratio,
           (n_codechars * 20 > n_chars OR n_camel + n_snake > 5)
             AS looks_like_code
    FROM feats
    ORDER BY doc_id
    """,
)
def q_text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection heuristics per document: code-punctuation
    density (braces, brackets, semicolons, assignment), camelCase and
    snake_case identifier counts, with a flag at >5% code chars or >5
    identifier-style tokens — the router that decides which pipeline a
    document enters (code corpora get different dedup, different
    quality rules, different tokenizers than prose; misrouting is one
    of the quietest ways to poison a mix).

    Pure narrow map (regexp length deltas + two token-filter lambdas,
    all codegen); the flag threshold is integer cross-multiplied.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = tokens("text")
    n_chars = F.length("text")
    n_code = n_chars - F.length(
        F.regexp_replace("text", r"[{}();=\[\]<>]", "")
    )
    n_camel = F.size(F.filter(ws, lambda x: x.rlike("^[a-z]+[A-Z]")))
    n_snake = F.size(F.filter(ws, lambda x: x.rlike("_")))
    return d.select(
        "doc_id",
        n_code.cast("long").alias("n_codechars"),
        n_camel.cast("long").alias("n_camel"),
        n_snake.cast("long").alias("n_snake"),
        F.round(n_code.cast("double") / n_chars.cast("double"), 6).alias(
            "code_char_ratio"
        ),
        ((n_code * 20 > n_chars) | (n_camel + n_snake > 5)).alias(
            "looks_like_code"
        ),
    ).orderBy("doc_id")


_WH_WORDS = ("what", "how", "why", "when", "where", "who", "which")
_IMPERATIVES = ("write", "explain", "describe", "list", "create", "make",
                "give", "show")


@query(
    "q_text_instruct_detect",
    oracle=rf"""
    WITH feats AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS ws,
             length(text) - length(replace(text, '?', '')) AS n_q
      FROM documents
    )
    SELECT doc_id,
           (ws[1] IN {str(tuple(_WH_WORDS))}) AS starts_wh,
           (ws[1] IN {str(tuple(_IMPERATIVES))}) AS starts_imperative,
           CAST(n_q AS BIGINT) AS n_question_marks,
           (ws[1] IN {str(tuple(_WH_WORDS))}
            OR ws[1] IN {str(tuple(_IMPERATIVES))}
            OR n_q > 0) AS instruction_like
    FROM feats
    ORDER BY doc_id
    """,
)
def q_text_instruct_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction/question mining heuristics: leading wh-word, leading
    imperative verb, question-mark count — the cheap first-pass filter
    for surfacing SFT-style prompts inside a web corpus (the
    instruction-data mining step behind every "we extracted N million
    naturally-occurring instructions" dataset card).

    First-token tests index the token array directly (both engines
    1-based here: element 1); marker lists are module literals shared
    into the oracle text.  Pure narrow map, no shuffle.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = tokens(F.lower(F.col("text")))
    first = F.element_at(ws, 1)
    n_q = F.length("text") - F.length(F.regexp_replace("text", r"\?", ""))
    starts_wh = first.isin(*_WH_WORDS)
    starts_imp = first.isin(*_IMPERATIVES)
    return d.select(
        "doc_id",
        starts_wh.alias("starts_wh"),
        starts_imp.alias("starts_imperative"),
        n_q.cast("long").alias("n_question_marks"),
        (starts_wh | starts_imp | (n_q > 0)).alias("instruction_like"),
    ).orderBy("doc_id")


KN_D = 0.75  # absolute discount (the standard Kneser-Ney default)


@query(
    "q_text_lm_kn",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, toks[u.i] AS w1, toks[u.i + 1] AS w2
      FROM d, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u
      WHERE len(toks) >= 2
    ),
    c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2
    ),
    c1 AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1p
      FROM c12 GROUP BY w1
    ),
    cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS nc FROM c12 GROUP BY w2
    ),
    nbb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbb FROM c12),
    scored AS (
      SELECT b.doc_id,
             CAST(floor(ln(
               greatest(CAST(c.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE), 0)
                 / x.c1
               + (CAST(0.75 AS DOUBLE) * x.n1p / x.c1)
                 * (CAST(k.nc AS DOUBLE) / n.nbb)
             ) * 1e9 + 0.5) AS BIGINT) AS q
      FROM bg b
      JOIN c12 c ON c.w1 = b.w1 AND c.w2 = b.w2
      JOIN c1 x ON x.w1 = b.w1
      JOIN cont k ON k.w2 = b.w2
      CROSS JOIN nbb n
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(CAST(SUM(q) AS DOUBLE) / 1e9 / COUNT(*), 6)
             AS kn_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_text_lm_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (absolute discount
    d={KN_D}): per-document mean log P_KN(w2|w1) where
    P_KN = max(c(w1w2)−d, 0)/c(w1) + d·N1+(w1·)/c(w1) · N1+(·w2)/N1+(··)
    — the smoothing that made n-gram LMs work (continuation probability
    instead of raw unigram backoff), and a sharper quality scorer than
    q_text_lm_score's add-k model: KN punishes documents whose bigrams
    are frequent only inside boilerplate contexts.

    Scale shape: the model is three count relations (bigram, context,
    continuation), all map-side-combined shuffles keyed on words; the
    scoring pass re-joins the bigram stream against them on the same
    keys — no collect, no broadcast of unbounded vocabulary.  Each log
    is quantized onto the 1e9 carrier before the per-doc sum (exact
    integers); the probability expression is stated in identical
    operation order in both engines."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    toked = d.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS w1, toks[i+1] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # materialize the bigram-count relation once: four consumers (context
    # totals, continuation counts, the type total, and the scoring join)
    # would otherwise each replay the tokenize+explode+count pipeline
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint(eager=False)
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1p"),
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("nc")
    )
    nbb = c12.agg(F.count(F.lit(1)).cast("long").alias("nbb"))
    p_kn = F.log(
        F.greatest(
            F.col("c12").cast("double") - F.lit(KN_D), F.lit(0.0)
        )
        / F.col("c1")
        + (F.lit(KN_D) * F.col("n1p") / F.col("c1"))
        * (F.col("nc").cast("double") / F.col("nbb"))
    )
    scored = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(nbb))
        .select(
            "doc_id",
            F.floor(p_kn * 1e9 + 0.5).cast("long").alias("q"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.sum("q").cast("double") / 1e9 / F.count(F.lit(1)), 6
            ).alias("kn_logprob"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Hapax legomena: corpus-frequency-1 words and per-document lexical novelty
# ---------------------------------------------------------------------------


@query(
    "q_text_hapax",
    oracle="""
    WITH dw AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents,
           LATERAL unnest(string_split_regex(trim(lower(text)), '\\s+'))
             AS u(w)
      GROUP BY doc_id, w
    ),
    freq AS (
      SELECT w, CAST(SUM(c) AS BIGINT) AS corpus_f FROM dw GROUP BY w
    )
    SELECT dw.doc_id,
           CAST(SUM(dw.c) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN f.corpus_f = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           round(CAST(SUM(CASE WHEN f.corpus_f = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / SUM(dw.c), 6) AS hapax_ratio,
           round(CAST(COUNT(*) AS DOUBLE) / SUM(dw.c), 6) AS type_token_ratio
    FROM dw JOIN freq f ON f.w = dw.w
    GROUP BY dw.doc_id
    ORDER BY dw.doc_id
    """,
)
def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena census: per document, how many of its words occur
    exactly ONCE in the whole corpus, plus the type-token ratio — the
    lexical-novelty signals curation uses both ways (a high hapax share
    flags OCR garbage and random-string spam; a near-zero share flags
    template/boilerplate text), and the direct input to Good-Turing
    smoothing (N₁) next to q_text_heaps' vocabulary-growth curve.

    Two word-keyed shuffles: (doc, word) term counts, then the corpus
    frequency aggregation whose result joins BACK to the per-doc terms
    on the word key (equi-join, never broadcast-dependent — at corpus
    scale the frequency relation is vocabulary-sized).  Ratios are
    single divisions of exact longs, rounded at 6.
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    dw = (
        d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    freq = dw.groupBy(F.col("w").alias("fw")).agg(
        F.sum("c").cast("long").alias("corpus_f")
    )
    hap = F.sum(F.when(F.col("corpus_f") == 1, 1).otherwise(0)).cast("long")
    return (
        dw.join(freq, F.col("fw") == F.col("w"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            hap.alias("n_hapax"),
            F.round(hap.cast("double") / F.sum("c"), 6).alias("hapax_ratio"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.sum("c"), 6
            ).alias("type_token_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# OOV rate: tokenizer-vocabulary coverage per document
# ---------------------------------------------------------------------------

OOV_VOCAB_SIZE = 500  # top-V corpus words form the fixed vocabulary


@query(
    "q_text_oov_rate",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, w
      FROM documents,
           LATERAL unnest(string_split_regex(trim(lower(text)), '\\s+'))
             AS u(w)
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rk
        FROM words GROUP BY w
      ) WHERE rk <= {OOV_VOCAB_SIZE}
    )
    SELECT words.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS oov_rate
    FROM words LEFT JOIN vocab v ON v.w = words.w
    GROUP BY words.doc_id
    ORDER BY words.doc_id
    """,
)
def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against a fixed top-
    {OOV_VOCAB_SIZE} corpus vocabulary — the tokenizer-coverage
    diagnostic: a doc whose tokens mostly miss the vocabulary will
    shatter into byte-fallback pieces (high fertility, wasted context),
    so curation gates on it next to q_text_fertility's chars/token
    proxy; it is also the corpus-side acceptance test when a tokenizer
    retrains ('what fraction of the new crawl does the old vocab
    cover').

    The vocabulary is a TakeOrdered top-V over the word-frequency
    aggregate (ties break by word — deterministic), broadcast into a
    LEFT join against the exploded token stream; one word-keyed shuffle
    + one doc-keyed re-aggregation.  At 100 TB the vocab is built once
    per tokenizer release and persists — exactly this relation.
    """
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    words = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.col("f").desc(), "w")
        .limit(OOV_VOCAB_SIZE)
        .select(F.col("w").alias("vw"))
    )
    oov = F.sum(F.when(F.col("vw").isNull(), 1).otherwise(0)).cast("long")
    return (
        words.join(F.broadcast(vocab), F.col("vw") == F.col("w"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            oov.alias("n_oov"),
            F.round(oov.cast("double") / F.count(F.lit(1)), 6).alias(
                "oov_rate"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate counting: the distributed job inside tokenizer training
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 10


@query(
    "q_text_bpe_pairs",
    oracle=f"""
    WITH wf AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM documents,
           LATERAL unnest(string_split_regex(trim(lower(text)), '\\s+'))
             AS u(w)
      WHERE w != '' GROUP BY w
    ),
    syms AS (
      SELECT freq, list_append(string_split(w, ''), '</w>') AS s FROM wf
    ),
    pairs AS (
      SELECT p.a, p.b, CAST(SUM(freq) AS BIGINT) AS n
      FROM syms,
           LATERAL (SELECT unnest(list_transform(range(1, len(s)),
                      i -> {{'a': s[i], 'b': s[i + 1]}})) AS p) x
      GROUP BY p.a, p.b
    )
    SELECT a, b, n, rk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, a, b) AS BIGINT)
               AS rk
      FROM pairs
    ) WHERE rk <= {BPE_TOP_PAIRS}
    ORDER BY rk
    """,
)
def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner job of BPE tokenizer TRAINING: count every adjacent
    symbol pair across the corpus (weighted by word frequency, words
    terminated with the </w> marker) and rank the merge candidates —
    each training round merges the top pair and re-counts, and THIS
    count is the part that must run distributed at corpus scale (the
    merge bookkeeping on the ≤vocab-sized symbol table is driver work
    in every real trainer, Sennrich et al.'s reference included).

    One shuffle builds the word-frequency table (the classic reduction
    from corpus positions to unique words — pair counting then touches
    |vocab| rows, not |corpus| tokens), one fan-out to adjacent pairs
    via an index transform (no self-join), one hash aggregate on the
    pair key; top candidates via TakeOrdered.  Counts are exact longs
    throughout — nothing to quantize.
    """
    d = spread(t(spark, sf_dir, "documents").select("text"), spark)
    wf = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    syms = wf.select(
        "freq",
        F.concat(
            F.filter(F.split("w", ""), lambda x: x != ""),
            F.array(F.lit("</w>")),
        ).alias("s"),
    )
    pairs = (
        syms.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(s) - 2),"
                    " i -> struct(s[i] AS a, s[i + 1] AS b))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").cast("long").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), "a", "b")
    return (
        pairs.orderBy(F.col("n").desc(), "a", "b")
        .limit(BPE_TOP_PAIRS)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .orderBy("rk")
    )


BPE_MERGE_ROUNDS = 6


def _bpe_ctes(carry_w: bool = False) -> list[str]:
    """The shared unrolled BPE training chain (q_graph_kcore pattern:
    iterative fixpoint as MATERIALIZED CTE rounds).  carry_w keeps the
    word column through the rounds so a consumer can join segmentations
    back to the corpus (q_text_bpe_encode)."""
    wcol = "w, " if carry_w else ""
    ctes = ["""wf AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM documents,
           LATERAL unnest(string_split_regex(trim(lower(text)), '\\s+'))
             AS u(w)
      WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY w
    )""",
    f"""syms0 AS MATERIALIZED (
      SELECT {wcol}freq,
             '||' || array_to_string(
               list_append(string_split(w, ''), '</w>'), '||') || '||'
               AS s
      FROM wf
    )"""]
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        ctes.append(f"""pairs{r} AS MATERIALIZED (
      SELECT p.a, p.b, CAST(SUM(freq) AS BIGINT) AS n
      FROM (SELECT freq, string_split(trim(s, '|'), '||') AS l
            FROM syms{r - 1}) t,
           LATERAL (SELECT unnest(list_transform(range(1, len(l)),
                      i -> {{'a': l[i], 'b': l[i + 1]}})) AS p) x
      GROUP BY p.a, p.b
    )""")
        ctes.append(f"""top{r} AS MATERIALIZED (
      SELECT a, b, n FROM pairs{r} ORDER BY n DESC, a, b LIMIT 1
    )""")
        ctes.append(f"""syms{r} AS MATERIALIZED (
      SELECT {wcol}freq,
             replace(s, '|' || t.a || '||' || t.b || '|',
                     '|' || t.a || t.b || '|') AS s
      FROM syms{r - 1} CROSS JOIN top{r} t
    )""")
    return ctes


def _o_bpe_merge() -> str:
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, a AS left_sym,"
        f" b AS right_sym, a || b AS merged, n AS pair_count FROM top{r}"
        for r in range(1, BPE_MERGE_ROUNDS + 1)
    )
    return (
        "WITH " + ",\n    ".join(_bpe_ctes())
        + f"\n    SELECT * FROM ({unions}) ORDER BY round"
    )


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """The bounded BPE merge loop's R-row merge table as (round, left,
    right, merged, pair_count) tuples.  A production tokenizer trains
    once and encodes many times, so q_text_bpe_merge (train) and
    q_text_bpe_encode (apply) share one session_memo training run."""
    return session_memo(
        spark, ("bpe", sf_dir), lambda: _bpe_train(spark, sf_dir),
        reads=(table_path(sf_dir, "documents"),),
    )


def _bpe_train(spark: SparkSession, sf_dir: str) -> list:
    d = spread(t(spark, sf_dir, "documents").select("text"), spark)
    wf = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    syms = wf.select(
        "freq",
        F.concat(
            F.lit("||"),
            F.concat_ws(
                "||",
                F.concat(
                    F.filter(F.split("w", ""), lambda x: x != ""),
                    F.array(F.lit("</w>")),
                ),
            ),
            F.lit("||"),
        ).alias("s"),
    ).localCheckpoint(eager=False)
    merges = []
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        lst = F.split(F.expr("trim(BOTH '|' FROM s)"), r"\|\|")
        pairs = (
            syms.select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(lst) - 2),
                        lambda i: F.struct(
                            F.element_at(lst, i + 1).alias("a"),
                            F.element_at(lst, i + 2).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("long").alias("n"))
        )
        top = pairs.orderBy(F.col("n").desc(), "a", "b").limit(1).collect()[0]
        merges.append((r, top["a"], top["b"], top["a"] + top["b"], top["n"]))
        syms = syms.select(
            "freq",
            F.replace(
                F.col("s"),
                F.lit("|" + top["a"] + "||" + top["b"] + "|"),
                F.lit("|" + top["a"] + top["b"] + "|"),
            ).alias("s"),
        ).localCheckpoint(eager=False)
    return merges


@query("q_text_bpe_merge", oracle=_o_bpe_merge())
def q_text_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full iterative BPE tokenizer-training loop ({BPE_MERGE_ROUNDS}
    merge rounds): count adjacent symbol pairs weighted by word
    frequency, merge the top pair (count desc, then lexicographic — a
    total order, so the fixpoint is deterministic) into every word\'s
    symbol sequence, re-count, repeat — the missing piece on top of
    q_text_bpe_pairs, which computes ONE round\'s counts.

    Scale shape is Sennrich\'s reference trainer made distributed: the
    corpus collapses ONCE to the word-frequency relation (pair counting
    then touches |vocab| rows per round, never |corpus| tokens), the
    per-round count is a distributed fan-out + hash aggregate, and only
    the 1-row argmax is driver work per round (the merge bookkeeping
    that is driver work in every real trainer).  localCheckpoint per
    round truncates lineage (the q_graph_pagerank pattern).

    The merge itself stays engine-side AND cross-engine exact via a
    string encoding: each symbol sequence is kept as \'||\'-joined with
    \'|\' affixes, and replace(\'|a||b|\' -> \'|ab|\') — literal,
    left-to-right, non-overlapping, never rescanning the replacement in
    either engine — consumes only the INNER halves of the boundary
    pipes, leaving one pipe on each side for an adjacent match: exactly
    greedy BPE (e.g. b|b|b under (b,b) -> bb|b).  Words are restricted
    to ^[a-z0-9]+$ (standard BPE pre-tokenization), so \'|\' can never
    occur inside a symbol.  The oracle unrolls the identical rounds as
    MATERIALIZED CTEs (the q_graph_kcore lesson)."""
    merges = _bpe_merges(spark, sf_dir)
    schema = (
        "round long, left_sym string, right_sym string,"
        " merged string, pair_count long"
    )
    return spark.createDataFrame(merges, schema).orderBy("round")


def _o_bpe_encode() -> str:
    return (
        "WITH " + ",\n    ".join(_bpe_ctes(carry_w=True))
        + f""",
    wfs AS MATERIALIZED (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM documents,
           LATERAL unnest(string_split_regex(trim(lower(text)), '\\s+'))
             AS u(w)
      WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY source, w
    ),
    seg AS MATERIALIZED (
      SELECT w,
             CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT)
               AS seg_len
      FROM syms{BPE_MERGE_ROUNDS}
    )
    SELECT f.source,
           CAST(SUM(f.freq) AS BIGINT) AS n_words,
           CAST(SUM(f.freq * g.seg_len) AS BIGINT) AS n_bpe_tokens,
           round(CAST(SUM(f.freq * g.seg_len) AS DOUBLE)
                 / SUM(f.freq), 6) AS fertility
    FROM wfs f JOIN seg g ON g.w = f.w
    GROUP BY f.source ORDER BY f.source"""
    )


@query("q_text_bpe_encode", oracle=_o_bpe_encode())
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE half of the BPE pipeline: apply the learned merge
    table (q_text_bpe_merge, shared via the session memo — train once,
    encode many) to segment every corpus word, and report per-source
    token economics: word count, BPE token count, and fertility
    (tokens per word) — the number a tokenizer-budget meeting actually
    asks for, and the per-source comparison that exposes which data
    mixes tokenize expensively.

    Scale shape: the merge table is R driver-side literals; the
    segmentation applies R chained literal replaces to the DISTINCT
    word relation only (|vocab| rows — never corpus tokens), and the
    corpus-side (source, word) frequency relation joins the vocab-sized
    segmentation on the uniform word key.  The oracle replays the
    identical unrolled training chain carrying w, so the whole
    train-then-encode path is value-checked."""
    merges = _bpe_merges(spark, sf_dir)
    d = spread(t(spark, sf_dir, "documents").select("source", "text"), spark)
    wfs = (
        d.select(
            "source",
            F.explode(tokens(F.lower(F.col("text")))).alias("w"),
        )
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    s = F.concat(
        F.lit("||"),
        F.concat_ws(
            "||",
            F.concat(
                F.filter(F.split("w", ""), lambda x: x != ""),
                F.array(F.lit("</w>")),
            ),
        ),
        F.lit("||"),
    )
    for _, a, b, _m, _n in merges:
        s = F.replace(s, F.lit("|" + a + "||" + b + "|"), F.lit("|" + a + b + "|"))
    # the s_enc intermediate: name the chained replaces once, then size
    seg = (
        wfs.select("w")
        .distinct()
        .withColumn("s_enc", s)
        .select(
            "w",
            F.size(
                F.split(F.expr("trim(BOTH '|' FROM s_enc)"), r"\|\|")
            )
            .cast("long")
            .alias("seg_len"),
        )
    )
    return (
        wfs.join(F.broadcast(seg), "w")
        .groupBy("source")
        .agg(
            F.sum("freq").cast("long").alias("n_words"),
            F.sum(F.col("freq") * F.col("seg_len"))
            .cast("long")
            .alias("n_bpe_tokens"),
            F.round(
                F.sum(F.col("freq") * F.col("seg_len")).cast("double")
                / F.sum("freq"),
                6,
            ).alias("fertility"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (degree/frequency scoring of stopword-split runs)
# ---------------------------------------------------------------------------

RAKE_TOP = 20
_RAKE_STOPS = ("the", "a", "of", "and", "is")


@query(
    "q_text_rake",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, w, pos,
             CASE WHEN w IN {_RAKE_STOPS} OR w = '' THEN 1 ELSE 0 END
               AS is_stop
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '[^a-z0-9]+'))
                 AS w,
               unnest(range(len(string_split_regex(trim(lower(text)),
                                                   '[^a-z0-9]+')))) AS pos
        FROM documents
      )
    ),
    marked AS (
      SELECT doc_id, w, pos, is_stop,
             CAST(SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
      FROM pos
    ),
    runs AS (
      SELECT doc_id, w, pos, run_id FROM marked WHERE is_stop = 0
    ),
    phrases AS (
      SELECT doc_id, run_id,
             list(w ORDER BY pos) AS words,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM runs GROUP BY doc_id, run_id
    ),
    word_stats AS (
      SELECT u.w,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(p.plen) AS BIGINT) AS degree
      FROM phrases p, LATERAL unnest(p.words) AS u(w)
      GROUP BY u.w
    ),
    wscore AS (
      SELECT w, CAST(floor(CAST(degree AS DOUBLE) / freq * 1e6 + 0.5)
                     AS BIGINT) AS wq
      FROM word_stats
    ),
    pscored AS (
      SELECT array_to_string(p.words, ' ') AS phrase,
             ANY_VALUE(p.plen) AS n_words,
             CAST(SUM(s.wq) AS BIGINT) AS pq
      FROM phrases p, LATERAL unnest(p.words) AS u(w)
      JOIN wscore s ON s.w = u.w
      GROUP BY p.doc_id, p.run_id, array_to_string(p.words, ' ')
    ),
    agg AS (
      SELECT phrase, ANY_VALUE(n_words) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS occurrences,
             ANY_VALUE(pq) AS pq
      FROM pscored GROUP BY phrase
    )
    SELECT phrase, n_words, occurrences,
           round(CAST(pq AS DOUBLE) / 1e6, 6) AS score, rk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY pq DESC, phrase)
                     AS BIGINT) AS rk
      FROM agg
    ) WHERE rk <= {RAKE_TOP}
    ORDER BY rk
    """,
)
def q_text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al.): candidate phrases are
    maximal runs of content words between stopword/punctuation
    delimiters; each word scores degree/frequency over the phrase
    graph (degree = total length of phrases containing it — rewarding
    words that travel in long phrases), and a phrase scores the sum of
    its words — the zero-training keyword extractor that fills the
    gap between q_text_ngram_freq's raw counts and embedding-based
    keyphrase models.  Corpus-level top-{RAKE_TOP} with occurrence
    counts (identical phrases collapse; the score uses global word
    stats, so it is identical for every occurrence).

    Phrase segmentation is one per-doc window over token positions
    (cumulative stopword count = run id — the gaps-and-islands trick on
    text); word stats are a word-keyed hash aggregate; phrase scores
    re-join words to the broadcast-sized score relation and sum EXACT
    1e6-quantized word scores (degree/freq is one division).  Top
    candidates via TakeOrdered.
    """
    stops = list(_RAKE_STOPS)
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    pos = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.lower(F.col("text"))), r"[^a-z0-9]+")
        ).alias("pos", "w"),
    ).select(
        "doc_id",
        "w",
        "pos",
        F.when(F.col("w").isin(*stops) | (F.col("w") == ""), 1)
        .otherwise(0)
        .alias("is_stop"),
    )
    wrun = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    runs = pos.withColumn(
        "run_id", F.sum("is_stop").over(wrun).cast("long")
    ).filter(F.col("is_stop") == 0)
    phrases = runs.groupBy("doc_id", "run_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "w"))),
            lambda s: s.w,
        ).alias("words"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    word_stats = (
        phrases.select("plen", F.explode("words").alias("w"))
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
    )
    wscore = word_stats.select(
        F.col("w").alias("sw"),
        F.floor(F.col("degree").cast("double") / F.col("freq") * 1e6 + 0.5)
        .cast("long")
        .alias("wq"),
    )
    pscored = (
        phrases.select(
            "doc_id",
            "run_id",
            F.array_join("words", " ").alias("phrase"),
            "plen",
            F.explode("words").alias("w"),
        )
        .join(F.broadcast(wscore), F.col("sw") == F.col("w"))
        .groupBy("doc_id", "run_id", "phrase")
        .agg(
            F.any_value("plen").alias("n_words"),
            F.sum("wq").cast("long").alias("pq"),
        )
    )
    agg = pscored.groupBy("phrase").agg(
        F.any_value("n_words").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("occurrences"),
        F.any_value("pq").alias("pq"),
    )
    w = Window.orderBy(F.col("pq").desc(), "phrase")
    return (
        agg.orderBy(F.col("pq").desc(), "phrase")
        .limit(RAKE_TOP)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .select(
            "phrase",
            "n_words",
            "occurrences",
            F.round(F.col("pq").cast("double") / 1e6, 6).alias("score"),
            "rk",
        )
        .orderBy("rk")
    )


_DISTINCT_TOP = 5


@query(
    "q_text_distinctive_terms",
    oracle=f"""
    WITH words AS (
      SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ),
    ysi AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS y
      FROM words WHERE word != '' GROUP BY source, word
    ),
    yw AS (
      SELECT word, CAST(SUM(y) AS BIGINT) AS y_w FROM ysi GROUP BY word
    ),
    ns AS (
      SELECT source, CAST(SUM(y) AS BIGINT) AS n_s FROM ysi GROUP BY source
    ),
    nn AS (SELECT CAST(SUM(y) AS BIGINT) AS n FROM ysi),
    scored AS (
      SELECT s.source, s.word, s.y,
             ln((s.y + 0.5) / (x.n_s - s.y + 0.5))
               - ln((w.y_w - s.y + 0.5)
                    / (t.n - x.n_s - (w.y_w - s.y) + 0.5)) AS delta,
             1.0 / (s.y + 0.5) + 1.0 / (x.n_s - s.y + 0.5)
               + 1.0 / (w.y_w - s.y + 0.5)
               + 1.0 / (t.n - x.n_s - (w.y_w - s.y) + 0.5) AS var
      FROM ysi s
      JOIN yw w USING (word)
      JOIN ns x USING (source)
      CROSS JOIN nn t
    )
    SELECT source, word, y AS count_in_source,
           round(delta / sqrt(var), 6) AS z, rk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
                     ORDER BY delta / sqrt(var) DESC, word) AS BIGINT)
                  AS rk
      FROM scored
    ) WHERE rk <= {_DISTINCT_TOP}
    ORDER BY source, rk
    """,
)
def q_text_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source: Monroe-style weighted log-odds
    (flat +0.5 prior) of each word in one source vs the rest of the
    corpus, z-scored by the delta's asymptotic variance — the
    "fightin' words" readout that tells a corpus curator WHAT makes a
    source different, where q_text_js_drift only says HOW MUCH.

    Scale shape: explode → (source, word) hash agg; word totals and
    source totals are vocab-/|sources|-sized relations joined back on
    their keys; the corpus total is a 1-row cross join.  All inputs to
    the ln/sqrt closure are exact integer counts (+0.5 IEEE-exact), so
    both engines evaluate identical doubles; the per-source top-{_DISTINCT_TOP}
    window runs over vocab-sized input with a word tiebreak.  Reference:
    delegated HiveQL text-analytics class (backend/hive_manager.py:400)."""
    d = spread(t(spark, sf_dir, "documents").select("source", "text"), spark)
    ysi = (
        d.select(
            "source",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=False)
    )
    yw = ysi.groupBy("word").agg(F.sum("y").cast("long").alias("y_w"))
    ns = ysi.groupBy("source").agg(F.sum("y").cast("long").alias("n_s"))
    nn = ysi.agg(F.sum("y").cast("long").alias("n"))
    rest = F.col("y_w") - F.col("y")
    delta = F.log((F.col("y") + 0.5) / (F.col("n_s") - F.col("y") + 0.5)) - F.log(
        (rest + 0.5) / (F.col("n") - F.col("n_s") - rest + 0.5)
    )
    var = (
        1.0 / (F.col("y") + 0.5)
        + 1.0 / (F.col("n_s") - F.col("y") + 0.5)
        + 1.0 / (rest + 0.5)
        + 1.0 / (F.col("n") - F.col("n_s") - rest + 0.5)
    )
    scored = (
        ysi.join(yw, "word")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nn))
        .select("source", "word", "y", (delta / F.sqrt(var)).alias("zval"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("zval").desc(), F.col("word")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _DISTINCT_TOP)
        .select(
            "source",
            "word",
            F.col("y").alias("count_in_source"),
            F.round("zval", 6).alias("z"),
            "rk",
        )
        .orderBy("source", "rk")
    )


HEAPS_STEPS = 10


@query(
    "q_text_heaps_law",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)),
                    '\\s+'), x -> x != '')) AS w
      FROM documents
    ),
    wstat AS (
      SELECT w, CAST(MIN(doc_id) AS BIGINT) AS mind,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM words GROUP BY w
    ),
    dstat AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tc
      FROM words GROUP BY doc_id
    ),
    docseq AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS nd
      FROM dstat
    ),
    thr AS (
      SELECT k, CAST(MAX(doc_id) AS BIGINT) AS t_k FROM (
        SELECT d.doc_id, g.k, d.rn, d.nd
        FROM docseq d CROSS JOIN (
          SELECT unnest(range(1, {HEAPS_STEPS} + 1)) AS k) g
        WHERE d.rn * {HEAPS_STEPS} <= d.nd * g.k
      ) GROUP BY k
    ),
    pts AS (
      SELECT t.k,
             (SELECT CAST(SUM(tc) AS BIGINT) FROM dstat
              WHERE doc_id <= t.t_k) AS toks,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM wstat
              WHERE mind <= t.t_k) AS vocab
      FROM thr t
    ),
    lg AS (
      SELECT k,
             CAST(floor(ln(CAST(toks AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               AS x9,
             CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               AS y9,
             toks, vocab
      FROM pts
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x9) AS BIGINT) AS sx,
             CAST(SUM(y9) AS BIGINT) AS sy,
             CAST(SUM(CAST(x9 AS HUGEINT) * x9) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(x9 AS HUGEINT) * y9) AS HUGEINT) AS sxy,
             MAX(CASE WHEN k = {HEAPS_STEPS} THEN toks END) AS n_tokens,
             MAX(CASE WHEN k = {HEAPS_STEPS} THEN vocab END) AS n_vocab
      FROM lg
    )
    SELECT n_tokens, n_vocab,
           round((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / (m * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * sx), 6) AS heaps_beta,
           round(exp(CAST(sy AS DOUBLE) / 1e9 / m
                 - ((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                    / (m * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * sx))
                   * (CAST(sx AS DOUBLE) / 1e9 / m)), 4) AS heaps_k
    FROM fit
    """,
)
def q_text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(n) = K·n^β over the corpus:
    cumulative vocabulary vs cumulative tokens at {HEAPS_STEPS} document
    deciles, log-log OLS for (K, β) — the curve that predicts tokenizer
    vocab coverage and dedup payoff at 10×/100× the corpus (β≈0.5 is
    natural text; β near 1 screams templated duplication).

    No running-distinct scan: a word's first appearance is just
    MIN(doc_id) — one token pass yields (word → first-doc, freq) and
    (doc → token count); cumulative vocabulary at a threshold is then a
    COUNT over first-appearances and cumulative tokens a SUM over the
    bounded doc relation.  Decile thresholds are exact rn·10 ≤ nd·k
    crossings, with rn from a two-level PARTITIONED rank (256 range
    buckets + prefix-sum over the bucket-count carrier — no global
    window over the document relation); the {HEAPS_STEPS}-point OLS
    runs on 1e9-pinned ln values with HUGEINT cross moments
    (order-free), finishing fixed-order."""
    words = (
        spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
        .select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("w"),
        )
    )
    wstat = words.groupBy("w").agg(
        F.min("doc_id").cast("long").alias("mind"),
        F.count(F.lit(1)).cast("long").alias("freq"),
    )
    dstat = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tc")
    )
    # Two-level partitioned rank (r8 ADVICE): no global-sort window over
    # the per-document relation.  doc_ids are range-bucketed into ≤256
    # ordered buckets; the prefix-sum window runs over the ≤256-row
    # bucket-count relation (bounded carrier, house pattern) and the
    # within-bucket row_number is PARTITIONED by bucket — exact same rn.
    n_bkt = 256
    bounds = dstat.agg(
        F.min("doc_id").cast("long").alias("dmin"),
        F.max("doc_id").cast("long").alias("dmax"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    bucketed = dstat.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "nd",
        F.least(
            F.lit(n_bkt - 1),
            F.floor(
                (F.col("doc_id") - F.col("dmin")).cast("double")
                * n_bkt
                / (F.col("dmax") - F.col("dmin") + 1).cast("double")
            ),
        )
        .cast("long")
        .alias("bkt"),
    )
    bcnt = bucketed.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("long").alias("bc")
    )
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    boff = bcnt.select(
        "bkt",
        F.coalesce(F.sum("bc").over(wb), F.lit(0)).cast("long").alias("off"),
    )
    win_bkt = Window.partitionBy("bkt").orderBy("doc_id")
    docseq = (
        bucketed.join(F.broadcast(boff), "bkt")
        .select(
            "doc_id",
            (F.col("off") + F.row_number().over(win_bkt))
            .cast("long")
            .alias("rn"),
            "nd",
        )
    )
    ks = spark.range(1, HEAPS_STEPS + 1).select(F.col("id").alias("k"))
    thr = (
        docseq.crossJoin(F.broadcast(ks))
        .filter(F.col("rn") * HEAPS_STEPS <= F.col("nd") * F.col("k"))
        .groupBy("k")
        .agg(F.max("doc_id").cast("long").alias("t_k"))
    )
    toks = (
        thr.join(dstat, dstat["doc_id"] <= thr["t_k"])
        .groupBy("k", "t_k")
        .agg(F.sum("tc").cast("long").alias("toks"))
    )
    pts = (
        toks.join(wstat, wstat["mind"] <= toks["t_k"])
        .groupBy("k", "toks")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    )
    lg = pts.select(
        "k",
        F.floor(F.log(F.col("toks").cast("double")) * 1e9 + 0.5)
        .cast("long")
        .alias("x9"),
        F.floor(F.log(F.col("vocab").cast("double")) * 1e9 + 0.5)
        .cast("long")
        .alias("y9"),
        "toks",
        "vocab",
    )
    fit = lg.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x9").cast("long").alias("sx"),
        F.sum("y9").cast("long").alias("sy"),
        F.sum(F.col("x9").cast("decimal(38,0)") * F.col("x9")).alias("sxx"),
        F.sum(F.col("x9").cast("decimal(38,0)") * F.col("y9")).alias("sxy"),
        F.max(F.when(F.col("k") == HEAPS_STEPS, F.col("toks"))).alias(
            "n_tokens"
        ),
        F.max(F.when(F.col("k") == HEAPS_STEPS, F.col("vocab"))).alias(
            "n_vocab"
        ),
    )
    beta = (
        F.col("m") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("m") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    return fit.select(
        "n_tokens",
        "n_vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(
            F.exp(
                F.col("sy").cast("double") / 1e9 / F.col("m")
                - beta * (F.col("sx").cast("double") / 1e9 / F.col("m"))
            ),
            4,
        ).alias("heaps_k"),
    )


BURST_TOP = 20


@query(
    "q_text_term_burstiness",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM documents,
           LATERAL unnest(list_filter(string_split_regex(
                    trim(lower(text)), '\\s+'), x -> x != '')) AS u(w)
      GROUP BY doc_id, w
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    stats AS (
      SELECT w, CAST(SUM(tf) AS BIGINT) AS cf,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(MAX(tf) AS BIGINT) AS max_tf
      FROM tf GROUP BY w
    )
    SELECT w AS term, cf, df,
           round(CAST(cf AS DOUBLE) / df, 6) AS burstiness,
           round(ln(CAST((SELECT n FROM nd) AS DOUBLE) / df), 6) AS idf,
           max_tf, rk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, w) AS BIGINT)
               AS rk
      FROM stats
    ) WHERE rk <= {BURST_TOP}
    ORDER BY rk
    """,
)
def q_text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness for the top-{BURST_TOP} terms: cf/df
    (mean occurrences per CONTAINING document) next to idf and the
    per-doc max — separates topical terms (bursty: rare docs, many
    hits each) from function words (cf/df ≈ 1 everywhere), the signal
    BM25-style rankers implicitly ride and templated corpora distort.

    One tokenize pass → (doc, term) tf hash aggregate → vocab-sized
    term rollup (cf, df, max tf exact integers); the only window is the
    bounded top-{BURST_TOP} cut with a lexicographic tiebreak; idf's
    single ln runs on the k-row output."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    tf = (
        d.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    nd = tf.agg(F.countDistinct("doc_id").cast("long").alias("n"))
    stats = tf.groupBy("w").agg(
        F.sum("tf").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.max("tf").cast("long").alias("max_tf"),
    )
    w = Window.orderBy(F.col("cf").desc(), "w")
    return (
        stats.orderBy(F.col("cf").desc(), "w")
        .limit(BURST_TOP)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("w").alias("term"),
            "cf",
            "df",
            F.round(F.col("cf").cast("double") / F.col("df"), 6).alias(
                "burstiness"
            ),
            F.round(
                F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("idf"),
            "max_tf",
            "rk",
        )
        .orderBy("rk")
    )


DELTA_TERMS = 30
DELTA_TOP_PAIRS = 10


@query(
    "q_text_burrows_delta",
    oracle=f"""
    WITH words AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(lower(text)),
                    '\\s+'), x -> x != '')) AS w
      FROM documents
    ),
    stf AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM words GROUP BY source, w
    ),
    stot AS (
      SELECT source, CAST(SUM(tf) AS BIGINT) AS toks FROM stf
      GROUP BY source
    ),
    top_terms AS (
      SELECT w FROM (
        SELECT w, ROW_NUMBER() OVER (ORDER BY SUM(tf) DESC, w) AS rk
        FROM stf GROUP BY w
      ) WHERE rk <= {DELTA_TERMS}
    ),
    rel AS (
      SELECT s.source, tt.w,
             CAST(floor(CAST(COALESCE(f.tf, 0) AS DOUBLE) / s.toks * 1e9
                        + 0.5) AS BIGINT) AS f9
      FROM stot s CROSS JOIN top_terms tt
      LEFT JOIN stf f ON f.source = s.source AND f.w = tt.w
    ),
    mo AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(f9) AS BIGINT) AS s1,
             CAST(SUM(CAST(f9 AS HUGEINT) * f9) AS HUGEINT) AS s2
      FROM rel GROUP BY w
    ),
    z AS (
      SELECT r.source, r.w,
             (CAST(r.f9 AS DOUBLE) - CAST(m.s1 AS DOUBLE) / m.k)
               / sqrt((CAST(m.s2 AS DOUBLE)
                       - CAST(m.s1 AS DOUBLE) / m.k * m.s1)
                      / (m.k - 1)) AS zv
      FROM rel r JOIN mo m ON m.w = r.w
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(SUM(CAST(floor(abs(a.zv - b.zv) * 1e6 + 0.5)
                           AS BIGINT)) AS BIGINT) AS d6
      FROM z a JOIN z b ON b.w = a.w AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b,
           round(CAST(d6 AS DOUBLE) / 1e6 / {DELTA_TERMS}, 6) AS delta,
           rk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY d6, source_a, source_b)
                     AS BIGINT) AS rk
      FROM pairs
    ) WHERE rk <= {DELTA_TOP_PAIRS}
    ORDER BY rk
    """,
)
def q_text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometry: z-score each source's relative
    frequency of the {DELTA_TERMS} most common terms against the
    cross-source distribution, then rank source pairs by mean |Δz| —
    the classic authorship/provenance distance, here answering 'which
    feeds are stylistically the same upstream?' (a softer signal than
    q_dedup_source_matrix's literal copying).

    Bounded everywhere: the term panel is a top-{DELTA_TERMS} cut of the
    vocab rollup, the z matrix is |sources|×{DELTA_TERMS}, and the pair
    join is over that tiny relation.  Relative frequencies are pinned
    to a 1e9 grid BEFORE the cross-source moments (exact integer s1/s2,
    HUGEINT squares), z is fixed-order IEEE, and each pair's mean |Δz|
    sums 1e6-pinned terms — order-free at every reduction."""
    words = (
        spread(t(spark, sf_dir, "documents").select("source", "text"), spark)
        .select(
            "source",
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("w"),
        )
    )
    stf = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    stot = stf.groupBy("source").agg(F.sum("tf").cast("long").alias("toks"))
    wtop = Window.orderBy(F.col("cf").desc(), "w")
    top_terms = (
        stf.groupBy("w")
        .agg(F.sum("tf").alias("cf"))
        .orderBy(F.col("cf").desc(), "w")
        .limit(DELTA_TERMS)
        .withColumn("rk", F.row_number().over(wtop))
        .select("w")
    )
    rel = (
        stot.crossJoin(F.broadcast(top_terms))
        .join(stf, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.floor(
                F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                / F.col("toks")
                * 1e9
                + 0.5
            )
            .cast("long")
            .alias("f9"),
        )
    )
    mo = rel.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("f9").cast("long").alias("s1"),
        F.sum(F.col("f9").cast("decimal(38,0)") * F.col("f9")).alias("s2"),
    )
    z = rel.join(F.broadcast(mo), "w").select(
        "source",
        "w",
        (
            (F.col("f9").cast("double") - F.col("s1").cast("double") / F.col("k"))
            / F.sqrt(
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double") / F.col("k") * F.col("s1")
                )
                / (F.col("k") - 1)
            )
        ).alias("zv"),
    )
    a = z.select(
        F.col("source").alias("source_a"), "w", F.col("zv").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"),
        F.col("w").alias("wb"),
        F.col("zv").alias("zb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("wb") == F.col("w"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.floor(F.abs(F.col("za") - F.col("zb")) * 1e6 + 0.5).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("d6")
        )
    )
    wr = Window.orderBy("d6", "source_a", "source_b")
    return (
        pairs.orderBy("d6", "source_a", "source_b")
        .limit(DELTA_TOP_PAIRS)
        .withColumn("rk", F.row_number().over(wr).cast("long"))
        .select(
            "source_a",
            "source_b",
            F.round(F.col("d6").cast("double") / 1e6 / DELTA_TERMS, 6).alias(
                "delta"
            ),
            "rk",
        )
        .orderBy("rk")
    )


@query(
    "q_text_yules_k",
    oracle="""
    WITH words AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(lower(text)),
                    '\\s+'), x -> x != '')) AS w
      FROM documents
    ),
    tf AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS m
      FROM words GROUP BY 1, 2
    ),
    fof AS (
      SELECT source, m, CAST(COUNT(*) AS BIGINT) AS v
      FROM tf GROUP BY 1, 2
    ),
    agg AS (
      SELECT source,
             CAST(SUM(m * v) AS BIGINT) AS n_tokens,
             CAST(SUM(v) AS BIGINT) AS n_types,
             CAST(SUM(CAST(m AS HUGEINT) * m * v) AS HUGEINT) AS s2
      FROM fof GROUP BY 1
    )
    SELECT source, n_tokens, n_types,
           round(1e4 * (CAST(s2 AS DOUBLE) - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) AS yules_k
    FROM agg ORDER BY source
    """,
)
def q_text_yules_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per source — the classic lexical-
    repetitiveness constant K = 10⁴·(Σm²V(m) − N)/N² over the
    frequency-of-frequencies spectrum V(m): unlike type/token ratio it
    is (asymptotically) length-invariant, so sources of different sizes
    are comparable — the stylometric complement to q_text_burrows_delta
    and the repetitiveness screen next to q_text_simpson.

    Two hash aggregations, each strictly smaller than the last: tokens
    → (source, word, m) → (source, m, V(m)) — the second relation is
    bounded by the distinct-frequency count (≲ √tokens), not the vocab.
    Σm²V ≤ N² ≈ 1e18 at a 1e9-token source — rides HUGEINT/DECIMAL(38)
    (BIGINT would overflow exactly at that corpus size); N and V exact
    BIGINTs; K is one fixed-order double expression."""
    words = (
        spread(t(spark, sf_dir, "documents").select("source", "text"), spark)
        .select(
            "source",
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("w"),
        )
    )
    tf = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    fof = tf.groupBy("source", "m").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    agg = fof.groupBy("source").agg(
        F.sum(F.col("m") * F.col("v")).cast("long").alias("n_tokens"),
        F.sum("v").cast("long").alias("n_types"),
        F.sum(
            F.col("m").cast("decimal(38,0)") * F.col("m") * F.col("v")
        ).alias("s2"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(
            1e4
            * (F.col("s2").cast("double") - F.col("n_tokens"))
            / (F.col("n_tokens").cast("double") * F.col("n_tokens")),
            6,
        ).alias("yules_k"),
    ).orderBy("source")


FOOTRULE_K = 20  # top-K term list compared per source pair


@query(
    "q_text_rank_footrule",
    oracle=f"""
    WITH words AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(lower(text)),
                    '\\s+'), x -> x != '')) AS w
      FROM documents
    ),
    tf AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM words GROUP BY 1, 2
    ),
    topk AS (
      SELECT source, w, CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY c DESC, w) AS rk
        FROM tf
      ) WHERE rk <= {FOOTRULE_K}
    ),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared,
             CAST(SUM(abs(a.rk - b.rk)) AS BIGINT) AS s_absdiff,
             CAST(SUM(2 * ({FOOTRULE_K} + 1) - a.rk - b.rk) AS BIGINT)
               AS s_missing_credit
      FROM topk a JOIN topk b
        ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           CAST({FOOTRULE_K * (FOOTRULE_K + 1)} - s_missing_credit
                + s_absdiff AS BIGINT) AS footrule,
           round(1.0 - CAST({FOOTRULE_K * (FOOTRULE_K + 1)}
                            - s_missing_credit + s_absdiff AS DOUBLE)
                 / {FOOTRULE_K * (FOOTRULE_K + 1)}, 6) AS rank_similarity
    FROM shared ORDER BY source_a, source_b
    """,
)
def q_text_rank_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-similarity join between sources (EDBT 2020 'Distributed
    Similarity Joins over Top-K Rankings' shape, PAPERS.md): Fagin's
    footrule distance F* between every pair of sources' top-{FOOTRULE_K}
    term rankings, with missing items placed at rank K+1 — the
    vocabulary-ORDER drift detector that complements q_text_js_drift's
    mass comparison (two sources can share all terms but rank them
    oppositely) and q_text_distinctive_terms' per-term z.

    The pairwise distance needs ONLY the shared-term inner join:
    F = K(K+1) − Σ_sh(2(K+1) − ra − rb) + Σ_sh|ra − rb| (the two
    disjoint-tail sums telescope against the constant ΣK ranks) — so
    the |sources|²-pair relation is fed by a join on the term key over
    K-row-per-source lists, never a full-vocabulary pass per pair.
    Pairs with NO shared term drop out of the join and correctly have
    F = K(K+1) (similarity 0) — they are omitted from the output (the
    similarity-JOIN contract: report pairs above zero overlap).  All
    ranks and sums exact integers; one division at the end."""
    words = (
        spread(t(spark, sf_dir, "documents").select("source", "text"), spark)
        .select(
            "source",
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("w"),
        )
    )
    tf = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wr = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("w"))
    topk = (
        tf.withColumn("rk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rk") <= FOOTRULE_K)
        .select("source", "w", "rk")
        .localCheckpoint(eager=False)  # both sides of the pair join
    )
    b = topk.select(
        F.col("source").alias("source_b"),
        F.col("w").alias("wb"),
        F.col("rk").alias("rkb"),
    )
    kk1 = FOOTRULE_K * (FOOTRULE_K + 1)
    shared = (
        topk.join(
            b,
            (F.col("w") == F.col("wb"))
            & (F.col("source") < F.col("source_b")),
        )
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum(F.abs(F.col("rk") - F.col("rkb")))
            .cast("long")
            .alias("s_absdiff"),
            F.sum(
                2 * (FOOTRULE_K + 1) - F.col("rk") - F.col("rkb")
            )
            .cast("long")
            .alias("s_missing_credit"),
        )
    )
    footrule = (
        F.lit(kk1) - F.col("s_missing_credit") + F.col("s_absdiff")
    ).cast("long")
    return shared.select(
        "source_a",
        "source_b",
        "n_shared",
        footrule.alias("footrule"),
        F.round(1.0 - footrule.cast("double") / kk1, 6).alias(
            "rank_similarity"
        ),
    ).orderBy("source_a", "source_b")
