"""Seeded input generators for the benchmark.

Everything the program reads is made here from `--seed`, inside the
benchmark's scratch directory, so a run depends on nothing outside its
checkout:

* `write_fixtures` writes the ten star-schema tables (one parquet file and
  one row group per table, the layout `tables.t` expects) at a chosen
  scale factor.  Column names, types and value domains follow the
  repository's fixture description; sizes scale linearly with `sf`.
* `write_csv_files` writes the ingest workload's delimited files and
  returns the ground truth the ingest check compares against: row count,
  per-column type, planted violation counts and the aggregate values.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a the data spark table query scan join agg group order line part key "
    "value row column filter window sort merge hash batch stream vector "
    "customer fast slow big small"
).split()

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _write(path: str, columns: dict[str, pa.Array]) -> None:
    table = pa.table(columns)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    us = EPOCH_1995 + rng.integers(0, span_days, n) * np.timedelta64(DAY_US, "us")
    return pa.array(us, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents; about 5% are one-word edits of an earlier
    document and about 0.2% exact copies, so the dedup ops find pairs."""
    docs: list[str] = []
    vocab = np.array(WORDS)
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.002:
            docs.append(docs[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.05:
            words = docs[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            docs.append(" ".join(words))
        else:
            docs.append(" ".join(rng.choice(vocab, int(rng.integers(8, 90)))))
    return docs


def write_fixtures(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten fixture tables for scale factor `sf`; returns the row
    count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(200, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(50, int(20_000 * sf))

    def p(name: str) -> str:
        return os.path.join(out_dir, f"{name}.parquet")

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    keys = np.arange(n_part, dtype=np.int64)
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
    ]
    _write(p("part"), {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
    })
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, n_ord, 2404),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    _write(p("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _days(rng, n_line, 2499),
    })
    gaps = rng.exponential(30 * DAY_US / n_evt, n_evt).astype(np.int64)
    _write(p("events"), {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(20, int(15_000 * sf)), n_evt)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt)),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)]),
    })
    docs = _documents(rng, n_doc)
    _write(p("documents"), {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(docs),
        "lang": pa.array(rng.choice(LANGS, n_doc)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(d) for d in docs], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_evt,
        "documents": n_doc, "embeddings": n_emb,
    }


# ---------------------------------------------------------------------------
# ingest workload: delimited files with known ground truth
# ---------------------------------------------------------------------------

DELIMITERS = [",", ";", "\t", "|"]


@dataclass
class CsvTruth:
    """What a correct ingest of one generated file must report."""

    path: str
    table: str
    delimiter: str
    rows: int
    # column -> Spark simpleString type the inference must produce
    types: dict[str, str]
    # column -> number of non-empty cells that do not parse as its type
    violations: dict[str, int]
    # group key -> (row count, sum of `amount` in cents) over the file
    groups: dict[str, tuple[int, int]]


def _csv_text(header: list[str], cols: list[list[str]], delim: str) -> str:
    lines = [delim.join(header)]
    lines.extend(delim.join(row) for row in zip(*cols))
    return "\n".join(lines) + "\n"


def write_csv(path: str, rows: int, delim: str, seed: int, *,
              null_rate: float, violations: int, extra_col: bool) -> CsvTruth:
    """One delimited file: id, category, amount, qty, flag, created (+ an
    optional `note` column for the changed-schema re-upload).  `amount`
    is empty at `null_rate`; `violations` non-numeric tokens are planted
    in `qty` after the inference sample (the first 1000 rows) so the
    column still infers as int and the validator must count them."""
    rng = np.random.default_rng(seed)
    ids = np.arange(rows, dtype=np.int64)
    cats = rng.choice(["alpha", "beta", "gamma", "delta", "omega"], rows)
    cents = rng.integers(100, 1_000_000, rows)
    is_null = rng.random(rows) < null_rate
    qty = rng.integers(0, 1000, rows)
    flags = rng.random(rows) < 0.5
    days = rng.integers(0, 3650, rows)
    dates = (np.datetime64("2015-01-01") + days.astype("timedelta64[D]")).astype(str)

    amount = [
        "" if n else f"{c // 100}.{c % 100:02d}" for c, n in zip(cents.tolist(), is_null.tolist())
    ]
    qty_s = [str(q) for q in qty.tolist()]
    bad_rows = []
    if violations and rows > 1001:
        bad_rows = rng.choice(np.arange(1000, rows), violations, replace=False).tolist()
        for r in bad_rows:
            qty_s[r] = "n/a"
    header = ["id", "category", "amount", "qty", "flag", "created"]
    cols = [
        [str(i) for i in ids.tolist()], cats.tolist(), amount, qty_s,
        ["true" if f else "false" for f in flags.tolist()], dates.tolist(),
    ]
    types = {
        "id": "int", "category": "string", "amount": "double", "qty": "int",
        "flag": "boolean", "created": "date",
    }
    if extra_col:
        header.append("note")
        cols.append([f"n{int(x)}" for x in rng.integers(0, 50, rows)])
        types["note"] = "string"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write(_csv_text(header, cols, delim))

    groups: dict[str, tuple[int, int]] = {}
    for cat in sorted(set(cats.tolist())):
        m = (cats == cat) & ~is_null
        groups[cat] = (int((cats == cat).sum()), int(cents[m].sum()))
    table = os.path.splitext(os.path.basename(path))[0]
    return CsvTruth(
        path=path, table=table, delimiter=delim, rows=rows, types=types,
        violations={c: (len(bad_rows) if c == "qty" else 0) for c in types},
        groups=groups,
    )


# (rows, delimiter, null rate of `amount`, planted violations in `qty`) of
# each upload.  Fixed, so every seed does the same work; the seed picks
# the values.
UPLOADS = (
    (20_000, ",", 0.0, 0),
    (50_000, ";", 0.05, 3),
    (100_000, "\t", 0.2, 17),
    (200_000, "|", 0.05, 0),
)


def write_csv_files(out_dir: str, seed: int, uploads=UPLOADS) -> list[CsvTruth]:
    """One file per entry of `uploads`, each seeded from `seed` and its
    index."""
    rng = np.random.default_rng(seed)
    return [
        write_csv(os.path.join(out_dir, f"upload_{i}.csv"), rows, delim,
                  int(rng.integers(0, 2**31)), null_rate=null_rate,
                  violations=violations, extra_col=False)
        for i, (rows, delim, null_rate, violations) in enumerate(uploads)
    ]
