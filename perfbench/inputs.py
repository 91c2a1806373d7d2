"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed writes
the same bytes, so two commits measured on one seed see identical inputs.
Nothing here imports the engine; the engine only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Index names cover the reference's prefix dispatch (R:25-26): one holds
# "metrics", one "factors", and one neither (strategic indicators).
INDEXES = ["qr_metrics", "qr_factors", "qr_strategic_indicators"]

# Element names with the punctuation the reference's key scrub removes
# (R:43).  A zero-padded serial keeps every scrubbed key unique, so two
# series never share one cache entry.
_NAME_STEMS = ["test.coverage", "bugs density", "blocking-files",
               "commits/day", "fasttests (%)", "build#stability",
               "non_bug_density", "code@quality", "ticket:lead-time",
               "duplication"]


def qr_metrics(seed: int, n_series: int, min_len: int = 40,
               max_len: int = 160) -> pd.DataFrame:
    """Long-format ``qr_metrics`` rows (name, index, evaluationDate, value).

    Each series is trend + weekly seasonality + noise at daily spacing.
    Lengths and shape parameters are evenly spread over their ranges and
    shuffled by the seed: every seed has the same mix of short and long,
    flat and noisy series, paired and drawn differently, so the fitting
    work of a corpus varies little from seed to seed.  Series 0 has
    calendar gaps: the reference does not gap-fill, so its positional
    index skips dates.
    """
    rng = np.random.default_rng([seed, 1])
    spread = lambda lo, hi: rng.permutation(np.linspace(lo, hi, n_series))  # noqa: E731
    lengths = spread(min_len, max_len).round().astype(int)
    levels, slopes = spread(20, 80), spread(-0.1, 0.2)
    amplitudes, noise = spread(1, 6), spread(0.3, 1.5)
    frames = []
    for i in range(n_series):
        n = lengths[i]
        start = dt.date(2023, 1, 1) + dt.timedelta(days=int(rng.integers(0, 90)))
        dates = pd.date_range(start, periods=n, freq="D")
        t = np.arange(n)
        y = (levels[i] + slopes[i] * t
             + amplitudes[i] * np.sin(2 * np.pi * t / 7 + rng.uniform(0, 6.3))
             + rng.normal(0, noise[i], n))
        if i == 0:
            keep = rng.random(n) > 0.15
            dates, y = dates[keep], y[keep]
        frames.append(pd.DataFrame({
            "name": f"{_NAME_STEMS[i % len(_NAME_STEMS)]}-{i:04d}",
            "index": INDEXES[i % len(INDEXES)],
            "evaluationDate": dates.date,
            "value": np.round(y, 4),
        }))
    return pd.concat(frames, ignore_index=True)


def write_metrics(pdf: pd.DataFrame, path: str) -> None:
    schema = pa.schema([("name", pa.string()), ("index", pa.string()),
                        ("evaluationDate", pa.date32()), ("value", pa.float64())])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                   path)


# --- the relational / text / vector tables the operator queries read ------

_PART_WORDS = (["blue", "hot", "small", "old", "red", "new", "cold", "large"],
               ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"])
_DOC_VOCAB = ("spark window merge table column vector stream value data small "
              "join filter big group hash customer sort order slow line part "
              "fast row the agg key query a scan batch").split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
_P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    return (np.datetime64(lo) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one marker word
            # inserted, so the dedup and similarity operators find pairs
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = list(rng.choice(_DOC_VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0, 0.5, (10, dim))
    x = rng.normal(0, 1, (n, dim)) + centres[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def query_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables of the engine's query registry, shaped like the
    TPC-H-ish star schema plus events, documents and embeddings, with
    row counts proportional to ``sf`` (lineitem ~ 6M x sf)."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), s)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(_PART_WORDS[0], n_part),
                                                      rng.choice(_PART_WORDS[1], n_part))], s),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(_P_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 2), f64)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord), ts),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), s)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li), ts)})
    month_us = 30 * 86_400 * 1_000_000
    ev_us = np.sort(rng.choice(month_us, n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), n_ev), i64),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(np.minimum(rng.exponential(40, n_ev), 490) + 0.01, 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def write_query_tables(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in query_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
