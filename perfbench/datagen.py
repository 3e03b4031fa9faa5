"""Seeded inputs for the benchmark.

``write_sf01`` writes the ten engine tables (``io.TABLES``) at the
sf0.1 shape: the same schemas, physical types and row counts as the
evaluation fixture, with every random column drawn from
``numpy.random.default_rng(seed)``. The engine reads nothing else. The
value distributions are simpler than the fixture's, but every
benchmark query runs the same jobs on them (``README.md``).

``write_ingest_corpus`` turns the generated ``documents`` table into
the ingest workload's corpus: doc_id-offset replicas, a seeded share of
null or whitespace-only ``text`` rows (the dead-letter path), written
as a fixed number of parquet files in doc_id order.

Both writers are pure functions of their arguments: the same seed
gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_NEAR_DUP_SHARE = 0.05
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PART_ADJ = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
_PART_NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_EMB_DIM = 64

# Invalid corpus texts: null, empty and space-only, so both halves of
# the validation predicate (isNotNull, trimmed length) fire. Tab- or
# newline-only text is left out: Spark's trim strips spaces only, so
# the predicate keeps it as content, as the reference's truthiness
# test does.
_INVALID_TEXTS = (None, "", " ", "   ")


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def _dates(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n: int) -> pd.DataFrame:
    """Random-vocabulary documents; a share are near-duplicates (an
    earlier document's text plus one token), as in the fixture."""
    words = np.array(_WORDS)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    dup = rng.random(n) < _NEAR_DUP_SHARE
    for i in np.flatnonzero(dup):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_sf01(out_dir: str, seed: int) -> str:
    """Write the ten sf0.1-shaped tables under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SF01_ROWS
    path = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    _write(
        pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        path("region"),
    )
    nk = np.arange(25, dtype=np.int32)
    _write(
        pd.DataFrame(
            {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5}
        ),
        path("nation"),
    )
    ck = np.arange(n["customer"], dtype=np.int64)
    _write(
        pd.DataFrame(
            {
                "c_custkey": ck,
                "c_name": [f"Customer#{i:09d}" for i in ck],
                "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
                "c_acctbal": _money(rng, len(ck), -999.99, 9999.99),
                "c_mktsegment": rng.choice(_SEGMENTS, len(ck)),
            }
        ),
        path("customer"),
    )
    sk = np.arange(n["supplier"], dtype=np.int64)
    _write(
        pd.DataFrame(
            {
                "s_suppkey": sk,
                "s_name": [f"Supplier#{i:09d}" for i in sk],
                "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
                "s_acctbal": _money(rng, len(sk), -999.99, 9999.99),
            }
        ),
        path("supplier"),
    )
    pk = np.arange(n["part"], dtype=np.int64)
    _write(
        pd.DataFrame(
            {
                "p_partkey": pk,
                "p_name": np.char.add(
                    np.char.add(rng.choice(_PART_ADJ, len(pk)), " "),
                    rng.choice(_PART_NOUN, len(pk)),
                ),
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
                "p_type": rng.choice(_PART_TYPES, len(pk)),
                "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
                "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
            }
        ),
        path("part"),
    )
    ok = np.arange(n["orders"], dtype=np.int64)
    _write(
        pd.DataFrame(
            {
                "o_orderkey": ok,
                "o_custkey": rng.integers(0, n["customer"], len(ok)),
                "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), len(ok)),
                "o_totalprice": _money(rng, len(ok), 1000.0, 500000.0),
                "o_orderdate": _dates(rng, len(ok), "1995-01-01", "2001-08-01"),
                "o_orderpriority": rng.choice(_PRIORITIES, len(ok)),
            }
        ),
        path("orders"),
    )
    m = n["lineitem"]
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n["orders"], m),
                "l_partkey": rng.integers(0, n["part"], m),
                "l_suppkey": rng.integers(0, n["supplier"], m),
                "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
                "l_quantity": rng.integers(1, 51, m).astype(np.float64),
                "l_extendedprice": _money(rng, m, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, m) / 100.0,
                "l_tax": rng.integers(0, 9, m) / 100.0,
                "l_returnflag": rng.choice(np.array(["A", "N", "R"]), m),
                "l_linestatus": rng.choice(np.array(["F", "O"]), m),
                "l_shipdate": _dates(rng, m, "1995-01-02", "2001-11-04"),
            }
        ),
        path("lineitem"),
    )
    e = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(span_us / e, e).astype(np.int64)
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(e, dtype=np.int64),
                "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps),
                "user_id": rng.integers(0, 1500, e),
                "event_type": rng.choice(_EVENT_TYPES, e),
                "value": np.round(rng.exponential(50.0, e), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
            }
        ),
        path("events"),
    )
    _write(documents(rng, n["documents"]), path("documents"))
    v = n["embeddings"]
    vecs = rng.standard_normal((v, _EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pd.DataFrame(
            {
                "vec_id": np.arange(v, dtype=np.int64),
                "embedding": list(vecs),
                "label": rng.integers(0, 10, v).astype(np.int32),
            }
        ),
        path("embeddings"),
    )
    return out_dir


def ingest_corpus(seed: int, replicas: int, invalid_share: float) -> pd.DataFrame:
    """The ingest corpus as one frame: ``replicas`` doc_id-offset
    copies of the generated ``documents`` table, with a seeded
    ``invalid_share`` of rows given null or whitespace-only text."""
    rng = np.random.default_rng(seed)
    base = documents(rng, SF01_ROWS["documents"])
    n_base = len(base)
    parts = []
    for k in range(replicas):
        rep = base.copy()
        rep["doc_id"] = rep["doc_id"] + k * n_base
        parts.append(rep)
    corpus = pd.concat(parts, ignore_index=True)
    n = len(corpus)
    bad = rng.choice(n, int(round(n * invalid_share)), replace=False)
    texts = corpus["text"].to_numpy(dtype=object)
    texts[bad] = [_INVALID_TEXTS[i % len(_INVALID_TEXTS)] for i in range(len(bad))]
    corpus["text"] = texts
    corpus["n_chars"] = np.array([len(t) if t is not None else 0 for t in texts], dtype=np.int64)
    return corpus


def write_ingest_corpus(out_dir: str, corpus: pd.DataFrame, n_files: int) -> list[str]:
    """Write ``corpus`` as ``n_files`` parquet files in doc_id order
    (file ``i`` holds the ``i``-th contiguous doc_id range)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, chunk in enumerate(np.array_split(np.arange(len(corpus)), n_files)):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        _write(corpus.iloc[chunk], path)
        paths.append(path)
    return paths
