"""Output checks. Each checker returns a list of problems; an empty
list is a pass. Every checker counts as one operation toward the
run's ``attempted``/``failed`` totals.

Ingest checks compare the pipeline's files against the generated
corpus (the ground truth). Query checks compare a Spark result with
its DuckDB oracle under ``testing.compare_query``'s normalization.
"""

from __future__ import annotations

import json
import os
import random
import re

import duckdb
import pyarrow.parquet as pq

from wiki_data_pipeline_spark.functions.text import WIKI_BASE_URL
from wiki_data_pipeline_spark.io import TABLES, table_path
from wiki_data_pipeline_spark.testing import _norm

JSON_SAMPLE = 40


def json_files(root: str) -> list[str]:
    """Every per-record JSON file under ``root`` (batch directories
    only; the checkpoint and dead-letter trees are skipped). A missing
    ``root`` holds none."""
    out: list[str] = []
    if not os.path.isdir(root):
        return out
    for d in sorted(os.listdir(root)):
        if d.startswith("_"):
            continue
        sub = os.path.join(root, d)
        if os.path.isdir(sub):
            out.extend(
                os.path.join(sub, f) for f in sorted(os.listdir(sub)) if f.endswith(".json")
            )
    return out


def parquet_doc_ids(root: str) -> list[int]:
    """doc_ids in every parquet file under ``root``."""
    ids: list[int] = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                ids.extend(pq.read_table(os.path.join(dirpath, f), columns=["doc_id"])["doc_id"].to_pylist())
    return ids


def check_file_count(files: list[str], expected: int, what: str) -> list[str]:
    if len(files) != expected:
        return [f"{what}: {len(files)} JSON files, expected {expected}"]
    return []


def check_json_sample(
    files: list[str], truth: dict[int, dict], seed: int, enriched_from: int | None = None
) -> list[str]:
    """Parse a seeded sample of ``files`` and compare each record with
    its source row. Files at index ``enriched_from`` or later (the
    resumed run's output) must also carry the fetch stage's columns."""
    problems = []
    rng = random.Random(seed)
    for path in rng.sample(files, min(JSON_SAMPLE, len(files))):
        try:
            with open(path, encoding="utf-8") as f:
                rec = json.load(f)
        except (OSError, ValueError) as exc:
            problems.append(f"{path}: unreadable: {exc}")
            continue
        src = truth.get(rec.get("doc_id"))
        if src is None:
            problems.append(f"{path}: doc_id {rec.get('doc_id')} not in the corpus")
            continue
        title = f"Doc {rec['doc_id']}"
        want = {
            "title": title,
            "url": WIKI_BASE_URL + title.replace(" ", "_"),
            "content": src["text"],
            "content_length": len(src["text"]),
            "lang": src["lang"],
            "source": src["source"],
        }
        index = int(os.path.basename(path).split("_")[1].split(".")[0])
        if enriched_from is not None and index >= enriched_from:
            if not str(rec.get("api_content", "")).startswith("content[") or rec.get("attempts") != 1:
                problems.append(f"{path}: missing or wrong fetch-stage columns")
        for k, v in want.items():
            if rec.get(k) != v:
                problems.append(f"{path}: {k}={rec.get(k)!r}, expected {v!r}")
    return problems


def check_dead_letters(root: str, invalid_ids: set[int], what: str) -> list[str]:
    got = parquet_doc_ids(root) if os.path.isdir(root) else []
    problems = []
    if len(got) != len(set(got)):
        problems.append(f"{what}: {len(got) - len(set(got))} duplicate dead-letter rows")
    extra, missing = set(got) - invalid_ids, invalid_ids - set(got)
    if extra or missing:
        problems.append(
            f"{what}: {len(extra)} unexpected and {len(missing)} missing dead-letter doc_ids"
        )
    return problems


def check_watermark(ckpt_path: str, expected: int) -> list[str]:
    with open(ckpt_path, encoding="utf-8") as f:
        wm = json.load(f)["watermark"]
    return [] if wm == expected else [f"watermark {wm}, expected {expected}"]


# -- query workloads -----------------------------------------------------


# DuckDB casts a DECIMAL to DOUBLE by converting the unscaled integer to
# a double and dividing it by 10**scale: two roundings, which can land
# one ulp away from the correctly rounded value that Spark's cast
# returns (an exact sum of 28099258407.064250 reads 28099258407.064247).
# The oracles' exact sums (``CAST(sum(CAST(x AS DECIMAL(p,s))) AS
# DOUBLE)``) are therefore converted through VARCHAR, whose parse DuckDB
# rounds correctly.
_DECIMAL_SUM_TO_DOUBLE = re.compile(r"(DECIMAL\(\d+,\s*\d+\)\)\)) AS DOUBLE\)")


def exact_decimal_casts(sql: str) -> str:
    """``sql`` with each exact decimal sum converted to DOUBLE with one
    rounding."""
    return _DECIMAL_SUM_TO_DOUBLE.sub(r"\1 AS VARCHAR)::DOUBLE", sql)


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the engine tables. Unlike
    ``testing.duck_connect`` this reads a table stored as a directory
    of parquet files (the replica layout) through a glob."""
    con = duckdb.connect()
    for name in TABLES:
        path = table_path(sf_dir, name)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def normalized(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted, each value normalized
    as ``testing.compare_query`` does."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        [columns[i] for i in order],
        sorted(tuple(_norm(r[i]) for i in order) for r in rows),
    )


def oracle_result(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.execute(sql)
    return normalized([d[0] for d in rel.description], rel.fetchall())


def compare(spark_res: tuple[list[str], list[tuple]], duck_res: tuple[list[str], list[tuple]]) -> list[str]:
    (s_cols, s_rows), (d_cols, d_rows) = spark_res, duck_res
    if s_cols != d_cols:
        return [f"columns differ: spark={s_cols} duck={d_cols}"]
    if len(s_rows) != len(d_rows):
        return [f"row count: spark={len(s_rows)} duck={len(d_rows)}"]
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            return [f"row[{i}] spark={a} duck={b}"]
    return []
