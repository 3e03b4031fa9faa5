import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

import checks


def _truth():
    return {i: {"text": f"text {i}", "lang": "en", "source": f"src{i % 20}"} for i in range(6)}


def _write_outputs(root, truth, dead):
    """Files shaped like the JSON sink's and the dead-letter writer's."""
    files = []
    for index, doc_id in enumerate(sorted(truth)):
        d = os.path.join(root, f"batch_{index // 4:03d}")
        os.makedirs(d, exist_ok=True)
        title = f"Doc {doc_id}"
        rec = {
            "doc_id": doc_id,
            "title": title,
            "url": "https://en.wikipedia.org/wiki/" + title.replace(" ", "_"),
            "content": truth[doc_id]["text"],
            "author": None,
            "content_length": len(truth[doc_id]["text"]),
            "lang": "en",
            "source": truth[doc_id]["source"],
        }
        path = os.path.join(d, f"article_{index:06d}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(rec, f, indent=2)
        files.append(path)
    dlq = os.path.join(root, "_dead_letter", "since=-1")
    os.makedirs(dlq)
    pq.write_table(pa.table({"doc_id": pa.array(dead, pa.int64())}), os.path.join(dlq, "part-0.parquet"))
    return files


def test_intact_outputs_pass(tmp_path):
    truth = _truth()
    files = _write_outputs(str(tmp_path), truth, [10, 11])
    assert checks.json_files(str(tmp_path)) == files
    assert checks.check_file_count(files, 6, "batch") == []
    assert checks.check_json_sample(files, truth, seed=1) == []
    assert checks.check_dead_letters(str(tmp_path / "_dead_letter"), {10, 11}, "batch") == []


def test_deleted_json_file_is_flagged(tmp_path):
    files = _write_outputs(str(tmp_path), _truth(), [10])
    os.remove(files[3])
    assert checks.check_file_count(checks.json_files(str(tmp_path)), 6, "batch")


def test_changed_json_record_is_flagged(tmp_path):
    truth = _truth()
    files = _write_outputs(str(tmp_path), truth, [10])
    rec = json.load(open(files[2]))
    rec["content"] = "edited"
    json.dump(rec, open(files[2], "w"))
    assert checks.check_json_sample(files, truth, seed=1)


def test_extra_dead_letter_row_is_flagged(tmp_path):
    _write_outputs(str(tmp_path), _truth(), [10, 11, 3])
    assert checks.check_dead_letters(str(tmp_path / "_dead_letter"), {10, 11}, "batch")


def test_changed_query_row_is_flagged():
    want = checks.normalized(["b", "a"], [(1, "x"), (2.5, None)])
    assert checks.compare(checks.normalized(["b", "a"], [(2.5, None), (1, "x")]), want) == []
    assert checks.compare(checks.normalized(["b", "a"], [(1, "x"), (2.5000001, None)]), want)
    assert checks.compare(checks.normalized(["b", "a"], [(1, "x")]), want)
    assert checks.compare(checks.normalized(["b", "c"], [(1, "x"), (2.5, None)]), want)


def test_watermark_check(tmp_path):
    path = tmp_path / "progress.json"
    path.write_text(json.dumps({"watermark": 41, "total_processed": 3, "runs": 2, "status": "processing"}))
    assert checks.check_watermark(str(path), 41) == []
    assert checks.check_watermark(str(path), 42)


def test_exact_decimal_sums_round_once():
    sql = (
        "SELECT CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS s,"
        " CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS m FROM t"
    )
    fixed = checks.exact_decimal_casts(sql)
    assert fixed.count("AS VARCHAR)::DOUBLE") == 2
    con = checks.duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (14049629203.532125), (14049629203.532125)) AS x(v)")
    # the exact sum is 28099258407.064250; DuckDB's own cast rounds twice
    assert con.execute(sql).fetchone()[0] == 28099258407.064247
    assert con.execute(fixed).fetchone() == (28099258407.06425, 28099258407.06425 / 2)
    assert checks.exact_decimal_casts("SELECT CAST(x AS DOUBLE) FROM t") == "SELECT CAST(x AS DOUBLE) FROM t"
