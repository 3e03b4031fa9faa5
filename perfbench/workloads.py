"""The benchmark's two closed-loop workloads: one client, one pipeline
run or query at a time, on one SparkSession.

- ``ingest``: the product, the reference's ``run()``. Each cycle runs a
  fresh ``run_pipeline`` over the lowest 90% of doc_ids, a resumed
  ``run_pipeline`` (fetch stage on) whose watermark selects the 10%
  delta, and ``run_pipeline_streaming`` draining the corpus files.
- ``query``: the fixpoint- and pin-heavy queries on the sf0.1 tables
  (most of their wall is plan construction and the eager jobs it runs)
  and the scan-, join- and aggregation-bound queries on the x5 replica
  (most of their wall is the final action), in one seeded order.

Each workload's ``setup`` generates its inputs and the ground truth of
its output checks; ``run_pass`` is one timed pass, checked; and
``traced_pass`` runs a pass under a ``Tracer`` and returns the
per-layer metrics.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import json
import os
import pickle
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import datagen
import duckdb
import procstat
from checks import (
    check_dead_letters,
    check_file_count,
    check_json_sample,
    check_watermark,
    compare,
    duck_views,
    exact_decimal_casts,
    json_files,
    normalized,
    oracle_result,
    parquet_doc_ids,
)
from spans import Tracer, inclusive_counts, self_times

ITERATIVE_QUERIES = (
    "dedup_cluster_components_star",
    "graph_pagerank_dedup",
    "dedup_cluster_components",
    "score_bigram_surprisal",
    "dedup_impact_report",
    "pipeline_yield_report",
    "dedup_simhash_hamming_histogram",
    "bpe_train_merges",
    "cluster_kmeans_embeddings",
)
SCAN_QUERIES = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_star_join_revenue",
    "q9_product_profit",
    "q18_large_orders",
    "q21_sole_blame_suppliers",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_token_count",
    "text_fingerprint",
    "window_tumbling_hourly",
    "window_session_30m",
    "sim_cosine_topk",
    "sim_ann_ivf",
    "a2_summary_by_source",
    "f_filter_pipeline",
    "events_minute_ohlc",
    "sketch_hll_mergeable_rollup",
)
# x5 rather than x10: a pass on the x10 replica took 55-73 s on a 4-core
# box, which left the runs a comparison makes too little margin in its
# time limit.
SCAN_REPLICA = 5
# The query tables do not vary with --seed (which permutes the query
# order), as the evaluation fixture does not: they are generated once
# per checkout, so the replica and the oracle results are built by the
# first run and reused by every later one.
DATA_SEED = 1
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ingest corpus: doc_id-offset replicas of the generated documents table
INGEST_REPLICAS = 2
INGEST_INVALID_SHARE = 0.07
INGEST_FILES = 40
INGEST_FILES_PER_TRIGGER = 4
INGEST_FRESH_SHARE = 0.9
ENRICHMENT = {"global_qps": None, "fail_every": 0}


class Ops:
    """Counts operations (pipeline runs, queries, output checks) and
    their failures; problems go to stderr."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn, *args, **kwargs):
        """Run one operation; returns its result, or None if it raised."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.failed += 1
            print(f"FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def check(self, what: str, checker, *args, **kwargs) -> None:
        """Run one output check; a checker that raises (an output it
        expects is missing) fails the check."""
        self.attempted += 1
        try:
            problems = checker(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - a failed check is counted, not fatal
            problems = [f"check raised {exc!r}"]
        if problems:
            self.failed += 1
            for p in problems[:5]:
                print(f"CHECK FAILED {what}: {p}", file=sys.stderr)


def layer_totals(spans, name: str) -> dict[str, float]:
    """Calls, seconds and job counts of the outermost spans named
    ``name`` (a span nested in one of the same name is not counted
    again)."""
    by_id = {s.id: s for s in spans}
    counts = inclusive_counts(spans)
    selfs = self_times(spans)

    def nested(s) -> bool:
        p = by_id.get(s.parent)
        while p is not None:
            if p.name == name:
                return True
            p = by_id.get(p.parent)
        return False

    top = [s for s in spans if s.name == name and not nested(s)]
    out = {"calls": len(top), "s": sum(s.duration for s in top), "self_s": sum(selfs[s.id] for s in top)}
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[k] = sum(counts[s.id][k] for s in top)
    return out


def _layer_metrics(spans, layers: dict[str, tuple[str, ...]]) -> dict[str, float]:
    out = {}
    for metric_prefix, keys in layers.items():
        tot = layer_totals(spans, metric_prefix)
        for k in keys:
            out[f"{metric_prefix}.{k}"] = tot[k]
    return out


def install_tracer(tracer: Tracer) -> None:
    """Wrap each layer's public functions (see ``spans``)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from wiki_data_pipeline_spark import io, pipeline
    from wiki_data_pipeline_spark.operators import enrichment, pin, spread
    from wiki_data_pipeline_spark.streaming.checkpoint import HighWatermarkCheckpoint

    pkg = "wiki_data_pipeline_spark"
    tracer.patch(io.read_table, "io.read_table", pkg)
    tracer.patch(pin.pin, "operators.pin", pkg)
    tracer.patch(spread.spread, "operators.spread", pkg)
    tracer.patch(pipeline.write_per_record_json_with_watermark, "sinks.per_record_json", pkg)
    tracer.patch(enrichment.fetch_enrich, "operators.enrichment", pkg)
    for method in ("acquire", "release", "load", "incremental", "commit_values"):
        tracer.patch_method(HighWatermarkCheckpoint, method, "streaming.checkpoint")
    tracer.patch_method(DataFrameWriter, "parquet", "sinks.dead_letter")


class Workload:
    # timed passes per run at the least; the median of several damps
    # the pass-to-pass noise of the workloads that have it
    min_passes = 1

    def __init__(self, spark, work: str, cache: str, seed: int, cores: int) -> None:
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.cores = cores
        self.rng = random.Random(seed)

    def prepare(self) -> None:
        """One-off work before ``setup``, which may be repeated: the first
        run in a checkout builds the query inputs whatever its workload,
        so that no later run takes longer than its usual time."""
        query_inputs(self.spark, self.cache, self.work, self.cores)

    def warm_up(self, ops: Ops) -> dict[str, float] | None:
        """An untimed pass before the timed ones, if the workload has one."""
        return None

    def traced_pass(self, ops: Ops, tracer: Tracer) -> dict[str, float]:
        """One pass with every layer wrapped; returns per-layer metrics."""
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        cpu0 = procstat.tree_cpu_s(jvm) + procstat.self_cpu_s()
        install_tracer(tracer)
        try:
            extra = self.run_pass(ops, tracer)
        finally:
            tracer.restore()
        cpu = procstat.tree_cpu_s(jvm) + procstat.self_cpu_s() - cpu0
        wall = extra.pop("pass_s")
        out = _layer_metrics(
            tracer.spans,
            {
                "io.read_table": ("calls", "s"),
                "operators.pin": ("calls", "s", "jobs"),
                "operators.spread": ("calls", "s", "jobs"),
                "streaming.checkpoint": ("calls", "s"),
                "sinks.dead_letter": ("s",),
            },
        )
        out.update(extra)
        out["proc.cpu_s"] = cpu
        out["proc.cpu_util"] = cpu / (wall * self.cores)
        return out


def query_inputs(spark, cache: str, work: str, cores: int) -> tuple[dict, dict, dict]:
    """The query workload's specs, each query's input directory and
    oracle-cache directory, and its oracle results. The first run in a
    checkout builds the inputs and oracles; later runs read them."""
    from wiki_data_pipeline_spark.plans.registry import get

    specs = {n: get(n) for n in ITERATIVE_QUERIES + SCAN_QUERIES}
    src, src_oracles = cached_sf01(cache)
    rep, rep_oracles = cached_replica(spark, cache, src, SCAN_REPLICA)
    inputs = {n: (src, src_oracles) for n in ITERATIVE_QUERIES}
    inputs.update({n: (rep, rep_oracles) for n in SCAN_QUERIES})
    oracles: dict[str, object] = {}
    cons: dict[str, duckdb.DuckDBPyConnection] = {}
    try:
        for n, (sf_dir, oracle_dir) in inputs.items():
            sql = exact_decimal_casts(specs[n].oracle)
            path = os.path.join(oracle_dir, f"{n}-{digest(sql, duckdb.__version__)}.pickle")
            try:
                with open(path, "rb") as f:
                    oracles[n] = pickle.load(f)
                continue
            except FileNotFoundError:
                pass
            if sf_dir not in cons:
                cons[sf_dir] = con = duck_views(sf_dir)
                con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
                con.execute(f"SET threads = {cores}")
            try:
                oracles[n] = res = oracle_result(cons[sf_dir], sql)
            except Exception as exc:  # noqa: BLE001 - reported by the query's check
                oracles[n] = exc
                continue
            write_atomic(path, pickle.dumps(res))
    finally:
        for con in cons.values():
            con.close()
    return specs, inputs, oracles


class Query(Workload):
    def setup(self, ops: Ops) -> None:
        self.specs, self.inputs, self.oracles = query_inputs(self.spark, self.cache, self.work, self.cores)
        self.checked = False

    def order(self) -> list[str]:
        """The query set in a seeded order, drawn afresh per pass."""
        return self.rng.sample(list(self.specs), len(self.specs))

    def _run_one(self, name: str, tracer: Tracer | None, sf_dir: str):
        """Build one query and collect its result (the client reads
        every row)."""
        with maybe_span(tracer, "query", query=name):
            with maybe_span(tracer, "plans.build"):
                df = self.specs[name].fn(self.spark, sf_dir)
            with maybe_span(tracer, "exec.action"):
                return df.columns, df.collect()

    def run_pass(self, ops: Ops, tracer: Tracer | None = None) -> dict[str, float]:
        results = {}
        t0 = time.perf_counter()
        for n in self.order():
            results[n] = ops.run(n, self._run_one, n, tracer, self.inputs[n][0])
        wall = time.perf_counter() - t0
        if not self.checked:
            # the first timed pass's results are checked, once per run
            self.checked = True
            for n, res in results.items():
                if res is None:
                    continue
                want = self.oracles.get(n, RuntimeError("no oracle result"))
                if isinstance(want, Exception):
                    ops.check(f"oracle {n}", lambda: [f"oracle failed: {want!r}"])
                else:
                    cols, rows = res
                    got = normalized(cols, [tuple(r) for r in rows])
                    ops.check(f"oracle {n}", compare, got, want)
        out = {"pass_s": wall}
        if tracer is not None:
            out["query_pass_s"] = wall
            build = layer_totals(tracer.spans, "plans.build")
            ex = layer_totals(tracer.spans, "exec.action")
            out.update(
                {
                    "plans.build_s": build["s"],
                    "plans.build_jobs": build["jobs"],
                    "exec.action_s": ex["s"],
                    "exec.jobs": ex["jobs"],
                    "exec.stages": ex["stages"],
                    "exec.tasks": ex["tasks"],
                    "exec.failed_tasks": ex["failed_tasks"],
                }
            )
            counts = inclusive_counts(tracer.spans)
            for s in tracer.spans:
                if s.name == "query":
                    out[f"q.{s.attrs['query']}.s"] = s.duration
                    out[f"q.{s.attrs['query']}.jobs"] = counts[s.id]["jobs"]
        return out



def digest(*parts: str) -> str:
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]


def source_of(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


def write_atomic(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def cached_sf01(cache: str) -> tuple[str, str]:
    """The sf0.1 tables from ``DATA_SEED``, written by the first run in
    a checkout and reused by later runs (keyed by the generator's
    source), and the directory caching oracle results on them."""
    key = digest(source_of(datagen.__file__), str(DATA_SEED))
    src = os.path.join(cache, f"sf0.1-{key}")
    if not os.path.isdir(src):
        tmp = f"{src}.tmp-{os.getpid()}"
        datagen.write_sf01(tmp, DATA_SEED)
        os.rename(tmp, src)
    return src, _oracle_dir(cache, key)


def cached_replica(spark, cache: str, src: str, mult: int) -> tuple[str, str]:
    """The x``mult`` replica of ``src`` from ``tools/scale_probe``, kept
    like ``cached_sf01``'s tables, and its oracle-cache directory."""
    probe_path = os.path.join(ROOT, "tools", "scale_probe.py")
    key = digest(os.path.basename(src), source_of(probe_path), str(mult))
    spec = importlib.util.spec_from_file_location("scale_probe", probe_path)
    scale_probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(scale_probe)
    scale_probe.SRC = src
    # build_scaled returns at once when a complete replica is there
    rep = scale_probe.build_scaled(spark, os.path.join(cache, f"scale-{key}"), mult)
    return rep, _oracle_dir(cache, key)


def _oracle_dir(cache: str, key: str) -> str:
    path = os.path.join(cache, f"oracles-{key}")
    os.makedirs(path, exist_ok=True)
    return path


def maybe_span(tracer: Tracer | None, name: str, **attrs):
    """``tracer.span(...)`` when tracing, else a no-op context."""
    return tracer.span(name, **attrs) if tracer is not None else contextlib.nullcontext()


class Ingest(Workload):
    min_passes = 3

    def setup(self, ops: Ops) -> None:
        corpus = datagen.ingest_corpus(self.seed, INGEST_REPLICAS, INGEST_INVALID_SHARE)
        # a fresh directory per repeat: rewriting files whose write-back
        # is under way waits for the disk (one repeat waited 90 s)
        self.corpus_dir = tempfile.mkdtemp(prefix="corpus-", dir=self.work)
        datagen.write_ingest_corpus(self.corpus_dir, corpus, INGEST_FILES)
        valid = corpus["text"].map(lambda t: t is not None and t.strip() != "")
        self.n_docs = len(corpus)
        self.max_doc_id = int(corpus["doc_id"].max())
        self.cut = int(corpus["doc_id"].quantile(INGEST_FRESH_SHARE, interpolation="lower")) + 1
        self.truth = corpus[valid].set_index("doc_id")[["text", "lang", "source"]].to_dict("index")
        self.invalid_ids = set(int(i) for i in corpus.loc[~valid, "doc_id"])
        self.cycle = 0

    def warm_up(self, ops: Ops) -> dict[str, float]:
        # The first cycle in a JVM runs about twice as long as the
        # others, and a warm-up over a tenth of the corpus left the
        # timed cycles after it still getting faster one by one.
        return self.run_pass(ops)

    def run_pass(self, ops: Ops, tracer: Tracer | None = None) -> dict[str, float]:
        from pyspark.sql import functions as F

        from wiki_data_pipeline_spark.pipeline import run_pipeline, run_pipeline_streaming

        self.cycle += 1
        out = os.path.join(self.work, f"batch_out_{self.cycle}")
        sout = os.path.join(self.work, f"stream_out_{self.cycle}")
        metrics = os.path.join(self.work, f"stream_metrics_{self.cycle}.jsonl")
        read = self.spark.read.parquet

        t0 = time.perf_counter()
        with maybe_span(tracer, "pipeline.batch"):
            r1 = ops.run(
                "run_pipeline fresh", run_pipeline, self.spark, self.corpus_dir, out,
                docs=read(self.corpus_dir).filter(F.col("doc_id") < self.cut), reset=True,
            )
        t1 = time.perf_counter()
        with maybe_span(tracer, "pipeline.batch"):
            r2 = ops.run(
                "run_pipeline resume", run_pipeline, self.spark, self.corpus_dir, out,
                docs=read(self.corpus_dir), enrichment=ENRICHMENT,
            )
        t2 = time.perf_counter()
        stream_failures = ops.failed
        with maybe_span(tracer, "pipeline.stream"):
            ops.run(
                "run_pipeline_streaming", run_pipeline_streaming, self.spark, self.corpus_dir, sout,
                max_files_per_trigger=INGEST_FILES_PER_TRIGGER, metrics_path=metrics,
            )
        t3 = time.perf_counter()
        streamed = ops.failed == stream_failures

        # a failed run reads 0 docs/s here and fails the checks of its output
        res = {
            "pass_s": t3 - t0,
            "ingest_docs_per_s": (r1["processed"] + r1["failed"]) / (t1 - t0) if r1 else 0.0,
            "resume_s": t2 - t1,
            "stream_docs_per_s": self.n_docs / (t3 - t2) if streamed else 0.0,
        }
        files = json_files(out)
        sfiles = json_files(sout)
        seed = self.seed * 1000 + self.cycle
        ops.check("batch file count", lambda: check_file_count(files, r1["processed"] + r2["processed"], "batch"))
        ops.check("batch sample", lambda: check_json_sample(files, self.truth, seed, enriched_from=r1["processed"]))
        ops.check("batch dead letters", check_dead_letters, os.path.join(out, "_dead_letter"), self.invalid_ids, "batch")
        ops.check("watermark", check_watermark, os.path.join(out, "_checkpoint", "progress.json"), self.max_doc_id)
        ops.check("stream file count", check_file_count, sfiles, len(self.truth), "stream")
        ops.check("stream sample", check_json_sample, sfiles, self.truth, seed)
        ops.check(
            "stream dead letters",
            check_dead_letters, os.path.join(sout, "_dead_letter_stream"), self.invalid_ids, "stream",
        )
        if tracer is not None and r1 and r2 and streamed:
            res.update(self._layer_metrics(tracer, out, files, r1["processed"], metrics))
        for d in (out, sout):
            shutil.rmtree(d, ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.remove(metrics)
        return res

    def _layer_metrics(self, tracer: Tracer, out: str, files: list[str], enriched_from: int, metrics: str) -> dict[str, float]:
        batch = layer_totals(tracer.spans, "pipeline.batch")
        sink = layer_totals(tracer.spans, "sinks.per_record_json")
        enriched = []
        for path in files:
            if int(os.path.basename(path).split("_")[1].split(".")[0]) >= enriched_from:
                with open(path, encoding="utf-8") as f:
                    enriched.append(json.load(f)["attempts"])
        with open(metrics, encoding="utf-8") as f:
            rows = [json.loads(line) for line in f]
        rows = [r for r in rows if r["num_input_rows"]]
        run_ids = {r["run_id"] for r in rows}
        st = self.spark.sparkContext.statusTracker()
        stream_jobs = sum(len(st.getJobIdsForGroup(rid)) for rid in run_ids)
        durations = [r["trigger_duration_ms"] for r in rows]
        return {
            "pipeline.batch.s": batch["s"],
            "pipeline.batch.self_s": batch["self_s"],
            "sinks.per_record_json.s": sink["s"],
            "sinks.per_record_json.jobs": sink["jobs"],
            "sinks.per_record_json.files": len(files),
            "sinks.per_record_json.bytes_per_doc": sum(os.path.getsize(p) for p in files) / len(files),
            "sinks.dead_letter.rows": len(parquet_doc_ids(os.path.join(out, "_dead_letter"))),
            "operators.enrichment.rows": len(enriched),
            "operators.enrichment.attempts_per_row": sum(enriched) / len(enriched),
            "stream.batches": len(rows),
            "stream.batch_ms_p50": statistics.median(durations),
            "stream.batch_ms_max": max(durations),
            "stream.jobs_per_batch": stream_jobs / len(rows),
            "stream.input_rows_ratio": sum(r["num_input_rows"] for r in rows) / self.n_docs,
        }



WORKLOADS = {"ingest": Ingest, "query": Query}
