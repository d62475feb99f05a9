"""The workloads ``registry`` (``Registry``) and ``batch`` (``Batch``,
which runs a ``LakeBatch`` drop and an ``AnnIndex`` round). Each has four
parts:

- ``prepare``: make the seeded inputs (numpy/pyarrow only; not timed, not
  in ``setup_s``);
- ``warmup``: first-touch work on the live session, timed into ``setup_s``;
- ``loop``: the closed loop of timed operations (one client);
- ``check``: the output checks, after the loop and outside every timed
  interval.

An operation is the unit a user waits for: one registry query, or one
GDELT drop through the reference ETL and the corpus chain followed by one
index round of build, searches and append. With tracing on, every call
into a package layer runs inside a span and under its own Spark job group,
and per-layer metrics are read back from Spark's status stores.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from dataclasses import dataclass, field

import numpy as np

from . import gen
from .oracle import FAIL, Oracle, check_query
from .stats import attribute_jobs
from .trace import Span, SparkStatus, Tracer

PIPELINE_STAGES = ("normalize", "dedup_exact", "dedup_near", "export")

#: Every per-layer metric, as (name, unit). A traced run reports all of
#: them; a layer the workload never calls reads 0.
LAYER_METRICS = (
    [("session.start_s", "s"), ("session.warmup_s", "s"),
     ("plans.fn_s", "s"), ("plans.fn_jobs", "count"), ("plans.fn_job_s", "s"),
     ("plans.fn_self_s", "s"), ("spark.action_driver_s", "s"),
     ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.exec_run_s", "s"), ("spark.exec_cpu_s", "s"), ("spark.exec_gc_s", "s"),
     ("spark.exec_deser_s", "s"), ("spark.scan_rows", "rows"),
     ("spark.scan_rows_per_result_row", "ratio"), ("spark.shuffle_write_mb", "MB"),
     ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_fetch_wait_s", "s"),
     ("spark.spill_mb", "MB"), ("spark.python_rows", "rows"),
     ("spark.python_sent_mb", "MB"),
     ("sources.manifest_s", "s"), ("sources.download_extract_s", "s"),
     ("sources.convert_s", "s"), ("sources.filter_s", "s"),
     ("sources.written_mb", "MB"), ("sources.files_written", "count"),
     ("sampling.sample_s", "s")]
    + [(f"pipeline.{s}_s", "s") for s in PIPELINE_STAGES]
    + [(f"pipeline.{s}_rows_out", "rows") for s in PIPELINE_STAGES]
    + [("dedup.near_candidates_per_verified", "ratio"),
       ("ann.search_probed_rows_per_result", "ratio"), ("ann.fit_s", "s"),
       ("ann.encode_write_s", "s"), ("ann.index_bytes_per_vector_byte", "ratio"),
       ("streaming.batches", "count"), ("streaming.trigger_p50_ms", "ms"),
       ("streaming.add_batch_p50_ms", "ms"), ("streaming.wal_commit_p50_ms", "ms"),
       ("streaming.query_planning_p50_ms", "ms"),
       ("streaming.index_files_added_per_batch", "count"),
       ("trace.overhead_share", "ratio")]
)

_PY_NODES = ("Python", "InPandas", "InArrow")


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    work: str
    status: SparkStatus | None = None
    latencies: list[float] = field(default_factory=list)
    loop_wall: float = 0.0
    outcomes: list[str] = field(default_factory=list)  # "ok" / "error" / "wrong"
    problems: list[str] = field(default_factory=list)
    summary: dict = field(default_factory=dict)  # workload figures for the summary line
    layer_sums: dict = field(default_factory=dict)
    result_rows: int = 0
    ops: list[str] = field(default_factory=list)  # completed operations, in order
    instr_s: float = 0.0  # time spent in tracing bookkeeping inside operations
    node_log: list = field(default_factory=list)  # SQL operator rows, per job batch
    _groups: dict = field(default_factory=dict)  # job group -> span, not yet read
    _adopted: list = field(default_factory=list)  # groups opened by Spark itself
    _n_groups: int = 0  # job group names are never reused within a process

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def add(self, metric: str, v: float) -> None:
        self.layer_sums[metric] = self.layer_sums.get(metric, 0.0) + v

    def call(self, layer: str, name: str, fn, request: str = ""):
        """Run ``fn`` inside a span and, when traced, under its own job
        group; the group's jobs become child spans after the call."""
        if not self.traced:
            return fn()
        t0 = time.perf_counter()
        group = f"pb{self._n_groups}"
        self._n_groups += 1
        self.status.set_group(group)
        with self.tracer.span(layer, name, request) as s:
            t1 = time.perf_counter()
            out = fn()
            t2 = time.perf_counter()
        for g in [group] + self._adopted:
            self._groups[g] = s
        self._adopted = []
        self.instr_s += (t1 - t0) + (time.perf_counter() - t2)
        return out

    def adopt_group(self, group: str) -> None:
        """Attribute a job group that Spark sets on its own threads (a
        streaming query's runId) to the ``call`` that is running."""
        if self.traced:
            self._adopted.append(group)

    def collect_jobs(self) -> None:
        """Read every job group opened since the last call into job spans
        and Spark-layer sums. Call outside timed intervals."""
        if not self.traced or not self._groups:
            return
        self.status.drain()
        per_group = {g: self.status.jobs(g) for g in self._groups}
        attribute_jobs({g: [j["job"] for j in js] for g, js in per_group.items()})
        job_ids = set()
        for g, jobs in per_group.items():
            parent = self._groups[g]
            for j in jobs:
                job_ids.add(j["job"])
                sp = Span(len(self.tracer.spans), parent.span_id, parent.request,
                          "spark.job", f"job {j['job']}", j["start"], j["end"],
                          {k: v for k, v in j.items() if k not in ("start", "end")})
                self.tracer.spans.append(sp)
                self.add("spark.jobs", 1)
                self.add("spark.stages", j["stages"])
                self.add("spark.tasks", j["numTasks"])
                self.add("spark.exec_run_s", j["executorRunTime"] / 1e3)
                self.add("spark.exec_cpu_s", j["executorCpuTime"] / 1e9)
                self.add("spark.exec_gc_s", j["jvmGcTime"] / 1e3)
                self.add("spark.exec_deser_s", j["executorDeserializeTime"] / 1e3)
                self.add("spark.scan_rows", j["inputRecords"])
                self.add("spark.shuffle_write_mb", j["shuffleWriteBytes"] / 1e6)
                self.add("spark.shuffle_read_mb", j["shuffleReadBytes"] / 1e6)
                self.add("spark.shuffle_fetch_wait_s", j["shuffleFetchWaitTime"] / 1e3)
                self.add("spark.spill_mb",
                         (j["memoryBytesSpilled"] + j["diskBytesSpilled"]) / 1e6)
        nodes = self.status.sql_nodes(job_ids)
        self.node_log += [{"kind": "sql_node", **n} for n in nodes]
        for n in nodes:
            if any(k in n["name"] for k in _PY_NODES):
                self.add("spark.python_rows", n["metrics"].get("number of output rows", 0))
                self.add("spark.python_sent_mb",
                         n["metrics"].get("data sent to Python workers", 0) / 1e6)
        self._groups = {}

    def record(self, outcome: str, problem: str = "") -> None:
        self.outcomes.append(outcome)
        if problem:
            self.problems.append(problem)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _timed_loop(ctx: Ctx, passes) -> None:
    """Call ``passes()`` until ``ctx.seconds`` have passed (at least once)
    and record the loop's wall time."""
    t0 = time.perf_counter()
    while True:
        passes()
        if time.perf_counter() - t0 >= ctx.seconds:
            break
    ctx.loop_wall = time.perf_counter() - t0


# ---------------------------------------------------------------- registry
#: Scale of the generated registry tables, and the per-query DuckDB
#: oracle timeout (beyond it the rows-only check decides).
REGISTRY_SF = 0.1
ORACLE_TIMEOUT_S = 20.0
#: Untimed passes before the loop. Latencies keep falling for the first
#: five or so passes while the JIT compiles (q_dedup_canonical 4.6 s in the
#: third pass, about 3.2 s from the seventh on, 4-vCPU VM); a shorter
#: warm-up left the timed passes half-warmed, and how far they had got
#: varied from run to run (median latency over ten runs spread 0.32
#: with two warm-up passes, 0.13 over five runs with five).
WARMUP_PASSES = 4


class Registry:
    """Registry queries over the cached sf0.1 tables: each operation is
    ``QueryDef.fn`` plus a noop-sink action on the result. Tables, queries
    and their order are fixed, so ``--seed`` does not change this
    workload's inputs: rotating the order by seed moved the median by up
    to 30 %, because a query's latency depends on the query before it."""

    warm_ops = True

    def __init__(self, names: list[str], data_dir: str, cache_dir: str,
                 fingerprint: str):
        self.names = names
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.fingerprint = fingerprint
        self.last_df: dict = {}
        self.runs: list[str] = []  # every query that completed, in order

    def prepare(self, ctx: Ctx) -> None:
        pass

    def _query(self, ctx: Ctx, name: str, req: str):
        from gdelt_2_0_event_database_pipeline_spark.plans import QUERIES

        q = QUERIES[name]
        with ctx.tracer.span("request", name, req):
            df = ctx.call("plans", "fn", lambda: q.fn(ctx.spark, self.data_dir))
            ctx.call("spark", "action", lambda: _noop(df))
        return df

    def warmup(self, ctx: Ctx) -> None:
        for name in self.names * WARMUP_PASSES:
            try:
                self._query(ctx, name, "warmup")
            except Exception as e:  # reported again by the timed loop
                ctx.problems.append(f"warmup {name}: {type(e).__name__}: {e}"[:300])
        ctx.tracer.spans.clear()
        ctx._groups.clear()

    def loop(self, ctx: Ctx) -> None:
        def one_pass():
            for name in self.names:
                req = f"{name}#{len(self.runs)}"
                s = time.perf_counter()
                try:
                    self.last_df[name] = self._query(ctx, name, req)
                    ctx.latencies.append(time.perf_counter() - s)
                    self.runs.append(name)
                    ctx.ops.append(name)
                except Exception as e:
                    ctx.record("error", f"{name}: {type(e).__name__}: {e}"[:300])
                ctx.collect_jobs()  # traced runs only; outside the op's interval

        _timed_loop(ctx, one_pass)

    def check(self, ctx: Ctx) -> None:
        """Each query's last result against its oracle; the verdict counts
        for every run of that query."""
        from gdelt_2_0_event_database_pipeline_spark.plans import QUERIES
        from gdelt_2_0_event_database_pipeline_spark.plans.registry import TABLES

        oracle = Oracle(self.data_dir, TABLES, os.path.join(self.cache_dir, "oracle"),
                        self.fingerprint, ORACLE_TIMEOUT_S)
        verdict: dict[str, str] = {}
        rows: dict[str, int] = {}
        try:
            for name in sorted(set(self.runs)):
                try:
                    status, detail, rows[name] = check_query(
                        self.last_df[name], QUERIES[name].sql, oracle)
                except Exception as e:
                    status, detail = FAIL, f"check raised {type(e).__name__}: {e}"[:300]
                    rows[name] = 0
                verdict[name] = status
                if status == FAIL:
                    ctx.problems.append(f"{name}: wrong output: {detail}")
        finally:
            oracle.close()
        for name in self.runs:
            ctx.record("wrong" if verdict[name] == FAIL else "ok")
        ctx.summary["checks"] = verdict
        ctx.result_rows = sum(rows[n] for n in ctx.ops)
        if ctx.latencies:
            ctx.summary["query_p50_s"] = float(np.median(ctx.latencies))
            ctx.summary["queries_per_s"] = len(ctx.latencies) / ctx.loop_wall


# -------------------------------------------------------------- lake_batch
#: The GDELT drop: rows over eight zipped exports, the independent NULL
#: share planted in each filter column, and the exact-n sample size.
GDELT_ROWS, NULL_SHARE, SAMPLE_N = 5_000, 0.05, 1_000
#: The corpus: documents, and the shares planted as exact and near copies.
DOCS, EXACT_SHARE, NEAR_SHARE = 200, 0.05, 0.05
#: Share of planted near duplicates ``dedup_near`` must remove. MinHash LSH
#: is probabilistic (dedup.py documents ~0.97 recall at Jaccard 0.7), and a
#: run plants only a few near copies, so the floor flags a broken stage, not
#: one missed pair; the measured share is reported as ``near_dup_recall``.
NEAR_RECALL_FLOOR = 0.7


class LakeBatch:
    """The reference's four ETL stages and an exact-n sample on a GDELT
    drop, then the LLM-corpus chain through ``pipeline.run_pipeline``."""

    def prepare(self, ctx: Ctx) -> None:
        base = gen.fresh_dir(os.path.join(ctx.work, "in_lake"))
        self.drop = gen.gdelt_drop(os.path.join(base, "g"), GDELT_ROWS, ctx.seed,
                                   NULL_SHARE)
        self.corpus = gen.corpus(os.path.join(base, "c"), DOCS, ctx.seed + 1,
                                 EXACT_SHARE, NEAR_SHARE)

    def _etl(self, ctx: Ctx, out: str, req: str) -> dict:
        from gdelt_2_0_event_database_pipeline_spark.operators.sampling import sample_uniform
        from gdelt_2_0_event_database_pipeline_spark.sources import gdelt_csv, lake, manifest

        spark, drop = ctx.spark, self.drop

        def _manifest():
            links = manifest.extract_zip_links(drop["html"], "http://data.example.com/events")
            pruned = manifest.prune_manifest(manifest.manifest_df(spark, links),
                                             dt.date(2015, 1, 1), dt.date(2017, 12, 31))
            return [r.url for r in pruned.collect()]

        def _fetch(url: str, timeout: float) -> bytes:
            with open(os.path.join(drop["zips"], url.rsplit("/", 1)[-1]), "rb") as f:
                return f.read()

        def _download():
            manifest.download_files(urls, os.path.join(out, "dl"), fetcher=_fetch)
            gdelt_csv.extract_zips(os.path.join(out, "dl"), os.path.join(out, "csv"))

        flat, hist, filt = (os.path.join(out, d) for d in ("flat", "hist", "filtered"))
        urls = ctx.call("sources", "manifest", _manifest, req)
        ctx.call("sources", "download_extract", _download, req)
        ctx.call("sources", "convert", lambda: gdelt_csv.convert(
            spark, os.path.join(out, "csv"), flat, historical_dir=hist), req)
        ctx.call("sources", "filter", lambda: lake.run_filter_stage(
            spark, flat, filt, list(gen.FILTER_COLUMNS), historical_dir=hist), req)
        sample = ctx.call("sampling", "sample", lambda: sample_uniform(
            spark.read.parquet(filt), SAMPLE_N).collect(), req)
        return {"urls": len(urls), "sample": sample, "filtered": filt,
                "out": [flat, hist, filt]}

    def _chain(self, ctx: Ctx, out: str, req: str) -> list[dict]:
        from gdelt_2_0_event_database_pipeline_spark.pipeline import run_pipeline

        stages = [
            {"stage": "normalize", "text_col": "text"},
            {"stage": "dedup_exact", "key": "text", "id_col": "doc_id"},
            {"stage": "dedup_near", "threshold": 0.8},
            {"stage": "export", "out": os.path.join(out, "final"), "shards": 2,
             "shard_key": "doc_id"},
        ]
        src = self.corpus["docs"]
        if not ctx.traced:
            rep = run_pipeline(ctx.spark, {"pipeline": {
                "input": src, "workdir": os.path.join(out, "w"), "stages": stages}})
            return rep["stages"]
        reports = []
        for i, st in enumerate(stages):  # one call per stage, fed the previous output
            cfg = {"pipeline": {"input": src, "workdir": os.path.join(out, f"w{i}"),
                                "stages": [st]}}
            rep = ctx.call("pipeline", st["stage"], lambda c=cfg: run_pipeline(ctx.spark, c), req)
            reports += rep["stages"]
            src = rep["final"]
        return reports

    def op(self, ctx: Ctx, tag: str) -> dict:
        out = gen.fresh_dir(os.path.join(ctx.work, f"out_{tag}"))
        with ctx.tracer.span("request", "drop", tag):
            t0 = time.perf_counter()
            res = self._etl(ctx, os.path.join(out, "etl"), tag)
            t1 = time.perf_counter()
            res["chain"] = self._chain(ctx, os.path.join(out, "chain"), tag)
            res["etl_s"], res["chain_s"] = t1 - t0, time.perf_counter() - t1
        return res

    def check(self, ctx: Ctx, res: dict) -> list[str]:
        """What the drop's output gets wrong against the planted inputs."""
        drop, corp = self.drop, self.corpus
        bad = []
        got = ctx.spark.read.parquet(res["filtered"]).count()
        if got != drop["rows_after_filter"]:
            bad.append(f"filter kept {got} rows, planted {drop['rows_after_filter']}")
        if res["urls"] != len(gen.GDELT_FILES):
            bad.append(f"manifest kept {res['urls']} urls, want {len(gen.GDELT_FILES)}")
        ids = [r["GlobalEventID"] for r in res["sample"]]
        if len(ids) != SAMPLE_N or len(set(ids)) != SAMPLE_N:
            bad.append(f"sample returned {len(ids)} rows ({len(set(ids))} distinct)")
        rows = {s["stage"]: s["rows"] for s in res["chain"]}
        if rows.get("dedup_exact") != corp["rows"] - corp["exact"]:
            bad.append(f"exact dedup kept {rows.get('dedup_exact')} docs, planted "
                       f"{corp['rows'] - corp['exact']} distinct texts")
        removed = rows.get("dedup_exact", 0) - rows.get("dedup_near", 0)
        res["near_dup_recall"] = removed / corp["near"]
        if not NEAR_RECALL_FLOOR * corp["near"] <= removed <= corp["near"]:
            bad.append(f"near dedup removed {removed} docs of {corp['near']} planted")
        if rows.get("export") != rows.get("dedup_near"):
            bad.append(f"export wrote {rows.get('export')} rows of {rows.get('dedup_near')}")
        return bad

    def layers(self, ctx: Ctx, res: dict, tag: str) -> None:
        by = {(s.layer, s.name): s for s in ctx.tracer.spans if s.request == tag}
        for name in ("manifest", "download_extract", "convert", "filter"):
            ctx.add(f"sources.{name}_s", by[("sources", name)].dur)
        ctx.add("sampling.sample_s", by[("sampling", "sample")].dur)
        size = files = 0
        for d in res["out"]:
            b, f = _dir_stats(d)
            size += b
            files += f
        ctx.add("sources.written_mb", size / 1e6)
        ctx.add("sources.files_written", files)
        for rep in res["chain"]:
            ctx.add(f"pipeline.{rep['stage']}_s", by[("pipeline", rep["stage"])].dur)
            ctx.add(f"pipeline.{rep['stage']}_rows_out", rep["rows"])
        near = by[("pipeline", "dedup_near")]
        ctx.add("dedup.near_candidates_per_verified", _candidates_per_verified(ctx, near))


def _candidates_per_verified(ctx: Ctx, span: Span) -> float:
    """Candidate pairs (rows out of the pair de-duplication aggregate that
    follows the LSH band self-join) per verified pair (rows out of the
    operator that applies the Jaccard threshold), from the SQL operator
    metrics of the stage's jobs."""
    jobs = {sp.counts["job"] for sp in ctx.tracer.spans
            if sp.layer == "spark.job" and sp.parent == span.span_id}
    cand = verified = 0.0
    for n in ctx.status.sql_nodes(jobs):
        rows = n["metrics"].get("number of output rows", 0)
        if n["name"] == "HashAggregate" and "id_a" in n["desc"] and "id_b" in n["desc"] \
                and "functions=[]" in n["desc"]:
            cand = max(cand, rows)
        if "array_intersect" in n["desc"] and ">=" in n["desc"]:  # the Jaccard test
            verified = max(verified, rows)
    return cand / verified if verified else 0.0


# --------------------------------------------------------------- ann_index
#: Clustered 64-d vectors: the base the index is built over, the deltas
#: appended in file drops, and the query vectors; the search requests per
#: round and the recall@K every round must reach against numpy's exact top-K.
ANN_BASE, ANN_DELTAS, ANN_DROPS, ANN_QUERIES, ANN_CLUSTERS = 3_000, 300, 1, 20, 32
SEARCHES, K, RECALL_FLOOR = 1, 10, 0.9
#: Index shape: IVF cells, PQ sub-spaces, codes per sub-space, cells probed.
CELLS, PQ_M, PQ_CODES, NPROBE = 16, 16, 16, 4


class AnnIndex:
    """One IVF-PQ index round: build over the base vectors, ``SEARCHES``
    requests served from the index at rest, then the deltas appended as
    file-drop micro-batches through ``maintain_pq_index_stream``."""

    def prepare(self, ctx: Ctx) -> None:
        nb, nd, nq = ANN_BASE, ANN_DELTAS, ANN_QUERIES
        x = gen.clustered_vectors(nb + nd + nq, 64, ANN_CLUSTERS, ctx.seed)
        base_dir = gen.fresh_dir(os.path.join(ctx.work, "in_ann"))
        ids = np.arange(nb + nd)
        self.base = os.path.join(base_dir, "base")
        gen.write_vectors(self.base, ids[:nb], x[:nb])
        self.deltas = os.path.join(base_dir, "deltas")
        for b, chunk in enumerate(np.array_split(np.arange(nb, nb + nd), ANN_DROPS)):
            gen.write_vectors(os.path.join(self.deltas, f"b{b}"), chunk, x[chunk],
                              {"ingest_day": ["d1"] * len(chunk)})
        q = x[nb + nd:]
        self.queries = os.path.join(base_dir, "queries")
        gen.write_vectors(self.queries, np.arange(nq), q)
        # searches run before the append: the exact answer is over the base
        self.truth = np.argsort(-(q @ x[:nb].T), axis=1, kind="stable")[:, :K]

    def op(self, ctx: Ctx, tag: str) -> dict:
        from pyspark.sql import functions as F

        from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
            assign_cells, fit_ivf_centroids)
        from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
            fit_pq_codebooks, ivf_pq_search_index, pq_encode, write_pq_index)
        from gdelt_2_0_event_database_pipeline_spark.streaming.ann import (
            maintain_pq_index_stream)

        spark = ctx.spark
        out = gen.fresh_dir(os.path.join(ctx.work, f"out_{tag}"))
        idx = os.path.join(out, "index")
        res: dict = {}
        with ctx.tracer.span("request", "index_round", tag):
            t0 = time.perf_counter()
            base = spark.read.parquet(self.base)

            def _fit():
                return (fit_ivf_centroids(base, k=CELLS, iters=5),
                        fit_pq_codebooks(base, m=PQ_M, ncodes=PQ_CODES, iters=5))

            cents, books = ctx.call("operators.ann", "fit", _fit, tag)

            def _encode_write():
                codes = (pq_encode(base, books)
                         .join(assign_cells(base, cents).select("vec_id", "cell"), "vec_id")
                         .withColumn("ingest_day", F.lit("d0")))
                write_pq_index(codes, books, idx, partition_col="ingest_day",
                               centroids=cents)

            ctx.call("operators.ann", "encode_write", _encode_write, tag)
            res["build_s"] = time.perf_counter() - t0
            queries = spark.read.parquet(self.queries)
            res["search_s"], res["hits"] = [], []
            for i in range(SEARCHES):
                s = time.perf_counter()
                hits = ctx.call("operators.ann", "search", lambda: ivf_pq_search_index(
                    spark, idx, queries, corpus=base, k=K, nprobe=NPROBE).collect(),
                    f"{tag}/s{i}")
                res["search_s"].append(time.perf_counter() - s)
                res["hits"].append(hits)
            files_before = _dir_stats(idx)[1]
            t1 = time.perf_counter()
            first = spark.read.parquet(os.path.join(self.deltas, "b0"))
            stream = (spark.readStream.schema(first.schema)
                      .option("maxFilesPerTrigger", 1)
                      .parquet(os.path.join(self.deltas, "*")))

            def _append():
                q = maintain_pq_index_stream(stream, idx, os.path.join(out, "ckpt"))
                ctx.adopt_group(str(q.runId))  # the micro-batches run under it
                try:
                    q.awaitTermination(120)
                    if q.exception() is not None:
                        raise RuntimeError(str(q.exception()))
                    return q.recentProgress
                finally:
                    q.stop()

            res["progress"] = ctx.call("streaming", "append", _append, tag)
            res["append_s"] = time.perf_counter() - t1
        res["files_added"] = _dir_stats(idx)[1] - files_before
        res["index_bytes"] = _dir_stats(idx)[0]
        res["index"] = idx
        return res

    def check(self, ctx: Ctx, res: dict) -> list[str]:
        """What the round's output gets wrong against numpy and the planted
        deltas; sets ``res["recall"]`` (the worst search of the round)."""
        from gdelt_2_0_event_database_pipeline_spark.operators.pq import read_pq_index

        res["recall"] = min(_recall(h, self.truth, K) for h in res["hits"])
        rows_in = sum(p["numInputRows"] for p in res["progress"])
        indexed = read_pq_index(ctx.spark, res["index"])[0].count()
        bad = []
        if res["recall"] < RECALL_FLOOR:
            bad.append(f"recall@{K} {res['recall']:.3f} < floor {RECALL_FLOOR}")
        if rows_in != ANN_DELTAS:
            bad.append(f"stream drained {rows_in} rows of {ANN_DELTAS}")
        if indexed != ANN_BASE + ANN_DELTAS:
            bad.append(f"index holds {indexed} vectors, want {ANN_BASE + ANN_DELTAS}")
        return bad

    def layers(self, ctx: Ctx, res: dict, tag: str) -> None:
        spans = [s for s in ctx.tracer.spans
                 if s.request == tag or s.request.startswith(tag + "/")]
        for s in spans:
            if s.layer == "operators.ann" and s.name in ("fit", "encode_write"):
                ctx.add(f"ann.{s.name}_s", s.dur)
        raw_bytes = (ANN_BASE + ANN_DELTAS) * 64 * 4
        ctx.add("ann.index_bytes_per_vector_byte", res["index_bytes"] / raw_bytes)
        probed = 0.0
        search_spans = [s for s in spans if s.name == "search"]
        for sp in search_spans:
            jobs = {j.counts["job"] for j in ctx.tracer.spans
                    if j.layer == "spark.job" and j.parent == sp.span_id}
            for n in ctx.status.sql_nodes(jobs):
                if "Join" in n["name"] and "cell" in n["desc"]:
                    probed += n["metrics"].get("number of output rows", 0)
        results = len(search_spans) * ANN_QUERIES * K
        ctx.add("ann.search_probed_rows_per_result", probed / results if results else 0.0)
        prog = [p for p in res["progress"] if p["numInputRows"] > 0]
        ctx.add("streaming.batches", len(prog))
        for key, metric in (("triggerExecution", "trigger"), ("addBatch", "add_batch"),
                            ("walCommit", "wal_commit"), ("queryPlanning", "query_planning")):
            vals = [p["durationMs"].get(key, 0) for p in prog]
            ctx.add(f"streaming.{metric}_p50_ms", float(np.median(vals)) if vals else 0.0)
        ctx.add("streaming.index_files_added_per_batch",
                res["files_added"] / len(prog) if prog else 0.0)


def _recall(hits, truth: np.ndarray, k: int) -> float:
    """Mean over queries of |returned ∩ exact top-k| / k."""
    got: dict[int, set[int]] = {}
    for r in hits:
        got.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
    return float(np.mean([len(got.get(i, set()) & set(truth[i].tolist())) / k
                          for i in range(len(truth))]))


# ------------------------------------------------------------------- batch
class Batch:
    """One operation = one GDELT drop and corpus through ``LakeBatch``,
    then one index round through ``AnnIndex``: the write-heavy batch work
    of the ETL operator and the index owner, in a fresh process. No
    warm-up: each of these jobs runs in its own process, so a user pays
    the first-touch costs every time and the operation keeps them. (A
    warm-up round would cost about twice a warm round, 60 s and 30 s on a
    4-vCPU VM, and more than double a run's length.)"""

    warm_ops = False

    def __init__(self):
        self.lake = LakeBatch()
        self.ann = AnnIndex()
        self.rounds: list[tuple[dict, dict]] = []  # (drop, index round), unchecked
        self._n = 0  # round tags, unique across loops of one process

    def prepare(self, ctx: Ctx) -> None:
        self.lake.prepare(ctx)
        self.ann.prepare(ctx)

    def _round(self, ctx: Ctx) -> tuple[dict, dict]:
        n = self._n
        self._n += 1
        with ctx.tracer.span("request", "batch", f"batch{n}"):
            return self.lake.op(ctx, f"drop{n}"), self.ann.op(ctx, f"round{n}")

    def warmup(self, ctx: Ctx) -> None:
        pass

    def loop(self, ctx: Ctx) -> None:
        def one_round():
            s = time.perf_counter()
            try:
                etl, res = self._round(ctx)
                ctx.latencies.append(time.perf_counter() - s)
                self.rounds.append((etl, res))
                if ctx.traced:
                    ctx.collect_jobs()
                    self.lake.layers(ctx, etl, f"drop{self._n - 1}")
                    self.ann.layers(ctx, res, f"round{self._n - 1}")
                ctx.ops.append(f"batch{self._n - 1}")
            except Exception as e:
                ctx.record("error", f"batch{self._n - 1}: {type(e).__name__}: {e}"[:300])

        _timed_loop(ctx, one_round)

    def check(self, ctx: Ctx) -> None:
        checked = []
        for etl, res in self.rounds:
            try:
                bad = self.lake.check(ctx, etl) + self.ann.check(ctx, res)
                checked.append((etl, res))
            except Exception as e:
                bad = [f"check raised {type(e).__name__}: {e}"[:300]]
            ctx.record("wrong" if bad else "ok", "; ".join(bad))
        if not checked:
            return
        etl = [e for e, _ in checked]
        ann = [r for _, r in checked]
        ctx.summary.update({
            "gdelt_rows_per_s": GDELT_ROWS / np.median([e["etl_s"] for e in etl]),
            "corpus_rows_per_s": DOCS / np.median([e["chain_s"] for e in etl]),
            "near_dup_recall": min(e["near_dup_recall"] for e in etl),
            "build_vectors_per_s": ANN_BASE / np.median([r["build_s"] for r in ann]),
            "search_p50_s": float(np.median([s for r in ann for s in r["search_s"]])),
            "recall_at_10": min(r["recall"] for r in ann),
            "append_rows_per_s": ANN_DELTAS / np.median([r["append_s"] for r in ann]),
        })
