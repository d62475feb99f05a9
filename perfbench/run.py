"""Engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 8 --trace 0

Run from the repository root. ``perfbench/workloads.json`` describes
the workloads and holds the frozen registry query list; their sizes are
constants in ``perfbench/workloads.py``. A run measures whole passes of its
operations until ``--seconds`` have passed (at least one pass). It prints
a summary line (each workload's own figures, ``failed_share`` and every
problem found), then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (which also
writes the spans and operator rows to ``.perfbench_cache/trace-*.jsonl``).
Inputs come from ``--seed``; the registry tables are generated once
(fixed seed) and cached under ``.perfbench_cache/`` with the DuckDB oracle
results. Scratch files stay inside the checkout and are removed on exit.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "gdelt_2_0_event_database_pipeline_spark"


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _jvm_pid(spark) -> int:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() != "java":
            raise RuntimeError(f"gateway pid {pid} is not the JVM")
    return pid


def _stop(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it (it exits
    when its stdin closes), so no process outlives the run."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _registry_data(cache: str, sf: float) -> tuple[str, str]:
    """The fixed-seed registry tables, generated on first use. Returns
    (directory, fingerprint); the fingerprint keys the oracle cache."""
    from perfbench import gen

    data = os.path.join(cache, f"data-sf{sf}")
    if not os.path.exists(os.path.join(data, "DONE")):
        tmp = f"{data}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        rows = gen.registry_tables(tmp, sf=sf)
        with open(os.path.join(tmp, "DONE"), "w") as f:
            json.dump(rows, f)
        shutil.rmtree(data, ignore_errors=True)
        os.replace(tmp, data)
    with open(os.path.join(data, "DONE")) as f:
        return data, f"sf{sf}:" + f.read()


def build_workload(name: str, cfg: dict, cache: str):
    from perfbench import workloads as W

    if name == "registry":
        data, fp = _registry_data(cache, W.REGISTRY_SF)
        return W.Registry(cfg["queries"], data, cache, fp)
    return W.Batch()


def _reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so input
    generation does not count in ``peak_rss_mb``."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def end_to_end(ctx, setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(ctx.latencies), "unit": "s"},
        "ops_per_s": {"value": len(ctx.latencies) / ctx.loop_wall, "unit": "1/s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def per_layer(ctx, extra: dict) -> dict:
    from perfbench.trace import self_times
    from perfbench.workloads import LAYER_METRICS

    spans = ctx.tracer.spans
    selfs = self_times(spans)
    kids: dict = {}
    for s in spans:
        if s.layer == "spark.job":
            kids.setdefault(s.parent, []).append(s)
    for s in spans:
        if s.layer == "plans":
            jobs = kids.get(s.span_id, [])
            ctx.add("plans.fn_s", s.dur)
            ctx.add("plans.fn_jobs", len(jobs))
            ctx.add("plans.fn_job_s", s.dur - selfs[s.span_id])
            ctx.add("plans.fn_self_s", selfs[s.span_id])
        elif s.layer == "spark" and s.name == "action":
            ctx.add("spark.action_driver_s", selfs[s.span_id])
    n = max(len(ctx.ops), 1)
    out = {}
    for name, unit in LAYER_METRICS:
        v = extra[name] if name in extra else ctx.layer_sums.get(name, 0.0) / n
        out[name] = {"value": v, "unit": unit}
    if ctx.result_rows:
        out["spark.scan_rows_per_result_row"]["value"] = (
            ctx.layer_sums.get("spark.scan_rows", 0.0) / ctx.result_rows)
    return out


def _plain_pass(wl, ctx) -> list[float]:
    """One untraced pass of ``wl`` on ``ctx``'s session: its latencies. Its
    operations are checked with the run's."""
    from perfbench.trace import Tracer
    from perfbench.workloads import Ctx

    plain = Ctx(spark=ctx.spark, seed=ctx.seed, seconds=0, tracer=Tracer(False),
                work=ctx.work)
    wl.loop(plain)
    ctx.outcomes += plain.outcomes
    ctx.problems += plain.problems
    return plain.latencies


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        configs = json.load(f)["workloads"]
    if args.workload not in configs:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cache = os.path.join(ROOT, ".perfbench_cache")
    work = os.path.join(cache, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # Python, the JVM's children and tempfile users
    sys.path.insert(0, ROOT)
    try:
        return _run(args, configs[args.workload], cache, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cfg: dict, cache: str, work: str, tmp: str) -> int:
    import pyspark  # noqa: F401  (import cost belongs to setup)

    from perfbench.stats import failed_share, latency_summary
    from perfbench.trace import SparkStatus, StatusReadError, Tracer
    from perfbench.workloads import Ctx
    from gdelt_2_0_event_database_pipeline_spark.session import get_spark

    import_s = time.perf_counter() - T_START

    wl = build_workload(args.workload, cfg, cache)  # input generation: not setup
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(spark=None, seed=args.seed, seconds=args.seconds, tracer=tracer,
              work=os.path.join(work, "w"))
    wl.prepare(ctx)
    _reset_peak_rss()

    cpus = len(os.sched_getaffinity(0))
    t1 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            # bench.py's harness conf, kept so numbers stay comparable
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            # a fixed heap cap: peak RSS then tracks the program, not how far
            # the collector lets an 8 GB heap grow (which varied ±25 % run to run)
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    if tracer.enabled:
        ctx.status = SparkStatus(spark)
    t2 = time.perf_counter()
    try:
        wl.warmup(ctx)
        t3 = time.perf_counter()
        setup_s = import_s + (t3 - t1)
        extra = {"session.start_s": t2 - t1, "session.warmup_s": t3 - t2}
        invalid = ""
        plain = []  # warm operations: untraced passes on both sides of the traced one
        if tracer.enabled and wl.warm_ops:
            plain.append(_plain_pass(wl, ctx))
        try:
            wl.loop(ctx)
        except StatusReadError as e:
            invalid = f"status store read failed: {e}"
        if plain:
            plain.append(_plain_pass(wl, ctx))
        # the program's peak, read before the checks run in this process
        rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(_jvm_pid(spark))
        if tracer.enabled and ctx.latencies:
            if plain and all(plain):
                n = min(len(ctx.latencies), *(len(p) for p in plain))
                base = sum(sum(p[:n]) for p in plain) / len(plain)
                extra["trace.overhead_share"] = (sum(ctx.latencies[:n]) - base) / base
            else:
                # a cold operation has no untraced twin in this process: take
                # the time spent in the tracing calls inside the operation
                extra["trace.overhead_share"] = ctx.instr_s / sum(ctx.latencies)
        wl.check(ctx)
    finally:
        _stop(spark)

    failed = sum(o != "ok" for o in ctx.outcomes)
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "setup_s": setup_s, "peak_rss_mb": rss,
               "failed_share": failed_share(ctx.outcomes) if ctx.outcomes else None,
               **ctx.summary, "problems": ctx.problems + ([invalid] if invalid else [])}
    if ctx.latencies:
        summary["op_latency"] = latency_summary(ctx.latencies)
    if tracer.enabled and not invalid:
        tracer.write_jsonl(os.path.join(ROOT, ".perfbench_cache",
                                        f"trace-{args.workload}-{args.seed}.jsonl"),
                           extra=ctx.node_log)
    print(json.dumps({"summary": summary}, default=float))
    if not ctx.latencies:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    metrics = per_layer(ctx, extra) if tracer.enabled else end_to_end(ctx, setup_s, rss)
    print(json.dumps({"correct": failed == 0 and not invalid,
                      "attempted": len(ctx.outcomes), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
