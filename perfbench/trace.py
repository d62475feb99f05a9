"""Spans and Spark status-store readers for the traced run.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the package's public functions, and Spark's
work is read back from its status stores (``statusTracker``, the
``AppStatusStore`` behind it, ``SQLAppStatusStore``) by job group. No
reader turns a failed read into zeros: a failure raises
``StatusReadError`` and the run is reported as not correct.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


class StatusReadError(RuntimeError):
    """A Spark status store could not be read; the run's numbers are invalid."""


# ------------------------------------------------------------------- spans
@dataclass
class Span:
    span_id: int
    parent: int | None
    request: str
    layer: str
    name: str
    start: float  # epoch seconds (comparable with Spark's job timestamps)
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span()`` nests by call order; spans of
    one request share its id. ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # epoch = perf_counter + offset: one fixed mapping, so span lengths
        # keep perf_counter resolution while staying comparable to epochs
        self._offset = time.time() - time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() + self._offset

    @contextmanager
    def span(self, layer: str, name: str, request: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.span_id if parent else None,
                 request or (parent.request if parent else ""), layer, name, self.now())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.now()
            self._stack.pop()

    def write_jsonl(self, path: str, extra=()) -> None:
        """One line per span (``"kind": "span"``), then the ``extra`` records."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"kind": "span", **asdict(s)}) + "\n")
            for rec in extra:
                f.write(json.dumps(rec) + "\n")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(interval, others) -> float:
    """Length of ``interval`` covered by the union of ``others``."""
    a, b = interval
    return union_length([(max(a, s), min(b, e)) for s, e in others if e > a and s < b])


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id → the span's duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.span_id: s.dur - covered((s.start, s.end), kids.get(s.span_id, []))
            for s in spans}


# ---------------------------------------------------------- Spark readers
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """A ``SQLAppStatusStore`` metric string → a number (bytes for sizes,
    seconds for timings). Multi-task values read
    ``"total (min, med, max ...)\\n12.0 KiB (...)"``: the total is the first
    figure of the second line."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        raise StatusReadError(f"unparseable SQL metric {text!r}")
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _TIME:
        return v * _TIME[unit]
    return v


#: The SQL operator metrics the benchmark reads (others are not parsed).
SQL_METRICS = ("number of output rows", "data sent to Python workers")

STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
                "executorDeserializeTime", "inputRecords", "shuffleWriteBytes",
                "shuffleReadBytes", "shuffleFetchWaitTime", "memoryBytesSpilled",
                "diskBytesSpilled")


class SparkStatus:
    """Reads jobs, stages and SQL operator metrics per job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def drain(self) -> None:
        """Wait for the listener bus, so the stores hold every finished job."""
        try:
            self._jsc.listenerBus().waitUntilEmpty(30_000)
        except Exception as e:
            raise StatusReadError(f"listener bus did not drain: {e}") from e

    def jobs(self, group: str) -> list[dict]:
        """Jobs of one job group: id, [start, end] epoch seconds, stage totals."""
        try:
            ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
            store = self._jsc.statusStore()
            out = []
            for jid in sorted(ids):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if not (sub.isDefined() and done.isDefined()):
                    raise StatusReadError(f"job {jid} of {group} has no completion time")
                stages = jd.stageIds()
                tot = dict.fromkeys(STAGE_FIELDS, 0)
                n_stages = 0
                for i in range(stages.size()):
                    attempts = store.stageData(
                        stages.apply(i), False, self._gw.jvm.java.util.ArrayList(),
                        False, self._gw.new_array(self._gw.jvm.double, 0))
                    for a in range(attempts.size()):
                        sd = attempts.apply(a)
                        if sd.status().toString() == "SKIPPED":
                            continue
                        n_stages += 1
                        for k in STAGE_FIELDS:
                            tot[k] += getattr(sd, k)()
                out.append({"job": jid, "start": sub.get().getTime() / 1e3,
                            "end": done.get().getTime() / 1e3, "stages": n_stages, **tot})
            return out
        except StatusReadError:
            raise
        except Exception as e:
            raise StatusReadError(f"job/stage read failed for {group}: {e}") from e

    def sql_nodes(self, job_ids: set[int]) -> list[dict]:
        """Operator nodes (name, description, metrics) of every SQL
        execution that ran one of ``job_ids``."""
        if not job_ids:
            return []
        try:
            sq = self.spark._jsparkSession.sharedState().statusStore()
            execs = sq.executionsList()
            out = []
            for i in range(execs.size()):
                ex = execs.apply(i)
                ejobs = ex.jobs().keySet()
                if not any(ejobs.contains(j) for j in job_ids):
                    continue
                vals = sq.executionMetrics(ex.executionId())
                nodes = sq.planGraph(ex.executionId()).allNodes()
                for n in range(nodes.size()):
                    node = nodes.apply(n)
                    ms, metrics = node.metrics(), {}
                    for k in range(ms.size()):
                        m = ms.apply(k)
                        if m.name() not in SQL_METRICS:
                            continue
                        v = vals.get(m.accumulatorId())
                        if v.isDefined():
                            metrics[m.name()] = parse_sql_metric(v.get())
                    out.append({"execution": ex.executionId(), "name": node.name(),
                                "desc": node.desc()[:300], "metrics": metrics})
            return out
        except StatusReadError:
            raise
        except Exception as e:
            raise StatusReadError(f"SQL status read failed: {e}") from e
