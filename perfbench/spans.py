"""Spans around the benchmark's calls into each layer, and their metrics.

A span records its layer name, start, end, parent op and op id, and the
Spark job group its jobs ran under. Spans stay in memory; after the Spark
session stops, ``layer_metrics`` joins them with the session's event log:

- ``task_s``        summed executor run time of the span's tasks;
- ``idle_s``        span time during which none of its tasks ran;
- ``jobs``, ``tasks_failed``, ``shuffle_bytes`` (bytes written);
- ``plan_s``        Catalyst analysis + optimization + planning of the
                    frames the span materialized (``tracker().phases()``);
- ``python_s``      Python-worker time of the span's UDFs, from Spark's
                    ``perf`` UDF profiler.

A layer's self time is its wall minus the part its child spans cover; layer
spans have no children, so only the enclosing op spans have self time
other than their wall.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession

LAYERS = (
    "extract", "pipeline.tokenize", "pipeline.collapse", "signatures", "lsh",
    "verify", "rollup", "cluster", "report",
    "incremental.load", "incremental.probe", "incremental.refresh",
)
PYTHON_LAYERS = ("extract", "signatures", "verify")
_PHASES = ("analysis", "optimization", "planning")
_GENERIC_UNITS = {
    "wall_s": "s", "plan_s": "s", "task_s": "s", "idle_s": "s",
    "jobs": "count", "tasks_failed": "count", "shuffle_bytes": "B",
}
GENERIC = tuple(_GENERIC_UNITS)
COUNTS = (
    ("extract.snippets", "count", "lower"),
    ("pipeline.collapse.reps", "count", "lower"),
    ("pipeline.collapse.star_edges", "count", "lower"),
    ("lsh.candidates", "count", "lower"),
    ("lsh.salted_members", "count", "lower"),
    ("lsh.dropped_members", "count", "lower"),
    ("verify.survivors", "count", "higher"),
    ("verify.survivor_ratio", "ratio", "higher"),
    ("rollup.findings", "count", "higher"),
    ("cluster.members", "count", "higher"),
    ("incremental.changed_files", "count", "lower"),
    ("incremental.chain_depth", "count", "lower"),
)
# (name, unit, better) of every metric a traced run reports
PER_LAYER = (
    [(f"{layer}.{k}", u, "lower") for layer in LAYERS for k, u in _GENERIC_UNITS.items()]
    + [(f"{layer}.python_s", "s", "lower") for layer in PYTHON_LAYERS]
    + [("runtime.session_s", "s", "lower"), ("runtime.warmup_s", "s", "lower")]
    + list(COUNTS)
    + [("trace.overhead_s", "s", "lower")]
)
# span -> the end-to-end metrics it moves: a full scan is doc_scan's op and
# part of diff_chain's set-up; a hop is diff_chain's op
_SCAN = "op_s (doc_scan), setup_s (diff_chain)"
MOVES = {
    "extract": _SCAN, "pipeline.tokenize": _SCAN, "pipeline.collapse": _SCAN,
    "signatures": _SCAN, "lsh": f"{_SCAN}, pair_recall", "verify": f"{_SCAN}, pair_recall",
    "rollup": _SCAN, "cluster": _SCAN, "report": _SCAN, "scan": _SCAN,
    "incremental.load": "op_s (diff_s)", "incremental.probe": "op_s (diff_s)",
    "incremental.refresh": "op_s (refresh_s)", "hop": "op_s (diff_chain)",
}


@dataclass
class Span:
    name: str
    span_id: str
    op: str
    op_id: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0
    plan_s: float = 0.0
    python_s: float = 0.0
    metrics: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._op: Span | None = None
        self._cur: Span | None = None

    def _group(self, group_id: str) -> None:
        self.spark.sparkContext.setJobGroup(group_id, group_id)

    @contextmanager
    def op(self, name: str, op_id: str):
        s = Span(name, op_id, name, op_id, None, time.time())
        self.spans.append(s)
        self._op = s
        self._group(f"{op_id}/self")
        try:
            yield s
        finally:
            s.end = time.time()
            self._op = None

    @contextmanager
    def span(self, name: str):
        op = self._op
        s = Span(name, f"{op.op_id}/{name}", op.name, op.op_id, op.span_id, time.time())
        self.spans.append(s)
        self._cur = s
        self._group(s.span_id)
        self.spark.profile.clear(type="perf")
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            yield s
        finally:
            s.end = time.time()
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            results = self.spark.profile.profiler_collector._perf_profile_results  # noqa: SLF001
            s.python_s = sum(st.total_tt for st in results.values() if st is not None)
            self._cur = None
            self._group(f"{op.op_id}/self")

    def _record_plan(self, jdf) -> None:
        it = jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in _PHASES:
                self._cur.plan_s += kv._2().durationMs() / 1000.0

    def mat(self, df: DataFrame) -> DataFrame:
        """Materialize ``df`` (eager local checkpoint) inside the span."""
        out = df.localCheckpoint(eager=True)
        self._record_plan(df._jdf)  # noqa: SLF001
        return out

    def count(self, df: DataFrame) -> int:
        agg = df.groupBy().count()
        n = agg.collect()[0][0]
        self._record_plan(agg._jdf)  # noqa: SLF001
        return n


def _event_log_tasks(path: str) -> dict[str, dict]:
    """job group -> {jobs, tasks_failed, task_s, shuffle_bytes, intervals}."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(g: str) -> dict:
        return out.setdefault(
            g, {"jobs": 0, "tasks_failed": 0, "task_s": 0.0, "shuffle_bytes": 0, "iv": []}
        )

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                bucket(g)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                b = bucket(stage_group.get(ev["Stage ID"], ""))
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    b["tasks_failed"] += 1
                b["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                b["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                if info.get("Launch Time") and info.get("Finish Time"):
                    b["iv"].append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if a >= b:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(spans: list[Span], event_log: str) -> dict[str, float]:
    """Per-layer generic metrics summed over each layer's spans; fills each
    span's own ``metrics`` too. Layers never called report zeros."""
    groups = _event_log_tasks(event_log)
    out = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in GENERIC}
    out.update({f"{layer}.python_s": 0.0 for layer in PYTHON_LAYERS})
    for s in spans:
        g = groups.get(s.span_id, {"jobs": 0, "tasks_failed": 0, "task_s": 0.0,
                                   "shuffle_bytes": 0, "iv": []})
        wall = s.end - s.start
        s.metrics = {
            "wall_s": wall,
            "plan_s": s.plan_s,
            "task_s": g["task_s"],
            "idle_s": wall - _covered(g["iv"], s.start, s.end),
            "jobs": g["jobs"],
            "tasks_failed": g["tasks_failed"],
            "shuffle_bytes": g["shuffle_bytes"],
            "python_s": s.python_s,
        }
        if s.parent is None:
            continue
        for k in GENERIC:
            out[f"{s.name}.{k}"] += s.metrics[k]
        if s.name in PYTHON_LAYERS:
            out[f"{s.name}.python_s"] += s.python_s
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """span id -> wall minus the part of it its child spans cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start) - _covered(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def write_spans(path: str, spans: list[Span], extra: dict) -> None:
    selfs = self_times(spans)
    doc = {
        "spans": [dict(asdict(s), self_s=selfs[s.span_id]) for s in spans],
        **extra,
    }
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)


def table(spans: list[Span]) -> str:
    """One line per span: wall, self time, and where the wall went."""
    selfs = self_times(spans)
    head = f"{'span':24s} {'wall':>7s} {'self':>7s} {'plan':>7s} {'task':>7s} {'idle':>7s} {'python':>7s}  moves"
    lines = [head]
    for s in spans:
        m = s.metrics
        name = s.name if s.parent is None else f"  {s.name}"
        lines.append(
            f"{name:24s} {m['wall_s']:7.2f} {selfs[s.span_id]:7.2f} {m['plan_s']:7.2f} "
            f"{m['task_s']:7.2f} {m['idle_s']:7.2f} {m['python_s']:7.2f}  {MOVES.get(s.name, '')}"
        )
    return "\n".join(lines)
