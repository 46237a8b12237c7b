"""sparkclone benchmark: one client, one op at a time, on a seeded corpus.

Run from the repository root::

    python3 perfbench/run.py --workload doc_scan --seed 1 --seconds 5 --trace 0

Workloads (closed loop: the next op starts when the previous one ends):

- ``doc_scan``   full scans of a seeded document corpus. Set-up starts the
                 Spark session and runs the same scan once as the warm-up op.
- ``diff_chain`` CI hops on a seeded code corpus. Set-up starts the session
                 and runs a checkpointed full scan of snapshot 0 (the
                 artifact base and the warm-up op), then hop 1, which warms
                 the probe's own plans. Hop k edits ~1% of the files,
                 deletes two, adds one exact copy of a family file, then
                 loads snapshot k-1's artifacts, probes snapshot k,
                 materializes the diff findings and commits snapshot k's
                 artifacts as a delta. Hop 5 is the first compaction.

Measured ops (hops from 2) run until ``--seconds`` have passed, at least one. ``--trace 1`` runs
the first measured op plainly, then again as layer calls with one span each
(for a hop, plus a traced full scan of the new snapshot), and reports
per-layer metrics instead of end-to-end ones; spans and metrics are written
to ``.perfbench/spans-<workload>-seed<seed>.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent
WORKLOADS = ("doc_scan", "diff_chain")
# Leaves most of a 15 GB host to the Python workers; the largest op here
# peaks well below it.
DRIVER_MEMORY = "3g"
WARM_UP_ROWS = 40

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "peak_rss_mb": "MB",
    "pair_recall": "ratio",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: Path, trace: bool):
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -Djava.io.tmpdir={work / 'tmp'}",
        )
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
    )
    if trace:
        (work / "events").mkdir()
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{work / 'events'}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the driver JVM."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid  # noqa: SLF001
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM (and with it every Python
    worker it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001


def tail(values: list[float]) -> str:
    """Sample count and the highest percentile with >= 10 samples beyond it."""
    n = len(values)
    if n < 11:
        return f"n={n}; a tail percentile needs 11 samples"
    pct = int(100 * (n - 10) / n)
    return f"n={n}, p{pct}={sorted(values)[n - 11]:.4f}"


class Run:
    """One benchmark run: set-up, measured ops, checks, result."""

    def __init__(self, args: argparse.Namespace, work: Path) -> None:
        import ops
        import oracles

        self.args, self.work, self.ops, self.oracles = args, work, ops, oracles
        self.wl = ops.make_workload(args.workload, args.seed)
        self.rng = random.Random(f"{args.seed}/hops")
        self.rows = [self.wl.rows]
        self.paths = [str(work / "v0.parquet")]
        self.wl.write(self.wl.rows, self.paths[0])
        self.truth = [sorted(p) for p in self.wl.truth_pairs(self.wl.rows)]
        with open(HERE / "expected.json") as fh:
            self.expect = json.load(fh).get(args.workload, {}).get(str(args.seed))
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("op_s", "diff_s", "refresh_s", "pair_recall")
        }
        self.counters: list[dict] = []
        self.problems: list[str] = []
        self.attempted = self.failed = 0

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
            print(f"check failed: {what}", file=sys.stderr)
        return ok

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.args.trace == 1)
        self.session_s = time.perf_counter() - t0
        if self.wl.op == "hop":
            out, counters, members = self.ops.scan(
                self.spark, self.wl, self.paths[0], str(self.work / "report-0.json"),
                checkpoint_dir=str(self.work / "ck"),
            )
            self.keys = [f"{self.work}/ck/{out['metrics'].config_hash}"]
            self.base = dict(counters, pair_recall=self.oracles.recall(self.truth, members))
            out["metrics"].release()
            self.ops.release_all(self.spark)
            self.check(self.base["pair_recall"] == 1.0, f"planted-family recall {self.base}")
            # hop 1 warms the probe's own plans; measured hops start at 2
            self.hop_op(1)
            self.first = 2
        else:
            # the warm-up scan reads a small slice: the cold cost is fixed
            # (JIT, generated code, Python workers), not data-sized
            warm = str(self.work / "warm-up.parquet")
            self.wl.write(self.wl.rows[:WARM_UP_ROWS], warm)
            out, self.base, _ = self.ops.scan(
                self.spark, self.wl, warm, str(self.work / "report-0.json")
            )
            out["metrics"].release()
            self.ops.release_all(self.spark)
            self.first = 1
        self.setup_s = time.perf_counter() - t0
        if self.expect:
            self.check(self.base == self.expect["base"], f"set-up counters {self.base}")

    # -- ops ---------------------------------------------------------------

    def scan_op(self, k: int) -> None:
        ops, spark, wl = self.ops, self.spark, self.wl
        t = time.perf_counter()
        out, counters, members = ops.scan(
            spark, wl, self.paths[0], str(self.work / f"report-{k}.json")
        )
        self.samples["op_s"].append(time.perf_counter() - t)
        truth = set(map(tuple, self.truth))
        wrong = [p for p in ops.file_pairs(out["findings"]) if p not in truth]
        out["metrics"].release()
        ops.release_all(spark)
        recall = self.oracles.recall(self.truth, members)
        self.samples["pair_recall"].append(recall)
        counters = dict(counters, pair_recall=recall)
        self.counters.append(counters)
        recorded = (self.expect or {}).get("scan")
        ok = self.check(not wrong, f"scan {k}: {len(wrong)} findings below the Jaccard bar, e.g. {wrong[:3]}")
        ok &= self.check(counters["findings"] > 0, f"scan {k}: no findings")
        ok &= self.check(
            counters == self.counters[0] and recorded in (None, counters),
            f"scan {k}: counters {counters}, first scan {self.counters[0]}, recorded {recorded}",
        )
        self.failed += not ok

    def next_snapshot(self, k: int) -> None:
        rows = self.wl.next_rows(self.rows[-1], k, self.rng)
        path = str(self.work / f"v{k}.parquet")
        self.wl.write(rows, path)
        self.rows.append(rows)
        self.paths.append(path)
        self.keys.append(f"{self.work}/ck/hop{k}")

    def changed_paths(self, k: int) -> set[str]:
        """Files of snapshot k that are new or whose content changed."""
        old = {f"{r.repo}/{r.path}": r.content for r in self.rows[k - 1]}
        return {
            f"{r.repo}/{r.path}" for r in self.rows[k]
            if old.get(f"{r.repo}/{r.path}") != r.content
        }

    def hop_checks(self, k: int, n_diff: int, pairs: list) -> bool:
        """Every diff finding touches a changed file; the added copy is
        found; the count matches the recorded full-rescan count."""
        changed = self.changed_paths(k)
        copy = next(p for p in changed if p.endswith(f"pkg/hop_{k}_copy.py"))
        stray = [p for p in pairs if not (set(p) & changed)]
        recorded = (self.expect or {}).get("hops", [])
        want = recorded[k - 1] if k <= len(recorded) else None
        ok = self.check(not stray, f"hop {k}: findings touch no changed file: {stray[:3]}")
        ok &= self.check(any(copy in p for p in pairs), f"hop {k}: copy {copy} not found")
        ok &= self.check(
            want is None or n_diff == want, f"hop {k}: {n_diff} diff findings, recorded {want}"
        )
        return ok

    def hop_op(self, k: int) -> None:
        ops, spark, wl = self.ops, self.spark, self.wl
        self.next_snapshot(k)
        key, new_key = self.keys[k - 1], self.keys[k]
        t = time.perf_counter()
        probe, n_diff = ops.hop_diff(spark, wl, key, self.paths[k], self.paths[k - 1])
        diff_s = time.perf_counter() - t
        ops.persist_probe_artifacts(probe, new_key, spark=spark, base_key_dir=key)
        op_s = time.perf_counter() - t
        if k > 1:
            self.samples["op_s"].append(op_s)
            self.samples["diff_s"].append(diff_s)
            self.samples["refresh_s"].append(op_s - diff_s)
        pairs = ops.file_pairs(probe["diff_findings"])
        probe["release"]()
        ops.release_all(spark)
        reread = ops.load_probe_stages(spark, new_key, ["snippets", "signatures"])
        ops.release_all(spark)
        self.counters.append({"diff": n_diff, "depth": ops.chain_depth(new_key)})
        ok = self.hop_checks(k, n_diff, pairs)
        ok &= self.check(reread is not None, f"hop {k}: refreshed artifacts unreadable")
        self.failed += not ok

    def measure(self) -> None:
        deadline = time.perf_counter() + self.args.seconds
        k = self.first - 1
        while k < self.first or time.perf_counter() < deadline:
            k += 1
            self.attempted += 1
            try:
                (self.scan_op if self.wl.op == "scan" else self.hop_op)(k)
            except Exception:  # noqa: BLE001 — an op that raises is a failed op
                traceback.print_exc()
                self.failed += 1
                self.problems.append(f"op {k} raised")
                return

    # -- results -----------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        recall = self.samples["pair_recall"] or [self.base["pair_recall"]]
        return {
            "setup_s": self.setup_s,
            "op_s": statistics.median(self.samples["op_s"]),
            "peak_rss_mb": self.peak_rss_mb,
            "pair_recall": statistics.median(recall),
        }

    def summary(self, metrics: dict[str, float]) -> None:
        rate = self.failed / self.attempted
        print(
            f"{self.args.workload} seed {self.args.seed}: attempted {self.attempted}, "
            f"failed {self.failed}, error_rate {rate:.4f} ratio"
        )
        named = {"op_s": "scan_s" if self.wl.op == "scan" else "diff_s + refresh_s"}
        for name, unit in END_TO_END.items():
            print(f"  {name:12s} median {metrics[name]:.4f} {unit}  {named.get(name, '')}")
        for name in ("diff_s", "refresh_s"):
            if self.samples[name]:
                med = statistics.median(self.samples[name])
                print(f"  {name:12s} median {med:.4f} s")
        print(f"  op_s samples: {tail(self.samples['op_s'])}")
        print(f"  counters: set-up {self.base}, ops {self.counters}")


def traced_op(run: Run) -> dict:
    """The first measured op again as layer calls, on the same inputs (a hop
    commits under a fresh key). Its counters must equal the plain op's; for
    a hop, a traced full scan of the new snapshot also gives the
    full-rescan diff count. Returns the per-layer counts; the spans stay on
    ``run.tracer``."""
    import spans

    ops, spark, wl = run.ops, run.spark, run.wl
    tr = run.tracer = spans.Tracer(spark)
    hop = wl.op == "hop"
    k = run.first
    before = len(run.problems)
    counts: dict = {}
    if hop:
        new, old = run.paths[k], run.paths[k - 1]
        with tr.op("hop", f"hop-{k}") as s:
            n_diff, counts = ops.traced_hop(
                tr, spark, wl, run.keys[k - 1], f"{run.keys[k]}-traced", new, old
            )
        traced = s.end - s.start
        ops.release_all(spark)
        plain = run.counters[-1]["diff"]
        run.check(n_diff == plain, f"traced hop: {n_diff} diff findings, plain hop {plain}")
    with tr.op("scan", f"scan-{k}") as s:
        counters, _, findings, scan_counts = ops.traced_scan(
            tr, spark, wl, run.paths[k if hop else 0], str(run.work / "report-traced.json")
        )
    counts.update(scan_counts)
    if hop:
        rescan = ops.expected_diff(spark, wl, findings, new, old)
        run.check(rescan == plain, f"hop {k}: {plain} diff findings, full rescan gives {rescan}")
    else:
        traced = s.end - s.start
        plain = {c: run.counters[-1][c] for c in ("findings", "clusters")}
        run.check(counters == plain, f"traced scan counters {counters}, plain scan {plain}")
    ops.release_all(spark)
    run.attempted += 1
    run.failed += len(run.problems) > before
    counts["trace.overhead_s"] = traced - run.samples["op_s"][0]
    return counts


def per_layer(run: Run, counts: dict) -> dict[str, float]:
    import spans

    logs = list((run.work / "events").iterdir())
    # layers a workload never calls report zero
    metrics = {name: 0 for name, _, _ in spans.PER_LAYER}
    metrics.update(spans.layer_metrics(run.tracer.spans, str(logs[0])))
    metrics.update(counts)
    metrics["runtime.session_s"] = run.session_s
    metrics["runtime.warmup_s"] = run.setup_s - run.session_s
    spans.write_spans(
        str(ROOT / ".perfbench" / f"spans-{run.args.workload}-seed{run.args.seed}.json"),
        run.tracer.spans,
        {"metrics": metrics, "plain_op_s": run.samples["op_s"][0]},
    )
    print(spans.table(run.tracer.spans))
    return metrics


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(HERE), str(ROOT / "src"), str(ROOT)]
    # the program's own sources must be present: fail here, before any
    # state is created, when they are not
    import ops  # noqa: F401
    import spans

    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    try:
        run = Run(args, work)
        run.setup()
        try:
            if args.trace:
                run.attempted += 1
                (run.scan_op if run.wl.op == "scan" else run.hop_op)(run.first)
                counts = traced_op(run)
            else:
                run.measure()
                run.peak_rss_mb = peak_rss_mb()
        finally:
            stop_session(run.spark)
        if args.trace:
            metrics = per_layer(run, counts)
            units = {name: unit for name, unit, _ in spans.PER_LAYER}
        else:
            metrics = run.end_to_end()
            units = END_TO_END
            run.summary(metrics)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": not run.problems and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
