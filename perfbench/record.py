"""Derive the expected counters of given seeds and store them in expected.json.

Run from the repository root::

    python3 perfbench/record.py --workload diff_chain --seeds 1,2,3 --hops 2

``doc_scan``: the warm-up slice's counters and one scan's counters.
``diff_chain``: the set-up scan's counters and, for hops 1..N, the diff
finding count derived from a full rescan of the hop's snapshot filtered by
``incremental.diff_filter_findings`` (not from the probe). A probe that
disagrees with its rescan is reported and the rescan's count is recorded.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def record(workload: str, seed: int, hops: int) -> dict:
    import run as bench

    work = ROOT / ".perfbench" / f"record-{os.getpid()}-{seed}"
    (work / "tmp").mkdir(parents=True)
    tempfile.tempdir = str(work / "tmp")
    args = argparse.Namespace(workload=workload, seed=seed, seconds=0.0, trace=0)
    try:
        r = bench.Run(args, work)
        r.expect = None
        r.setup()
        try:
            if workload == "doc_scan":
                r.scan_op(1)
                return {"base": r.base, "scan": r.counters[0]}
            derived = []
            for k in range(1, hops + 1):
                if k > 1:
                    r.hop_op(k)
                out, _, _ = r.ops.scan(r.spark, r.wl, r.paths[k], str(work / "rescan.json"))
                n = r.ops.expected_diff(r.spark, r.wl, out["findings"], r.paths[k], r.paths[k - 1])
                out["metrics"].release()
                r.ops.release_all(r.spark)
                if n != r.counters[k - 1]["diff"]:
                    print(f"seed {seed} hop {k}: probe {r.counters[k - 1]['diff']}, rescan {n}",
                          file=sys.stderr)
                derived.append(n)
            return {"base": r.base, "hops": derived}
        finally:
            bench.stop_session(r.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=("doc_scan", "diff_chain"), required=True)
    p.add_argument("--seeds", required=True, help="comma-separated")
    p.add_argument("--hops", type=int, default=2)
    args = p.parse_args()
    sys.path[:0] = [str(HERE), str(ROOT / "src"), str(ROOT)]
    path = HERE / "expected.json"
    for seed in (int(s) for s in args.seeds.split(",")):
        entry = record(args.workload, seed, args.hops)
        with open(path) as fh:
            expected = json.load(fh)
        expected.setdefault(args.workload, {})[str(seed)] = entry
        with open(path, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(args.workload, seed, entry, flush=True)


if __name__ == "__main__":
    main()
