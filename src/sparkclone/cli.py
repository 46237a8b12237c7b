"""spark-submit CLI: ``scan`` and ``diff`` (the ``clonehunter scan/diff``
analogues, cli/main.py:50-183).

Configuration layering matches the reference (cli/commands/scan.py:106-185):

    defaults < pyproject [tool.sparkclone] (nearest to the corpus path, or
    --config-root) < CLI flags

with repotype glob presets merged first and explicit CLI globs merged
CLI-wins on top (scan.py:188-226). The corpus is the Iceberg-shaped table
(input_hint), not filesystem paths.

Usage:
    spark-submit --py-files sparkclone.zip src/sparkclone/cli.py scan \
        --corpus /data/corpus.parquet --repotype python --format json
    spark-submit ... cli.py diff --corpus new.parquet --base-corpus old.parquet

Engine selection: ``--engine sonarqube`` (or TOML ``engine``) switches to
the SonarQube report importer (S4) — set --sonar-report or
SPARKCLONE_SONAR_REPORT.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from pathlib import Path


def _add_common_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--corpus", required=True, help="corpus parquet/Iceberg path")
    p.add_argument("--out", default=None, help="report output path (default findings.<fmt>)")
    p.add_argument("--format", choices=["json", "html", "sarif"], default="json")
    p.add_argument("--engine", default=None,
                   help="scan engine (registry-validated; built-ins: semantic, sonarqube)")
    p.add_argument("--sonar-report", default=None, help="SonarQube duplications JSON")
    p.add_argument("--config-root", default=None, help="directory whose pyproject.toml configures the scan")
    p.add_argument("--repotype", action="append", default=None, help="glob preset (repeatable; default monorepo)")
    p.add_argument("--include", action="append", default=[], help="include glob (repeatable, wins over config)")
    p.add_argument("--exclude", action="append", default=[], help="exclude glob (repeatable, wins over config)")
    p.add_argument("--window-lines", type=int, default=None)
    p.add_argument("--stride-lines", type=int, default=None)
    p.add_argument("--min-nonempty", type=int, default=None)
    p.add_argument("--func-threshold", type=float, default=None)
    p.add_argument("--win-threshold", type=float, default=None)
    p.add_argument("--exp-threshold", type=float, default=None)
    p.add_argument("--min-window-hits", type=int, default=None)
    p.add_argument("--lexical-min-ratio", type=float, default=None)
    p.add_argument("--expand-calls", action="store_true", help="enable EXP call-expansion snippets")
    p.add_argument("--expand-depth", type=int, default=None)
    p.add_argument("--expand-max-chars", type=int, default=None)
    p.add_argument("--cluster", action=argparse.BooleanOptionalAction, default=None,
                   help="apply cluster min-size filtering to reported findings")
    p.add_argument("--cluster-min-size", type=int, default=None)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--output-tables", default=None, help="directory for findings/clusters parquet")
    p.add_argument("--top-n", type=int, default=1000, help="findings in the report")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="sparkclone", description="PySpark near-duplicate code scanner")
    sub = p.add_subparsers(dest="command")
    scan = sub.add_parser("scan", help="full corpus scan")
    _add_common_args(scan)
    diff = sub.add_parser("diff", help="scan + keep findings touching files changed vs a base snapshot")
    _add_common_args(diff)
    diff.add_argument("--base-corpus", required=True, help="previous corpus snapshot (parquet)")
    diff.add_argument(
        "--base-artifacts", default=None,
        help="checkpoint root of a prior scan of --base-corpus; when its "
             "snippets/signatures stages are present, diff runs the "
             "diff-proportional probe path (cost scales with the change "
             "set) instead of a full rescan + filter",
    )
    diff.add_argument(
        "--refresh-artifacts", action=argparse.BooleanOptionalAction, default=True,
        help="after a probe diff, persist the merged stages under the NEW "
             "corpus's snapshot key in the --base-artifacts root so the "
             "next diff can use this corpus as its base (rolling-base "
             "chaining; default on)",
    )
    return p


def _cli_overrides(args: argparse.Namespace) -> dict:
    """Only flags the user actually passed become overrides, so TOML
    values survive unless explicitly overridden (CLI-wins layering)."""
    ov: dict = {}
    if args.engine:
        ov["engine"] = args.engine
    windows = {
        k: v
        for k, v in (
            ("window_lines", args.window_lines),
            ("stride_lines", args.stride_lines),
            ("min_nonempty", args.min_nonempty),
        )
        if v is not None
    }
    if windows:
        ov["windows"] = windows
    thresholds = {
        k: v
        for k, v in (
            ("func", args.func_threshold),
            ("win", args.win_threshold),
            ("exp", args.exp_threshold),
            ("min_window_hits", args.min_window_hits),
            ("lexical_min_ratio", args.lexical_min_ratio),
        )
        if v is not None
    }
    if thresholds:
        ov["thresholds"] = thresholds
    # Any expansion flag implies enabled=True — the reference does the
    # same (cli/commands/scan.py:141-149: expand_depth/expand_max_chars
    # set `{"enabled": True, ...}` without requiring --expand-calls).
    if args.expand_calls or args.expand_depth is not None or args.expand_max_chars is not None:
        exp: dict = {"enabled": True}
        if args.expand_depth is not None:
            exp["depth"] = args.expand_depth
        if args.expand_max_chars is not None:
            exp["max_chars"] = args.expand_max_chars
        ov["expansion"] = exp
    if args.cluster is not None:
        ov["cluster_findings"] = args.cluster
    if args.cluster_min_size is not None:
        ov["cluster_min_size"] = args.cluster_min_size
    if args.checkpoint_dir:
        ov["checkpoint_dir"] = args.checkpoint_dir
    return ov


def _resolve_settings(args: argparse.Namespace):
    from sparkclone.config_loader import (
        effective_repotypes,
        load_settings,
        merge_globs,
        resolve_config_root,
        resolve_repotype_globs,
    )

    root = Path(args.config_root) if args.config_root else resolve_config_root([args.corpus])
    settings = load_settings(root, _cli_overrides(args))
    rt_inc, rt_exc = resolve_repotype_globs(effective_repotypes(args.repotype))
    inc, exc = merge_globs(settings.include_globs, settings.exclude_globs, rt_inc, rt_exc)
    inc, exc = merge_globs(inc, exc, args.include, args.exclude)
    return settings, inc, exc


def _write_report(args, findings, stats, config_snapshot, timing, out_path, snippets=None) -> None:
    import sparkclone.report  # noqa: F401 — registers the built-in reporters
    from sparkclone import registry

    reporter = registry.get("reporter", args.format)
    reporter(
        findings, out_path, top_n=args.top_n, stats=stats,
        config_snapshot=config_snapshot, timing=timing, snippets=snippets,
    )


def main(argv: list[str] | None = None) -> int:
    import sys

    argv = list(sys.argv[1:]) if argv is None else list(argv)
    # Backward-compatible flags-only invocation == `scan` with NO repotype
    # preset filtering (the legacy CLI scanned the whole corpus unless
    # globs were passed; the `scan` subcommand defaults to the reference's
    # monorepo preset union instead).
    if argv and argv[0].startswith("-"):
        argv = ["scan", *argv]
        if "--repotype" not in argv:
            argv += ["--repotype", "none"]
    args = build_parser().parse_args(argv)
    if args.command is None:
        build_parser().print_help()
        return 2

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName(f"sparkclone-{args.command}")
        # Arrow for driver-side fetches (hybrid-CC finish, reporters);
        # spark-submit confs still win — this is only the default
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    settings, include_globs, exclude_globs = _resolve_settings(args)
    out_path = args.out or f"findings.{args.format}"
    t0 = time.perf_counter()

    # engine resolution through the registry (reference model/registry.py
    # Engine seam): unknown engines fail with the available list
    from sparkclone import registry
    from sparkclone.engines import ENGINE_SEMANTIC  # registers built-ins

    if settings.engine not in registry.available("engine"):
        raise SystemExit(
            f"unknown engine {settings.engine!r}; "
            f"available: {registry.available('engine')}"
        )
    if settings.engine != ENGINE_SEMANTIC:
        importer = registry.get("engine", settings.engine)
        report = (args.sonar_report or os.environ.get("SPARKCLONE_SONAR_REPORT", "")).strip()
        if not report:
            raise SystemExit(
                f"{settings.engine} engine is not configured. Pass --sonar-report "
                "or set SPARKCLONE_SONAR_REPORT to a JSON file."
            )
        findings = importer(spark, report)
        stats = {"finding_count": findings.count()}
        timing = {"total": round(time.perf_counter() - t0, 3)}
        _write_report(args, findings, stats, {"engine": settings.engine}, timing, out_path)
        print(json.dumps({"stats": stats, "timing": timing, "report": out_path}))
        return 0

    from sparkclone.globs import filter_corpus
    from sparkclone.pipeline import load_corpus, run_pipeline

    cfg = settings.pipeline
    corpus = load_corpus(spark, args.corpus)
    if include_globs or exclude_globs:
        corpus = filter_corpus(corpus, include_globs, exclude_globs)
    checkpoint_dir = args.checkpoint_dir or settings.checkpoint_dir
    # the checkpoint key must see the glob filtering: a .where() does not
    # change corpus.inputFiles(), so two differently-filtered scans of
    # the same files would otherwise share (stale) checkpoints
    import hashlib

    from sparkclone.checkpoint import corpus_fingerprint

    def snapshot_key(df) -> str:
        return hashlib.sha256(
            "\x1f".join(
                [corpus_fingerprint(df), *sorted(include_globs), "\x1e", *sorted(exclude_globs)]
            ).encode("utf-8")
        ).hexdigest()[:12]

    snapshot_id = snapshot_key(corpus)

    if args.command == "diff":
        from sparkclone.incremental import incremental_scan, incremental_scan_probe

        base = load_corpus(spark, args.base_corpus)
        if include_globs or exclude_globs:
            base = filter_corpus(base, include_globs, exclude_globs)
        # Probe path: reuse the base scan's checkpointed snippets +
        # signatures so rescan cost scales with the diff, not the corpus.
        # The base checkpoint key is recomputed with the SAME formula the
        # scan command used (config hash + base corpus fingerprint +
        # globs), so stale/mismatched artifacts can never be probed.
        base_stages = None
        if args.base_artifacts:
            from sparkclone.incremental import load_probe_stages

            key_dir = f"{args.base_artifacts}/{cfg.config_hash()}-{snapshot_key(base)}"
            needed = ["snippets", "signatures"]
            # the EXP probe also needs the call graph, under the condition
            # on which run_pipeline writes it (enabled AND depth > 0: an
            # enabled+depth==0 config generates no EXP snippets and must
            # not be forced into a full rescan for stages that never
            # exist). load_probe_stages transparently resolves
            # delta-commit chains written by earlier probe hops.
            if cfg.expansion.enabled and cfg.expansion.depth > 0:
                needed += ["call_facts", "call_edges"]
            base_stages = load_probe_stages(spark, key_dir, needed)
            if base_stages is None:
                print(
                    f"base artifacts incomplete under {key_dir}; "
                    "falling back to full rescan",
                    file=sys.stderr,
                )
        if base_stages is not None:
            out = incremental_scan_probe(
                spark, corpus, base_stages["snippets"], base_stages["signatures"],
                base, cfg, base_facts=base_stages.get("call_facts"),
                base_edges=base_stages.get("call_edges"),
            )
            diff_mode = "probe"
            # Rolling-base diffs: persist the probe's merged stage frames
            # under the NEW snapshot's key in the same artifact root, so
            # tomorrow's diff probes TODAY's corpus as its base instead
            # of drifting ever further from the original full scan. A
            # no-op when the corpus is unchanged (same key — never
            # overwrite the artifacts currently being read).
            # The refresh is a DELTA commit (add frames + tombstone keys
            # + _delta.json pointing at the base key) so its cost scales
            # with the diff, not the corpus; every PROBE_MAX_CHAIN hops
            # it compacts to a full rewrite to re-bound read-plan depth.
            new_key_dir = f"{args.base_artifacts}/{cfg.config_hash()}-{snapshot_id}"
            if args.refresh_artifacts and new_key_dir != key_dir:
                from sparkclone.incremental import (
                    _read_delta_log,
                    persist_probe_artifacts,
                )

                refreshed = persist_probe_artifacts(
                    out, new_key_dir, spark=spark, base_key_dir=key_dir
                )
                log = _read_delta_log(spark, new_key_dir)
                mode = f"delta depth={log['depth']}" if log else "full (compacted)"
                print(
                    f"refreshed base artifacts ({', '.join(refreshed)}; {mode}) "
                    f"under {new_key_dir}",
                    file=sys.stderr,
                )
        else:
            out = incremental_scan(
                spark, corpus, base, cfg, checkpoint_dir=checkpoint_dir,
                snapshot_id=snapshot_id,
            )
            diff_mode = "full_rescan"
        findings = out["diff_findings"]
        stats = {
            "file_count": corpus.count(),
            "changed_file_count": out["changed_files"].count(),
            "snippet_count": out["snippets"].count(),
            "candidate_count": out["candidate_pairs"].count(),
            "finding_count": findings.count(),
            "diff_mode": diff_mode,
        }
        # diff-proportionality work counters (probe mode): files whose
        # snippets were re-extracted vs loaded from the base artifacts,
        # and (EXP) origins re-expanded vs kept verbatim — the numbers
        # that show a daily diff paying O(diff), not O(corpus)
        if diff_mode == "probe":
            stats["files_extracted"] = stats["changed_file_count"]
            stats["files_reused"] = stats["file_count"] - stats["changed_file_count"]
            if out.get("exp_affected_origins") is not None:
                stats["exp_origins_reexpanded"] = out["exp_affected_origins"].count()
    else:
        out = run_pipeline(
            spark, corpus, cfg, checkpoint_dir=checkpoint_dir, snapshot_id=snapshot_id
        )
        findings = out["findings_clustered"] if settings.cluster_findings else out["findings"]
        stats = {
            "file_count": corpus.count(),
            "snippet_count": out["snippets"].count(),
            "candidate_count": out["candidate_pairs"].count(),
            "finding_count": findings.count(),
            "cluster_count": out["clusters"].select("cluster_id").distinct().count(),
        }
    timing = {"total": round(time.perf_counter() - t0, 3)}

    if args.output_tables:
        findings.write.mode("overwrite").parquet(f"{args.output_tables}/findings")
        if "clusters" in out:  # probe-mode diff has no cluster stage
            out["clusters"].write.mode("overwrite").parquet(f"{args.output_tables}/clusters")

    _write_report(
        args, findings, stats, {"config_hash": cfg.config_hash()}, timing, out_path,
        snippets=out["snippets"],
    )
    print(json.dumps({"stats": stats, "timing": timing, "report": out_path}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
