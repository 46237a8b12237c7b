"""Per-stage checkpointing with lineage + metrics (resume support).

Plays the role of the reference's content-addressed embedding cache
(``embedding/cache.py:18-137``, consumed ``core/pipeline.py:50-88``): work
already materialized under the same config hash is never recomputed. Where
the reference memoizes per-snippet vectors in SQLite, we checkpoint whole
stages as parquet keyed by ``(config_hash, stage)`` — the Iceberg-table
analogue that makes the job resumable mid-pipeline (north_rule), with a
``_metrics`` sidecar recording per-partition row counts (lineage) and
wall time per stage. Without a root, each stage is an eager local
checkpoint — a lineage cut held in executor block storage — and records no
metrics rows: every ``StageMetrics`` row carries a real count.

Layout:
    {root}/{config_hash}/{stage}/            parquet data
    {root}/{config_hash}/{stage}.metrics.json

All path operations (existence, prior-checkpoint glob, corrupt-stage
delete, metrics writes) go through the Hadoop FileSystem API resolved from
the root's own scheme, so the checkpoint root may be a local path, a
``file://`` URI, or an object store (s3a/gs/abfs) unchanged — no
pathlib/shutil anywhere in the layer.

Resume rule: a stage directory with a parquet _SUCCESS marker short-circuits
recompute (``load_or_compute``). Different config => different hash =>
different directory, so stale state can never be read (the same guarantee
as the reference's cache key, ``io/fingerprints.py:10-14``). The key also
carries an INPUT fingerprint (sha256 of the corpus's backing file list,
or a caller-supplied snapshot id — the Iceberg snapshot-id analogue), so
the same config over a different corpus snapshot never resumes stale
stages. Callers that overwrite input files in place or pre-filter the
corpus differently between runs should pass an explicit ``snapshot_id``.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Filesystem access goes through the Hadoop FileSystem API resolved from the
# path's own scheme (file://, s3a://, gs://, hdfs://, abfs://, or a bare
# local path via the default FS) — NOT pathlib/shutil/os.glob, which only
# ever work on the driver's local disk. Every stage-existence check, prior-
# checkpoint glob, corrupt-stage delete, and metrics-JSON write below uses
# these helpers, so the checkpoint root can live on an object store
# unchanged (tests drive the same code path through a file:// URI).
# ---------------------------------------------------------------------------


def _hadoop_path(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001


def _hadoop_fs(spark: SparkSession, path: str):
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    return _hadoop_path(spark, path).getFileSystem(conf)


def fs_exists(spark: SparkSession, path: str) -> bool:
    return bool(_hadoop_fs(spark, path).exists(_hadoop_path(spark, path)))


def fs_delete(spark: SparkSession, path: str) -> None:
    fs = _hadoop_fs(spark, path)
    p = _hadoop_path(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def fs_glob_status(spark: SparkSession, pattern: str) -> list[tuple[str, int]]:
    """(path, modification_time_ms) for every match of a Hadoop glob
    pattern. Empty list when nothing matches."""
    fs = _hadoop_fs(spark, pattern)
    statuses = fs.globStatus(_hadoop_path(spark, pattern))
    if statuses is None:
        return []
    return [
        (st.getPath().toString(), int(st.getModificationTime())) for st in statuses
    ]


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Overwrite a small text file (metrics sidecars) through the FS API —
    single-writer stream, no rename dance needed for sidecar metadata."""
    fs = _hadoop_fs(spark, path)
    out = fs.create(_hadoop_path(spark, path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def fs_read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file (delta-commit logs, metrics sidecars)
    through the FS API — works on any scheme the root can live on."""
    fs = _hadoop_fs(spark, path)
    stream = fs.open(_hadoop_path(spark, path))
    try:
        # commons-io ships with Hadoop; one JVM round-trip for the bytes
        return spark._jvm.org.apache.commons.io.IOUtils.toString(  # noqa: SLF001
            stream, "UTF-8"
        )
    finally:
        stream.close()


def corpus_fingerprint(corpus: DataFrame) -> str:
    """Cheap, deterministic input-snapshot id: sha256 of the sorted list
    of files backing the DataFrame (driver-side listing only). Empty for
    non-file sources — pass an explicit snapshot_id there."""
    try:
        files = sorted(corpus.inputFiles())
    except Exception:  # noqa: BLE001 — non-file source
        files = []
    if not files:
        return "nofiles"
    return hashlib.sha256("\n".join(files).encode("utf-8")).hexdigest()[:12]


@dataclass
class StageMetrics:
    stage: str
    rows: int
    wall_s: float
    partitions: int
    partition_rows: dict[str, int]
    resumed: bool = False


@dataclass
class CheckpointManager:
    """Without a root (pure in-memory run) each stage is cut from its
    upstream plan by an eager local checkpoint and records no metrics; with
    one, each stage is parquet plus a ``StageMetrics`` row.

    Either way a stage boundary is a lineage cut: every later action plans
    over a scan of the stage, never over the whole upstream DAG, which the
    driver would otherwise re-analyze and re-plan for each action. The
    trade: a local checkpoint is not recomputed when an executor is lost,
    so a run that must survive executor loss passes a checkpoint root.

    The stage cut is the only cache: no operator persists a frame of its
    own. A frame read twice inside one cut relies on AQE's exchange reuse,
    and a frame read by two cuts is recomputed from the earlier cut.
    ``release()`` frees the cuts; the returned frames must not be read
    after it (a read then fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``)."""

    spark: SparkSession
    config_hash: str
    root: str | None = None
    metrics: list[StageMetrics] = field(default_factory=list)
    # the in-memory stage checkpoints, freed by ``release()``
    cuts: list[DataFrame] = field(default_factory=list, init=False)

    def _stage_dir(self, stage: str) -> str | None:
        if self.root is None:
            return None
        return f"{self.root}/{self.config_hash}/{stage}"

    def find_prior_stages(self, stages: list[str]) -> dict[str, DataFrame] | None:
        """The most recent COMPLETED checkpoints of ``stages`` written
        under the same config hash but a different input snapshot (key
        format is ``{config_hash}-{snapshot}``), all from the SAME prior
        key: the latest, by the newest _SUCCESS mtime among its stages,
        that completed every one. Consistency matters when one stage is
        the validity manifest for another (e.g. ``file_manifest`` keys
        ``snippets`` reuse).

        This is the cross-snapshot reuse seed for content-addressed
        stages: a snippet_id is deterministic in (path, span, code hash),
        so a prior snapshot's signature row is still valid for any
        snippet_id that survives into the current snapshot — the
        left-anti-join analogue of the reference's per-snippet embedding
        cache (core/pipeline.py:50-88). Callers must only apply it to
        stages keyed by such content-addressed ids."""
        if self.root is None or not stages:
            return None
        cfg_prefix = self.config_hash.split("-")[0]
        keys: dict[str, dict[str, int]] = {}
        # glob the _SUCCESS markers themselves: completion check and
        # listing in one round trip, and the marker's mtime IS the
        # stage-completed time (object stores have no dir mtime at all)
        for stage in stages:
            for p, mtime in fs_glob_status(
                self.spark, f"{self.root}/{cfg_prefix}-*/{stage}/_SUCCESS"
            ):
                key_dir = p[: -len(f"/{stage}/_SUCCESS")]
                if key_dir.rstrip("/").endswith(f"/{self.config_hash}"):
                    continue
                keys.setdefault(key_dir, {})[stage] = mtime
        complete = {
            k: max(v.values()) for k, v in keys.items() if len(v) == len(stages)
        }
        if not complete:
            return None
        latest = max(complete, key=lambda k: complete[k])
        try:
            return {s: self.spark.read.parquet(f"{latest}/{s}") for s in stages}
        except Exception:  # noqa: BLE001 — unreadable prior checkpoint
            return None

    def load_or_compute(self, stage: str, compute) -> DataFrame:
        """Return the checkpointed stage if present, else compute it: with
        a root, write it as parquet and record per-partition lineage + wall
        time; without one, cut it with an eager local checkpoint (computed
        now, in executor block storage, freed by :meth:`release`).

        A checkpoint that carries a _SUCCESS marker but fails to read
        (truncated/corrupted parquet — e.g. a crash mid-copy or storage
        fault) is discarded and recomputed, mirroring the reference
        cache's corruption recovery (embedding/cache.py handles corrupt
        SQLite by rebuilding; tests/test_embedding_cache.py)."""
        d = self._stage_dir(stage)
        if d is not None and fs_exists(self.spark, f"{d}/_SUCCESS"):
            try:
                df = self.spark.read.parquet(d)
                n = df.count()  # forces a full read — surfaces corruption now
            except Exception:  # noqa: BLE001 — any unreadable checkpoint
                try:
                    fs_delete(self.spark, d)
                except Exception:  # noqa: BLE001 — best-effort cleanup
                    pass
            else:
                self.metrics.append(
                    StageMetrics(stage, n, 0.0, df.rdd.getNumPartitions(), {}, resumed=True)
                )
                return df
        if d is None:
            # in-memory run: not a lazy cache, which keeps the upstream plan
            # and so makes the driver re-analyze and re-plan the whole
            # cascade for every later action; the checkpoint is a scan leaf
            df = compute().localCheckpoint(eager=True)
            self.cuts.append(df)
            return df
        t0 = time.perf_counter()
        df = compute()
        df.write.mode("overwrite").parquet(d)  # creates parents itself
        out = self.spark.read.parquet(d)
        part_rows = {
            str(r["pid"]): r["n"]
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        m = StageMetrics(
            stage,
            sum(part_rows.values()),
            time.perf_counter() - t0,
            len(part_rows),
            part_rows,
        )
        self.metrics.append(m)
        fs_write_text(
            self.spark,
            f"{self.root}/{self.config_hash}/{stage}.metrics.json",
            json.dumps(m.__dict__, indent=2),
        )
        return out

    def release(self) -> None:
        """Free the in-memory stage checkpoints — a pipeline run's stages,
        or every cut of an incremental probe, which takes its cuts through
        this manager too. The stage cut is the only cache, so this frees
        every block the run's operators hold. Call only once the outputs
        have been consumed: every frame the run returned reads a stage
        checkpoint, so a read after this fails with
        ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` instead of recomputing.
        Parquet stages are not touched, and neither are the local
        checkpoints that only two operators take inside a stage: the
        distributed connected-components loop and the expansion BFS past
        depth 1. Once the stage is cut they are unreachable, and their
        blocks stay pinned until Spark's context cleaner drops them after
        a driver GC."""
        for df in self.cuts:
            try:
                # the checkpoint RDD behind the frame's LogicalRDD leaf
                df._jdf.queryExecution().analyzed().rdd().unpersist(True)  # noqa: SLF001
            except Exception:  # noqa: BLE001 — session already stopped
                pass
        self.cuts.clear()

    def write_metrics_table(self) -> None:
        if self.root is None:
            return
        fs_write_text(
            self.spark,
            f"{self.root}/{self.config_hash}/_metrics.json",
            json.dumps([m.__dict__ for m in self.metrics], indent=2),
        )
