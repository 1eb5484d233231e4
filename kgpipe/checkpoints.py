"""Per-stage checkpointing with anti-join resume + lineage metrics
(SURVEY.md §2.4 J9, §2.1 S10; reference resume semantics at
run_genre.py:201-214 and get_wikidata.py:303-321).

A stage writes its output keyed by `mention_id` (or any key). On rerun,
the work set is anti-joined against the checkpoint, only misses are
computed, and the merged set is committed — the reference's
"skip rows whose field is already filled" as a relational plan.

Commit protocol (crash-atomic, single write):
  <path>/v<N>/                 parquet data, written exactly once
  <path>/_kgpipe_manifest.json names the active version; swapped with
                               os.replace (atomic on POSIX)
A crash mid-write leaves the previous version active; a crash between
write and swap leaves an orphan v-dir that the next commit garbage-
collects. No .tmp double-write, no re-read re-count: the row count is
captured by a Dataset observation during the single write job, and the
per-partition lineage metrics (the A13-style data-quality counters,
north_rule) come from the parquet footers — zero extra Spark jobs.

Iceberg note: set KGPIPE_TABLE_FORMAT=iceberg (kgpipe.io) to route the
data write through `format("iceberg")` when the runtime jar is present;
the sandbox default is parquet with the same layout (SURVEY.md §7.5.3).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kgpipe.io import read_table, write_table


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_kgpipe_manifest.json")


def _read_manifest(path: str) -> dict | None:
    try:
        with open(_manifest_path(path), "r", encoding="utf8") as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def partition_metrics(df: DataFrame) -> list:
    """Per-partition row counts of a live DataFrame (one Spark job).
    For committed stages prefer the free footer-based metrics in the
    manifest ("files")."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .orderBy("pid")
        .collect()
    )
    return [{"partition": r["pid"], "rows": r["count"]} for r in rows]


def _footer_metrics(data_dir: str) -> tuple[int, list]:
    """(total_rows, per-file rows) from parquet footers — driver-side
    metadata reads, no Spark job. Each output file is one write task,
    so per-file counts are the per-partition lineage metric."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return -1, []
    total, files = 0, []
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        n = pq.ParquetFile(os.path.join(data_dir, name)).metadata.num_rows
        total += n
        files.append({"file": name, "rows": n})
    return total, files


def commit_stage(df: DataFrame, path: str, stage: str,
                 with_partition_metrics: bool = True) -> dict:
    """Write df ONCE to a fresh version dir, then atomically repoint the
    manifest. Returns the manifest."""
    os.makedirs(path, exist_ok=True)
    prev = _read_manifest(path)
    version = (prev["version"] + 1) if prev else 1
    data_dir = os.path.join(path, f"v{version:06d}")

    obs = Observation()
    write_table(df.observe(obs, F.count(F.lit(1)).alias("rows")), data_dir)
    rows = obs.get["rows"]

    manifest = {
        "stage": stage,
        "path": path,
        "version": version,
        "data_dir": data_dir,
        "rows": rows,
        "committed_at": time.time(),
        "schema": df.schema.simpleString(),
        "parent_version": prev["version"] if prev else None,
    }
    if with_partition_metrics:
        total, files = _footer_metrics(data_dir)
        manifest["files"] = files
        if total >= 0 and total != rows:  # pragma: no cover
            manifest["footer_rows_mismatch"] = total
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w", encoding="utf8") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, _manifest_path(path))  # atomic swap

    # GC superseded/orphaned version dirs (best-effort). The PARENT
    # version is retained: a DataFrame obtained from load_stage before
    # this commit still reads its files lazily, so deleting the
    # immediately-superseded snapshot would fail that reader at its
    # next action. Only versions strictly older than the parent (two
    # commits back, or orphans from crashed writes) are collected.
    keep = {f"v{version:06d}"}
    if prev:
        keep.add(f"v{prev['version']:06d}")
    for name in os.listdir(path):
        if name.startswith("v") and name not in keep:
            import shutil

            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    return manifest


def load_stage(spark: SparkSession, path: str) -> DataFrame | None:
    manifest = _read_manifest(path)
    if manifest is not None:
        try:
            return read_table(spark, manifest["data_dir"])
        except Exception:
            return None
    # legacy layout: parquet directly under path
    if not os.path.exists(path):
        return None
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def resume_stage(
    work: DataFrame,
    checkpoint_path: str,
    stage: str,
    compute,
    key: str | list = "mention_id",
) -> DataFrame:
    """Idempotent stage execution: compute(work \\ done) ∪ done.

    `compute` maps the pending subset to the stage output; `key` (a
    column or a list of columns) identifies a unit of work in both.
    Completed keys are never recomputed (anti-join); the merged set is
    committed with ONE write + one atomic manifest swap, so a killed
    run restarts where it stopped (J9) and a crash mid-merge keeps the
    previous version readable. When the pending keys yield no output
    rows (e.g. turns without a mention) nothing is committed and the
    current version is returned, so a rerun over unchanged input writes
    no new version.
    """
    spark = work.sparkSession
    done = load_stage(spark, checkpoint_path)
    if done is None:
        commit_stage(compute(work), checkpoint_path, stage)
        return load_stage(spark, checkpoint_path)

    pending = work.join(done.select(key).distinct(), key, "left_anti")
    if pending.isEmpty():
        return done
    fresh = compute(pending)
    if fresh.isEmpty():
        return done
    merged = done.unionByName(fresh, allowMissingColumns=True)
    commit_stage(merged, checkpoint_path, stage)
    return load_stage(spark, checkpoint_path)
