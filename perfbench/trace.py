"""Spans recorded from outside the program, and their attribution to
Spark jobs through the event log.

A span is one call into a public kgpipe function: name, start, end and
the span that contains it, plus the row counts observed on its output.
Spans are kept in memory and written out when the run ends. The Spark
event log (JSON lines, compression off) gives each job's submission and
completion time, description and task metrics; a job belongs to the
leaf span whose wall interval contains its submission, which also
covers jobs submitted from helper threads (kb.build_dims submits its
dim checkpoints from a thread pool).

The per-job task-metric reading follows scripts/eventlog_summary.py.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

MB = 1e6


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent["name"] if parent else None,
               "start": time.time(), "end": None, "counts": {},
               "children": 0}
        if parent is not None:
            parent["children"] += 1
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["name"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def force(self, rec: dict, df: DataFrame, **aggs) -> DataFrame:
        """Materialize `df` with one eager localCheckpoint, observing its
        row count (and any extra aggregates) on that same job."""
        obs = Observation()
        out = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                         *[a.alias(k) for k, a in aggs.items()]
                         ).localCheckpoint(eager=True)
        rec["counts"].update({k: (v or 0) for k, v in obs.get.items()})
        return out


# ----------------------------------------------------------- event log

def _roll_index(path: str) -> tuple:
    parts = os.path.basename(path).split("_")
    return (int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0,
            path)


def read_jobs(eventlog_dir: str) -> list:
    """One dict per Spark job: id, start/end (epoch s), description,
    and summed task metrics (executor run time, GC, shuffle bytes
    written, bytes spilled to disk)."""
    jobs: dict = {}
    stage_job: dict = {}
    # Spark 4 writes each application's log as a directory of rolled
    # "events_<n>_<app>" files
    files = [f for f in glob.glob(f"{eventlog_dir}/**/*", recursive=True)
             if os.path.isfile(f)]
    for fn in sorted(files, key=_roll_index):
        with open(fn, errors="replace") as fh:
            for ln in fh:
                if '"SparkListenerJobStart"' in ln:
                    ev = json.loads(ln)
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid, "start": ev.get("Submission Time", 0) / 1e3,
                        "end": None,
                        "desc": props.get("spark.job.description") or "",
                        "exec_s": 0.0, "gc_s": 0.0, "shuffle_w": 0,
                        "spill_disk": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif '"SparkListenerJobEnd"' in ln:
                    ev = json.loads(ln)
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = (
                            ev.get("Completion Time", 0) / 1e3)
                elif '"SparkListenerTaskEnd"' in ln:
                    ev = json.loads(ln)
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    tm = ev.get("Task Metrics") or {}
                    if j is None or not tm:
                        continue
                    j["exec_s"] += tm.get("Executor Run Time", 0) / 1e3
                    j["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    j["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
                    j["spill_disk"] += tm.get("Disk Bytes Spilled", 0)
    return sorted((j for j in jobs.values() if j["end"] is not None),
                  key=lambda j: j["start"])


def covered_s(jobs: list, t0: float, t1: float) -> float:
    """Wall seconds of [t0, t1] during which at least one job ran."""
    iv = sorted((max(j["start"], t0), min(j["end"], t1)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_s is None or s > cur_e:
            if cur_s is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_s is not None:
        total += cur_e - cur_s
    return total


def in_window(jobs: list, t0: float, t1: float) -> list:
    return [j for j in jobs if t0 <= j["start"] < t1]


def engine(jobs: list) -> dict:
    return {
        "jobs": len(jobs),
        "exec_s": sum(j["exec_s"] for j in jobs),
        "gc_s": sum(j["gc_s"] for j in jobs),
        "shuffle_mb": sum(j["shuffle_w"] for j in jobs) / MB,
        "spill_mb": sum(j["spill_disk"] for j in jobs) / MB,
    }


def by_label(jobs: list) -> dict:
    """Engine totals per existing `kgpipe cut:`/`kgpipe dim:` job label;
    jobs without one are gathered under "unlabelled"."""
    groups: dict = {}
    for j in jobs:
        d = j["desc"]
        key = d if d.startswith(("kgpipe cut:", "kgpipe dim:")) else "unlabelled"
        groups.setdefault(key, []).append(j)
    return {k: engine(v) for k, v in sorted(groups.items())}


def span_table(spans: list, jobs: list) -> list:
    """Per-span wall, self time, rows and the engine totals of the jobs
    submitted inside the span (leaf spans own their jobs)."""
    out = []
    for s in spans:
        row = {"name": s["name"], "parent": s["parent"],
               "start": s["start"], "end": s["end"],
               "wall_s": s["end"] - s["start"], **s["counts"]}
        if s["children"] == 0:
            mine = in_window(jobs, s["start"], s["end"])
            row.update(engine(mine))
            row["gap_s"] = row["wall_s"] - covered_s(mine, s["start"], s["end"])
        out.append(row)
    return out
