#!/usr/bin/env python3
"""kgpipe benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload kg_catalog --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates the workload's inputs
from the seed, computes its golden result, then times the operation in
a closed loop (one operation at a time, one process, local[<cores>]),
checking every operation's written output against the golden result.

--trace 0 prints the end-to-end metrics (tracing off). --trace 1 is
the separate traced run: the operation is run untraced and then as the
layer-by-layer composition, and the per-layer metrics are printed.

The last stdout line is one JSON object with the keys correct,
attempted, failed and metrics; the line before it (prefixed "# info ")
carries the input properties, every timing sample, the host-load
disclosure and, in the traced run, the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# stop starting new operations after this much wall time in one run
WALL_BUDGET_S = 150.0


def _metric_units() -> tuple:
    """{name: unit} of the end-to-end and of the per-layer metrics, as
    BENCHMARK.json at the repository root lists them: a timed run
    prints exactly the first, a traced run exactly the second."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return tuple({m["name"]: m["unit"] for m in spec[k]}
                 for k in ("end_to_end", "per_layer"))


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -------------------------------------------------------------- session

def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


def _session(work: Path, eventlog: Path | None):
    from kgpipe.session import get_spark

    # the same driver JVM flag get_spark sets, plus a temp dir in the
    # checkout; every scratch write stays under the run's work dir
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:-DontCompileHugeMethods -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if eventlog is not None:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": eventlog.as_uri(),
                     "spark.eventLog.compress": "false"})
    spark = get_spark("kgpipe-perfbench", master=f"local[{_cores()}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it; the
    JVM is stopped even if stopping the session fails."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            finally:
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident memory since process start of the driver JVM plus
    this Python process (the benchmark's own DuckDB and pyarrow work
    runs in the Harness process and is not counted)."""
    total = 0
    for pid in (os.getpid(),
                spark._jvm.java.lang.ProcessHandle.current().pid()):
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    total += int(ln.split()[1])
    return total / 1024.0


# ---------------------------------------------------------- operations

class Ledger:
    """Attempted/failed operations and the check detail of each."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.log: list = []

    def record(self, kind: str, seconds: float | None, result: dict) -> None:
        self.attempted += 1
        self.failed += not result.get("ok")
        self.log.append({"kind": kind, "s": seconds, **result})


class Harness:
    """Input generation, golden results and output checks, run in one
    spawned child process: the benchmark's own DuckDB and pyarrow work
    then never counts in the driver process's peak_rss_mb."""

    def __init__(self, name: str, work: Path):
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor

        from perfbench import workloads

        self.mod, self.name, self.work = workloads, name, str(work)
        self.pool = ProcessPoolExecutor(
            1, mp_context=multiprocessing.get_context("spawn"))

    def prepare(self, seed: int) -> dict:
        return self.pool.submit(self.mod.prepare, self.name, self.work,
                                seed).result()

    def check(self, out: Path) -> dict:
        return self.pool.submit(self.mod.check_output, self.name, self.work,
                                str(out)).result()

    def same(self, out_a: Path, out_b: Path) -> bool:
        return self.pool.submit(self.mod.same_output, self.name, self.work,
                                str(out_a), str(out_b)).result()

    def probe_gbps(self) -> float:
        """kgpipe.hostload's bandwidth probe (its 256 MB buffer stays out
        of this process's peak RSS)."""
        from kgpipe.hostload import load_probe_gbps

        return self.pool.submit(load_probe_gbps).result()

    def close(self) -> None:
        self.pool.shutdown(wait=True)


def _timed_op(wl, spark, harness, out: Path, ledger: Ledger, kind: str):
    """Run one operation into a fresh output dir and check it. Returns
    (seconds, wall start, wall end) of the operation alone, or None if
    it raised."""
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    w0, t0 = time.time(), time.perf_counter()
    try:
        wl.operation(spark, str(out))
    except Exception as e:  # the run goes on; the operation counts failed
        traceback.print_exc(file=sys.stderr)
        ledger.record(kind, None, {"ok": False, "error": repr(e)[:300]})
        return None
    dt, w1 = time.perf_counter() - t0, time.time()
    try:
        res = harness.check(out)
    except Exception as e:
        res = {"ok": False, "error": repr(e)[:300]}
    ledger.record(kind, dt, res)
    return dt, w0, w1


def _tail(samples: list) -> dict:
    """Median, min and max, plus the highest percentile with at least
    ten samples beyond it (p90 needs 100 samples, so a run's handful of
    warm operations discloses only min and max)."""
    out = {"n": len(samples), "median": statistics.median(samples),
           "max": max(samples), "min": min(samples)}
    for p in (99, 95, 90):
        if len(samples) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(samples, n=100)[p - 1]
            break
    return out


# ---------------------------------------------------------------- runs

def _setup(wl, work: Path, eventlog):
    """Session start (which launches the JVM) plus the first read of the
    inputs, once per run. Returns (spark, seconds)."""
    t0 = time.perf_counter()
    spark = _session(work, eventlog)
    try:
        wl.first_read(spark)
    except BaseException:
        _shutdown(spark)
        raise
    return spark, time.perf_counter() - t0


def run_timed(wl, args, work: Path, harness, ledger: Ledger, info: dict) -> dict:
    spark, setup_s = _setup(wl, work, None)
    t_start = time.perf_counter()
    try:
        cold = _timed_op(wl, spark, harness, work / "out", ledger, "cold")
        warm, steps = [], []
        while (len(warm) < wl.warm_ops or sum(warm) < args.seconds) and \
                time.perf_counter() - t_start < WALL_BUDGET_S - 30:
            op = _timed_op(wl, spark, harness, work / "out", ledger, "warm")
            if op is not None:
                warm.append(op[0])
                steps.append(getattr(wl, "step_s", {}))
        info["peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        t_stop = time.perf_counter()
        _shutdown(spark)
        info["shutdown_s"] = time.perf_counter() - t_stop
    info["warm"] = _tail(warm) if warm else {}
    info["warm_samples_s"] = warm
    # kg_resume's two steps (base commit, resume), medians
    for k in (steps[0] if steps else {}):
        info[k] = statistics.median(st[k] for st in steps)
    run_s = statistics.median(warm) if warm else float("nan")
    return {
        "setup_s": setup_s,
        "cold_run_s": cold[0] if cold is not None else float("nan"),
        "run_s": run_s,
        "input_rows_per_s": wl.input_rows / run_s,
    }


def run_traced(wl, args, work: Path, harness, ledger: Ledger, info: dict) -> dict:
    from perfbench import trace

    eventlog = work / "eventlog"
    eventlog.mkdir()
    spark, _ = _setup(wl, work, eventlog)
    pairs = []
    t_start = time.perf_counter()
    try:
        _timed_op(wl, spark, harness, work / "out", ledger, "cold")
        while not pairs or (time.perf_counter() - t_start < args.seconds
                            and time.perf_counter() - t_start
                            < WALL_BUDGET_S - 60):
            op_out, tr_out = work / "op", work / "traced"
            op = _timed_op(wl, spark, harness, op_out, ledger, "op")
            tracer = trace.Tracer(spark)
            shutil.rmtree(tr_out, ignore_errors=True)
            tr_out.mkdir(parents=True)
            res = wl.traced(spark, tracer, str(tr_out))
            try:
                chk = {d: harness.check(tr_out / d) for d in wl.traced_outputs}
                same = harness.same(op_out, tr_out)
            except Exception as e:
                chk, same = {"error": repr(e)[:300]}, False
            ok = same and all(c.get("ok") for c in chk.values())
            ledger.record("traced", None, {"ok": ok, "same_as_op": same,
                                           "outputs": chk})
            pairs.append({"op": op, "spans": tracer.spans, "res": res,
                          "check": chk})
        peak = peak_rss_mb(spark)
    finally:
        _shutdown(spark)

    jobs = trace.read_jobs(str(eventlog))
    samples = []
    for p in pairs:
        op_s, t0, t1 = p["op"] or (float("nan"), 0.0, 0.0)
        op_jobs = trace.in_window(jobs, t0, t1)
        labels = trace.by_label(op_jobs)
        eng = trace.engine(op_jobs)
        m = {
            "spark.jobs": eng["jobs"],
            "spark.unlabelled_jobs": labels.get("unlabelled", {}).get("jobs", 0),
            "spark.exec_s": eng["exec_s"], "spark.shuffle_mb": eng["shuffle_mb"],
            "spark.spill_mb": eng["spill_mb"], "spark.gc_s": eng["gc_s"],
            "driver.gap_s": (t1 - t0) - trace.covered_s(op_jobs, t0, t1),
        }
        for label, v in labels.items():
            kind, _, stage = label.partition(":")
            if kind == "kgpipe cut":
                m[f"spark.cut.{stage}.jobs"] = v["jobs"]
                m[f"spark.cut.{stage}.exec_s"] = v["exec_s"]
        dims = [v for k, v in labels.items() if k.startswith("kgpipe dim:")]
        m["spark.dims.jobs"] = sum(v["jobs"] for v in dims)
        m["spark.dims.exec_s"] = sum(v["exec_s"] for v in dims)

        table = {r["name"]: r for r in trace.span_table(p["spans"], jobs)}
        root = table["traced"]
        # the leaf spans of the composition (the traced run's durable
        # pass, if any, is a span of its own outside the root)
        leaves = [r for r in table.values() if "jobs" in r
                  and r["name"] != "traced" and root["start"] <= r["start"]
                  and r["end"] <= root["end"]]
        spans_s = sum(r["wall_s"] for r in leaves)
        m.update({
            "trace.wall_s": root["wall_s"],
            "trace.spans_s": spans_s,
            "trace.remainder_s": root["wall_s"] - spans_s,
            "trace.gap_s": sum(r["gap_s"] for r in leaves),
            "trace.overhead_s": root["wall_s"] - op_s,
            "memory.peak_rss_mb": peak,
        })
        m.update(wl.layer_metrics(table, p["res"], p["check"]))
        samples.append(m)
        info.setdefault("spans", []).append(
            [{k: (round(v, 4) if isinstance(v, float) else v)
              for k, v in r.items()} for r in table.values()])
        info.setdefault("op_jobs_by_label", []).append(labels)
    return {k: statistics.median(s.get(k, 0) for s in samples)
            for k in _metric_units()[1]}


# ----------------------------------------------------------------- main

def prepare_env(work: Path) -> None:
    """Create the run's work dir and point every temp file of this
    process, the JVM and the Python workers into it; the workers
    (started by the JVM) import kgpipe from the checkout."""
    import tempfile

    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "kgpipe" / "__init__.py").is_file():
        print(f"error: the kgpipe package is not in {ROOT}; run the benchmark"
              " from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import procs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    procs.become_subreaper()
    procs.exit_on_sigterm()
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    from kgpipe.hostload import cpu_jiffies

    harness = None
    try:
        harness = Harness(args.workload, work)
        wl = WORKLOADS[args.workload](str(work))
        info: dict = {"workload": wl.name, "seed": args.seed,
                      "cores": _cores(), "seconds": args.seconds}
        t0 = time.perf_counter()
        wl.props = harness.prepare(args.seed)
        info["generate_and_golden_s"] = time.perf_counter() - t0
        info["inputs"] = wl.props
        ledger = Ledger()
        probe0 = harness.probe_gbps()
        steal0, total0 = cpu_jiffies()
        run = run_traced if args.trace else run_timed
        metrics = run(wl, args, work, harness, ledger, info)
        units = _metric_units()[args.trace]
        steal1, total1 = cpu_jiffies()
        info["host_load"] = {
            "probe_gbps_before": probe0,
            "probe_gbps_after": harness.probe_gbps(),
            "steal_share": (steal1 - steal0) / max(1, total1 - total0)}
        info["failed_frac"] = ledger.failed / max(1, ledger.attempted)
        info["operations"] = ledger.log
    finally:
        t_close = time.perf_counter()
        try:
            if harness is not None:
                harness.close()
        finally:
            killed = procs.reap()
            shutil.rmtree(work, ignore_errors=True)
    info["harness_close_s"] = time.perf_counter() - t_close
    info["killed_pids"] = killed

    print("# info " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
