#!/usr/bin/env python3
"""Self-tests of the benchmark, at a tiny size (about a minute).

    python3 perfbench/selftest.py

1. A dropped, a duplicated or a corrupted output row makes the check
   fail, and a failed check counts as a failed operation.
2. The traced composition writes exactly the triples of the operation
   (run_pipeline / q25) on both linking branches: the join branch
   (fixture catalog, fan-out 50), the in-row branch (the same inputs
   with the fan-out threshold raised) and q25's fan-out-1 lexicon. The
   catalog's traced run also commits into an empty checkpoint dir and
   resumes over the unchanged input; both outputs equal the golden
   result and the resume loads committed stages.
3. The corpus_dedup traced composition writes exactly the operation's
   query outputs.

Exits 0 when every test passes, 1 otherwise.
"""

from __future__ import annotations

import shutil
import sys
import traceback
from pathlib import Path
from unittest import mock

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from perfbench import check, run  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import CorpusDedup, KgCatalog, KgLexicon  # noqa: E402


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


class LocalChecks:
    """run.Harness's check interface, in process, for workloads whose
    sizes the tests shrink on the instance."""

    def __init__(self, wl, con):
        self.wl, self.con = wl, con

    def check(self, out: Path) -> dict:
        return self.wl.check(self.con, str(out))

    def same(self, out_a: Path, out_b: Path) -> bool:
        return self.wl.same_output(self.con, str(out_a), str(out_b))


def _first_file(out: Path) -> Path:
    return sorted(out.glob("**/*.parquet"))[0]


def _rewrite(path: Path, mutate) -> None:
    t = pq.read_table(path)
    pq.write_table(pa.Table.from_pylist(mutate(t.to_pylist()),
                                        schema=t.schema), path)


def test_bad_rows_fail(spark, con, work: Path) -> None:
    wl = KgCatalog(str(work / "cat"))
    wl.n_convs = 20
    wl.generate(7)
    wl.make_golden()
    ledger = run.Ledger()
    out = work / "cat_out"
    run._timed_op(wl, spark, LocalChecks(wl, con), out, ledger, "op")
    expect(ledger.failed == 0, f"clean output failed: {ledger.log}")
    for name, mutate in (
            ("dropped", lambda rows: rows[1:]),
            ("duplicated", lambda rows: rows + rows[:1]),
            ("corrupted", lambda rows: [dict(rows[0], obj=rows[0]["obj"] + "x")]
             + rows[1:])):
        bad = work / f"cat_{name}"
        shutil.copytree(out, bad)
        _rewrite(_first_file(bad / "triples"), mutate)
        res = wl.check(con, str(bad))
        before = ledger.failed
        ledger.record(name, 0.0, res)
        expect(not res["ok"] and ledger.failed == before + 1,
               f"{name} row passed the check: {res}")
    shutil.rmtree(work / "cat_gone", ignore_errors=True)
    res = None
    try:
        res = wl.check(con, str(work / "cat_gone"))
    except FileNotFoundError:
        pass
    expect(res is None, "a missing output did not raise")


def _traced_equals_op(spark, con, wl, work: Path, tag: str) -> dict:
    op_out, tr_out = work / f"{tag}_op", work / f"{tag}_tr"
    ledger, checks = run.Ledger(), LocalChecks(wl, con)
    run._timed_op(wl, spark, checks, op_out, ledger, "op")
    tr_out.mkdir(parents=True)
    res = wl.traced(spark, Tracer(spark), str(tr_out))
    expect(ledger.failed == 0, f"{tag}: operation failed {ledger.log}")
    for d in wl.traced_outputs:
        expect(checks.check(tr_out / d)["ok"],
               f"{tag}: traced output {d or '.'} wrong")
    expect(checks.same(op_out, tr_out),
           f"{tag}: traced output differs from the operation's")
    return res


def test_traced_kg_both_branches(spark, con, work: Path) -> None:
    from kgpipe import pipeline

    wl = KgCatalog(str(work / "br"))
    wl.n_convs = 30
    wl.generate(11)
    wl.make_golden()
    res = _traced_equals_op(spark, con, wl, work, "join")
    expect(res["join_branch"], "catalog did not take the join branch")
    calls = res["checkpoints"]["calls"]
    expect(calls["commit"] and calls["load"],
           f"durable pass did not both commit and load stages: {calls}")
    with mock.patch.object(pipeline, "IN_ROW_MAX_FANOUT", 10_000):
        res = _traced_equals_op(spark, con, wl, work, "inrow")
    expect(not res["join_branch"], "raised threshold kept the join branch")

    lex = KgLexicon(str(work / "lex"))
    lex.n_docs = 300
    lex.generate(11)
    lex.make_golden()
    res = _traced_equals_op(spark, con, lex, work, "lex")
    expect(not res["join_branch"], "lexicon took the join branch")


def test_traced_corpus(spark, con, work: Path) -> None:
    wl = CorpusDedup(str(work / "corpus"))
    wl.n_docs, wl.n_vecs = 200, 200
    wl.generate(11)
    wl.make_golden()
    _traced_equals_op(spark, con, wl, work, "corpus")


def main() -> int:
    work = HERE / ".work" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    run.prepare_env(work)
    spark = run._session(work, None)
    con = check.connect(str(work), [])
    failures = 0
    try:
        for test in (test_bad_rows_fail, test_traced_kg_both_branches,
                     test_traced_corpus):
            try:
                test(spark, con, work)
                print(f"PASS {test.__name__}")
            except Exception:
                failures += 1
                traceback.print_exc()
                print(f"FAIL {test.__name__}")
    finally:
        con.close()
        run._shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
