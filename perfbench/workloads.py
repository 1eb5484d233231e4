"""The benchmark workloads: seeded inputs, golden results, the timed
operation, its output check, and the traced composition.

Every workload writes its operation's output under `out` and checks it
against a golden result computed once at set-up. The traced
composition calls the public kgpipe functions layer by layer, forces
each layer's output with one eager localCheckpoint inside a span, and
writes the same output, so it can be checked against the same golden
result and against the operation's own output.
"""

from __future__ import annotations

import os
import shutil
import time
from unittest import mock

from pyspark.sql import functions as F

from kgpipe import checkpoints, driver_queries, pipeline
from kgpipe.classify import classify
from kgpipe.enrich import acceptance_decisions, attach_predictions_and_decisions
from kgpipe.linking import (
    marginalize, predictions_frame, score_hypotheses, score_hypotheses_inrow,
)
from kgpipe.candidates import generate_candidates
from kgpipe.mentions import (
    assert_text_equality, detect_mentions_join, tokenize, with_turn_order,
)
from kgpipe.oracle import oracle_triples
from kgpipe.schemas import Q0
from kgpipe.triples import emit_triples, write_triples

from perfbench import check, gen

KB_TABLES = ["entity_kb", "kb_args", "mention_counts", "wiki_summaries"]


def _clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ------------------------------------------------- traced KG pipeline

def traced_pipeline(tracer, spark, transcripts, entity_kb, kb_args,
                    mention_counts, wiki_summaries, language="en",
                    check_invariants=True, beam=8, max_candidates=8,
                    **_ignored) -> dict:
    """run_pipeline's stage graph (no checkpoint_dir, no canonical map,
    one classifier) as calls into the public stage functions, in
    run_pipeline's order, each forced by one eager localCheckpoint in
    its own span. Returns {"triples": <materialized triples>}."""
    with tracer.span("kb.build_dims") as s:
        dims = pipeline.build_dims(spark, entity_kb, kb_args, mention_counts,
                                   wiki_summaries=wiki_summaries)
        s["counts"]["surfaces_rows"] = dims["surfaces_df"].count()
    with tracer.span("kb.max_fanout") as s:
        row = (mention_counts.groupBy("mention")
               .agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).collect())
        fanout = (row[0][0] if row else 0) or 0
        s["counts"]["max_fanout"] = fanout
    join_branch = fanout > pipeline.IN_ROW_MAX_FANOUT

    with tracer.span("mentions.tokenize") as s:
        turns = tokenize(with_turn_order(transcripts))
        if check_invariants:
            assert_text_equality(turns)
        turns_cut = tracer.force(
            s, turns.select("conv_id", "turn_idx", "tokens"))
    with tracer.span("mentions.tag") as s:
        mentions = tracer.force(s, detect_mentions_join(
            turns_cut, dims["surfaces_df"],
            broadcast_dim=dims.get("surfaces_broadcastable")).drop("tokens"))
    m_tok = mentions.join(turns_cut.select("conv_id", "turn_idx", "tokens"),
                          ["conv_id", "turn_idx"])
    if join_branch:
        with tracer.span("candidates.generate") as s:
            cands = tracer.force(s, generate_candidates(
                mentions, mention_counts, max_candidates=max_candidates))
        with tracer.span("linking.hypotheses") as s:
            hyps = tracer.force(s, score_hypotheses(
                cands, m_tok, dims["title_map"], beam=beam))
    else:
        with tracer.span("linking.hypotheses") as s:
            hyps = tracer.force(s, score_hypotheses_inrow(
                m_tok, mention_counts, dims["title_map"], beam=beam,
                max_candidates=max_candidates))
    with tracer.span("linking.marginalize") as s:
        ranked = tracer.force(s, marginalize(hyps, details=False))
    with tracer.span("linking.predictions") as s:
        preds = tracer.force(s, predictions_frame(ranked))
    with tracer.span("enrich.decisions") as s:
        decisions = tracer.force(s, acceptance_decisions(
            preds, dims["kb_context"], wiki_summaries, language=language,
            summaries_dim=dims.get("summaries_dim")))
    with tracer.span("enrich.attach") as s:
        enriched = tracer.force(
            s, attach_predictions_and_decisions(mentions, preds, decisions),
            accepted=F.count(F.col("accepted_qid")),
            q0=F.sum((F.col("link_qid") == Q0).cast("long")),
            en_fallback=F.sum(((F.col("accepted_lang") == "en")
                               & F.lit(language != "en")).cast("long")))
    with tracer.span("classify") as s:
        classified = tracer.force(
            s, classify(enriched),
            fallback=F.sum((F.col("pred_score") == 0).cast("long")))
    with tracer.span("triples.emit") as s:
        triples = tracer.force(s, emit_triples(classified, materialize=False))
    return {"triples": triples, "join_branch": join_branch}


def _kg_layer_metrics(table: dict, props: dict, join_branch: bool) -> dict:
    """Per-layer metrics of one traced KG composition (span table keyed
    by span name)."""
    def g(span, key, default=0.0):
        return table.get(span, {}).get(key, default)

    turns = max(1, props["turns"])
    mentions = max(1, g("mentions.tag", "rows"))
    enr = table["enrich.attach"]
    linking = [v for k, v in table.items() if k.startswith("linking.")]
    return {
        "kb.build_dims_s": g("kb.build_dims", "wall_s"),
        "kb.build_dims_jobs": g("kb.build_dims", "jobs"),
        "kb.surfaces_rows": g("kb.build_dims", "surfaces_rows"),
        "kb.max_fanout": g("kb.max_fanout", "max_fanout"),
        "mentions.tokenize_s": g("mentions.tokenize", "wall_s"),
        "mentions.tag_s": g("mentions.tag", "wall_s"),
        "mentions.tag_jobs": g("mentions.tag", "jobs"),
        "mentions.rows": g("mentions.tag", "rows"),
        "mentions.per_turn": g("mentions.tag", "rows") / turns,
        "candidates.s": g("candidates.generate", "wall_s"),
        "candidates.rows": g("candidates.generate", "rows"),
        "candidates.per_mention": g("candidates.generate", "rows") / mentions,
        "linking.join_branch": int(join_branch),
        "linking.hypotheses_s": g("linking.hypotheses", "wall_s"),
        "linking.hypotheses_rows": g("linking.hypotheses", "rows"),
        "linking.marginalize_s": g("linking.marginalize", "wall_s"),
        "linking.ranked_rows": g("linking.marginalize", "rows"),
        "linking.predictions_s": g("linking.predictions", "wall_s"),
        "linking.jobs": sum(v.get("jobs", 0) for v in linking),
        "linking.shuffle_mb": sum(v.get("shuffle_mb", 0) for v in linking),
        "enrich.decisions_s": g("enrich.decisions", "wall_s"),
        "enrich.attach_s": enr["wall_s"],
        "enrich.accept_rate": enr["accepted"] / max(1, enr["rows"]),
        "enrich.q0_rate": enr["q0"] / max(1, enr["rows"]),
        "enrich.en_fallback_rate": enr["en_fallback"] / max(1, enr["rows"]),
        "classify.s": g("classify", "wall_s"),
        "classify.fallback_rate": (g("classify", "fallback")
                                   / max(1, g("classify", "rows"))),
        "triples.s": g("triples.emit", "wall_s"),
        "triples.rows": g("triples.emit", "rows"),
        "triples.write_s": g("triples.write", "wall_s"),
    }


# ----------------------------------------------------------- workloads

class Workload:
    name = ""
    input_tables: list = []
    # output tables, each written to <out>/<name> and checked against
    # <golden>/<name>.parquet
    outputs = ["triples"]
    # warm operations measured per run (more if they take less than
    # --seconds): a fixed count puts every run's median at the same
    # point of the JIT warm-up curve; one keeps a run within the
    # round's time limit (cold_run_s and setup_s cost 30-45 s a run)
    warm_ops = 1
    # output dirs of the traced run, relative to its output dir, each
    # checked against the golden result
    traced_outputs = [""]

    def __init__(self, work: str):
        self.inputs = os.path.join(work, "inputs")
        self.golden = os.path.join(work, "golden")
        os.makedirs(self.inputs, exist_ok=True)
        os.makedirs(self.golden, exist_ok=True)
        self.props: dict = {}

    @property
    def input_rows(self) -> int:
        return self.props["turns"]

    def first_read(self, spark) -> int:
        return sum(spark.read.parquet(f"{self.inputs}/{t}.parquet").count()
                   for t in self.input_tables)

    def check(self, con, out: str) -> dict:
        """{'ok': bool, <output>: detail}; an absent output raises."""
        res = {"ok": True}
        for o in self.outputs:
            c = check.compare(con, f"{self.golden}/{o}.parquet", f"{out}/{o}")
            res[o] = c
            res["ok"] &= c["missing"] == 0 and c["extra"] == 0
        return res

    def same_output(self, con, out_a: str, out_b: str) -> bool:
        return all(check.same_rows(con, f"{out_a}/{o}", f"{out_b}/{o}")
                   for o in self.outputs)

    def layer_metrics(self, table: dict, res: dict, chk: dict) -> dict:
        """Per-layer metrics of one traced composition: `table` is the
        span table keyed by span name, `res` what traced() returned and
        `chk` the checks of the traced outputs, keyed as traced_outputs."""
        return _kg_layer_metrics(table, self.props, res["join_branch"])


class KgLexicon(Workload):
    """q25's whole pipeline over a documents-shaped table."""
    name = "kg_lexicon"
    input_tables = ["documents"]
    n_docs = 5_000

    def generate(self, seed: int) -> None:
        self.props = gen.lexicon_documents(seed, self.inputs, self.n_docs)

    def make_golden(self) -> None:
        con = check.connect(self.inputs, self.input_tables)
        self.props["golden_rows"] = check.write_golden_sql(
            con, driver_queries.Q_KG_TRIPLES_SQL,
            f"{self.golden}/triples.parquet")
        con.close()

    def operation(self, spark, out: str) -> None:
        triples = driver_queries.q_kg_triples(spark, self.inputs)
        write_triples(triples, f"{out}/triples")

    def traced(self, spark, tracer, out: str) -> dict:
        res = {}

        def run(spark_, *args, **kw):
            res.update(traced_pipeline(tracer, spark_, *args, **kw))
            return res

        with tracer.span("traced"):
            with mock.patch.object(pipeline, "run_pipeline", run):
                triples = driver_queries.q_kg_triples(spark, self.inputs)
            with tracer.span("triples.write"):
                write_triples(triples, f"{out}/triples")
        return res


class KgCatalog(Workload):
    """run_pipeline over fixture conversations and the fixture catalog
    (fan-out above IN_ROW_MAX_FANOUT, so the join linking branch). Its
    traced run also takes the durable checkpoint_dir path: commit into
    an empty checkpoint dir, then resume over the unchanged input."""
    name = "kg_catalog"
    input_tables = ["transcripts"] + KB_TABLES
    n_convs = 1_000
    language = "de"
    traced_outputs = ["", "durable/base", "durable"]

    def generate(self, seed: int) -> None:
        self.props, self.catalog, self.rows = gen.catalog_transcripts(
            seed, self.inputs, self.n_convs)

    def make_golden(self) -> None:
        gold = oracle_triples([(r[0], r[1], r[3]) for r in self.rows],
                              self.catalog, language=self.language)
        self.props["golden_rows"] = check.write_golden_triples(
            gold, f"{self.golden}/triples.parquet")
        self.props["mentions_per_turn"] = round(
            sum(1 for t in gold if t[1] == "links_to")
            / max(1, self.props["turns"]), 3)
        self.props["language"] = self.language

    def check(self, con, out: str) -> dict:
        c = super().check(con, out)
        c["missed_turns"] = check.missed_turns(
            con, f"{self.golden}/triples.parquet", f"{out}/triples")
        return c

    def _tables(self, spark, transcripts="transcripts") -> dict:
        rd = spark.read.parquet
        return {"transcripts": rd(f"{self.inputs}/{transcripts}.parquet"),
                **{t: rd(f"{self.inputs}/{t}.parquet") for t in KB_TABLES}}

    def _args(self, t: dict) -> tuple:
        return (t["transcripts"], t["entity_kb"], t["kb_args"],
                t["mention_counts"], t["wiki_summaries"])

    def operation(self, spark, out: str) -> None:
        res = pipeline.run_pipeline(spark, *self._args(self._tables(spark)),
                                    language=self.language)
        write_triples(res["triples"], f"{out}/triples")

    def traced(self, spark, tracer, out: str) -> dict:
        with tracer.span("traced"):
            res = traced_pipeline(tracer, spark,
                                  *self._args(self._tables(spark)),
                                  language=self.language)
            with tracer.span("triples.write"):
                write_triples(res["triples"], f"{out}/triples")
        res["checkpoints"] = self.checkpoint_pass(spark, tracer,
                                                  f"{out}/durable")
        return res

    def layer_metrics(self, table: dict, res: dict, chk: dict) -> dict:
        return {**_kg_layer_metrics(table, self.props, res["join_branch"]),
                **_checkpoint_metrics(res["checkpoints"], chk["durable"])}

    # ------------------------------------------------ durable path

    base_table = "transcripts"
    delta_table = None

    def durable(self, spark, out: str) -> dict:
        """Commit the base into an empty checkpoint dir (triples to
        <out>/base/triples), then resume over the base plus the delta
        table, if any (triples to <out>/triples). Returns each step's
        seconds."""
        ck = f"{out}/checkpoints"
        _clear(ck)
        t0 = time.perf_counter()
        base = self._tables(spark, self.base_table)
        res = pipeline.run_pipeline(spark, *self._args(base),
                                    language=self.language, checkpoint_dir=ck)
        write_triples(res["triples"], f"{out}/base/triples")
        t1 = time.perf_counter()
        grown = base
        if self.delta_table:
            grown = dict(base, transcripts=base["transcripts"].unionByName(
                spark.read.parquet(f"{self.inputs}/{self.delta_table}.parquet")))
        res = pipeline.run_pipeline(spark, *self._args(grown),
                                    language=self.language, checkpoint_dir=ck)
        write_triples(res["triples"], f"{out}/triples")
        return {"base_commit_s": t1 - t0, "resume_s": time.perf_counter() - t1}

    def checkpoint_pass(self, spark, tracer, out: str) -> dict:
        """durable() in one span, with checkpoints.commit_stage and
        checkpoints.load_stage timed from outside, per call."""
        calls = {"commit": [], "load": []}
        real_commit, real_load = checkpoints.commit_stage, checkpoints.load_stage

        def commit(df, path, stage, **kw):
            t0 = time.perf_counter()
            try:
                return real_commit(df, path, stage, **kw)
            finally:
                calls["commit"].append(time.perf_counter() - t0)

        def load(spark_, path):
            t0 = time.perf_counter()
            try:
                return real_load(spark_, path)
            finally:
                calls["load"].append(time.perf_counter() - t0)

        with tracer.span("checkpoints"), \
                mock.patch.object(checkpoints, "commit_stage", commit), \
                mock.patch.object(checkpoints, "load_stage", load):
            steps = self.durable(spark, out)
        n_bytes, n_files = 0, 0
        for root, _dirs, files in os.walk(f"{out}/checkpoints"):
            for f in files:
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += f.endswith(".parquet")
        pending = self.props.get("delta_turns", 0) / max(1, self.props["turns"])
        return {"calls": calls, "bytes": n_bytes, "files": n_files,
                "pending_frac": pending, **steps}


def _checkpoint_metrics(ck: dict, chk: dict) -> dict:
    """Per-layer metrics of one checkpoint_pass; `chk` is the check of
    the resumed output."""
    return {
        "checkpoints.commit_s": sum(ck["calls"]["commit"]),
        "checkpoints.load_s": sum(ck["calls"]["load"]),
        "checkpoints.bytes_written_mb": ck["bytes"] / 1e6,
        "checkpoints.files": ck["files"],
        "checkpoints.pending_frac": ck["pending_frac"],
        "checkpoints.missed_turns": chk.get("missed_turns", 0),
    }


class KgResume(KgCatalog):
    """The durable checkpoint_dir path with growth: commit a base into
    an empty checkpoint dir, then append Δ and resume."""
    name = "kg_resume"
    input_tables = ["base", "delta"] + KB_TABLES
    n_base_convs = 1_000
    base_table, delta_table = "base", "delta"
    # the golden result is of base + Δ, so only the resumed output
    traced_outputs = [""]

    def generate(self, seed: int) -> None:
        self.props, self.catalog, base, delta = gen.resume_transcripts(
            seed, self.inputs, self.n_base_convs)
        self.rows = base + delta

    def operation(self, spark, out: str) -> None:
        self.step_s = self.durable(spark, out)

    def traced(self, spark, tracer, out: str) -> dict:
        with tracer.span("traced"):
            return {"checkpoints": self.checkpoint_pass(spark, tracer, out)}

    def layer_metrics(self, table: dict, res: dict, chk: dict) -> dict:
        return _checkpoint_metrics(res["checkpoints"], chk[""])


# the driver-query set of corpus_dedup, in the order it runs, with the
# layer each query exercises (the traced composition's span names)
CORPUS_SPANS = {
    "q12_minhash_signatures": "dedup.minhash",
    "q14_simhash": "dedup.simhash",
    "q18_fingerprint": "textstats.fingerprint",
    "q29_lsh_cosine_verify": "similarity.lsh_verify",
    "q42_lsh_multitable": "similarity.verify",
    "q44_dedup_clusters": "dedup.clusters",
    "q46_ivf_topk": "similarity.ivf_topk",
    "q47_simhash_pairs": "dedup.simhash_pairs",
}
CORPUS_QUERIES = list(CORPUS_SPANS)


class CorpusDedup(Workload):
    """Driver dedup/similarity/textstats queries over generated
    documents and embeddings."""
    name = "corpus_dedup"
    input_tables = ["documents", "embeddings"]
    outputs = CORPUS_QUERIES
    n_docs = 2_000
    n_vecs = 1_000

    @property
    def input_rows(self) -> int:
        return self.props["turns"] + self.props["vectors"]

    def generate(self, seed: int) -> None:
        self.props = gen.corpus(seed, self.inputs, self.n_docs, self.n_vecs)

    def make_golden(self) -> None:
        con = check.connect(self.inputs, self.input_tables)
        for q in CORPUS_QUERIES:
            self.props[f"golden_rows.{q}"] = check.write_golden_sql(
                con, driver_queries.QUERIES[q][1], f"{self.golden}/{q}.parquet")
        con.close()

    def _run_query(self, spark, q: str, out: str, force=None) -> None:
        df = driver_queries.QUERIES[q][0](spark, self.inputs)
        out_df = force(df) if force else df
        out_df.write.mode("overwrite").parquet(f"{out}/{q}")
        df.unpersist()

    def operation(self, spark, out: str) -> None:
        for q in CORPUS_QUERIES:
            self._run_query(spark, q, out)

    def layer_metrics(self, table: dict, res: dict, chk: dict) -> dict:
        def w(span):
            return table.get(span, {}).get("wall_s", 0.0)

        def rows(span):
            return table.get(span, {}).get("rows", 0)

        lsh_pairs = rows("similarity.lsh_pairs")
        return {
            "textstats.token_ids_s": w("textstats.token_ids"),
            "textstats.fingerprint_s": w("textstats.fingerprint"),
            "dedup.minhash_s": w("dedup.minhash"),
            "dedup.simhash_s": w("dedup.simhash"),
            "dedup.simhash_pairs_s": w("dedup.simhash_pairs"),
            "dedup.pairs_per_doc": (rows("dedup.simhash_pairs")
                                    / max(1, self.props["turns"])),
            "dedup.clusters_s": w("dedup.clusters"),
            "similarity.lsh_pairs_rows": lsh_pairs,
            "similarity.verify_s": w("similarity.verify"),
            "similarity.verify_kept_frac": (rows("similarity.verify")
                                            / max(1, lsh_pairs)),
            "similarity.lsh_verify_s": w("similarity.lsh_verify"),
            "similarity.ivf_topk_s": w("similarity.ivf_topk"),
        }

    def traced(self, spark, tracer, out: str) -> dict:
        """Each query as one span, with the shared token-id dictionary
        built once in its own span (textstats.build_token_ids) and
        handed to the queries, plus the candidate-pair stage of q42
        (similarity.lsh_multitable_pairs) on its own."""
        from kgpipe.similarity import lsh_multitable_pairs
        from kgpipe.textstats import build_token_ids

        docs = spark.read.parquet(f"{self.inputs}/documents.parquet")
        emb = spark.read.parquet(f"{self.inputs}/embeddings.parquet")
        with tracer.span("traced"):
            with tracer.span("textstats.token_ids") as s:
                tid = tracer.force(
                    s, build_token_ids(docs).select("token", "token_id"))
            with tracer.span("similarity.lsh_pairs") as s:
                tracer.force(s, lsh_multitable_pairs(
                    emb, n_tables=4, planes_per_table=4))
            with mock.patch.object(driver_queries, "_token_ids",
                                   lambda *_: tid):
                for q in CORPUS_QUERIES:
                    with tracer.span(CORPUS_SPANS[q]) as s:
                        self._run_query(spark, q, out,
                                        force=lambda df: tracer.force(s, df))
        return {}


WORKLOADS = {w.name: w for w in (KgLexicon, KgCatalog, KgResume, CorpusDedup)}


# ------------------------------------------- harness-process entry points
# (called in the harness child process; every argument is a path or name)

def prepare(name: str, work: str, seed: int) -> dict:
    """Generate the inputs and the golden result; return the input
    properties."""
    wl = WORKLOADS[name](work)
    wl.generate(seed)
    wl.make_golden()
    return wl.props


def check_output(name: str, work: str, out: str) -> dict:
    con = check.connect(work, [])
    try:
        return WORKLOADS[name](work).check(con, out)
    finally:
        con.close()


def same_output(name: str, work: str, out_a: str, out_b: str) -> bool:
    con = check.connect(work, [])
    try:
        return WORKLOADS[name](work).same_output(con, out_a, out_b)
    finally:
        con.close()

