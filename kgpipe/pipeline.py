"""End-to-end KG construction pipeline (SURVEY.md §3 lifecycles recast).

transcripts → W1 order/dedup → tokenize (+text-equality invariant) →
gazetteer tag → Q1 spans → Q2 marking → J5 candidates → scoring +
A1 marginalization → J7 acceptance + J6 enrichment → classification →
(subj, pred, obj) triples.

Every stage takes/returns DataFrames. `run_pipeline` is ONE stage
graph; materialization is a policy over its boundaries: `cut_mode`
picks how the stage cuts are taken (localCheckpoint, parquet, or
none), and `checkpoint_dir` makes the mentions and enriched
boundaries durable, resumable commits (checkpoints.resume_stage) —
same stage functions either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe import checkpoints
from kgpipe.candidates import generate_candidates
from kgpipe.classify import classify
from kgpipe.enrich import acceptance_decisions, attach_predictions_and_decisions
from kgpipe.kb import build_alias_map, build_kb_context, build_title_map
from kgpipe.linking import (
    marginalize, predictions_frame, score_hypotheses, score_hypotheses_inrow,
)
from kgpipe.mentions import (
    assert_text_equality, detect_mentions_join, tokenize, with_turn_order,
)
from kgpipe.triples import emit_triples


# Dictionary fan-out (max distinct QIDs per surface, _max_fanout) above
# which the linking stage uses the join/groupBy/window candidate path
# instead of the in-row merge: the in-row higher-order expressions are
# interpreted and their per-mention cost grows with fan-out (see the
# decision comment in run_pipeline's link_and_enrich); the join path is
# fan-out-insensitive (codegen'd). 4 is conservative — at fan-out 4 the
# two probes give ≤8 in-row entries, still a few interpreted evals per
# mention.
IN_ROW_MAX_FANOUT = 4


def surfaces_df_from_dims(alias_map: DataFrame,
                          mention_counts: DataFrame) -> DataFrame:
    """Gazetteer surface universe = known mention surface forms (the
    stand-in tagger's 'training data'): alias map ∪ mention_counts keys.
    Stays a DataFrame — the tagger consumes it via broadcast JOIN, so
    no KB-sized set is ever collected to the driver (a 10⁷–10⁸-surface
    alias map would OOM a collected list)."""
    a = alias_map.select(F.col("alias_lc").alias("surface"))
    b = mention_counts.select(F.col("mention").alias("surface"))
    return a.unionByName(b).distinct()


def _max_fanout(mention_counts: DataFrame) -> int:
    """Dictionary fan-out: the most DISTINCT QIDs any surface maps to —
    the per-probe entry count the in-row candidate merge actually sees
    (duplicate (mention, qid) dictionary rows are pre-summed there, so
    they must not count twice here). run_pipeline runs this in a helper
    thread; job descriptions are thread-local, so the label is set
    here, inside that thread."""
    sc = mention_counts.sparkSession.sparkContext
    sc.setJobDescription("kgpipe dim:fanout")
    try:
        row = (mention_counts.groupBy("mention")
               .agg(F.countDistinct("qid").alias("n"))
               .agg(F.max("n")).collect())
    finally:
        sc.setJobDescription(None)
    return (row[0][0] if row else 0) or 0


def build_dims(spark: SparkSession, entity_kb: DataFrame, kb_args: DataFrame,
               mention_counts: DataFrame, materialize: bool = True,
               wiki_summaries: DataFrame | None = None,
               deferred: bool = False) -> dict:
    """KB-construction sub-pipeline (the reference's preprocess_wikidata/
    preprocess_mention_dicts stage): derive and return the broadcastable
    lookup dims + the gazetteer surface dim. Separate from the per-turn
    pipeline because it is KB-sized constant work, amortized over the
    corpus — benchmark the two independently.

    materialize=True localCheckpoints each dim: without it every
    consuming job re-derives AND re-broadcasts the dim from entity_kb
    (measured: a visible slice of the per-job fixed cost across the
    ~40-job pipeline). The surfaces dim rides an Observation on its
    materialization job to derive `surfaces_broadcastable` (the
    detect_mentions_join broadcast decision) for FREE — zero extra
    jobs, vs one probe job per tagger call otherwise."""
    dims = {
        "title_map": build_title_map(entity_kb),
        "alias_map": (am := build_alias_map(entity_kb)),
        "kb_context": build_kb_context(entity_kb, kb_args),
        "surfaces_df": surfaces_df_from_dims(am, mention_counts),
    }
    if wiki_summaries is not None:
        # dedup summaries HERE (amortized, materialized with the other
        # dims) so the decisions stage's broadcast build collects a
        # finished table instead of running the groupBy serially inside
        # the build — a measured driver-side window in the scaling logs
        from kgpipe.enrich import summary_dim

        dims["summaries_dim"] = summary_dim(wiki_summaries)
    if materialize:
        from pyspark.sql import Observation

        from kgpipe.mentions import BROADCAST_MAX_SURFACES

        obs = Observation()
        dims["surfaces_df"] = dims["surfaces_df"].observe(
            obs, F.count(F.lit(1)).alias("n"))
        # The dims are mutually independent, so their eager-checkpoint
        # jobs can run concurrently: serially each job pays the full
        # driver schedule/plan latency (~0.3 s/job — the dominant term
        # of the pipeline's constant serial gap, BENCH/LOCAL_sf1_r6),
        # measured 3.8 s → ~1.3 s at sf0.1. Spark job submission is
        # thread-safe; local scheduler interleaves the tiny dim stages.
        from concurrent.futures import ThreadPoolExecutor

        def _ck(name, df):
            sc = spark.sparkContext
            sc.setJobDescription(f"kgpipe dim:{name}")  # thread-local
            try:
                return df.localCheckpoint(eager=True)
            finally:
                sc.setJobDescription(None)

        pool = ThreadPoolExecutor(max_workers=len(dims))
        futures = {k: pool.submit(_ck, k, v) for k, v in dims.items()}
        if deferred:
            # resolve only the dim the FIRST pipeline stage consumes
            # (the tagger's surface universe); the other checkpoint
            # jobs stay in flight so the caller's mention stage
            # overlaps them (guide §2.6 "overlap independent jobs") —
            # run_pipeline resolves the futures before linking.
            dims = {**futures}
            dims["surfaces_df"] = futures["surfaces_df"].result()
            pool.shutdown(wait=False)
        else:
            dims = {k: f.result() for k, f in futures.items()}
            pool.shutdown()
        dims["surfaces_broadcastable"] = (
            (obs.get["n"] or 0) <= BROADCAST_MAX_SURFACES)
    return dims


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    entity_kb: DataFrame,
    kb_args: DataFrame,
    mention_counts: DataFrame,
    wiki_summaries: DataFrame,
    language: str = "en",
    checkpoint_dir: str | None = None,
    check_invariants: bool = True,
    beam: int = 8,
    max_candidates: int = 8,
    ensemble_seeds: int = 1,
    dims: dict | None = None,
    cut_mode: str = "local",
    canonical_map: DataFrame | None = None,
) -> dict:
    """Returns dict of stage DataFrames: turns, mentions, linked,
    enriched, classified, triples. Pass `dims` (from build_dims) to
    reuse prebuilt KB lookups across runs.

    The stage graph is the same under every policy: tag the turns cut
    (detect_mentions_join), then link_and_enrich (token join →
    hypotheses → marginalize → predictions → decisions → terminal
    attach), classify, emit triples.

    cut_mode: how stage boundaries are materialized — "local"
    (default: localCheckpoint truncates lineage without a parquet
    roundtrip; measured ~25% faster), "parquet" (write+read — the
    durable-table shape), "none" (fully fused — measurement baseline
    only).
    checkpoint_dir: make the mentions and enriched boundaries durable
    and resumable (checkpoints.resume_stage) instead of cuts. Mentions
    resume keyed on (conv_id, turn_idx), so a turn appended to an
    already-committed conversation is tagged; enriched resumes keyed on
    mention_id. A rerun over unchanged input commits nothing.
    canonical_map: optional (qid, canonical_qid) frame (e.g. from
    canonical.canonicalize_qids over redirect_equivalence_edges) —
    applied to the accepted/link QIDs after enrichment, BEFORE
    classification features are consumed and triples are emitted
    (north_rule canonicalization step). Broadcast joins, no shuffle."""
    # deferred dims: build_dims resolves only the surface dim and
    # leaves the other checkpoint jobs in flight, so the mention stage
    # below overlaps them; _dim() blocks on a still-running future only
    # when a later stage actually needs that dim.
    dims = dims or build_dims(spark, entity_kb, kb_args, mention_counts,
                              wiki_summaries=wiki_summaries, deferred=True)

    def _dim(name):
        v = dims.get(name)
        return v.result() if hasattr(v, "result") else v

    turns = tokenize(with_turn_order(transcripts))
    if check_invariants:
        assert_text_equality(turns)

    # Materialize each stage boundary (a lightweight stage cut, no
    # resume bookkeeping). Measured far faster than any lazy/persist
    # variant: every stage output is referenced by 2-3 downstream
    # consumers (candidate probe, hypothesis context, fold-back join,
    # triple branches) and Catalyst's project collapsing otherwise
    # re-inlines the expensive candidate/hypothesis expressions per
    # consumer; a fused linking mega-stage also degrades at high
    # parallelism (per-task memory shrinks with concurrency at fixed
    # heap). Default cut is localCheckpoint (~25% faster than parquet
    # write+read).
    from kgpipe.io import read_table, write_table

    if cut_mode == "parquet":
        import tempfile

        stage_dir = tempfile.mkdtemp(prefix="kgpipe-stages-")

    def cut(df: DataFrame, name: str) -> DataFrame:
        if cut_mode == "none":
            return df
        # label the cut's job so UI/eventlog time attributes to the
        # stage by name (guide §1.5); thread-local, reset after
        spark.sparkContext.setJobDescription(f"kgpipe cut:{name}")
        try:
            if cut_mode == "local":
                return df.localCheckpoint(eager=True)
            path = os.path.join(stage_dir, name)
            write_table(df, path)
            return read_table(spark, path)
        finally:
            spark.sparkContext.setJobDescription(None)

    # fan-out statistic for the candidate-path choice in
    # link_and_enrich, computed CONCURRENTLY with the turn/mention cuts
    # (one tiny dim aggregation; the thread overlaps its job with the
    # stage jobs exactly like build_dims' deferred checkpoints)
    from concurrent.futures import ThreadPoolExecutor

    _fanout_pool = ThreadPoolExecutor(max_workers=1)
    fanout_future = _fanout_pool.submit(_max_fanout, mention_counts)
    _fanout_pool.shutdown(wait=False)

    # r7 turn-level tokens: the mention cut used to materialize the
    # turn's ~100-string token array PER MENTION (~9 mentions/turn at
    # bench scale → the array stored 9×, the dominant bytes of the
    # stage and of executor storage). Tokens now stay on a turn-level
    # cut (one array per turn); the mention boundary drops them, and
    # the hypothesis stage re-attaches them with one narrow join on
    # (conv_id, turn_idx) that is fused into its first stage. The turns
    # cut also dedupes the tagger's two internal scans of the turn
    # frame (candidate explode + final span join read the same
    # checkpoint instead of recomputing scan+order-window twice). The
    # tagger and the token join consume ONLY (conv_id, turn_idx,
    # tokens): mention text/marked_text are token-slice
    # reconstructions, so the raw text column never rides the cut.
    turns_cut = cut(turns.select("conv_id", "turn_idx", "tokens"), "turns")

    def tag(t: DataFrame) -> DataFrame:
        # broadcast-JOIN tagger: the surface dim never hits the driver;
        # the broadcast decision comes from build_dims' Observation when
        # available (None → the tagger probes with one extra job)
        return detect_mentions_join(
            t, _dim("surfaces_df"),
            broadcast_dim=dims.get("surfaces_broadcastable"),
        ).drop("tokens")

    def link_and_enrich(mentions: DataFrame) -> DataFrame:
        # Linking sub-steps: candidates/hypotheses/ranked are single-
        # consumer, so they fuse — a cut there buys no re-execution
        # protection and only adds a job and a stage barrier (measured,
        # 60k turns: fused 22.6 s vs 31.9 s at local[8], 14.6 s vs
        # 19.1 s at local[32]; the serial job floor is ~0.3 s of driver
        # latency per job, BENCH/BASELINE.md). The historical
        # anti-scaling of the fused plan (18s@8 → 166s@32 on 90k turns,
        # r1) was root-caused in r2 to the closure-captured pandas-UDF
        # tagger, not to fusion.
        # planner-default join (SMJ at scale) — NO shuffle_hash hint:
        # hash-building a partition's worth of turn TOKEN ARRAYS
        # re-creates exactly the tight-heap pathology the
        # score_hypotheses join-strategy note documents (hash builds of
        # token arrays raised JVM GC ~6× on 2g executors while the
        # Tungsten SMJ sort spills compressed and GC-free). Measured
        # here too: with the hint a 2g/2-core standalone leg ground
        # >30 min inside this stage where the whole r6 leg ran ~11 min.
        m_tok = mentions.join(turns_cut, ["conv_id", "turn_idx"])
        # Candidate-path choice is DATA-ADAPTIVE on the dictionary's
        # fan-out (max distinct QIDs per surface — one tiny aggregation
        # over the dim, the same class of statistic a broadcast
        # threshold uses):
        #
        # - small fan-out (≤ IN_ROW_MAX_FANOUT): the in-row path
        #   (attach_candidates merge + on-row scoring,
        #   score_hypotheses_inrow) — zero exchanges before the beam
        #   window; measured ~1.5 s faster per sf1.0 run at the bench
        #   lexicon's fan-out of 1.
        # - larger fan-out: the JOIN/groupBy/window composition (every
        #   operator whole-stage-codegen'd). The in-row per-row
        #   higher-order expressions are INTERPRETED and their cost
        #   scales with fan-out k: at the scaling fixture's 84
        #   qids/surface (k≈168 entries after the two probes) the
        #   original O(k²) merge ground a 2-core standalone leg
        #   indefinitely (jstack: ArrayFilter inside ArrayAggregate),
        #   and even the linear merge — interpreted sort-comparator
        #   lambdas, ~k·log k evals/mention — blew past a 10-minute
        #   local[8] budget on 1.2M turns where this join shape
        #   finishes the whole pipeline in 232 s. Parallelism and
        #   codegen must come from the plan, not from per-row array
        #   programming (guide §2.5, §4).
        if fanout_future.result() <= IN_ROW_MAX_FANOUT:
            hyps = score_hypotheses_inrow(
                m_tok, mention_counts, _dim("title_map"),
                beam=beam, max_candidates=max_candidates)
        else:
            cands = generate_candidates(mentions, mention_counts,
                                        max_candidates=max_candidates)
            hyps = score_hypotheses(cands, m_tok, _dim("title_map"),
                                    beam=beam)
        # details=False: texts/scores are per-QID diagnostics nothing in
        # this pipeline reads; slim rows through the marginalize agg,
        # the rank window and the fold-back join (score bit-identical)
        ranked = marginalize(hyps, details=False)
        # r7 slim fold-back: cut the (mention_id, genre_prediction)
        # frame, NOT the wide fold-back join output. The r6 shape
        # materialized `linked` (mention rows + predictions, ~150 MB at
        # sf1.0 with marked_text riding every row) and then shuffled it
        # AGAIN into the decisions attach — the wide rows crossed two
        # exchanges plus a checkpoint. The decision stage only reads
        # (mention_id, genre_prediction), so it now consumes the slim
        # cut directly and the wide mention rows cross ONE exchange, in
        # the terminal attach (guide §2.3 "project before the
        # exchange"; equivalence: enrich.attach_predictions_and_decisions).
        preds = cut(predictions_frame(ranked), "predictions")
        # decision aggregation still cut before the terminal attach
        # (fused, it degrades ~3× at 32 cores because the aggregation
        # feeds a fold-back join)
        decisions = cut(
            acceptance_decisions(preds, _dim("kb_context"), wiki_summaries,
                                 language=language,
                                 summaries_dim=_dim("summaries_dim")),
            "decisions",
        )
        # mentions carry no token arrays (turn-level tokens above), so
        # the terminal attach ships none. Not cut: classify is its
        # single consumer (map-only classifier, r7), so a cut only cost
        # a ~190 MB checkpoint write+read per run.
        return attach_predictions_and_decisions(mentions, preds, decisions)

    if checkpoint_dir:
        mentions = checkpoints.resume_stage(
            turns_cut, os.path.join(checkpoint_dir, "mentions"), "mentions",
            tag, key=["conv_id", "turn_idx"])
        enriched = checkpoints.resume_stage(
            mentions, os.path.join(checkpoint_dir, "enriched"), "enriched",
            link_and_enrich)
    else:
        mentions = cut(tag(turns_cut), "mentions")
        enriched = link_and_enrich(mentions)
    # lazy compat frame for result-dict consumers (smoke scripts);
    # costs nothing unless evaluated
    linked = enriched.select(
        *[c for c in enriched.columns
          if c not in ("accepted_qid", "accepted_lang",
                       "wikidata_summary", "wikidata_arguments",
                       "arg_pairs", "wikipedia_title",
                       "wikipedia_summary", "link_qid")])

    if canonical_map is not None:
        from kgpipe.canonical import apply_canonicalization

        enriched = apply_canonicalization(
            enriched, canonical_map, ["accepted_qid", "link_qid"])

    if ensemble_seeds > 1:
        from kgpipe.classify import classify_ensemble

        classified = classify_ensemble(enriched, n_variants=ensemble_seeds)
    else:
        classified = classify(enriched)
    classified = cut(classified, "classified")
    # if the classified frame is materialized (parquet/localCheckpoint)
    # the two triple branches read it cheaply; otherwise let
    # emit_triples persist its slim projection
    triples = emit_triples(classified, materialize=cut_mode == "none")
    return {
        "turns": turns,
        "mentions": mentions,
        "linked": linked,
        "enriched": enriched,
        "classified": classified,
        "triples": triples,
        "dims": {
            "title_map": _dim("title_map"),
            "alias_map": _dim("alias_map"),
            "kb_context": _dim("kb_context"),
        },
    }
