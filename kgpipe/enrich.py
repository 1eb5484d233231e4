"""KB enrichment: J7 first-candidate-with-coverage acceptance with EN
fallback + sentinels, J6 argument expansion, summary lookup
(SURVEY.md §2.4; reference get_wikidata.py:102-203, 239-276).

Reference semantics: iterate the ranked QID list; accept the first
whose KB entry has BOTH a title and a description in the requested
language (disambiguation pages were blanked and so never match); if
none, rerun the whole iteration with lang='en'; if still none, emit
sentinels. Arguments are the per-edge labels in the accepted language,
in P31→P106→P279 edge order.

Spark-first: posexplode the prediction list, one broadcast join against
the `kb_context` dim (the reference's JSON cache as a table — no
network), then an argmin-by-rank aggregation per mention. min() over a
struct keyed by candidate position gives "first accepted" exactly; the
EN pass is a second conditional aggregation in the same groupBy, so the
whole stage is one shuffle on mention_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgpipe.schemas import (
    NO_WIKIDATA_SUMMARY,
    NO_WIKIPEDIA_SUMMARY,
    NO_WIKIPEDIA_TITLE,
    Q0,
)


def summary_dim(wiki_summaries: DataFrame) -> DataFrame:
    """The deduplicated per-title summary dim the decisions stage
    broadcasts: the reference cache is a dict keyed by title
    (get_wikidata.py:218), so enforce one summary per title
    deterministically (min). Built here so build_dims can materialize
    it ONCE with the other dims — otherwise the groupBy runs inside the
    broadcast build of every decisions-stage plan, a measured serial
    driver-side window in the scaling event logs (the AQE broadcast
    build blocks the whole query until the aggregation finishes)."""
    return (
        wiki_summaries.groupBy(F.col("title").alias("wikipedia_title"))
        .agg(F.min("summary").alias("summary"))
    )


def acceptance_decisions(
    linked: DataFrame,
    kb_context: DataFrame,
    wiki_summaries: DataFrame,
    language: str = "en",
    summaries_dim: DataFrame | None = None,
) -> DataFrame:
    """The per-mention acceptance/enrichment decision frame (one row
    per mention_id): accepted_qid, accepted_lang, wikidata_summary,
    wikidata_arguments, arg_pairs, wikipedia_title, wikipedia_summary.

    A frame of its own so callers can materialize it before the
    fold-back join — the fused decision+join plan degrades ~3× at high
    parallelism (same pathology as the linking stage, see
    pipeline.py)."""
    if language == "multi":  # get_wikidata.py:355-359
        language = "en"

    exploded = linked.select(
        "mention_id", F.posexplode("genre_prediction").alias("pos", "qid")
    )
    ctx = exploded.join(F.broadcast(kb_context), "qid", "left")

    def covered(lang: str):
        return (
            F.map_contains_key(F.col("titles"), F.lit(lang))
            & F.map_contains_key(F.col("descriptions"), F.lit(lang))
        )

    payload = F.struct(
        F.col("pos"), F.col("qid"),
        F.col("descriptions"), F.col("arguments"), F.col("titles"),
    )
    # min_by with a NULL ordering key skips the row → "first accepted
    # candidate" = min_by(payload, pos | covered). (min(struct) can't
    # order structs containing maps.)
    agg = ctx.groupBy("mention_id").agg(
        F.min_by(payload, F.when(covered(language), F.col("pos"))).alias("acc_req"),
        F.min_by(payload, F.when(covered("en"), F.col("pos"))).alias("acc_en"),
    )

    use_en = F.col("acc_req").isNull() & F.lit(language != "en")
    acc = F.when(use_en, F.col("acc_en")).otherwise(F.col("acc_req"))
    lang_used = F.when(use_en, F.lit("en")).otherwise(F.lit(language))

    decided = agg.select(
        "mention_id",
        acc.alias("acc"),
        F.when(acc.isNotNull(), lang_used).alias("accepted_lang"),
    ).select(
        "mention_id",
        F.col("acc.qid").alias("accepted_qid"),
        F.col("accepted_lang"),
        F.when(
            F.col("acc").isNotNull(),
            F.element_at(F.col("acc.descriptions"), F.col("accepted_lang")),
        ).otherwise(F.lit(NO_WIKIDATA_SUMMARY)).alias("wikidata_summary"),
        F.when(
            F.col("acc").isNotNull(),
            F.expr(
                "transform(filter(acc.arguments,"
                " a -> map_contains_key(a.labels, accepted_lang)),"
                " a -> a.labels[accepted_lang])"
            ),
        ).otherwise(F.array().cast("array<string>")).alias("wikidata_arguments"),
        F.when(
            F.col("acc").isNotNull(),
            F.expr(
                "transform(filter(acc.arguments,"
                " a -> map_contains_key(a.labels, accepted_lang)),"
                " a -> struct(a.prop as prop, a.labels[accepted_lang] as label))"
            ),
        ).otherwise(F.expr("array()").cast(
            "array<struct<prop:string,label:string>>")).alias("arg_pairs"),
        F.when(
            F.col("acc").isNotNull(),
            F.element_at(F.col("acc.titles"), F.col("accepted_lang")),
        ).otherwise(F.lit(NO_WIKIPEDIA_TITLE)).alias("wikipedia_title"),
    )

    # Wikipedia summary: dim join replaces the MediaWiki REST call (S7);
    # the "No wikipedia title" → "No wikipedia summary found" row is
    # pre-seeded in the reference cache (get_wikidata.py:218). Pass
    # `summaries_dim` (build_dims materializes it) so the broadcast
    # build collects a checkpointed table instead of running the
    # dedup aggregation serially inside the build.
    summ = F.broadcast(
        summaries_dim if summaries_dim is not None
        else summary_dim(wiki_summaries)
    )
    with_summary = (
        decided.join(summ, "wikipedia_title", "left")
        .withColumn(
            "wikipedia_summary",
            F.when(
                F.col("wikipedia_title") == NO_WIKIPEDIA_TITLE,
                F.lit(NO_WIKIPEDIA_SUMMARY),
            ).otherwise(F.coalesce("summary", F.lit(NO_WIKIPEDIA_SUMMARY))),
        )
        .drop("summary")
    )
    return with_summary


def attach_decisions(linked: DataFrame, decisions: DataFrame) -> DataFrame:
    """Fold the per-mention decision frame back onto the mention rows;
    mentions with no accepted candidate get the Q0 link sentinel.

    The decisions side carries long summary strings, so its parquet
    footprint wildly underestimates its in-memory size: Spark's static
    planner saw an ~8 MB file at 1.2M turns and chose a broadcast join
    whose driver-side build was a measured 12.7 s serial stall (the
    single largest gap in the N→4N event logs, BENCH/BASELINE.md). A
    shuffled hash join is forced instead — per-mention rows stream
    through executors with no driver collect, the exact shape a
    10¹²-turn run needs (where decisions could never broadcast)."""
    return linked.join(decisions.hint("shuffle_hash"), "mention_id",
                       "left").withColumn(
        "link_qid", F.coalesce("accepted_qid", F.lit(Q0))
    )


def attach_predictions_and_decisions(mentions: DataFrame,
                                     predictions: DataFrame,
                                     decisions: DataFrame) -> DataFrame:
    """Terminal wide attach (r7): fold BOTH the slim per-mention
    prediction frame (linking.predictions_frame) and the decision frame
    onto the mention rows in one join chain keyed on mention_id — the
    wide mention rows (marked_text etc.) cross exactly ONE exchange,
    where the r6 shape shuffled them twice (fold-back join, then the
    decisions attach) with a ~150 MB-at-sf1.0 stage-cut materialization
    in between.

    Equivalence with attach_decisions(predictions_per_mention(...), ...):
    a mention absent from `predictions` had zero surviving candidates;
    in the r6 shape its ["Q0"] sentinel rode INTO acceptance_decisions,
    where Q0 (never in kb_context) produced exactly the constant
    decision row (acc NULL → sentinel summaries/titles, empty argument
    arrays). Those constants are re-added here on the NULL rows, so feeding
    acceptance_decisions the slim frame (which simply lacks those
    mentions) yields an identical enriched table — row-for-row
    (equivalence pytest + q25 oracle hash).

    Both small sides take the shuffle_hash hint for the
    attach_decisions reason (the decisions/prediction builds must not
    be driver-broadcast at corpus scale; per-mention rows stream).

    The sentinels fill only the NULL rows of each left-join column,
    through when(col IS NULL, sentinel).otherwise(col): the CASE takes
    its nullability from the nullable join column itself, so the
    decision columns stay NULLABLE — bit-identical schema (not just
    values) to the r6 shape, whose decision columns came out of a left
    join — without depending on what the optimizer folds."""
    def _fill(name, sentinel):
        return F.when(F.col(name).isNull(), sentinel).otherwise(F.col(name))

    return (
        mentions
        .join(predictions.hint("shuffle_hash"), "mention_id", "left")
        .join(decisions.hint("shuffle_hash"), "mention_id", "left")
        .withColumn("genre_prediction",
                    F.coalesce("genre_prediction", F.array(F.lit(Q0))))
        .withColumn("wikidata_summary",
                    _fill("wikidata_summary", F.lit(NO_WIKIDATA_SUMMARY)))
        .withColumn("wikidata_arguments",
                    _fill("wikidata_arguments",
                          F.array().cast("array<string>")))
        .withColumn("arg_pairs",
                    _fill("arg_pairs", F.expr("array()").cast(
                        "array<struct<prop:string,label:string>>")))
        .withColumn("wikipedia_title",
                    _fill("wikipedia_title", F.lit(NO_WIKIPEDIA_TITLE)))
        .withColumn("wikipedia_summary",
                    _fill("wikipedia_summary", F.lit(NO_WIKIPEDIA_SUMMARY)))
        .withColumn("link_qid", F.coalesce("accepted_qid", F.lit(Q0)))
    )

