"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same seed
writes the same parquet bytes' worth of rows. Inputs are written with
pyarrow, so the program under test sees them only as parquet tables,
and each generator returns the input properties of the run (turns,
tokens/turn, mentions/turn, max fan-out, near-duplicate share).
"""

from __future__ import annotations

import random
from collections import Counter
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from kgpipe import fixtures, schemas
from kgpipe.driver_queries import LEXICON

# The generated `documents` and `embeddings` tables follow the sf0.1
# test-data tables (5,000 documents, 2,000 vectors), measured as:
# - text: 10 to 100 tokens, uniform (mean 54.1, sd 25.7), each token
#   drawn uniformly from the 30 words of VOCAB (8,829 to 9,182
#   occurrences each);
# - lang: en 0.412, zh 0.151, es 0.149, fr 0.148, de 0.140;
# - source: "src<doc_id % 20>";
# - near-duplicates: 5.0% of documents are another document's text
#   followed by " dup" (the base is any document, earlier or later);
# - embeddings: 64-d unit vectors; the 10 labels are uniform (182 to
#   218 each) and carry no structure: the cosine of two vectors has
#   the same spread within a label as between labels (median 0.000,
#   1st/99th percentile -0.288/0.287, i.e. sd 1/sqrt(64)), so the
#   vectors are isotropic.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_WEIGHTS = [0.41, 0.15, 0.14, 0.15, 0.15]
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
N_LABELS = 10
N_ENTITIES = 300  # the kgpipe.fixtures catalog size


# ------------------------------------------------------------ arrow io

def _arrow_type(dt: T.DataType) -> pa.DataType:
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    if isinstance(dt, T.MapType):
        return pa.map_(_arrow_type(dt.keyType), _arrow_type(dt.valueType))
    raise TypeError(f"no arrow mapping for {dt}")


def _write_rows(rows: list, schema: T.StructType, path: str) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
    arrays = []
    for f, col in zip(schema.fields, cols):
        vals = list(col)
        if isinstance(f.dataType, T.MapType):
            vals = [None if v is None else list(v.items()) for v in vals]
        arrays.append(pa.array(vals, type=_arrow_type(f.dataType)))
    pq.write_table(pa.table(arrays, names=schema.fieldNames()), path)


class _RowCapture:
    """Stands in for a SparkSession so the kgpipe.fixtures table
    builders hand back their rows instead of a DataFrame."""

    @staticmethod
    def createDataFrame(rows, schema):  # noqa: N802 (Spark's name)
        return rows, schema


# ----------------------------------------------------------- documents

def _documents(rng: np.random.Generator, n_docs: int,
               near_dup_share: float) -> pa.Table:
    lengths = rng.integers(10, 101, n_docs)
    toks = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(toks[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    # near-duplicates as in sf0.1: another document's text + " dup"
    n_dup = int(round(n_docs * near_dup_share))
    originals = list(texts)
    for i in rng.choice(n_docs, n_dup, replace=False):
        j = (int(i) + int(rng.integers(1, n_docs))) % n_docs
        texts[i] = originals[j] + " dup"
    doc_id = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_WEIGHTS),
        "source": [f"src{i % N_SOURCES}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _text_props(texts: list, mention_words: set | None) -> dict:
    n_tok = [len(t.split(" ")) for t in texts]
    props = {"turns": len(texts),
             "tokens_per_turn": round(sum(n_tok) / max(1, len(texts)), 3)}
    if mention_words is not None:
        n_m = sum(1 for t in texts for w in t.split(" ") if w in mention_words)
        props["mentions_per_turn"] = round(n_m / max(1, len(texts)), 3)
    return props


def lexicon_documents(seed: int, out_dir: str, n_docs: int,
                      near_dup_share: float = NEAR_DUP_SHARE) -> dict:
    """kg_lexicon: a documents table with sf0.1's token, length, language
    and near-duplicate distribution. q25 tags the 7 LEXICON words, each
    linked to one QID (fan-out 1)."""
    rng = np.random.default_rng([seed, 1])
    docs = _documents(rng, n_docs, near_dup_share)
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    props = _text_props(docs.column("text").to_pylist(), set(LEXICON))
    props.update(max_fanout=1, near_dup_share=near_dup_share,
                 conversations=min(N_SOURCES, n_docs))
    return props


def corpus(seed: int, out_dir: str, n_docs: int, n_vecs: int,
           near_dup_share: float = NEAR_DUP_SHARE, dim: int = 64) -> dict:
    """corpus_dedup: documents with a stated near-duplicate share plus
    isotropic unit embeddings with uniform, structure-free labels, both
    as in sf0.1."""
    rng = np.random.default_rng([seed, 2])
    docs = _documents(rng, n_docs, near_dup_share)
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    v = rng.normal(0, 1, (n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, N_LABELS, n_vecs).astype(np.int32),
    }), f"{out_dir}/embeddings.parquet")
    props = _text_props(docs.column("text").to_pylist(), None)
    props.update(near_dup_share=near_dup_share, vectors=n_vecs, dim=dim)
    return props


# ---------------------------------------------------- fixture catalog

def _catalog_tables(catalog, out_dir: str) -> dict:
    cap = _RowCapture()
    for name, build in (("entity_kb", fixtures.entity_kb_df),
                        ("kb_args", fixtures.kb_args_df),
                        ("mention_counts", fixtures.mention_counts_df),
                        ("wiki_summaries", fixtures.wiki_summaries_df)):
        rows, schema = build(cap, catalog)
        _write_rows(rows, schema, f"{out_dir}/{name}.parquet")
        if name == "mention_counts":
            fanout = max(Counter(r[0] for r in rows).values())
            n_surfaces = len({r[0] for r in rows})
    return {"max_fanout": fanout, "kb_surfaces": n_surfaces}


def _conversations(conv_ids, catalog) -> list:
    surfaces = [(e.fine_cat, e.surfaces) for e in catalog.entities]
    weights = catalog.mention_weights()
    rows = []
    for c in conv_ids:
        rows.extend(fixtures._gen_conversation(c, surfaces, weights))
    return rows


def _turn_props(rows: list) -> dict:
    """Turn-level properties; mentions/turn is added by the workload
    from its golden result (one links_to triple per mention)."""
    props = _text_props([r[3] for r in rows], None)
    props["near_dup_share"] = 0.0
    return props


def _conv_ids(rng: random.Random, n: int) -> list:
    return sorted(rng.sample(range(10_000_000), n))


def catalog_transcripts(seed: int, out_dir: str, n_convs: int) -> tuple:
    """kg_catalog: fixture conversations whose indices are drawn from
    the seed, against the 300-entity fixture catalog. Returns
    (props, catalog, transcript rows)."""
    catalog = fixtures.build_catalog(n_entities=N_ENTITIES)
    rows = _conversations(_conv_ids(random.Random(seed), n_convs), catalog)
    _write_rows(rows, schemas.TRANSCRIPTS, f"{out_dir}/transcripts.parquet")
    props = _turn_props(rows)
    props.update(_catalog_tables(catalog, out_dir), conversations=n_convs)
    return props, catalog, rows


def resume_transcripts(seed: int, out_dir: str, n_base_convs: int,
                       new_conv_share: float = 0.1,
                       appended_share: float = 0.1) -> tuple:
    """kg_resume: a base set of fixture conversations plus an increment
    Δ = new conversations + new turns appended to `appended_share` of
    the existing conversations (turn_idx continues after the last base
    turn; texts come from further fixture conversations). Writes
    `base.parquet` and `delta.parquet`. Returns (props, catalog, base
    rows, delta rows)."""
    rng = random.Random(seed)
    catalog = fixtures.build_catalog(n_entities=N_ENTITIES)
    n_new = max(1, int(n_base_convs * new_conv_share))
    n_app = max(1, int(n_base_convs * appended_share))
    ids = _conv_ids(rng, n_base_convs + n_new + n_app)
    rng.shuffle(ids)
    base_ids = sorted(ids[:n_base_convs])
    base = _conversations(base_ids, catalog)
    delta = _conversations(sorted(ids[n_base_convs:n_base_convs + n_new]),
                           catalog)
    last_turn = {}
    for r in base:
        last_turn[r[0]] = max(last_turn.get(r[0], -1), r[1])
    targets = rng.sample(base_ids, n_app)
    for target, src in zip(targets, ids[n_base_convs + n_new:]):
        conv = f"conv-{target:07d}"
        extra = _conversations([src], catalog)
        start = last_turn[conv] + 1
        ts0 = max(r[5] for r in base if r[0] == conv)
        for k, r in enumerate(extra):
            delta.append((conv, start + k, r[2], r[3], r[4],
                          ts0 + timedelta(minutes=k + 1)))
    _write_rows(base, schemas.TRANSCRIPTS, f"{out_dir}/base.parquet")
    _write_rows(delta, schemas.TRANSCRIPTS, f"{out_dir}/delta.parquet")
    props = _turn_props(base + delta)
    props.update(_catalog_tables(catalog, out_dir),
                 base_turns=len(base), delta_turns=len(delta),
                 appended_convs=n_app, new_convs=n_new)
    return props, catalog, base, delta

