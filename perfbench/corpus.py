"""Seeded benchmark inputs: flat documents, embeddings and question lists.

The content of every table is fixed, so outputs can be checked against exact
oracles and pinned digests. The workload seed only permutes row order and
picks the question sample. Shapes follow the engine's flat input tables:
``documents(doc_id, text, lang, source, n_chars)`` and
``embeddings(vec_id, embedding, label)``.
"""

from __future__ import annotations

import os
import random

import numpy as np

CONTENT_SEED = 42
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream table"
    " the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
DUP_SHARE = 0.05  # near-duplicate docs: an earlier text plus " dup"
N_ENTITIES = 50  # sources.documents derives ENTITY_0..49 from doc_id % 50


def document_rows(n_docs: int) -> list[tuple]:
    """(doc_id, text, lang, source, n_chars), identical for every seed."""
    rng = random.Random(CONTENT_SEED)
    rows = []
    for doc_id in range(n_docs):
        if rows and rng.random() < DUP_SHARE:
            text = rows[rng.randrange(len(rows))][1] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
        rows.append((doc_id, text, lang, f"src{doc_id % N_SOURCES}", len(text)))
    return rows


def embedding_rows(n_vecs: int, dim: int = 64, n_labels: int = 10) -> list[tuple]:
    """(vec_id, unit-norm float32 embedding, label), identical for every seed."""
    rng = np.random.default_rng(CONTENT_SEED)
    centers = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, size=n_vecs)
    vecs = rng.normal(size=(n_vecs, dim)) + 0.6 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return [
        (i, vecs[i].astype(np.float32).tolist(), int(labels[i])) for i in range(n_vecs)
    ]


def shuffled(rows: list, seed: int) -> list:
    out = list(rows)
    random.Random(seed).shuffle(out)
    return out


def write_tables(data_dir: str, seed: int, n_docs: int, n_vecs: int = 0) -> None:
    """Write ``documents.parquet`` (and ``embeddings.parquet`` when
    ``n_vecs``) in seed-shuffled row order, several files per table so the
    order reaches more than one input split."""
    import pyarrow as pa

    docs = pa.Table.from_pylist(
        [
            dict(zip(("doc_id", "text", "lang", "source", "n_chars"), r))
            for r in shuffled(document_rows(n_docs), seed)
        ],
        schema=pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )
    _write_split(docs, os.path.join(data_dir, "documents.parquet"))
    if n_vecs:
        emb = pa.Table.from_pylist(
            [
                dict(zip(("vec_id", "embedding", "label"), r))
                for r in shuffled(embedding_rows(n_vecs), seed)
            ],
            schema=pa.schema(
                [
                    ("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32()),
                ]
            ),
        )
        _write_split(emb, os.path.join(data_dir, "embeddings.parquet"))


def _write_split(table, path: str, n_files: int = 4) -> None:
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


# -- questions ---------------------------------------------------------------

TEXT = "text"
CAPTION = "caption"
NO_MATCH = "no_match"
KINDS = (TEXT, CAPTION, NO_MATCH)

# No-match questions are single words that share no embedding bucket with
# the benchmark KG (query.hash_embed_text, cosine < 0.2 for every entity),
# so their ANN seeds are empty. pin.py finds them and stores them in
# pinned.json; the output check fails a no-match question that ranks seeds.

def question_pool(no_match_words) -> dict[str, list[str]]:
    """Every question the query workload can ask, by kind. Text questions
    name an entity of the corpus vocabulary, caption questions repeat a
    figure caption (the ORI_IMG branch)."""
    return {
        TEXT: [f"What is ENTITY_{k} associated with?" for k in range(N_ENTITIES)],
        CAPTION: [f"Figure: ENTITY_{k}." for k in range(N_ENTITIES)],
        NO_MATCH: list(no_match_words),
    }


def warm_up_question(seed: int) -> str:
    """The caption question a run asks untimed before its timed rounds."""
    return question_pool(())[CAPTION][seed % N_ENTITIES]


def question_stream(seed: int, no_match_words):
    """Endless seeded (kind, question) sequence in rounds of one question of
    each kind, so every run asks the kinds in equal shares."""
    rng = random.Random(seed)
    pool = question_pool(no_match_words)
    while True:
        for kind in KINDS:
            yield kind, rng.choice(pool[kind])
