"""Seeded input generator for the benchmark.

Everything the engine sees is produced here from ``--seed``; the same seed
gives byte-identical files. Documents have the shape of the ``sf0.1``
``documents`` table (10-100 words drawn from a 30-word vocabulary, a
language and a source column), rendered as markdown the way
``tools/baseline_ref/run_baseline.render_corpus`` renders them: YAML
frontmatter, a ``#`` title and one ``##`` section per 40 words.

The expected chunk count of a rendered document is known by construction:
the frontmatter preamble is one unit with content, the ``#`` title section
has none and is filtered, and every ``##`` section is one chunk (a section
is at most 43 whitespace tokens, far below the 380-token window).
"""

from __future__ import annotations

import hashlib
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
N_SOURCES = 20
SECTION_WORDS = 40
BATCH_DOCS = 1000


def _rng(seed: int, purpose: str) -> random.Random:
    return random.Random(f"perfbench:{purpose}:{seed}")


def make_documents(seed: int, n_docs: int) -> list[dict]:
    """``n_docs`` documents shaped like the sf0.1 ``documents`` table."""
    rng = _rng(seed, "docs")
    docs = []
    for doc_id in range(n_docs):
        n_words = rng.randint(10, 100)
        docs.append(
            {
                "doc_id": doc_id,
                "text": " ".join(rng.choice(VOCAB) for _ in range(n_words)),
                "lang": rng.choice(LANGS),
                "source": f"src{doc_id % N_SOURCES}",
            }
        )
    return docs


def render_markdown(doc: dict) -> str:
    words = doc["text"].split()
    parts = [
        "---",
        f"title: Document {doc['doc_id']}",
        f"url: https://docs.example.com/{doc['source']}/{doc['doc_id']}",
        "---",
        f"# Document {doc['doc_id']}",
        "",
    ]
    for sec, start in enumerate(range(0, len(words), SECTION_WORDS)):
        parts.append(f"## Section {sec}")
        parts.append(" ".join(words[start : start + SECTION_WORDS]))
        parts.append("")
    return "\n".join(parts)


def expected_chunks(doc: dict) -> int:
    """Chunks the build pipeline must emit for one rendered document."""
    return 1 + math.ceil(len(doc["text"].split()) / SECTION_WORDS)


def file_name(seed: int, doc_id: int) -> str:
    salt = hashlib.sha1(f"{seed}:{doc_id}".encode()).hexdigest()[:8]
    return f"{salt}-{doc_id:05d}.md"


def write_corpus(seed: int, docs: list[dict], out_dir: str) -> list[dict]:
    """Render ``docs`` into ``out_dir/batch-NN/`` folders of ``BATCH_DOCS``
    files, in a seed-shuffled write order. Returns one record per batch:
    ``{dir, docs, chunks, doc_ids}``."""
    rng = _rng(seed, "order")
    order = list(range(len(docs)))
    rng.shuffle(order)
    batches = []
    for b, start in enumerate(range(0, len(order), BATCH_DOCS)):
        ids = order[start : start + BATCH_DOCS]
        bdir = os.path.join(out_dir, f"batch-{b:02d}")
        os.makedirs(bdir, exist_ok=True)
        for doc_id in ids:
            with open(
                os.path.join(bdir, file_name(seed, doc_id)), "w", encoding="utf-8"
            ) as f:
                f.write(render_markdown(docs[doc_id]))
        batches.append(
            {
                "dir": bdir,
                "docs": len(ids),
                "chunks": sum(expected_chunks(docs[i]) for i in ids),
                "doc_ids": sorted(ids),
            }
        )
    return batches


def _near_copy(rng: random.Random, text: str) -> str:
    words = text.split()
    i = rng.randrange(len(words))
    words[i] = rng.choice([w for w in VOCAB if w != words[i]])
    return " ".join(words)


def write_curate_batches(seed: int, docs: list[dict], out_dir: str) -> list[dict]:
    """One parquet per ``BATCH_DOCS`` documents, each with planted exact
    and near duplicates under new ids (5% of each). Near duplicates differ
    from their source in one word of a 60+ word text, far above the 0.7
    shingle-Jaccard threshold. Returns ``{path, docs, planted}`` per
    batch, where ``planted`` lists (source id, copy id, kind)."""
    rng = _rng(seed, "curate")
    os.makedirs(out_dir, exist_ok=True)
    next_id = len(docs)
    batches = []
    for b, start in enumerate(range(0, len(docs), BATCH_DOCS)):
        rows = [dict(d) for d in docs[start : start + BATCH_DOCS]]
        long_rows = [r for r in rows if len(r["text"].split()) >= 60]
        planted = []
        n_plant = max(1, len(rows) // 20)
        for kind in ("exact", "near"):
            for src in rng.sample(long_rows, min(n_plant, len(long_rows))):
                text = src["text"] if kind == "exact" else _near_copy(rng, src["text"])
                rows.append(dict(src, doc_id=next_id, text=text))
                planted.append((src["doc_id"], next_id, kind))
                next_id += 1
        rng.shuffle(rows)
        path = os.path.join(out_dir, f"batch-{b:02d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows), path)
        batches.append({"path": path, "docs": len(rows), "planted": planted})
    return batches


# one serve block: two retrieval rounds (four reads each: exact top-k,
# ANN top-k, BM25, node lookup) and one add
SERVE_BLOCK = ["round", "round", "add"]


def make_requests(n_blocks: int) -> list[str]:
    """The serve mix: ``n_blocks`` copies of :data:`SERVE_BLOCK` (eight
    reads, one add). The order is fixed so that every seed measures the
    same mix; the seed draws the arguments (:func:`pick`)."""
    return SERVE_BLOCK * n_blocks


def pick(seed: int, purpose: str, population: list, n: int) -> list:
    """Seeded draw with replacement (query phrases, node ids, add docs)."""
    rng = _rng(seed, purpose)
    return [population[rng.randrange(len(population))] for _ in range(n)]
