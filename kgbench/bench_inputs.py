"""Seeded input generator of the KG-construction benchmark.

The seed picks the doc-id ranges fed to ``synth.gen_doc`` (which seeds
each document by its id) and the batch split; inputs are written as
parquet corpora with pyarrow, outside any timed region, so the program
under test receives only generated files.  The same seed gives
byte-identical files."""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from legal_ner_spark import synth

CORPUS_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))),
])

# part of the input cache key: bump it when generation changes
GENERATOR_VERSION = 5

# synth makes ~2 % of its documents 20x longer; a document this long is
# one of them (ordinary ones stay under ~4 KB)
MEGA_CHARS = 8_000


def doc_chars(doc: dict) -> int:
    return sum(len(s["text"]) for s in doc["spans"])


def pick_docs(start: int, n: int, mega_share: float) -> list[dict]:
    """``n`` consecutive-id documents from ``start`` on, of which exactly
    ``round(n * mega_share)`` are synth's 20x documents: ordinary and
    long ones are taken in id order until each quota is met, so every
    seed gets the same mix and only the documents differ."""
    want_mega = round(n * mega_share)
    want_plain = n - want_mega
    plain, mega = [], []
    i = start
    while len(plain) < want_plain or len(mega) < want_mega:
        d = synth.gen_doc(i)
        if doc_chars(d) >= MEGA_CHARS:
            if len(mega) < want_mega:
                mega.append(d)
        elif len(plain) < want_plain:
            plain.append(d)
        i += 1
    return sorted(plain + mega, key=lambda d: d["doc_id"])


def write_corpus(docs: list[dict], path: str, n_files: int) -> int:
    """Write ``docs`` as ``n_files`` parquet parts; returns bytes on disk."""
    os.makedirs(path, exist_ok=True)
    size = 0
    for k in range(n_files):
        part = docs[k::n_files]
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(part, schema=CORPUS_ARROW), f)
        size += os.path.getsize(f)
    return size


def _offsets(seed: int) -> random.Random:
    return random.Random(0xC0FFEE ^ (seed * 2_654_435_761))


def make_bulk(seed: int, root: str, n_docs: int, n_warm: int,
              mega_share: float = 0.02, n_files: int = 24) -> dict:
    """Corpus of ``n_docs`` judgments in synth's own mix (exactly
    ``mega_share`` of 20x documents) plus a disjoint warm-up corpus."""
    rng = _offsets(seed)
    start = rng.randrange(1_000_000, 50_000_000)
    docs = pick_docs(start, n_docs, mega_share)
    warm = pick_docs(start - 10 * n_warm - 1_000, n_warm, mega_share)
    in_bytes = write_corpus(docs, os.path.join(root, "corpus"), n_files)
    write_corpus(warm, os.path.join(root, "warm"), 4)
    return {"workload": "bulk_build", "seed": seed, "first_id": start,
            "docs": len(docs), "input_mb": in_bytes / 1e6,
            "text_mb": sum(map(doc_chars, docs)) / 1e6,
            "mega_docs": sum(doc_chars(d) >= MEGA_CHARS for d in docs),
            "mega_share_of_text": (sum(doc_chars(d) for d in docs
                                       if doc_chars(d) >= MEGA_CHARS)
                                   / sum(map(doc_chars, docs))),
            "warm_docs": len(warm), "batches": 0}


def make_incremental(seed: int, root: str, n_batches: int, batch_docs: int,
                     n_warm: int = 2, mega_share: float = 0.02) -> dict:
    """``n_batches * batch_docs`` documents in synth's own mix (exactly
    ``mega_share`` of 20x documents, as in ``make_bulk``, dealt evenly
    over the batches) split into ``n_batches`` batches of ``batch_docs``
    documents, the seed shuffling which documents land in which batch,
    plus ``n_warm`` warm-up batches of disjoint documents.  Equal
    batches keep one run's ingest samples alike, so their median and
    tail rest on the program rather than on the split."""
    rng = _offsets(seed)
    rng.randrange(1_000_000, 50_000_000)          # the bulk corpus's draw
    start = rng.randrange(60_000_000, 110_000_000)
    sizes = [batch_docs] * n_batches
    docs = pick_docs(start, sum(sizes), mega_share)
    mega = [d for d in docs if doc_chars(d) >= MEGA_CHARS]
    plain = [d for d in docs if doc_chars(d) < MEGA_CHARS]
    rng.shuffle(mega)
    rng.shuffle(plain)
    # long documents are dealt round-robin, so every batch carries the
    # same share of them and batch cost does not hinge on where they land
    docs_all, i = [], 0
    for b, n in enumerate(sizes):
        m = mega[b::n_batches]
        batch = m + plain[i:i + n - len(m)]
        i += n - len(m)
        write_corpus(batch, os.path.join(root, f"batch{b:03d}"), 1)
        docs_all.extend(batch)
    for w in range(n_warm):
        j = start - (w + 1) * 1_000
        write_corpus([synth.gen_doc(k) for k in range(j, j + batch_docs)],
                     os.path.join(root, f"warm{w}"), 1)
    return {"workload": "incremental_ingest", "seed": seed,
            "first_id": start, "docs": len(docs_all),
            "input_mb": sum(os.path.getsize(os.path.join(root, d, f))
                            for d in os.listdir(root)
                            if d.startswith("batch")
                            for f in os.listdir(os.path.join(root, d))) / 1e6,
            "text_mb": sum(map(doc_chars, docs_all)) / 1e6,
            "mega_docs": sum(doc_chars(d) >= MEGA_CHARS for d in docs_all),
            "mega_share_of_text": (sum(doc_chars(d) for d in docs_all
                                       if doc_chars(d) >= MEGA_CHARS)
                                   / sum(map(doc_chars, docs_all))),
            "batches": n_batches, "batch_sizes": sizes,
            "warm_batches": n_warm}


def ensure_inputs(workload: str, seed: int, cache_root: str, **kw) -> dict:
    """Write the workload's inputs for ``seed`` once; later runs with the
    same seed and sizes reuse them.  Returns the input stats."""
    key = "-".join([workload, f"seed{seed}", f"v{GENERATOR_VERSION}"]
                   + [f"{k}{v}" for k, v in sorted(kw.items())])
    root = os.path.join(cache_root, key)
    stats_path = os.path.join(root, "_stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as fh:
            return json.load(fh)
    tmp = root + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    make = make_bulk if workload == "bulk_build" else make_incremental
    stats = make(seed, tmp, **kw)
    stats["root"] = root
    with open(os.path.join(tmp, "_stats.json"), "w") as fh:
        json.dump(stats, fh)
    os.rename(tmp, root)
    return stats


def read_docs(path: str) -> list[dict]:
    """All documents of a parquet corpus written by ``write_corpus``."""
    return pq.read_table(path, schema=CORPUS_ARROW).to_pylist()
