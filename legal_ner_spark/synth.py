"""Deterministic synthetic judgment-corpus generator.

Produces the authoritative input shape from BASELINE.json's input_hint:
``(doc_id: string, spans: array<struct<kind:string, text:string,
media_ref:string, offset:int>>)`` — interleaved text + media spans.  Document
text is the concatenation of ``kind='text'`` span texts in offset order;
media spans carry ``media_ref`` and empty text and must pass through the
engine untouched (span-sequence invariant).

Seeded **per document id** (not per run), so generation distributes
embarrassingly: ``synthetic_corpus`` fans ``gen_doc`` out over a ``spark.range``
via mapInPandas — no driver-side materialization, works at any scale.
Document shapes follow the reference corpus structure (preamble with parties/
court/judges + keyword line, data_preparation.py:37; judgment sentences with
planted entities) and include the north_rule skew: IPC/CrPC-heavy statute
frequencies and occasional mega-documents.
"""

from __future__ import annotations

import random

from .core import vocab

KINDS_MEDIA = ["image", "scan", "audio"]

_SEED_BASE = 0x5EED_1E9A


def _rng_for(idx: int) -> random.Random:
    return random.Random(_SEED_BASE + idx * 1_000_003)


def _name(rng) -> str:
    return f"{rng.choice(vocab.FIRST_NAMES)} {rng.choice(vocab.LAST_NAMES)}"


def _citation(rng) -> str:
    style = rng.randrange(3)
    if style == 0:
        return f"({rng.randint(1950, 2021)}) {rng.randint(1, 12)} SCC {rng.randint(1, 900)}"
    if style == 1:
        return f"AIR {rng.randint(1950, 2021)} SC {rng.randint(1, 900)}"
    return f"{rng.randint(1950, 2021)} AIR {rng.randint(1, 900)}"


def _statute(rng) -> str:
    # north_rule skew: IPC/CrPC surface forms dominate
    r = rng.random()
    if r < 0.35:
        return rng.choice(["Indian Penal Code", "I.P.C.", "Penal Code"])
    if r < 0.65:
        return rng.choice(["Code of Criminal Procedure", "Cr.P.C.",
                           "Criminal Procedure Code"])
    return rng.choice(vocab.STATUTES)


def _date(rng) -> str:
    if rng.random() < 0.5:
        return f"{rng.randint(1, 28):02d}.{rng.randint(1, 12):02d}.{rng.randint(1990, 2021)}"
    d = rng.randint(1, 28)
    suffix = {1: "st", 2: "nd", 3: "rd", 21: "st", 22: "nd", 23: "rd"}.get(d, "th")
    return f"{d}{suffix} {rng.choice(vocab.MONTHS)}, {rng.randint(1990, 2021)}"


def gen_text(idx: int) -> str:
    """Build one judgment's raw text (preamble + judgment body)."""
    rng = _rng_for(idx)
    court = rng.choice(vocab.COURTS)
    pet = _name(rng)
    res = f"State of {rng.choice(vocab.GPES)}" if rng.random() < 0.5 else _name(rng)
    judge = _name(rng)
    lawyer = _name(rng)
    case_no = (f"{rng.choice(vocab.CASE_TYPES)} No. "
               f"{rng.randint(1, 999)} of {rng.randint(1995, 2021)}")

    pre = [
        f"IN THE {court.upper()}",
        case_no.upper(),
        f"{pet.upper()} .... PETITIONER",
        "VERSUS",
        f"{res.upper()} .... RESPONDENT",
        f"CORAM: HON'BLE MR. JUSTICE {judge.upper()}",
        f"MR. {lawyer.upper()}, ADVOCATE FOR THE PETITIONER",
        "",
        rng.choice(["JUDGMENT", "O R D E R", "ORDER", "COMMON ORDER"]),
        "",
    ]
    preamble = "\n".join(pre) + "\n"

    # mega-doc skew: ~2% of docs are 20x longer (SURVEY.md §7.3 skew bullet)
    n_sent = rng.randint(8, 24)
    if rng.random() < 0.02:
        n_sent *= 20

    sents: list[str] = []
    planted_precedents: list[tuple[str, str, str]] = []  # (pet, res, citation)
    pro_statute_seen: list[str] = []
    constitution_seen = False

    for _ in range(n_sent):
        kind = rng.random()
        if kind < 0.22:
            num = rng.randint(2, 520)
            sta = _statute(rng)
            if rng.random() < 0.2:
                nums = sorted(rng.sample(range(100, 599), 3))
                pro = f"Sections {nums[0]}, {nums[1]} and {nums[2]}"
            elif 'Constitution' in sta:
                pro = f"Article {rng.randint(12, 370)}"
            else:
                pro = f"Section {num}"
            pro_statute_seen.append(pro)
            constitution_seen = constitution_seen or 'Constitution' in sta
            sents.append(f"The appellant was charged under {pro} of the {sta}.")
        elif kind < 0.30 and pro_statute_seen:
            # orphan provision: same normalized number seen earlier with a
            # statute → exercises map_pro_statute_on_heuristics path (a)
            sents.append(f"He also relied on {rng.choice(pro_statute_seen)} in support.")
        elif kind < 0.38:
            p, r = _name(rng), f"State of {rng.choice(vocab.GPES)}"
            cit = _citation(rng) if rng.random() < 0.7 else ""
            planted_precedents.append((p, r, cit))
            sents.append(f"Reliance was placed on {p} vs {r} {cit}".rstrip() + ".")
            if rng.random() < 0.5:
                # near-duplicate for greedy edit-distance clustering
                # (postprocessing_utils.py:100-105, threshold 5)
                r2 = r.replace("a", "", 1)
                sents.append(f"The ratio of {p} versus {r2} {cit}".rstrip()
                             + " was held applicable.")
        elif kind < 0.44 and planted_precedents:
            p = rng.choice(planted_precedents)[0]
            sents.append(f"{p}'s case (supra) was distinguished by the court.")
        elif kind < 0.52:
            long_form, alias = rng.choice(vocab.ALIASED_ACTS)
            sents.append(f"The claim arose under the {long_form} ({alias}) as amended.")
            if rng.random() < 0.6:
                sents.append(f"The {alias} provides for compensation in such cases.")
        elif kind < 0.60:
            person = pet if rng.random() < 0.4 else _name(rng)
            sents.append(f"The evidence of {person} was recorded by the trial court.")
        elif kind < 0.66:
            w = _name(rng)
            sents.append(f"{w} (PW-{rng.randint(1, 9)}) deposed that the occurrence "
                         f"was seen on {_date(rng)}.")
        elif kind < 0.74:
            sents.append(f"The incident occurred at {rng.choice(vocab.GPES)} "
                         f"on {_date(rng)}.")
        elif kind < 0.80:
            sents.append(f"A report was filed by the {rng.choice(vocab.ORGS)}.")
        elif kind < 0.86:
            sents.append(f"The matter was heard in {case_no} by the court below.")
        else:
            sents.append(rng.choice([
                "The appeal was dismissed by the court below.",
                "The conviction was set aside and the matter remanded.",
                "Learned counsel argued that the charge was not proved.",
                "The bail application was rejected by the trial court.",
                "The sentence was reduced considering the circumstances.",
            ]))

    if constitution_seen and rng.random() < 0.4:
        sents.append(f"The writ was filed under Article {rng.randint(12, 370)} "
                     f"before this court.")

    return preamble + " ".join(sents)


def gen_spans(idx: int) -> list[dict]:
    """Chunk the doc text into 1-4 text spans and interleave 0-3 media spans.
    ``offset`` is the span's ordinal position in the interleaved sequence."""
    rng = random.Random(_SEED_BASE ^ (idx * 7_777_777))
    text = gen_text(idx)
    n_chunks = rng.randint(1, 4)
    cut_points = sorted(rng.sample(range(200, max(201, len(text) - 10)),
                                   min(n_chunks - 1, max(0, len(text) - 210))))
    bounds = [0] + cut_points + [len(text)]
    chunks = [text[a:b] for a, b in zip(bounds, bounds[1:]) if a < b]
    spans: list[dict] = []
    pos = 0
    for i, chunk in enumerate(chunks):
        if i > 0 and rng.random() < 0.4:
            spans.append({"kind": rng.choice(KINDS_MEDIA), "text": "",
                          "media_ref": f"media://doc_{idx:08d}/{pos}",
                          "offset": pos})
            pos += 1
        spans.append({"kind": "text", "text": chunk, "media_ref": "",
                      "offset": pos})
        pos += 1
    if rng.random() < 0.3:
        spans.append({"kind": rng.choice(KINDS_MEDIA), "text": "",
                      "media_ref": f"media://doc_{idx:08d}/{pos}", "offset": pos})
    return spans


def gen_doc(idx: int) -> dict:
    return {"doc_id": f"doc_{idx:08d}", "spans": gen_spans(idx)}


def assemble_text(spans: list[dict]) -> str:
    """Document text = concat of kind='text' span texts in offset order
    (BASELINE.json input_hint).  Null-tolerant like the Catalyst form
    (operators/extract.TEXT_ASSEMBLY_EXPR): a null spans array, null
    struct elements, and null text values all degrade to '' rather than
    raising — the oracle and the JVM assembly treat dirty rows
    identically."""
    if not spans:
        return ""
    # null offsets sort FIRST, stably — the same total order as the
    # Catalyst comparator in operators/extract.TEXT_ASSEMBLY_EXPR, so both
    # assemble identical text on dirty rows
    return "".join(s["text"] for s in sorted(
        (s for s in spans if s is not None),
        key=lambda s: (0, 0) if s["offset"] is None else (1, s["offset"]))
        if s["kind"] == "text" and s["text"] is not None)


def synthetic_corpus(spark, n_docs: int, partitions: int | None = None):
    """Distributed deterministic corpus DataFrame(doc_id, spans):
    spark.range fan-out, one gen_doc per id, seeded by id — no driver
    materialization, scales to any n_docs."""
    import pandas as pd
    from .schema import CORPUS_SCHEMA

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([gen_doc(int(i)) for i in pdf["id"]],
                               columns=["doc_id", "spans"])

    rng = spark.range(n_docs, numPartitions=partitions)
    return rng.mapInPandas(gen, CORPUS_SCHEMA)
