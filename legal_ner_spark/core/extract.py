"""Single-document end-to-end extraction — the reference's flagship query
``extract_entities_from_judgment_text`` (legal_ner.py:12-48) plus triple
emission, as one pure function.

This is the unit the Spark engine vectorizes: one call per document inside a
fused ``mapInArrow`` stage (zero-shuffle — SURVEY.md §3.1 lifecycle), and
the same function is the single-doc oracle for pipeline equality tests.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from bisect import bisect_right

from .docmodel import Doc, Span
from .preamble import separate_and_clean_preamble
from .tagger import tag_region
from .postprocess import postprocess_doc, PostprocessResult

_MIDLINE_NEWLINE_RE = re.compile(r'(\w[ -]*)(\n+)')

ROLE_PREDICATES = {
    'PETITIONER': 'has_petitioner',
    'RESPONDENT': 'has_respondent',
    'JUDGE': 'has_judge',
    'LAWYER': 'has_lawyer',
}

# every predicate _emit can produce
PREDICATES = ('cites_precedent', 'same_as', 'part_of', 'decided_by',
              *ROLE_PREDICATES.values(), 'mentions')


@dataclass
class Mention:
    ent_id: int
    sent_id: int
    start_char: int
    end_char: int
    text: str
    label: str
    region: str


@dataclass
class DocResult:
    doc_id: str
    ok: bool
    mentions: list[Mention] = field(default_factory=list)
    triples: list[tuple[str, str, str]] = field(default_factory=list)
    precedent_clusters: list[tuple[int, str, str]] = field(default_factory=list)   # (cluster_id, head_text, member_text)
    statute_clusters: list[tuple[str, str]] = field(default_factory=list)          # (canonical, member_text)
    provision_statute_pairs: list[tuple[str, str, str, str]] = field(default_factory=list)  # (pro_text, sta_text, norm_pro, norm_sta)
    n_sentences: int = 0


def _tag_judgment_by_sentence(judgment_text: str,
                              tagger) -> list[tuple[int, int, str]]:
    """run_type='sent' (legal_ner.py:26-27 → data_preparation.py:256-262):
    tag each sentence separately and rebase offsets — the batching mode the
    reference prefers for long docs (README.md:159-165).  With the
    deterministic tagger the output matches doc mode unless a pattern spans
    a sentence boundary."""
    doc = Doc(judgment_text)
    tags: list[tuple[int, int, str]] = []
    for sent in doc.sents:
        for (s, e, label) in tagger(judgment_text[sent.start_char:sent.end_char],
                                    'judgment'):
            tags.append((s + sent.start_char, e + sent.start_char, label))
    return tags


def extract_document(doc_id: str, text: str, text_type: str = 'doc',
                     tagger=tag_region,
                     strict_compat: bool = True) -> DocResult:
    """Run the full reference lifecycle (SURVEY.md §3.1) on one document.
    ``text_type`` ∈ {'doc','sent'} mirrors legal_ner.py:24-27; ``tagger``
    is the NER stand-in contract (default: deterministic closed-vocab
    tagger; production: core.model_tagger.load_spacy_tagger).
    ``strict_compat=False`` runs the fixed-quirk postprocessing
    (see postprocess_doc)."""
    # 1. preamble split (+200/5000 truncation, POS-guess, title-casing) —
    #    legal_ner.py:15 → data_preparation.py:108-127
    preamble_titled, preamble_end = separate_and_clean_preamble(text)
    # 2. judgment slice + mid-sentence newline join — legal_ner.py:20-22
    judgment_text = _MIDLINE_NEWLINE_RE.sub(r'\1 ', text[preamble_end:])
    # 3. NER per region — legal_ner.py:23-34
    pre_tags = tagger(preamble_titled, 'preamble')
    if text_type == 'sent':
        jud_tags = _tag_judgment_by_sentence(judgment_text, tagger)
    else:
        jud_tags = tagger(judgment_text, 'judgment')
    # 4. concat with offset rebase — Doc.from_docs, legal_ner.py:39
    #    (ensure_whitespace: a space is inserted unless the left side already
    #    ends in whitespace)
    sep = '' if (not preamble_titled or preamble_titled[-1].isspace()) else ' '
    base = len(preamble_titled) + len(sep)
    combined = preamble_titled + sep + judgment_text
    doc = Doc(combined, hard_breaks=(base,))
    ents: list[Span] = []
    for (s, e, label) in pre_tags:
        sp = doc.char_span(s, e, label=label)
        if sp is not None:
            ents.append(sp)
    for (s, e, label) in jud_tags:
        sp = doc.char_span(s + base, e + base, label=label)
        if sp is not None:
            ents.append(sp)
    ents.sort(key=lambda sp: sp.start)
    doc.ents = ents
    # 5. postprocessing DAG — legal_ner.py:43 → postprocessing_utils.py:896-915
    result = postprocess_doc(doc, strict_compat=strict_compat)
    return _emit(doc_id, doc, result, preamble_len=len(preamble_titled))


def _region(span: Span, preamble_len: int) -> str:
    return 'preamble' if span.start_char < preamble_len else 'judgment'


def _emit(doc_id: str, doc: Doc, result: PostprocessResult,
          preamble_len: int) -> DocResult:
    """Flatten the postprocessing result into mention rows + (s,p,o) triples
    (vocabulary: SURVEY.md §7.4, sourced from doc.user_data at
    postprocessing_utils.py:910-912 and the CSV flatten at :825-864)."""
    out = DocResult(doc_id=doc_id, ok=result.ok, n_sentences=len(doc.sents))
    sent_starts = [s.start for s in doc.sents]

    def sent_id_of(span: Span) -> int:
        return max(0, bisect_right(sent_starts, span.start) - 1)

    for i, ent in enumerate(result.ents):
        out.mentions.append(Mention(i, sent_id_of(ent), ent.start_char,
                                    ent.end_char, ent.text, ent.label,
                                    _region(ent, preamble_len)))

    triples: list[tuple[str, str, str]] = []
    covered: set[tuple[int, int]] = set()

    for cid, (head, members) in enumerate(result.precedent_clusters.items()):
        triples.append((doc_id, 'cites_precedent', head.text))
        for m in members:
            out.precedent_clusters.append((cid, head.text, m.text))
            covered.add((m.start_char, m.end_char))

    for canonical, members in result.statute_clusters.items():
        for m in members:
            out.statute_clusters.append((canonical, m.text))
            triples.append((m.text, 'same_as', canonical))
            covered.add((m.start_char, m.end_char))

    for pair in result.provision_statute_pairs:
        pro, sta = pair.provision_entity, pair.statute_entity
        out.provision_statute_pairs.append(
            (pro.text if pro is not None else '',
             sta.text, pair.normalised_provision_text,
             pair.normalised_statute_text))
        triples.append((pair.normalised_provision_text, 'part_of',
                        pair.normalised_statute_text))
        if pro is not None:
            covered.add((pro.start_char, pro.end_char))

    for ent in result.ents:
        if ent.label == 'COURT' and _region(ent, preamble_len) == 'preamble':
            triples.append((doc_id, 'decided_by', ent.text))
            covered.add((ent.start_char, ent.end_char))
        elif ent.label in ROLE_PREDICATES and _region(ent, preamble_len) == 'preamble':
            triples.append((doc_id, ROLE_PREDICATES[ent.label], ent.text))
            covered.add((ent.start_char, ent.end_char))

    # residual entities → mentions triples (CSV rows with empty
    # normalisation, postprocessing_utils.py:852-857)
    for ent in result.ents:
        if (ent.start_char, ent.end_char) not in covered:
            triples.append((doc_id, 'mentions', ent.text + '||' + ent.label))

    # exact-set semantics per doc (P/R is computed over sets)
    seen = set()
    for t in triples:
        if t not in seen:
            seen.add(t)
            out.triples.append(t)
    return out
