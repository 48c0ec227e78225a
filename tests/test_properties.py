"""Property-based tests (hypothesis) — SURVEY.md §5.5 determinism/property
strategy.  Pure-Python core only (no Spark session): fast, wide input
space."""

import re

from hypothesis import example, given, settings, strategies as st

from legal_ner_spark.core.docmodel import Doc, filter_spans, levenshtein
from legal_ner_spark.core.preamble import (convert_upper_case_to_title,
                                           separate_and_clean_preamble)
from legal_ner_spark.core.postprocess import check_stat, _norm
from legal_ner_spark import synth

TEXT = st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
               max_size=200)
WORDS = st.text(
    alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyz ABCDE.\n"), max_size=200)


@settings(max_examples=200, deadline=None)
@given(WORDS)
def test_tokens_cover_all_nonspace(text):
    d = Doc(text)
    covered = set()
    for (s, e, _t) in d.tokens:
        covered.update(range(s, e))
    nonspace = {i for i, ch in enumerate(text) if not ch.isspace()}
    assert covered == nonspace


@settings(max_examples=200, deadline=None)
@given(WORDS)
def test_char_span_expand_covers_request(text):
    d = Doc(text)
    if len(text) < 4:
        return
    sp = d.char_span(1, len(text) - 1)
    if sp is not None:
        # expand semantics: EVERY token overlapping [1, len-1) lies fully
        # inside the returned span (not merely "some overlap exists")
        for (ts, te, _t) in d.tokens:
            if te > 1 and ts < len(text) - 1:
                assert sp.start_char <= ts and te <= sp.end_char
        assert sp.text == text[sp.start_char:sp.end_char]


@settings(max_examples=150, deadline=None)
@given(WORDS)
def test_filter_spans_output_nonoverlapping_and_sorted(text):
    d = Doc(text)
    n = len(d.tokens)
    if n < 2:
        return
    spans = [d.token_span(i, min(i + k, n), "X")
             for i in range(0, n - 1, 2) for k in (1, 2)]
    kept = filter_spans(spans)
    for a, b in zip(kept, kept[1:]):
        assert a.end <= b.start          # non-overlapping
        assert a.start <= b.start        # sorted


@settings(max_examples=100, deadline=None)
@given(TEXT, TEXT)
def test_levenshtein_metric_properties(a, b):
    d = levenshtein(a, b)
    assert d == levenshtein(b, a)
    assert (d == 0) == (a == b)
    assert d <= max(len(a), len(b))
    assert d >= abs(len(a) - len(b))


@settings(max_examples=200, deadline=None)
@given(TEXT, TEXT, st.integers(min_value=1, max_value=8))
def test_banded_levenshtein_predicate_equals_full_dp(a, b, t):
    from legal_ner_spark.core.docmodel import levenshtein_lt
    assert levenshtein_lt(a, b, t) == (levenshtein(a, b) < t)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_title_casing_preserves_length(text):
    assert len(convert_upper_case_to_title(text)) == len(text)


@settings(max_examples=200, deadline=None)
@given(WORDS)
def test_preamble_split_bounds(text):
    titled, end = separate_and_clean_preamble(text)
    assert 0 <= end <= len(text)
    assert len(titled) == end            # title-casing is length-preserving


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_check_stat_total_and_deterministic(text):
    assert check_stat(text) == check_stat(text)
    assert isinstance(check_stat(text), str)


@settings(max_examples=100, deadline=None)
@given(TEXT)
@example(", 0")
def test_norm_idempotent(text):
    # _norm is the reference's normalization byte for byte: it collapses
    # whitespace before it drops commas, so it is not idempotent
    # (_norm(", 0") == " 0").  What holds: no comma survives, and a second
    # pass only collapses the whitespace a dropped comma left behind.
    once = _norm(text)
    assert "," not in once
    assert _norm(once) == " ".join(once.split())


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=10_000_000))
def test_synth_deterministic_per_doc_id(idx):
    a, b = synth.gen_doc(idx), synth.gen_doc(idx)
    assert a == b
    text = synth.assemble_text(a["spans"])
    assert text == synth.gen_text(idx)
    # media spans carry refs, text spans carry text, order is by offset
    offs = [s["offset"] for s in a["spans"]]
    assert offs == sorted(offs)
    for s in a["spans"]:
        if s["kind"] == "text":
            assert s["media_ref"] == "" and s["text"] != ""
        else:
            assert s["media_ref"] != "" and s["text"] == ""


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=9, max_codepoint=0x2F00),
               max_size=1500))
def test_extract_document_total_on_arbitrary_text(text):
    """The full lifecycle never raises on arbitrary input: pathological
    docs degrade per-doc (postprocess_ok=False), they don't kill the
    partition (SURVEY.md §7.3)."""
    from legal_ner_spark.core.extract import extract_document
    r = extract_document("fuzz", text)
    assert isinstance(r.ok, bool)
    for m in r.mentions:
        assert 0 <= m.start_char < m.end_char


_span_st = st.one_of(
    st.none(),
    st.fixed_dictionaries({
        "kind": st.one_of(st.none(), st.sampled_from(
            ["text", "image", "audio", "hologram"])),
        "text": st.one_of(st.none(), st.text(max_size=80)),
        "media_ref": st.one_of(st.none(), st.text(max_size=20)),
        "offset": st.one_of(st.none(), st.integers(-5, 50)),
    }))


@settings(max_examples=100, deadline=None)
@given(st.one_of(st.none(), st.lists(_span_st, max_size=12)))
def test_records_total_on_arbitrary_span_arrays(spans):
    """The Python side of the fused stage never raises on dirty span
    arrays (null arrays, null elements, null fields, negative offsets,
    unknown kinds) — one bad row must degrade, not kill its partition —
    and the doc row's spans come back exactly as given."""
    import pyarrow as pa
    from legal_ner_spark.operators.extract import (_PA_SPANS_TYPE,
                                                   _records_batch)
    batch = pa.RecordBatch.from_pydict(
        {"doc_id": ["fuzz"], "spans": [spans],
         "text": [synth.assemble_text(spans)]},
        schema=pa.schema([("doc_id", pa.string()), ("spans", _PA_SPANS_TYPE),
                          ("text", pa.string())]))
    out = _records_batch(batch).to_pydict()
    doc_rows = [i for i, t in enumerate(out["rec_type"]) if t == "doc"]
    assert len(doc_rows) == 1
    assert out["spans"][doc_rows[0]] == spans
    assert all(s is None for i, s in enumerate(out["spans"])
               if i != doc_rows[0])


def test_simhash_pigeonhole_banding_is_complete(spark):
    """Property: for random small corpora, the banded equi-join pair
    generation must return EXACTLY the brute-force hamming pairs — the
    pigeonhole construction is complete, not approximate."""
    import itertools
    import random
    from legal_ner_spark.operators import dedup
    rng = random.Random(42)
    vocab = [f"t{i}" for i in range(12)]   # tiny vocab → many near-dups
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
            for i in range(60)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for max_h in (0, 3, 8):
        got = {(r.doc_a, r.doc_b): r.hamming
               for r in dedup.simhash_near_pairs(docs, max_hamming=max_h)
               .collect()}
        segs = dedup.simhash_segments(docs, n_segments=1)
        fp = {r.doc_id: r.s0 for r in segs.collect()}
        want = {}
        for a, b in itertools.combinations(sorted(fp), 2):
            # Spark returns the segment as SIGNED 64-bit; mask before the
            # popcount or Python counts bits of the magnitude instead of
            # the two's-complement pattern
            h = bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1")
            if h <= max_h:
                want[(a, b)] = h
        assert got == want, (max_h, len(got), len(want))


# ---- N-Triples ECHAR escape/unescape chain (operators/kgquery.py) ------
# Pure-string mirrors of to_ntriples' esc() and from_ntriples' unesc()
# F.replace chains (F.replace is literal global replacement, same as
# str.replace, applied in the same order) — the property pins the chain
# ORDERING, which is where escape bugs live (the \\n-vs-\n ambiguity).

def _nt_esc(s: str) -> str:
    for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                 ("\r", "\\r"), ("\t", "\\t")):
        s = s.replace(a, b)
    return s


def _nt_unesc(s: str) -> str:
    s = s.replace("\\\\", "\x00")
    for a, b in (("\\n", "\n"), ("\\r", "\r"), ("\\t", "\t"),
                 ('\\"', '"')):
        s = s.replace(a, b)
    return s.replace("\x00", "\\")


NT_TEXT = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=0x10FFFF,
                           exclude_categories=("Cs",)),
    max_size=120)


@settings(max_examples=500, deadline=None)
@given(NT_TEXT)
def test_ntriples_escape_roundtrip(text):
    assert _nt_unesc(_nt_esc(text)) == text


@settings(max_examples=300, deadline=None)
@given(NT_TEXT)
def test_ntriples_escaped_form_is_wellformed(text):
    e = _nt_esc(text)
    # a spec-conforming literal body: no raw newline/CR, and every quote
    # or backslash is part of an escape sequence
    assert "\n" not in e and "\r" not in e and "\t" not in e
    assert '"' not in e.replace('\\"', "")
    stripped = e.replace("\\\\", "").replace('\\"', "") \
                .replace("\\n", "").replace("\\r", "").replace("\\t", "")
    assert "\\" not in stripped
