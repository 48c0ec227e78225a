"""Deduplication operator family for training-data pipelines.

Four tiers, all pure DataFrame (JVM-side, no Python UDFs):

1. exact        — content-hash groupBy (map-side partial agg; shuffles the
                  32-byte hash, never the text)
2. minhash LSH  — b bands × r rows banding (standard S-curve): the band
                  signature concatenates r independent min-hashes, so
                  P(candidate) = 1-(1-J^r)^b — steep around the similarity
                  threshold instead of the r=1 form whose low-J candidate
                  rate explodes quadratically on topically-similar corpora.
                  Candidate pairs share a (band, signature) equi-join key;
                  shuffle keys are constant-size; no all-pairs blowup: the
                  100 TB path.
3. simhash      — 64-bit nibble-majority fingerprint + PIGEONHOLE-banded
                  hamming pairing: the fingerprint splits into
                  max_hamming+1 segments; any pair within the hamming
                  budget must agree on at least one whole segment, so an
                  equi-join on (segment_idx, segment_value) generates a
                  candidate superset and the hamming filter verifies —
                  EXACT results with no non-equi self-join anywhere
                  (cross-engine deterministic: built from md5 hex nibbles,
                  no engine-specific hash).
4. ngram Jaccard — exact all-pairs similarity over shingle sets; the
                  verification tier applied to LSH candidates (bounded
                  subsets only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"


def shingle_rows(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles, exploded to rows.

    Shingles come from ``arrays_zip`` of n shifted ``slice`` views of the
    token array (struct per position), with the lambda reduced to field
    reads + concat.  Higher-order-function lambdas are interpreted, not
    codegen'd, so the per-element body dominates: a ``slice(toks, i+1,
    n)`` call per element costs 5.2 s and per-position non-literal
    ``GetArrayItem`` 11 s over 260k shingles, vs 1.4 s for this zip form
    (the n slices run ONCE per doc, O(len) total, and the per-element
    work is two O(1) field loads + concat).

    Docs with fewer than ``n`` tokens produce an explicit empty array
    (dropped by the explode), matching the DuckDB oracle's empty
    ``generate_series``: ``slice`` with a non-positive length would throw
    at runtime."""
    toks = F.split(F.lower(text_col), " ")
    shifted = ", ".join(
        f"slice(toks, {k + 1}, size(toks) - {n - 1})" for k in range(n))
    body = ", ' ', ".join(f"x['{k}']" for k in range(n))
    expr = (f"CASE WHEN size(toks) >= {n} THEN "
            f"array_distinct(transform(arrays_zip({shifted}), "
            f"x -> concat({body}))) "
            f"ELSE array() END")
    return (docs.withColumn("toks", toks)
            .withColumn("sh", F.expr(expr))
            .select(F.col(id_col).alias("doc_id"),
                    F.explode("sh").alias("shingle")))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    return (docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(F.count("*").cast("bigint").alias("n_copies"),
                 F.min(id_col).alias("keeper_doc_id")))


# largest prime below 2^32 — modulus for the double-hashing family
_MINHASH_PRIME = 4294967291


def _minhash_inputs(shingles: DataFrame) -> DataFrame:
    """Per-shingle double-hash bases: g_i = (h1 + i·h2) mod p over two
    32-bit halves of ONE md5(shingle) — Kirsch-Mitzenmacher: one digest
    feeds the whole b·r family."""
    return (shingles
            .withColumn("_m", F.md5("shingle"))
            .withColumn("_h1", F.conv(F.substring("_m", 1, 8), 16, 10)
                        .cast("bigint"))
            .withColumn("_h2", F.conv(F.substring("_m", 9, 8), 16, 10)
                        .cast("bigint")))


def _minima_aggs(n_hash: int) -> list:
    return [
        F.min((F.col("_h1") + F.lit(i) * F.col("_h2")) % F.lit(_MINHASH_PRIME))
        .alias(f"m{i}") for i in range(n_hash)]


def _band_stack(wide: DataFrame, n_bands: int,
                rows_per_band: int) -> DataFrame:
    """(doc_id, m0..m{b·r-1}, …) → (doc_id, band, sig): band signature =
    md5 of the band's concatenated minima (fixed-width key), unpivoted
    with ``stack`` — no row blowup before the hash."""
    band_sigs = [
        F.md5(F.concat_ws("-", *[F.col(f"m{b * rows_per_band + r}")
                                 for r in range(rows_per_band)])).alias(f"s{b}")
        for b in range(n_bands)]
    w = wide.select("doc_id", *band_sigs)
    stack = ", ".join(f"{b}, s{b}" for b in range(n_bands))
    return w.selectExpr("doc_id", f"stack({n_bands}, {stack}) AS (band, sig)")


def minhash_signatures(shingles: DataFrame, n_bands: int = 8,
                       rows_per_band: int = 4) -> DataFrame:
    """b×r banded MinHash signatures: (doc_id, band, sig) where ``sig``
    concatenates the band's ``rows_per_band`` min-hashes (md5-compressed to
    a fixed-width key).

    The n_bands×rows_per_band hash family is Kirsch-Mitzenmacher double
    hashing — one md5 per shingle, not b·r of them; the minima are 8-byte
    integers (cheaper to aggregate and shuffle than 32-char digest
    strings).  All band minima land in one aggregation pass (map-side
    partial min), then unpivot with ``stack``."""
    mins = (_minhash_inputs(shingles).groupBy("doc_id")
            .agg(*_minima_aggs(n_bands * rows_per_band)))
    return _band_stack(mins, n_bands, rows_per_band)


def lsh_candidates(sigs: DataFrame,
                   max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs from banded signatures: self-equi-join on
    (band, sig).

    ``max_bucket`` is the HOT-BUCKET guard: a degenerate band signature
    (near-empty docs, template boilerplate that survived pre-collapse)
    can make one bucket quadratic even though the join is an equi-join.
    Buckets wider than ``max_bucket`` contribute STAR edges only (every
    member ↔ the bucket's min doc_id) — O(width) instead of O(width²)
    candidates, so the worst bucket costs linear work.  Star edges are a
    subset of the full pair set, so precision downstream is unchanged;
    recall within an oversize bucket drops only for pairs whose sole
    path was a non-hub pair.  Use ``lsh_bucket_stats`` to see how many
    buckets the cap touched."""
    if max_bucket is not None:
        widths = sigs.groupBy("band", "sig").agg(
            F.count("*").alias("_w"), F.min("doc_id").alias("_hub"))
        keyed = sigs.join(widths, ["band", "sig"])
        normal = keyed.filter(F.col("_w") <= max_bucket).drop("_w", "_hub")
        star = (keyed.filter((F.col("_w") > max_bucket)
                             & (F.col("doc_id") != F.col("_hub")))
                .select("band", F.col("_hub").alias("doc_a"),
                        F.col("doc_id").alias("doc_b")))
        other = normal.select(F.col("doc_id").alias("doc_b"), "band", "sig")
        pairs = (normal.join(other, ["band", "sig"])
                 .filter(F.col("doc_id") < F.col("doc_b"))
                 .select("band", F.col("doc_id").alias("doc_a"), "doc_b"))
        # hub = min of the bucket, so star edges also satisfy doc_a < doc_b
        return pairs.union(star).distinct()
    other = sigs.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (sigs.join(other, ["band", "sig"])
            .filter(F.col("doc_id") < F.col("doc_b"))
            .select("band", F.col("doc_id").alias("doc_a"), "doc_b")
            .distinct())


def lsh_bucket_stats(sigs: DataFrame, max_bucket: int) -> DataFrame:
    """Observability for the hot-bucket guard: one row
    (n_buckets, n_oversize, max_width, capped_pairs_dropped) so a
    pipeline can LOG how much recall surface the cap touched instead of
    silently truncating."""
    w = sigs.groupBy("band", "sig").agg(F.count("*").alias("w"))
    over = F.col("w") > max_bucket
    return w.agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum(over.cast("bigint")).cast("bigint").alias("n_oversize"),
        F.max("w").cast("bigint").alias("max_width"),
        F.sum(F.when(over, (F.col("w") * (F.col("w") - 1)) / 2
                     - (F.col("w") - 1)).otherwise(0))
        .cast("bigint").alias("capped_pairs_dropped"))


def ngram_jaccard_pairs(shingles: DataFrame, threshold: float = 0.12) -> DataFrame:
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (shingles.join(b, "shingle")
             .filter(F.col("doc_id") < F.col("doc_b"))
             .groupBy("doc_id", "doc_b").agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.withColumnRenamed("doc_id", "da")
                  .withColumnRenamed("n", "na"), F.col("doc_id") == F.col("da"))
            .join(sizes.withColumnRenamed("doc_id", "db")
                  .withColumnRenamed("n", "nb"), F.col("doc_b") == F.col("db"))
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4))
            .filter(F.col("jaccard") >= threshold)
            .select(F.col("doc_id").alias("doc_a"), "doc_b", "jaccard"))


def containment_pairs(shingles: DataFrame,
                      threshold: float = 0.8) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment |A∩B| / |A| ≥ threshold
    — the quote/subset detector Jaccard misses (a paragraph wholly
    lifted into a much longer doc has low Jaccard but containment ≈ 1).
    Same inverted-index equi-join as `ngram_jaccard_pairs`, the
    intersection computed ONCE per unordered pair and emitted in both
    directions with each side's own denominator; the scale path caps
    posting width upstream exactly as the Jaccard/prefix family does.
    Returns (src_doc, in_doc, containment): src_doc's shingles are
    ≥ threshold contained in in_doc."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (shingles.join(b, "shingle")
             .filter(F.col("doc_id") < F.col("doc_b"))
             .groupBy("doc_id", "doc_b")
             .agg(F.count("*").alias("inter")))
    sized = (inter
             .join(sizes.withColumnRenamed("doc_id", "da")
                   .withColumnRenamed("n", "na"),
                   F.col("doc_id") == F.col("da"))
             .join(sizes.withColumnRenamed("doc_id", "db")
                   .withColumnRenamed("n", "nb"),
                   F.col("doc_b") == F.col("db")))
    fwd = sized.select(F.col("doc_id").alias("src_doc"),
                       F.col("doc_b").alias("in_doc"),
                       F.round(F.col("inter") / F.col("na"), 4)
                       .alias("containment"))
    rev = sized.select(F.col("doc_b").alias("src_doc"),
                       F.col("doc_id").alias("in_doc"),
                       F.round(F.col("inter") / F.col("nb"), 4)
                       .alias("containment"))
    return (fwd.unionByName(rev)
            .filter(F.col("containment") >= threshold))


def _nibble_expr(i: int) -> str:
    """0-based hex nibble i of md5(token) as an int — expressed with
    instr over a hex alphabet so DuckDB computes the identical value."""
    return f"(instr('{_HEX}', substring(md5(tok), {i + 1}, 1)) - 1)"


def simhash16(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """16-bit SimHash: bit i = majority vote over tokens of whether md5
    nibble i >= 8.  Cheap, deterministic, and exactly reproducible in
    ANSI SQL (the oracle uses the same instr/md5 arithmetic).  Kept as the
    compact single-value fingerprint; the near-pair path uses the 64-bit
    segmented form below."""
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(F.split(F.lower(text_col), " ")).alias("tok")))
    votes = toks.groupBy("doc_id").agg(*[
        F.expr(f"sum(CASE WHEN {_nibble_expr(i)} >= 8 THEN 1 ELSE -1 END)")
        .alias(f"v{i}") for i in range(16)])
    bits = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))
    return votes.selectExpr("doc_id", f"CAST({bits} AS BIGINT) AS simhash")


def segment_sizes(n_bits: int, n_segments: int) -> list[int]:
    """Near-even partition of ``n_bits`` into ``n_segments`` (differ ≤ 1)."""
    base, rem = divmod(n_bits, n_segments)
    return [base + (1 if s < rem else 0) for s in range(n_segments)]


def simhash_segments(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     n_segments: int = 4) -> DataFrame:
    """64-bit SimHash as ``n_segments`` integer segment columns s0..s{k-1}
    (near-even partition of the 64 bits, so every bit is used for any k).

    Global bit i = majority vote over tokens of bit (i mod 4) of md5 hex
    nibble (i div 4) — 64 bits from the first 16 nibbles, 4x the 16-bit
    form's resolution (16 bits give only 65,536 fingerprints, so at corpus
    scale nearly everything collides within hamming 3).  Segmented storage
    avoids 1<<63 sign overflow AND is exactly the shape the pigeonhole
    band join needs.  Deterministic + reproducible in ANSI SQL."""
    n_bits = 64
    sizes = segment_sizes(n_bits, n_segments)
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(F.split(F.lower(text_col), " ")).alias("tok")))
    # one md5 + 16 instr per TOKEN, projected before the aggregation — the
    # 64 vote expressions then read nibble columns instead of each
    # recomputing the digest (Catalyst does not CSE across agg expressions)
    nibbles = toks.withColumn("_m", F.md5("tok")).select("doc_id", *[
        F.expr(f"(instr('{_HEX}', substring(_m, {k + 1}, 1)) - 1)")
        .alias(f"nb{k}") for k in range(16)])
    votes = nibbles.groupBy("doc_id").agg(*[
        F.expr(f"sum(CASE WHEN (nb{i // 4} & {1 << (i % 4)}) > 0 "
               f"THEN 1 ELSE -1 END)").alias(f"v{i}") for i in range(n_bits)])
    segs, start = [], 0
    for s, width in enumerate(sizes):
        # shiftleft + bitwise OR, not literal powers of two summed: a
        # 64-bit segment's top bit is 1<<63, which overflows BIGINT as a
        # positive literal under ANSI mode; shiftleft wraps to the signed
        # representation and OR of distinct bits never carries
        expr = (" | ".join(
            f"shiftleft(CAST(CASE WHEN v{start + j} > 0 THEN 1 ELSE 0 END "
            f"AS BIGINT), {j})" for j in range(width))
            or "CAST(0 AS BIGINT)")
        segs.append(F.expr(expr).cast("bigint").alias(f"s{s}"))
        start += width
    return votes.select("doc_id", *segs)


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Near-dup pairs with 64-bit-fingerprint hamming ≤ ``max_hamming`` —
    EXACT, with no non-equi self-join anywhere in the plan.

    Pigeonhole banding: the fingerprint splits into max_hamming+1
    segments; ≤ max_hamming differing bits cannot touch every segment, so
    every qualifying pair collides on at least one (segment_idx,
    segment_value) equi-join key.  The join shuffles fixed-size integer
    keys; candidates are verified by the exact hamming sum and deduped.
    At corpus scale this is the same candidate-generation shape as the
    MinHash LSH path (banded equi-join), not an O(n²) loop join.

    CANDIDATE-VOLUME BOUND: each segment has width w ≈ 64/(max_hamming+1)
    bits, so on an n-doc corpus with near-uniform fingerprints expected
    candidates are Θ(n²/2^w) per segment.  At the default max_hamming=3
    (w=16) that is n²/65536 — fine.  At high hamming budgets (say
    max_hamming=8, w≈7) it degrades toward n²/128: still an equi-join,
    but the VERIFY tier's input grows quadratically.  For large budgets
    prefer two-level banding (split into fewer, wider super-segments and
    sub-band within each) or cap candidate buckets with
    ``max_bucket`` — see ``lsh_candidates``."""
    # max_hamming+1 segments — pigeonhole-complete for ANY max_hamming:
    # beyond 64 the extra segments have width 0 and value 0 for every doc,
    # so all pairs (correctly) become candidates
    n_segments = max_hamming + 1
    sh = simhash_segments(docs, id_col, text_col, n_segments=n_segments)
    scols = [f"s{s}" for s in range(n_segments)]
    stack = ", ".join(f"{s}, s{s}" for s in range(n_segments))
    keyed = sh.selectExpr("doc_id", *scols,
                          f"stack({n_segments}, {stack}) AS (seg_idx, seg_val)")
    right = keyed.select(
        F.col("doc_id").alias("doc_b"), "seg_idx", "seg_val",
        *[F.col(f"s{s}").alias(f"b{s}") for s in range(n_segments)])
    hamming = F.expr(" + ".join(
        f"bit_count(s{s} ^ b{s})" for s in range(n_segments))).cast("int")
    return (keyed.join(right, ["seg_idx", "seg_val"])
            .filter(F.col("doc_id") < F.col("doc_b"))
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select(F.col("doc_id").alias("doc_a"), "doc_b", "hamming")
            .distinct())


def _verify_pairs(sh: DataFrame, cand: DataFrame, threshold: float,
                  sizes: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard over CANDIDATE pairs only (doc_a, doc_b,
    jaccard ≥ threshold): the shingle join is driven by the candidate
    list, so cost is O(candidates × doc shingles), never all-pairs.
    ``sizes`` (doc_id, n_sh) can be passed in when the caller already
    aggregated shingle counts (near_dedup's fused pass)."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("_bb"),
                     F.col("shingle").alias("b_shingle"))
    inter = (cand.join(a_sh, "doc_a")
             .join(b_sh, (F.col("doc_b") == F.col("_bb"))
                   & (F.col("shingle") == F.col("b_shingle")), "inner")
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.select(F.col("doc_id").alias("doc_a"),
                               F.col("n_sh").alias("na")), "doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"),
                               F.col("n_sh").alias("nb")), "doc_b")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def near_duplicate_pairs(docs: DataFrame, threshold: float = 0.5,
                         n_bands: int = 8, rows_per_band: int = 4,
                         n: int = 3, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Verified near-dup pairs (doc_a, doc_b, jaccard ≥ threshold): banded
    MinHash candidate generation, then EXACT n-gram Jaccard computed only
    on candidate pairs — the shingle join is driven by the candidate
    list, so verification cost is O(candidates × doc shingles), never
    all-pairs.  This is the production dedup flow: probabilistic recall
    from the S-curve, exact precision from the verify tier."""
    sh = shingle_rows(docs, id_col=id_col, text_col=text_col, n=n)
    cand = (lsh_candidates(
        minhash_signatures(sh, n_bands=n_bands, rows_per_band=rows_per_band))
        .select("doc_a", "doc_b").distinct())
    return _verify_pairs(sh, cand, threshold)


def dedup_index_build(docs: DataFrame, path: str, threshold: float = 0.5,
                      n_bands: int = 8, rows_per_band: int = 4, n: int = 3,
                      id_col: str = "doc_id", text_col: str = "text",
                      mode: str = "exact",
                      checkpoint_dir: str | None = None,
                      max_bucket: int | None = None) -> None:
    """Build the FROZEN-KEEPER dedup index — the incremental-ingestion
    story at 10^12 docs: run ``near_dedup`` once over the initial corpus
    and persist (a) the full keeper assignment, (b) the keeper
    representatives' shingle rows, sizes, and banded MinHash signatures.
    Subsequent batches dedup against this index via
    ``dedup_index_append`` without ever rescanning the old corpus —
    only the keeper-rep surface (one row per CLUSTER, not per doc) is
    ever joined again."""
    import os
    import shutil
    # a (re)build starts a FRESH index: drop any manifest/snapshots a
    # previous compacted index left at this path, or the stale manifest
    # would shadow the new flat tables
    if os.path.isdir(path):
        for d in os.listdir(path):
            full = os.path.join(path, d)
            if d == _INDEX_MANIFEST or d.startswith(f".{_INDEX_MANIFEST}"):
                os.remove(full)
            elif d.startswith("snap=") and os.path.isdir(full):
                shutil.rmtree(full)
    keepers = near_dedup(docs, threshold=threshold, n_bands=n_bands,
                         rows_per_band=rows_per_band, n=n, id_col=id_col,
                         text_col=text_col, mode=mode,
                         checkpoint_dir=checkpoint_dir,
                         max_bucket=max_bucket)
    keepers.write.mode("overwrite").parquet(f"{path}/keepers")
    spark = docs.sparkSession
    reps = (spark.read.parquet(f"{path}/keepers")
            .filter("doc_id = keeper_doc_id").select("doc_id"))
    sh = (shingle_rows(docs, id_col=id_col, text_col=text_col, n=n)
          .join(reps, "doc_id"))
    sh.write.mode("overwrite").parquet(f"{path}/shingles")
    shk = spark.read.parquet(f"{path}/shingles")
    (shk.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
     .write.mode("overwrite").parquet(f"{path}/sizes"))
    (minhash_signatures(shk, n_bands=n_bands, rows_per_band=rows_per_band)
     .write.mode("overwrite").parquet(f"{path}/sigs"))


def dedup_index_append(new_docs: DataFrame, path: str,
                       threshold: float = 0.5, n_bands: int = 8,
                       rows_per_band: int = 4, n: int = 3,
                       id_col: str = "doc_id", text_col: str = "text",
                       checkpoint_dir: str | None = None,
                       max_bucket: int | None = None,
                       mode: str = "exact",
                       batch_tag: str | None = None) -> DataFrame:
    """Dedup a NEW batch against a frozen index (see
    ``dedup_index_build``) and grow the index.  Returns one row per new
    doc (doc_id, keeper_doc_id).

    ``batch_tag`` scopes the four index writes to an overwrite-mode
    SUBDIRECTORY ``<table>/<batch_tag>`` instead of appending files into
    the shared directory — the replay-idempotence hook the streaming
    twin (``streaming.stream_dedup_ingest``) needs: a micro-batch
    replayed after a crash rewrites its own subdirs instead of
    double-appending.  Readers see subdirs via recursiveFileLookup;
    batch-mode callers can ignore the parameter.

    FROZEN-KEEPER SEMANTICS (the standard incremental trade): existing
    assignments never change.  A new doc joins an existing cluster only
    through a verified pair (exact Jaccard ≥ threshold) with that
    cluster's KEEPER representative; new-new verified pairs chain
    components within the batch; a component touching ≥1 existing
    keeper maps every new member to the MINIMUM such keeper (if a batch
    bridges two old clusters, the old clusters stay distinct — only the
    new docs pick one side), and keeper-less components keep their
    minimum new doc_id.  Near-dups of a non-keeper cluster MEMBER that
    do not also match the keeper are missed — the recall cost of never
    re-reading the corpus.

    Scale shape: candidates are banded equi-joins (new × new and new ×
    keeper-sig table), verification touches only candidate shingles,
    components run on the pointer-jumped WCC loop, and every index
    write is an append of the NEW keepers' surface only.

    ``mode='exact'`` (default) pairs every colliding (new, keeper) in a
    bucket — Ω(bucket products) on template-heavy corpora.
    ``mode='scale'`` pairs each new doc with each bucket's MIN keeper
    (and new-new pairs become star edges), so candidates are O(new ×
    bands) regardless of bucket width — the near_dedup(mode='scale')
    trade carried over: precision preserved (every pair is
    threshold-verified), recall drops only for docs whose sole match
    was a non-hub bucket member.  Measured at the 131k worst-case
    stress: 251 s → 86 s for the append of 65k docs."""
    if mode not in ("exact", "scale"):
        raise ValueError(f"mode must be 'exact' or 'scale', got {mode!r}")
    from ..plans.checkpoint import Truncator
    from .graph import weakly_connected_components
    spark = new_docs.sparkSession
    trunc = Truncator(checkpoint_dir)
    sh_new = trunc(shingle_rows(new_docs, id_col=id_col, text_col=text_col,
                                n=n), "append_shingles")
    sizes_new = sh_new.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sigs_new = minhash_signatures(sh_new, n_bands=n_bands,
                                  rows_per_band=rows_per_band)
    idx = _index_dirs(path)
    k_sigs = _read_idx_dir(spark, idx["sigs"])
    k_sh = _read_idx_dir(spark, idx["shingles"])
    k_sizes = _read_idx_dir(spark, idx["sizes"])
    if mode == "scale":
        hub_n = (sigs_new.groupBy("band", "sig")
                 .agg(F.min("doc_id").alias("doc_a")))
        cand_nn = (sigs_new.join(hub_n, ["band", "sig"])
                   .filter(F.col("doc_id") != F.col("doc_a"))
                   .select("doc_a", F.col("doc_id").alias("doc_b")))
    else:
        cand_nn = (lsh_candidates(sigs_new, max_bucket=max_bucket)
                   .select("doc_a", "doc_b"))
    k_sig_sel = k_sigs.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    if mode == "scale":
        hub_k = (k_sig_sel.groupBy("band", "sig")
                 .agg(F.min("doc_b").alias("doc_b")))
        cand_nk = (sigs_new.join(hub_k, ["band", "sig"])
                   .select(F.col("doc_id").alias("doc_a"), "doc_b"))
    elif max_bucket is not None:
        # hot-bucket guard for the bipartite new×keeper join: when a
        # (band, sig) bucket holds more than max_bucket KEEPERS, new docs
        # in that bucket pair only with the bucket's min keeper —
        # candidates per bucket drop from n_new × n_keepers to n_new.
        # Without this, a template-heavy corpus (every doc sharing hot
        # band signatures) makes the nk join quadratic and spills the
        # cluster (measured: 27 GB of shuffle at the 131k stress).
        kw = (k_sig_sel.groupBy("band", "sig")
              .agg(F.count("*").alias("_w"), F.min("doc_b").alias("_hub")))
        k_sig_sel = (k_sig_sel.join(kw, ["band", "sig"])
                     .filter((F.col("_w") <= max_bucket)
                             | (F.col("doc_b") == F.col("_hub")))
                     .drop("_w", "_hub"))
    if mode != "scale":
        cand_nk = (sigs_new.join(k_sig_sel, ["band", "sig"])
                   .select(F.col("doc_id").alias("doc_a"), "doc_b"))
    cand = cand_nn.union(cand_nk).distinct()
    pairs = _verify_pairs(sh_new.unionByName(k_sh), cand, threshold,
                          sizes=sizes_new.unionByName(k_sizes)) \
        .select("doc_a", "doc_b")
    comp = weakly_connected_components(
        pairs.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst")),
        checkpoint_dir=checkpoint_dir)
    reps = (_read_idx_dir(spark, idx["keepers"])
            .filter("doc_id = keeper_doc_id")
            .select(F.col("doc_id").alias("node")))
    comp_keeper = (comp.join(reps, "node")
                   .groupBy("component").agg(F.min("node").alias("kmin")))
    assigned = (comp.join(comp_keeper, "component", "left")
                .select(F.col("node").alias("doc_id"),
                        F.coalesce("kmin", F.col("component"))
                        .alias("keeper_doc_id")))
    out = trunc(
        new_docs.select(F.col(id_col).alias("doc_id"))
        .join(assigned, "doc_id", "left")
        .select("doc_id",
                F.coalesce("keeper_doc_id", F.col("doc_id"))
                .alias("keeper_doc_id")), "append_out")
    # grow the index: the new batch's assignment rows plus the surface
    # (shingles/sizes/sigs) of its NEW keepers only.  `out` is
    # materialized above, so these appends cannot feed back into the
    # plan that computed it.
    def _grow(df: DataFrame, name: str) -> None:
        if batch_tag is None:
            df.write.mode("append").parquet(idx[name])
        else:
            df.write.mode("overwrite").parquet(f"{idx[name]}/{batch_tag}")

    _grow(out, "keepers")
    new_reps = out.filter("doc_id = keeper_doc_id").select("doc_id")
    sh_reps = sh_new.join(new_reps, "doc_id")
    _grow(sh_reps, "shingles")
    _grow(sizes_new.join(new_reps, "doc_id"), "sizes")
    _grow(minhash_signatures(sh_reps, n_bands=n_bands,
                             rows_per_band=rows_per_band), "sigs")
    return out


_INDEX_TABLES = ("keepers", "shingles", "sizes", "sigs")
_INDEX_MANIFEST = "_current.json"


def _index_dirs(path: str) -> dict[str, str]:
    """Resolve the dedup index's four table directories.  A compacted
    index carries a ``_current.json`` manifest (atomic-flip commit
    point, same shape as ``plans/publish.py``); an index that has never
    been compacted uses the legacy flat layout ``<path>/<table>``."""
    import json
    import os
    man = os.path.join(path, _INDEX_MANIFEST)
    if os.path.exists(man):
        with open(man) as fh:
            return json.load(fh)["tables"]
    return {t: f"{path}/{t}" for t in _INDEX_TABLES}


def _read_idx_dir(spark: SparkSession, dir_: str) -> DataFrame:
    """Read one index table directory.  ``recursiveFileLookup`` because
    streaming appends land in per-batch SUBDIRS (``<dir>/batch-<id>``,
    overwrite-idempotent on replay) next to the flat part-files of
    batch-mode appends; plain ``read.parquet`` would silently skip
    them."""
    return (spark.read.option("recursiveFileLookup", "true")
            .parquet(dir_))


def dedup_index_read(spark: SparkSession | None, path: str,
                     name: str) -> DataFrame:
    """Read one dedup-index table (keepers/shingles/sizes/sigs) AT THE
    CURRENT SNAPSHOT.  Always resolve through this instead of raw
    ``<path>/<table>`` paths — after a ``dedup_index_compact`` the
    tables live under ``<path>/snap=<id>/<table>`` and only the
    manifest knows which snapshot is current."""
    return _read_idx_dir(spark, _index_dirs(path)[name])


def dedup_index_compact(spark: SparkSession, path: str,
                        snapshot_id: str | None = None,
                        vacuum: bool = True,
                        num_files: int | None = None,
                        keep_snapshots: int = 1) -> dict:
    """Compact the dedup index — the maintenance move
    ``dedup_index_append`` needs at scale: every append adds one more
    parquet file set to each of the four tables, so a rolling 10^12-doc
    ingest turns the sig table into millions of small files whose
    listing dominates read time.  Mirrors ``jobs/incremental_kg.compact``:

    1. read all four tables at the current snapshot (manifest or legacy
       flat layout) and rewrite each ONCE into an immutable
       ``<path>/snap=<id>/<table>`` directory — output file count is
       governed by ``spark.sql.files.maxPartitionBytes`` (small input
       files pack into full-size splits, so the rewrite IS the
       small-file fix; pass ``num_files`` to coalesce each table to an
       explicit count instead — the right setting for a SMALL index,
       wrong at 100 TB where split packing should decide);
    2. one atomic manifest rename flips all four tables at once — a
       reader (or a crash) sees the old index until the instant the new
       one is complete;
    3. ``vacuum`` removes the now-unreferenced previous snapshot (and
       the legacy flat directories after the first compaction)
       IMMEDIATELY after the flip.  That atomicity guarantee therefore
       holds only for readers that re-resolve through the manifest
       (``dedup_index_read``) AFTER the flip: a DataFrame handle
       created BEFORE the compact is a lazy plan still pointing at the
       old directories and will fail mid-scan once they are vacuumed —
       the same commit-vs-file-expiry split table formats make
       (Iceberg's ``expire_snapshots``).  Pass ``vacuum=False`` when
       long-lived reader plans may be in flight and expire old
       snapshots on your own retention schedule.

    ``snapshot_id`` must be FRESH: compacting under the currently
    published id would make the overwrite target of the write equal a
    read source and Spark would self-overwrite its input mid-scan (the
    same guard ``jobs/incremental_kg.compact`` applies).  When omitted,
    the next ``c%06d`` counter after every existing snapshot is used.
    Answers are unchanged by construction — the rewrite is a byte-level
    repack; ``tests/test_dedup_similarity.py`` pins append-after-compact
    equality against a never-compacted twin."""
    cur = _index_dirs(path)
    tables = {t: _read_idx_dir(spark, cur[t]) for t in _INDEX_TABLES}
    return _publish_index_snapshot(path, tables, snapshot_id=snapshot_id,
                                   vacuum=vacuum, num_files=num_files,
                                   keep_snapshots=keep_snapshots)


def _publish_index_snapshot(path: str, tables: dict[str, DataFrame],
                            snapshot_id: str | None = None,
                            vacuum: bool = True,
                            num_files: int | None = None,
                            keep_snapshots: int = 1) -> dict:
    """Write the four index tables into an immutable ``snap=<id>``
    directory set and flip the manifest atomically — the shared commit
    machinery of ``dedup_index_compact`` (tables = a repack of the
    current snapshot) and ``dedup_index_reconcile`` (tables = the
    rebased index).  Table plans may READ the current snapshot: the
    fresh-id guard keeps every write target disjoint from every read
    source, and vacuum runs only after all four writes committed."""
    return _write_index_snapshot(path, tables, _INDEX_TABLES,
                                 _INDEX_MANIFEST, _index_dirs,
                                 snapshot_id=snapshot_id, vacuum=vacuum,
                                 num_files=num_files,
                                 keep_snapshots=keep_snapshots)


def _write_index_snapshot(path: str, tables: dict[str, DataFrame],
                          table_names: tuple[str, ...],
                          manifest_name: str, dirs_fn,
                          snapshot_id: str | None = None,
                          vacuum: bool = True,
                          num_files: int | None = None,
                          keep_snapshots: int = 1) -> dict:
    """The lifecycle-agnostic snapshot writer behind every index
    compaction (MinHash dedup and semantic): immutable ``snap=<id>``
    table set, fresh-id self-overwrite guard, atomic manifest rename,
    post-commit vacuum.  ``dirs_fn`` resolves the lifecycle's CURRENT
    table directories (for the clash guard).

    The manifest carries a ``history`` list (oldest → newest, the new
    snapshot last) so commit and file expiry are SEPARATE events, the
    way table formats split them (Iceberg snapshot log vs
    ``expire_snapshots``): ``vacuum`` retains the newest
    ``keep_snapshots`` entries (default 1 = current-only, the r4
    behavior) and a retained entry stays readable via
    ``index_read_at`` until ``expire_index_snapshots`` drops it.
    Snapshot content is AS-SUPERSEDED, not as-published: appends write
    into the CURRENT snapshot's directories, so a non-current retained
    snapshot reads as the state the superseding publish consumed (for
    a compaction that equals the new snapshot — a repack; for a
    reconcile it is the pre-rebase index, the audit trail a keeper
    remap wants) and is frozen from then on.  Legacy flat table dirs
    (the pre-first-compaction layout) are not snapshot-tracked and are
    always removed on vacuum."""
    import json
    import os
    import re
    import shutil
    existing = [d for d in os.listdir(path)
                if d.startswith("snap=") and os.path.isdir(
                    os.path.join(path, d))]
    if snapshot_id is None:
        nums = [int(m.group(1)) for d in existing
                if (m := re.fullmatch(r"snap=c(\d+)", d))]
        snapshot_id = f"c{(max(nums) + 1 if nums else 0):06d}"
    cur = dirs_fn(path)
    new_dirs = {t: os.path.join(path, f"snap={snapshot_id}", t)
                for t in table_names}
    clash = [t for t in table_names
             if os.path.normpath(new_dirs[t]) == os.path.normpath(cur[t])]
    if clash:
        raise ValueError(
            f"snapshot_id {snapshot_id!r} is the currently published "
            f"snapshot of {clash} — a snapshot write must mint a fresh "
            "id, or the rewrite would overwrite its own input mid-scan")
    for t in table_names:
        df = tables[t]
        if num_files is not None:
            df = df.coalesce(num_files)
        df.write.mode("overwrite").parquet(new_dirs[t])
    history = _manifest_history(path, manifest_name)
    history = ([e for e in history if e["snapshot"] != snapshot_id]
               + [{"snapshot": snapshot_id, "tables": new_dirs}])
    if vacuum:
        if keep_snapshots < 1:
            raise ValueError("keep_snapshots must be >= 1")
        history = history[-keep_snapshots:]
    manifest = {"snapshot": snapshot_id, "tables": new_dirs,
                "history": history}
    tmp = os.path.join(path, f".{manifest_name}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, os.path.join(path, manifest_name))  # commit point
    if vacuum:
        keep = {f"snap={e['snapshot']}" for e in history}
        for d in os.listdir(path):
            full = os.path.join(path, d)
            if d in keep or not os.path.isdir(full):
                continue
            if d.startswith("snap=") or d in table_names:
                shutil.rmtree(full)
    return manifest


def _manifest_history(path: str, manifest_name: str) -> list[dict]:
    """The retained snapshot log from an index manifest, oldest →
    newest (current last); ``[]`` for a never-compacted flat-layout
    index.  A pre-history manifest (r4 format, no ``history`` key)
    reconstructs as its current entry alone — its older snapshots were
    either vacuumed at publish or are untracked orphans."""
    import json
    import os
    man = os.path.join(path, manifest_name)
    if not os.path.exists(man):
        return []
    with open(man) as fh:
        m = json.load(fh)
    return m.get("history",
                 [{"snapshot": m["snapshot"], "tables": m["tables"]}])


def index_snapshot_history(path: str,
                           manifest_name: str = _INDEX_MANIFEST
                           ) -> list[dict]:
    """Public snapshot log for any manifest-flip index lifecycle
    (dedup: the default manifest name; semantic: the same name at the
    semantic index path).  Each entry is ``{snapshot, tables}``; the
    current snapshot is last.  This is the commit log Iceberg-style
    time travel reads against — ``index_read_at`` resolves through it,
    ``expire_index_snapshots`` prunes it."""
    return _manifest_history(path, manifest_name)


def index_read_at(spark: SparkSession, path: str, name: str,
                  snapshot_id: str,
                  manifest_name: str = _INDEX_MANIFEST) -> DataFrame:
    """Time-travel read of one index table AT A RETAINED SNAPSHOT.
    Readers that need repeatable scans across a compaction pin a
    snapshot id (from ``index_snapshot_history``) instead of holding a
    pre-flip DataFrame plan — the plan stays valid until
    ``expire_index_snapshots`` (or a vacuuming publish) drops the
    snapshot, which is exactly the commit-vs-expiry split table
    formats make.  Content is AS-SUPERSEDED (see
    ``_write_index_snapshot``): pinning the previous snapshot across a
    RECONCILE reads the pre-rebase index."""
    for e in _manifest_history(path, manifest_name):
        if e["snapshot"] == snapshot_id:
            return _read_idx_dir(spark, e["tables"][name])
    retained = [e["snapshot"] for e in _manifest_history(path,
                                                         manifest_name)]
    raise ValueError(
        f"snapshot {snapshot_id!r} is not retained at {path} "
        f"(retained: {retained}) — it was expired, or never published")


def expire_index_snapshots(path: str, keep_last: int = 1,
                           manifest_name: str = _INDEX_MANIFEST) -> dict:
    """Drop all but the newest ``keep_last`` retained snapshots of a
    manifest-flip index: prune the history, rewrite the manifest
    atomically, THEN delete the unreferenced ``snap=`` directories —
    the file-expiry half of the lifecycle (Iceberg
    ``expire_snapshots``), separated from publish so retention runs on
    its own schedule.  The current snapshot is history's last entry
    and is always kept.  Returns the rewritten manifest."""
    import json
    import os
    import shutil
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    history = _manifest_history(path, manifest_name)
    if not history:
        raise ValueError(
            f"no manifest at {path} — a flat-layout index has no "
            "snapshots to expire; compact it first")
    kept = history[-keep_last:]
    manifest = {"snapshot": kept[-1]["snapshot"],
                "tables": kept[-1]["tables"], "history": kept}
    tmp = os.path.join(path, f".{manifest_name}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, os.path.join(path, manifest_name))  # commit point
    keep_dirs = {f"snap={e['snapshot']}" for e in kept}
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if d.startswith("snap=") and d not in keep_dirs \
                and os.path.isdir(full):
            shutil.rmtree(full)
    return manifest


def dedup_index_reconcile(window_docs: DataFrame, path: str,
                          threshold: float = 0.5, n_bands: int = 8,
                          rows_per_band: int = 4, n: int = 3,
                          id_col: str = "doc_id", text_col: str = "text",
                          max_iter: int = 20, mode: str = "exact",
                          checkpoint_dir: str | None = None,
                          max_bucket: int | None = None,
                          snapshot_id: str | None = None,
                          vacuum: bool = True,
                          num_files: int | None = None,
                          keep_snapshots: int = 1) -> dict:
    """Keeper-drift reconciliation for the frozen-keeper index — the
    mitigation the measured trade demands (BENCH.md: drift recall
    0.0000 incremental vs 0.8555 full): re-run near-dedup over
    ``window_docs`` ∪ the frozen KEEPER surface and REBASE every stored
    assignment, publishing the rebased index under the same atomic
    manifest flip compaction uses.

    Why drift happens: ``dedup_index_append`` keeps only keeper
    surfaces, so a new doc whose sole above-threshold match is a
    non-keeper MEMBER can never link — template evolution (crawl
    refreshes) accumulates such drift docs forever.  Reconcile closes
    exactly the drift whose missing link is inside the window: pass the
    recent batches a rolling schedule wants re-examined (members'
    raw text included — their surfaces are what the index forgot), or
    the full corpus for a rebase-preserving rebuild (output then equals
    a fresh ``near_dedup`` of the corpus — pinned by the
    ``near_dedup_reconciled`` oracle).

    Rebase semantics: the re-run assigns every window doc and every old
    keeper a new component (components may MERGE old clusters — via a
    window bridge doc or a keeper-keeper pair the batch sequencing
    never compared; they never SPLIT: rediscovery alone would not
    guarantee that — a window doc whose only link was a since-demoted
    keeper has no surviving surface to re-verify against — so every
    window doc's STORED assignment is carried into the component
    computation as an explicit edge, and prior merges are preserved by
    construction.  With a full-corpus window those edges are redundant
    — deterministic minhash rediscovers every pair — which is why the
    full-window result still equals a fresh near_dedup exactly).  Old
    assignments OUTSIDE the window are rewritten through the keeper
    remap (member → old keeper → new keeper), window rows replace
    their stored rows, and the new keeper set's surface tables are
    rebuilt from window shingles ∪ old keeper surface (every new
    keeper is an old keeper or a window doc, since an old member's id
    is never below its keeper's).

    Cost shape: the expensive tiers (shingle, band, verify, WCC) are
    O(|window| + |keepers|), NOT O(corpus) — the corpus-sized work is
    only the keepers-table metadata rewrite (one map-side join, no
    surface recompute); BENCH.md records the measured window
    scaling.  Readers that resolved table paths BEFORE the
    flip: see ``dedup_index_compact`` note 3 (vacuum invalidates them).

    Returns the published manifest dict."""
    if mode not in ("exact", "scale"):
        raise ValueError(f"mode must be 'exact' or 'scale', got {mode!r}")
    from ..plans.checkpoint import Truncator
    spark = window_docs.sparkSession
    trunc = Truncator(checkpoint_dir)
    idx = _index_dirs(path)
    old_assign = _read_idx_dir(spark, idx["keepers"])
    w_ids = (window_docs.select(F.col(id_col).alias("doc_id"))
             .distinct())
    sh_w = shingle_rows(window_docs, id_col=id_col, text_col=text_col,
                        n=n)
    # keeper surface NOT in the window (a window doc that is also a
    # keeper contributes its window shingles, not two copies)
    k_sh = (_read_idx_dir(spark, idx["shingles"])
            .join(w_ids, "doc_id", "left_anti"))
    old_keepers = (old_assign.filter("doc_id = keeper_doc_id")
                   .select("doc_id"))
    all_ids = w_ids.unionByName(old_keepers).distinct()
    # window docs' stored links ride into the component computation as
    # explicit edges — the no-split guarantee (see docstring)
    old_links = (old_assign.join(w_ids, "doc_id")
                 .filter("doc_id != keeper_doc_id")
                 .select(F.col("doc_id").alias("src"),
                         F.col("keeper_doc_id").alias("dst")))
    assign_new = trunc(
        _near_dedup_core(sh_w.unionByName(k_sh), all_ids,
                         threshold=threshold, n_bands=n_bands,
                         rows_per_band=rows_per_band, max_iter=max_iter,
                         mode=mode, checkpoint_dir=checkpoint_dir,
                         max_bucket=max_bucket,
                         extra_edges=old_links), "reconcile_assign")
    # rebase: window rows replace; everything else maps its old keeper
    # through the re-run (old keepers all sit in all_ids, so the remap
    # is total; coalesce covers a zero-shingle keeper edge case only)
    remap = (assign_new.join(old_keepers, "doc_id")
             .select(F.col("doc_id").alias("keeper_doc_id"),
                     F.col("keeper_doc_id").alias("_nk")))
    kept = (old_assign.join(w_ids, "doc_id", "left_anti")
            .join(remap, "keeper_doc_id", "left")
            .select("doc_id",
                    F.coalesce("_nk", F.col("keeper_doc_id"))
                    .alias("keeper_doc_id")))
    new_keepers_tbl = trunc(
        assign_new.join(w_ids, "doc_id").unionByName(kept),
        "reconcile_keepers")
    reps = (new_keepers_tbl.filter("doc_id = keeper_doc_id")
            .select("doc_id"))
    # surface split: keepers that survive OUTSIDE the window keep their
    # frozen surface byte-for-byte (a repack read, no minhash
    # recompute — the signature depends only on the shingle set);
    # keepers minted from (or re-seen in) the window get theirs from
    # the window shingles.  The surface compute is therefore O(window),
    # and the surface I/O O(keepers) — never O(corpus raw text).
    reps_old = reps.join(w_ids, "doc_id", "left_anti")
    sh_w_reps = trunc(sh_w.join(reps.join(w_ids, "doc_id"), "doc_id"),
                      "reconcile_sh")
    tables = {
        "keepers": new_keepers_tbl,
        "shingles": k_sh.join(reps_old, "doc_id")
        .unionByName(sh_w_reps),
        "sizes": _read_idx_dir(spark, idx["sizes"])
        .join(reps_old, "doc_id")
        .unionByName(sh_w_reps.groupBy("doc_id")
                     .agg(F.count("*").alias("n_sh"))),
        "sigs": _read_idx_dir(spark, idx["sigs"])
        .join(reps_old, "doc_id")
        .unionByName(minhash_signatures(sh_w_reps, n_bands=n_bands,
                                        rows_per_band=rows_per_band)),
    }
    return _publish_index_snapshot(path, tables, snapshot_id=snapshot_id,
                                   vacuum=vacuum, num_files=num_files,
                                   keep_snapshots=keep_snapshots)


def shingle_fingerprints(sh: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): md5 of the sorted distinct shingle set.
    Identical fingerprint ⇔ identical shingle set ⇔ Jaccard exactly 1
    with IDENTICAL similarity to every other doc — so fingerprint groups
    can be collapsed to one representative without changing any
    threshold decision.  Docs with zero shingles are absent (they can
    never pair and must stay singletons, not collapse together)."""
    return (sh.groupBy("doc_id")
            .agg(F.md5(F.array_join(F.array_sort(F.collect_set("shingle")),
                                    "\x01")).alias("fingerprint")))


def near_dedup(docs: DataFrame, threshold: float = 0.5,
               n_bands: int = 8, rows_per_band: int = 4, n: int = 3,
               id_col: str = "doc_id", text_col: str = "text",
               max_iter: int = 20, mode: str = "exact",
               checkpoint_dir: str | None = None,
               max_bucket: int | None = None) -> DataFrame:
    """Corpus-level near-dedup keeper assignment: exact-set pre-collapse →
    verified pairs over representatives → connected components (min-label
    propagation) → keeper = smallest doc_id of each component.  Returns
    one row per doc (doc_id, keeper_doc_id); singletons keep themselves,
    so the filter ``doc_id = keeper_doc_id`` IS the deduplicated corpus.

    Stage 0 collapses identical shingle SETS (fingerprint groups) to
    their min-doc_id representative — semantics-preserving (J=1 within a
    group, and every member has byte-identical similarity to all other
    docs), and it is what keeps template-heavy corpora tractable: a
    cluster of 10^4 boilerplate copies becomes ONE representative before
    any pair is enumerated.

    ``mode='exact'`` (default) verifies ALL candidate pairs among
    representatives — exact w.r.t. the threshold, but Ω(true pairs):
    within a genuinely-near-dup mega-cluster of k distinct texts the
    verify tier is O(k²) because the true pair set IS O(k²).
    ``mode='scale'`` verifies only STAR edges (each representative ↔ the
    smallest member of its LSH bucket): O(corpus) edges regardless of
    cluster size.  Star merges are a SUBSET of exact merges (every star
    edge is threshold-verified), so precision is preserved; recall drops
    only for docs whose sole path into a cluster was a non-hub pair.

    The component phase runs on the shared
    ``graph.weakly_connected_components`` loop: pointer jumping + the
    reverse-pointer hub update give log(diameter) rounds, the
    convergence flag is materialized into the checkpointed frame (no
    separate old-vs-new join job), and non-convergence raises rather
    than silently emitting fragmented components.

    ``checkpoint_dir``: when set, per-round lineage truncation is a
    DURABLE parquet round-trip under that directory instead of
    ``localCheckpoint`` — the cluster-safe mode (localCheckpoint blocks
    die with their executor, killing the job mid-iteration; point
    checkpoint_dir at HDFS/S3 on a real cluster).  Output is identical.

    ``max_bucket``: optional hot-bucket guard for candidate generation —
    see ``lsh_candidates``.  In ``mode='scale'`` it is moot (star edges
    are already O(width) per bucket)."""
    if mode not in ("exact", "scale"):
        raise ValueError(f"mode must be 'exact' or 'scale', got {mode!r}")
    sh_all = shingle_rows(docs, id_col=id_col, text_col=text_col, n=n)
    return _near_dedup_core(sh_all,
                            docs.select(F.col(id_col).alias("doc_id")),
                            threshold=threshold, n_bands=n_bands,
                            rows_per_band=rows_per_band, max_iter=max_iter,
                            mode=mode, checkpoint_dir=checkpoint_dir,
                            max_bucket=max_bucket)


def _near_dedup_core(sh_all: DataFrame, all_ids: DataFrame,
                     threshold: float, n_bands: int, rows_per_band: int,
                     max_iter: int, mode: str,
                     checkpoint_dir: str | None,
                     max_bucket: int | None,
                     extra_edges: DataFrame | None = None) -> DataFrame:
    """The near-dedup engine over an EXPLICIT shingle relation and id
    universe — shared by ``near_dedup`` (shingles of one corpus) and
    ``dedup_index_reconcile`` (window shingles ∪ the frozen keeper
    surface read back from the index, where no single raw-docs frame
    exists).  ``all_ids`` must be unique; ids absent from ``sh_all``
    (zero-shingle docs) fall through to keeper = self.

    ``extra_edges`` (src, dst doc ids): additional component edges
    unioned in BEFORE connected components — reconcile passes window
    docs' stored assignments so links whose chain evidence is no
    longer on hand (a since-demoted keeper's pruned surface) survive
    the re-run.  Endpoints are mapped through the fingerprint
    representatives; an endpoint with no shingles is dropped (it can
    never have linked in the first place)."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    # ONE aggregation pass over the shingles computes everything per-doc:
    # the shingle-set fingerprint (stage-0 collapse key), the shingle
    # count (Jaccard denominator), and all b·r minhash minima — the
    # per-doc signature depends only on the shingle SET, so minima
    # computed here and filtered to representatives are identical to
    # recomputing them over representatives.  Checkpointed once (tiny:
    # one row per doc) — every downstream branch reads this instead of
    # re-executing the scan→shingle subtree.  At cluster scale the same
    # role is played by persisting to storage once.
    wide = trunc(_minhash_inputs(sh_all).groupBy("doc_id")
                 .agg(F.md5(F.array_join(
                     F.array_sort(F.collect_set("shingle")), "\x01"))
                     .alias("fingerprint"),
                     F.count("*").alias("n_sh"),
                     *_minima_aggs(n_bands * rows_per_band)), "wide")
    groups = wide.groupBy("fingerprint").agg(F.min("doc_id").alias("rep"))
    doc_rep = (wide.select("doc_id", "fingerprint")
               .join(groups, "fingerprint").select("doc_id", "rep"))
    reps = groups.select(F.col("rep").alias("doc_id"))
    rep_wide = wide.join(reps, "doc_id")

    sigs = _band_stack(rep_wide, n_bands, rows_per_band)
    if mode == "exact":
        cand = (lsh_candidates(sigs, max_bucket=max_bucket)
                .select("doc_a", "doc_b").distinct())
    else:
        hub = sigs.groupBy("band", "sig").agg(F.min("doc_id").alias("doc_a"))
        cand = (sigs.join(hub, ["band", "sig"])
                .filter(F.col("doc_id") != F.col("doc_a"))
                .select("doc_a", F.col("doc_id").alias("doc_b")).distinct())
    # verify reads representative shingles (one extra narrow pass over
    # the corpus, filtered by the broadcast-able rep list) and the
    # precomputed sizes from `wide`
    sh = sh_all.join(reps, "doc_id")
    sizes = rep_wide.select("doc_id", "n_sh")
    pairs = _verify_pairs(sh, cand, threshold,
                          sizes=sizes).select("doc_a", "doc_b")
    if extra_edges is not None:
        ra = doc_rep.select(F.col("doc_id").alias("src"),
                            F.col("rep").alias("_ra"))
        rb = doc_rep.select(F.col("doc_id").alias("dst"),
                            F.col("rep").alias("_rb"))
        pairs = pairs.unionByName(
            extra_edges.join(ra, "src").join(rb, "dst")
            .select(F.col("_ra").alias("doc_a"),
                    F.col("_rb").alias("doc_b")))
    # components over TOUCHED vertices only: a label can change only
    # along an edge, and the dup graph is orders of magnitude smaller
    # than the corpus — iterating over every doc would shuffle the whole
    # corpus per round for nothing.  Untouched reps/docs fall through
    # the final coalesce to keeper = self.  The iteration itself is the
    # shared pointer-jumped + hub-updated min-label loop (log-diameter
    # rounds, durable-checkpoint capable) — see
    # graph.weakly_connected_components.
    from .graph import weakly_connected_components
    comp = weakly_connected_components(
        pairs.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst")),
        max_iter=max_iter, checkpoint_dir=checkpoint_dir)
    # re-expand: every doc inherits its representative's component label
    # (the label is the min rep id = min doc id of the merged component,
    # since each rep is the min of its fingerprint group).  Reps with no
    # near-dup edges never entered the propagation — their group members
    # still collapse onto the rep; docs with zero shingles never entered
    # the graph at all and keep themselves via the final coalesce.
    rep_comp = comp.select(F.col("node").alias("rep"),
                           F.col("component").alias("comp"))
    assigned = (doc_rep.join(rep_comp, "rep", "left")
                .select("doc_id",
                        F.coalesce("comp", F.col("rep"))
                        .alias("keeper_doc_id")))
    return (all_ids.join(assigned, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("keeper_doc_id", F.col("doc_id"))
                    .alias("keeper_doc_id")))


def positional_shingle_rows(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 8) -> DataFrame:
    """Word n-gram shingles exploded WITH their 0-based token offset —
    the input to passage-level (sub-document) duplicate detection, where
    position matters and duplicates must not be collapsed.  Same
    arrays_zip-of-shifted-slices construction as ``shingle_rows`` (O(len)
    slice work per doc, O(1) lambda body per element) minus the
    ``array_distinct``, plus ``posexplode`` for the offset."""
    toks = F.split(F.lower(text_col), " ")
    shifted = ", ".join(
        f"slice(toks, {k + 1}, size(toks) - {n - 1})" for k in range(n))
    body = ", ' ', ".join(f"x['{k}']" for k in range(n))
    expr = (f"CASE WHEN size(toks) >= {n} THEN "
            f"transform(arrays_zip({shifted}), x -> concat({body})) "
            f"ELSE array() END")
    return (docs.withColumn("toks", toks)
            .withColumn("sh", F.expr(expr))
            .select(F.col(id_col).alias("doc_id"),
                    F.posexplode("sh").alias("pos", "shingle")))


def duplicate_passages(docs: DataFrame, n: int = 8, min_docs: int = 2,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Sub-document duplicate-passage spans: maximal token ranges of each
    doc covered by word n-grams that also occur in >= ``min_docs`` - 1
    OTHER documents (boilerplate headers, license blocks, templated
    paragraphs — the passage-level dedup of Lee et al., "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499,
    re-expressed as three relational stages instead of a suffix array).

    Output: (doc_id, span_start, span_end, n_dup_shingles) — token-index
    half-open ranges [span_start, span_end), overlapping n-gram hits
    merged per doc via gaps-and-islands.

    Scale shape (10^12 docs):
    - stage 1 (which shingles are corpus-duplicated) shuffles
      (shingle-hash, doc_id) once; the distinct-doc count is a two-level
      aggregate (partial per-mapper dedup), so a boilerplate shingle in
      every doc costs one row per mapper, not a hot reducer;
    - stage 2 re-joins occurrences to the duplicated-shingle table on the
      shingle hash — an equi-join whose output is proportional to the
      DUPLICATED volume, not the corpus;
    - stage 3's window is partitioned by doc_id (per-doc state bounded by
      doc length — no global ordering anywhere).
    The shuffled shingle key is a 32-byte md5, never the n-gram text.
    """
    from pyspark.sql import Window
    occ = (positional_shingle_rows(docs, id_col=id_col, text_col=text_col,
                                   n=n)
           .select("doc_id", "pos", F.md5("shingle").alias("sh")))
    if min_docs == 2:
        # fast path: >=2 distinct docs <=> min(doc_id) != max(doc_id)
        # over the shingle's occurrence group — ONE tokenize pass and ONE
        # shuffle on sh (the agg+re-join form scans the corpus twice and
        # shuffles occurrences a second time for the join; both forms
        # concentrate a boilerplate shingle's occurrences on one reducer,
        # so the window costs nothing extra in skew, O(1) state per row)
        wsh = Window.partitionBy("sh")
        hits = (occ.withColumn("_dup", F.min("doc_id").over(wsh)
                               != F.max("doc_id").over(wsh))
                .filter("_dup").select("doc_id", "pos"))
    else:
        dup = (occ.groupBy("sh")
               .agg(F.count_distinct("doc_id").alias("nd"))
               .filter(F.col("nd") >= min_docs)
               .select("sh"))
        hits = occ.join(dup, "sh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    new_island = F.when(prev_end.isNull() | (F.col("pos") > prev_end),
                        F.lit(1)).otherwise(F.lit(0))
    return (hits.withColumn("isl", F.sum(new_island).over(w))
            .groupBy("doc_id", "isl")
            .agg(F.min("pos").cast("bigint").alias("span_start"),
                 (F.max("pos") + n).cast("bigint").alias("span_end"),
                 F.count("*").cast("bigint").alias("n_dup_shingles"))
            .select("doc_id", "span_start", "span_end", "n_dup_shingles"))


def _prefix_tokens(docs: DataFrame, t_num: int, t_den: int, n: int,
                   id_col: str, text_col: str):
    """Shared prefix-stage plumbing for ``prefix_filter_pairs`` and
    ``prefix_posting_stats``: returns (sh, pfx) where ``sh`` is the full
    shingle relation and ``pfx`` is (doc, shingle, s, pos) — each doc's
    first s − ⌈t·s⌉ + 1 rarest shingles with ``pos`` the shingle's
    1-based position in the doc's full rarity-sorted token list (the
    PPJoin positional filter needs the position, so it is computed
    before the prefix cut, not after)."""
    sh = shingle_rows(docs, id_col=id_col, text_col=text_col, n=n)
    dfq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # global order = (df, md5-bucket, shingle).  Prefix filtering needs
    # ANY deterministic total order with rarity as the leading key; the
    # md5 sub-bucket exists because real corpora put most of the
    # vocabulary in ONE frequency class (df = 1) — a window partitioned
    # by df alone would hold the whole vocab in one partition there
    # (measured: 4.1 s of the query's 5.5 s at sf0.1).
    dfq = dfq.withColumn("_tb", F.substring(F.md5("shingle"), 1, 2))
    nf = dfq.groupBy("df", "_tb").agg(F.count(F.lit(1)).alias("nf"))
    woff = (Window.orderBy("df", "_tb")
            .rowsBetween(Window.unboundedPreceding, -1))
    off = nf.withColumn("off", F.coalesce(F.sum("nf").over(woff), F.lit(0)))
    wtie = Window.partitionBy("df", "_tb").orderBy("shingle")
    ranked = (dfq.join(F.broadcast(off.select("df", "_tb", "off")),
                       ["df", "_tb"])
              .withColumn("rk", F.row_number().over(wtie) + F.col("off"))
              .select("shingle", "rk", "df"))
    # only the PREFIX stage pays the rank join; sizes and the verify
    # join read the raw shingle relation, so the two-exchange rank
    # subtree is evaluated once, not four times (measured 2× win).
    # ``df`` rides along for free — it upper-bounds the shingle's
    # PREFIX-posting width, which is what the hot-posting blocked
    # decomposition needs (a width aggregate + join here measured
    # +74% on a 50k-doc honest corpus; df costs nothing)
    tok = sh.join(ranked, "shingle").select(
        F.col("doc_id").alias("doc"), "shingle", "rk", "df")
    sz = sh.groupBy(F.col("doc_id").alias("doc")).agg(
        F.count(F.lit(1)).alias("s"))
    # prefix length: s - ceil(t*s) + 1, all-integer
    plen = (F.col("s")
            - F.floor((F.lit(t_num) * F.col("s") + t_den - 1) / t_den)
            + 1)
    wdoc = Window.partitionBy("doc").orderBy("rk")
    pfx = (tok.join(sz, "doc")
           .withColumn("pos", F.row_number().over(wdoc))
           .filter(F.col("pos") <= plen)
           .select("doc", "shingle", "s", "pos", "df"))
    return sh, pfx


def prefix_filter_pairs(docs: DataFrame, t_num: int = 4, t_den: int = 5,
                        n: int = 5, id_col: str = "doc_id",
                        text_col: str = "text",
                        max_posting: int | None = 4096) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (AllPairs/PPJoin,
    Bayardo et al. WWW'07; Xiao et al. WWW'08): all pairs with
    shingle-set Jaccard ≥ t_num/t_den — no false negatives, unlike the
    MinHash/SimHash tiers, which trade recall for fewer candidates.

    The threshold is a RATIONAL (t_num/t_den) and every pruning bound is
    integer arithmetic — ``ceil(0.8·s)`` in binary floating point is
    off-by-one for some sizes, and a too-short prefix silently DROPS
    pairs; ceil_div(t_num·s, t_den) cannot.

    Shape: shingles are ordered by global rarity (document frequency
    asc — the rank uses the freq-partitioned window + tiny cumulative
    offset table, no global window); each doc emits only its first
    s − ⌈t·s⌉ + 1 rarest shingles (pigeonhole: two sets with J ≥ t must
    share a prefix token), candidates come from the prefix equi-join +
    length filter + positional filter, and one count-join verifies
    exact Jaccard.  Shuffle volume ∝ prefix postings, not the corpus.

    Two EXACT hot-posting defenses (both preserve zero false
    negatives — the brute-force oracle proves it):

    1. PPJoin POSITIONAL filter: a candidate occurrence at prefix
       positions (pa, pb) can reach overlap at most
       1 + min(sa − pa, sb − pb); J ≥ t needs overlap ≥
       ⌈t·(sa+sb)/(1+t)⌉.  Soundness per pair: the pair's FIRST common
       token in the global order has no common token before it, so its
       occurrence meets the bound whenever the pair truly qualifies
       (and that token is provably inside both prefixes: all i common
       tokens sit at positions ≥ pos(g), so pos(g) ≤ s − i + 1 ≤
       s − ⌈t·s⌉ + 1).  This prunes exactly the hot-COMMON-token case:
       a token hot because it is frequent sits at the END of prefixes,
       where min(sa − pa, sb − pb) ≈ ⌈t·s⌉ − 1 < ⌈2t/(1+t)·s⌉ fails
       the bound unless the docs are genuinely similar elsewhere.

    2. BLOCKED posting decomposition (``max_posting``): a posting wider
       than ``max_posting`` is split into ⌈W/max_posting⌉ hash-assigned
       blocks and the self-join key becomes (shingle, block_a,
       block_b) with each side exploded to its block-pair range — every
       unordered pair still lands in exactly one cell (EXACT; nothing
       is dropped, unlike ``lsh_candidates(max_bucket=)`` whose tier is
       already approximate), but no single join cell holds more than
       ~max_posting² pairs (expectation — blocks are hash-balanced, not
       counted), so one template-heavy shingle becomes
       O((W/max_posting)²) normal-size tasks instead of one quadratic
       straggler that spills or OOMs a reducer.  The block count comes
       from the shingle's df (already on the prefix rows — free), which
       upper-bounds the posting width, so the guard adds NO width
       aggregate and NO extra join (an exact-width form measured +74%
       wall on a 50k-doc honest corpus); explode overhead is O(W·nb)
       rows per hot posting — one row when nb = 1.  Use
       ``prefix_posting_stats`` for the true posting-width census."""
    sh, pfx = _prefix_tokens(docs, t_num, t_den, n, id_col, text_col)
    acols = [F.col("doc").alias("da"), "shingle", F.col("s").alias("sa"),
             F.col("pos").alias("pa")]
    bcols = [F.col("doc").alias("db"), "shingle", F.col("s").alias("sb"),
             F.col("pos").alias("pb")]
    if max_posting is not None:
        # blocked decomposition: the block count comes from the
        # shingle's DOCUMENT FREQUENCY, which the prefix stage already
        # computed and carries for free — df upper-bounds the prefix-
        # posting width, so ⌈df/max_posting⌉ blocks always cover the
        # true width (an exact width aggregate + join here measured
        # +74% wall on a 50k-doc honest corpus; over-decomposition of a
        # rare-in-prefix common shingle costs only a few extra 1-row
        # explode copies).  Blocks are HASH-assigned
        # (pmod(xxhash64(doc), nb)) so no ordering pass is needed;
        # balanced in expectation, so the per-cell bound is
        # ~max_posting², not exact — the guarantee that matters (no
        # quadratic cell) survives.  _nbm = LAST block index
        # = ⌈df/max_posting⌉ − 1 (F.sequence is inclusive).  The a-side
        # row in block b_a serves cells (b_a, b_a.._nbm) and the b-side
        # row in block b_b serves cells (0..b_b, b_b) — every unordered
        # pair lands in exactly the cell (min_blk, max_blk), possibly
        # with da > db (hash blocks carry no doc-order relation), so the
        # pair is canonicalized AFTER the join instead of filtered.
        blk = (pfx.withColumn("_nbm",
                              F.floor((F.col("df") - 1) / max_posting))
               .withColumn("_blk", F.pmod(F.xxhash64("doc"),
                                          F.col("_nbm") + 1)))
        a = blk.select(
            *acols,
            F.col("_blk").alias("_ba"),
            F.explode(F.sequence("_blk", "_nbm")).alias("_bb"))
        b = blk.select(
            *bcols,
            F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_ba"),
            F.col("_blk").alias("_bb"))
        swap = F.col("da") < F.col("db")
        cand0 = (a.join(b, ["shingle", "_ba", "_bb"])
                 .filter(F.col("da") != F.col("db"))
                 .select(
                     F.least("da", "db").alias("da"),
                     F.greatest("da", "db").alias("db"),
                     F.when(swap, F.col("sa")).otherwise(F.col("sb"))
                     .alias("sa"),
                     F.when(swap, F.col("sb")).otherwise(F.col("sa"))
                     .alias("sb"),
                     F.when(swap, F.col("pa")).otherwise(F.col("pb"))
                     .alias("pa"),
                     F.when(swap, F.col("pb")).otherwise(F.col("pa"))
                     .alias("pb")))
    else:
        cand0 = (pfx.select(*acols).join(pfx.select(*bcols), "shingle")
                 .filter(F.col("da") < F.col("db")))
    # positional filter BEFORE the distinct: a pair may be pruned at one
    # shared occurrence and survive at an earlier (rarer) one — its
    # first common token always survives, so no qualifying pair is lost.
    # Integer form: (t_num+t_den)·(1+min(sa−pa, sb−pb)) ≥ t_num·(sa+sb)
    # ⇔ 1+min(...) ≥ ⌈t_num·(sa+sb)/(t_num+t_den)⌉ for integer LHS.
    cand = (cand0
            .filter(F.lit(t_num + t_den)
                    * (F.lit(1) + F.least(F.col("sa") - F.col("pa"),
                                          F.col("sb") - F.col("pb")))
                    >= F.lit(t_num) * (F.col("sa") + F.col("sb")))
            # length filter pre-distinct: shrink the dedup input too
            .filter((F.lit(t_den) * F.col("sb") >= t_num * F.col("sa"))
                    & (F.lit(t_den) * F.col("sa")
                       >= t_num * F.col("sb")))
            .select("da", "db", "sa", "sb").distinct())
    ta = sh.select(F.col("doc_id").alias("da"), "shingle")
    tb = sh.select(F.col("doc_id").alias("db"), "shingle")
    inter = (cand.join(ta, "da").join(tb, ["db", "shingle"])
             .groupBy("da", "db", "sa", "sb")
             .agg(F.count(F.lit(1)).alias("i")))
    return (inter
            .filter(F.lit(t_den) * F.col("i")
                    >= t_num * (F.col("sa") + F.col("sb") - F.col("i")))
            .select(F.col("da").alias("doc_a"), F.col("db").alias("doc_b"),
                    F.round(F.col("i") / (F.col("sa") + F.col("sb")
                                          - F.col("i")), 4)
                    .alias("jaccard")))


def prefix_posting_stats(docs: DataFrame, t_num: int = 4, t_den: int = 5,
                         n: int = 5, id_col: str = "doc_id",
                         text_col: str = "text",
                         max_posting: int = 4096) -> DataFrame:
    """Observability for the prefix-filter hot-posting decomposition
    (mirrors ``lsh_bucket_stats``): one row (n_postings, n_oversize,
    max_width, cand_pairs, blocked_cells).  ``max_width`` and
    ``cand_pairs`` describe the TRUE prefix-posting widths w —
    Σ w·(w−1)/2 is the candidate-pair volume the prefix join will emit
    (unchanged by blocking: the decomposition is EXACT, nothing is
    dropped).  ``n_oversize`` and ``blocked_cells`` are computed from
    the shingle's DOCUMENT FREQUENCY df, because that is what
    ``prefix_filter_pairs`` actually blocks by (df upper-bounds w and
    rides the prefix rows for free): blocked_cells = Σ nb·(nb+1)/2 with
    nb = ⌈df/max_posting⌉ is exactly the join-cell fan-out the
    decomposition will create, including shingles decomposed because
    df > max_posting even though their true prefix width fits — the
    straggler-to-tasks fan-out a pipeline should log before committing
    to a run."""
    _, pfx = _prefix_tokens(docs, t_num, t_den, n, id_col, text_col)
    w = pfx.groupBy("shingle").agg(F.count(F.lit(1)).alias("w"),
                                   F.first("df").alias("df"))
    nb = F.floor((F.col("df") - 1) / max_posting) + 1
    over = F.col("df") > max_posting
    return w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_postings"),
        F.coalesce(F.sum(over.cast("bigint")), F.lit(0))
        .cast("bigint").alias("n_oversize"),
        F.coalesce(F.max("w"), F.lit(0)).cast("bigint").alias("max_width"),
        F.coalesce(F.sum(F.col("w") * (F.col("w") - 1) / 2), F.lit(0))
        .cast("bigint").alias("cand_pairs"),
        F.coalesce(F.sum(F.when(over, nb * (nb + 1) / 2).otherwise(1)),
                   F.lit(0)).cast("bigint").alias("blocked_cells"))


def _semantic_assign(emb: DataFrame, n_clusters: int, refine_iters: int,
                     id_col: str, vec_col: str) -> DataFrame:
    """Shared cluster-assignment stage for ``semantic_dedup`` and
    ``semantic_dedup_stats``: ((vec_id, v, centroid_id), centroids) via
    the deterministic IVF coarse quantizer (lowest-id seeds, optional
    Lloyd refinement, broadcast-argmin assignment — no corpus
    shuffle)."""
    from .similarity import ivf_assign, ivf_centroids, prepare_vectors
    vecs = prepare_vectors(emb, id_col=id_col, vec_col=vec_col)
    cents = ivf_centroids(vecs, n_centroids=n_clusters,
                          refine_iters=refine_iters)
    return ivf_assign(vecs, cents, n_probe=1), cents


def _semantic_label(emb: DataFrame, n_clusters: int, threshold: float,
                    refine_iters: int, id_col: str, vec_col: str,
                    max_iter: int,
                    checkpoint_dir: str | None) -> tuple:
    """Shared SemDeDup core for ``semantic_dedup`` and
    ``semantic_index_build``: (labeled, centroids) where labeled =
    (vec_id, v, centroid_id, component) — within-cluster cosine pairs
    above ``threshold``, connected components, component = min member
    id (vectors with no pair keep themselves via the coalesce, same
    re-expansion contract as near_dedup)."""
    from .graph import weakly_connected_components
    from .similarity import dot_expr, with_unit_vector
    assigned, cents = _semantic_assign(emb, n_clusters, refine_iters,
                                       id_col, vec_col)
    # pre-normalize once per vector; the quadratic pair filter is then a
    # single dot per pair (same 4-dp scores — see with_unit_vector)
    normed = with_unit_vector(assigned)
    a = normed.select("centroid_id", F.col("vec_id").alias("id_a"),
                      F.col("vn").alias("va"))
    b = normed.select("centroid_id", F.col("vec_id").alias("id_b"),
                      F.col("vn").alias("vb"))
    pairs = (a.join(b, "centroid_id")
             .filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cos_sim", F.round(dot_expr("va", "vb"), 4))
             .filter(F.col("cos_sim") >= threshold)
             .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    comp = weakly_connected_components(pairs, max_iter=max_iter,
                                       checkpoint_dir=checkpoint_dir)
    labeled = (assigned
               .join(comp.withColumnRenamed("node", "vec_id"),
                     "vec_id", "left")
               .withColumn("component",
                           F.coalesce("component", F.col("vec_id"))))
    return labeled, cents


def semantic_dedup(emb: DataFrame, n_clusters: int = 8,
                   threshold: float = 0.95, refine_iters: int = 0,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   max_iter: int = 20, keep: str = "min_id",
                   checkpoint_dir: str | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): EMBEDDING-level
    semantic deduplication — the tier above MinHash/SimHash/prefix in
    the dedup ladder, catching paraphrases and re-renderings that share
    no lexical shingles at all.  k-means-cluster the corpus embeddings,
    compare pairs ONLY within a cluster (the paper's observation:
    semantic duplicates co-locate in embedding space, so the O(n²)
    comparison collapses to Σ s_c·(s_c−1)/2), connect components over
    above-threshold cosine pairs, keep the lowest-id member per
    component.

    Returns one row per vector: (vec_id, centroid_id, keeper_vec_id);
    ``vec_id = keeper_vec_id`` IS the semantically deduplicated corpus
    (anti-join the rest away, exactly like ``near_dedup``'s contract).

    Scale shape: centroid seeding is a TakeOrdered, assignment is a
    broadcast-argmin map stage (no shuffle of the corpus side), the
    within-cluster comparison is an equi-join on ``centroid_id``, and
    the component pass runs over the (tiny) above-threshold pair graph
    only.  The one unbounded quantity is the largest cluster — the
    paper's knob is k ∝ N (√N .. N/100 clusters keeps E[s_c] bounded as
    the corpus grows), and ``semantic_dedup_stats`` is the pre-run
    census (sizes / pair volume / imbalance) a pipeline logs BEFORE
    committing to a run, same go/no-go row the MinHash
    (``lsh_bucket_stats``) and prefix (``prefix_posting_stats``) tiers
    publish.  For corpora too big to refine globally,
    ``ivf_centroids(sample_fraction=...)`` trains the quantizer on a
    seeded sample.

    ``keep`` selects the representative per duplicate group:
    ``"min_id"`` (default — the near_dedup convention, stable under
    appends) or ``"diverse"`` — the PAPER's policy (§3: keep the
    example with LOWEST cosine similarity to its cluster centroid, i.e.
    the one adding the most diversity; ties broken by id).  Both are
    fully deterministic and both have exact DuckDB oracles.

    Deterministic end-to-end (lowest-id seed centroids, 4-dp-rounded
    cosines, id tie-breaks, deterministic keeper policies) → exact
    DuckDB oracle despite being a clustering-based method."""
    if keep not in ("min_id", "diverse"):
        raise ValueError(f"keep must be 'min_id' or 'diverse', got {keep!r}")
    from .similarity import cosine_expr
    labeled, cents = _semantic_label(
        emb, n_clusters=n_clusters, threshold=threshold,
        refine_iters=refine_iters, id_col=id_col, vec_col=vec_col,
        max_iter=max_iter, checkpoint_dir=checkpoint_dir)
    if keep == "min_id":
        # component labels ARE min ids — no second pass needed
        return labeled.select("vec_id", "centroid_id",
                              F.col("component").alias("keeper_vec_id"))
    # keep == "diverse": re-rank each duplicate group by similarity to
    # its (shared — pairs are within-cluster) centroid, keeper = least
    # similar.  The window partitions by component: bounded by cluster
    # size, the same bound the pair join already lives under.
    sim = (labeled.join(F.broadcast(cents), "centroid_id")
           .withColumn("ccos", F.round(cosine_expr("v", "cv"), 4)))
    w = Window.partitionBy("component").orderBy(F.asc("ccos"),
                                                F.asc("vec_id"))
    reps = (sim.withColumn("krn", F.row_number().over(w))
            .filter(F.col("krn") == 1)
            .select(F.col("component"), F.col("vec_id").alias("keeper")))
    return (labeled.join(reps, "component")
            .select("vec_id", "centroid_id",
                    F.col("keeper").alias("keeper_vec_id")))


def semantic_dedup_stats(emb: DataFrame, n_clusters: int = 8,
                         refine_iters: int = 0, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Observability census for ``semantic_dedup`` (mirrors
    ``lsh_bucket_stats`` / ``prefix_posting_stats``): one row
    (n_clusters, n_vectors, max_cluster, cand_pairs, imbalance) where
    ``cand_pairs`` = Σ s_c·(s_c−1)/2 is the exact within-cluster
    comparison volume the dedup will pay and ``imbalance`` =
    max_cluster / mean_cluster is the skew detector (a hot centroid —
    e.g. a boilerplate mode swallowing the corpus — shows up here
    before it becomes one straggler join cell; the fix is more
    clusters or quantizer refinement, both knobs on the same census)."""
    assigned, _ = _semantic_assign(emb, n_clusters, refine_iters,
                                   id_col, vec_col)
    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("s"))
    return sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("s").cast("bigint").alias("n_vectors"),
        F.max("s").cast("bigint").alias("max_cluster"),
        F.sum(F.col("s") * (F.col("s") - 1) / 2).cast("bigint")
        .alias("cand_pairs"),
        F.round(F.max("s") / F.avg("s"), 4).alias("imbalance"))


_SEM_TABLES = ("centroids", "keepers", "reps")
_SEM_MANIFEST = "_current.json"


def _sem_dirs(path: str) -> dict[str, str]:
    """Resolve the semantic index's three table directories — manifest
    if compacted, legacy flat layout otherwise (the fourth
    instantiation of the per-lifecycle manifest pattern; see
    ARCHITECTURE.md on why each lifecycle owns its manifest)."""
    import json
    import os
    man = os.path.join(path, _SEM_MANIFEST)
    if os.path.exists(man):
        with open(man) as fh:
            return json.load(fh)["tables"]
    return {t: f"{path}/{t}" for t in _SEM_TABLES}


def semantic_index_read(spark: SparkSession, path: str,
                        name: str) -> DataFrame:
    """Read one semantic-index table (centroids/keepers/reps) at the
    current snapshot; resolve through this, never raw paths."""
    return _read_idx_dir(spark, _sem_dirs(path)[name])


def semantic_index_build(emb: DataFrame, path: str, n_clusters: int = 8,
                         threshold: float = 0.95, refine_iters: int = 0,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding", max_iter: int = 20,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Materialize the SEMANTIC dedup index over a first corpus batch —
    the embedding-tier twin of ``dedup_index_build``, completing the
    platform's index family (MinHash dedup / BM25 / IVF / semantic all
    share the build → append → compact lifecycle).  Three tables:

    - ``centroids`` (centroid_id, cv) — the coarse quantizer, FROZEN at
      build time: appends assign into these clusters, so cluster
      membership is per-vector and append ≡ build-over-union under the
      same quantizer (the IVF index's documented frozen-quantizer
      trade; rebuild is the drift mitigation).
    - ``keepers`` (vec_id, centroid_id, keeper_vec_id) — every indexed
      vector's assignment (min-id policy: the append-stable choice;
      the paper's ``keep='diverse'`` re-rank is NOT append-stable — a
      later batch can change which member is least central — so the
      index pins min_id and a reader wanting diversity re-ranks its
      final corpus once).
    - ``reps`` (vec_id, v, centroid_id) — the keeper SURFACE new
      batches compare against (near-dups of a dropped non-keeper
      member are missed: the same frozen-keeper recall trade as the
      MinHash index, measured in BENCH.md).

    Returns the keepers assignment of the build batch."""
    labeled, cents = _semantic_label(
        emb, n_clusters=n_clusters, threshold=threshold,
        refine_iters=refine_iters, id_col=id_col, vec_col=vec_col,
        max_iter=max_iter, checkpoint_dir=checkpoint_dir)
    out = labeled.select("vec_id", "centroid_id",
                         F.col("component").alias("keeper_vec_id"))
    idx = _sem_dirs(path)
    cents.write.mode("overwrite").parquet(idx["centroids"])
    out.write.mode("overwrite").parquet(idx["keepers"])
    (labeled.filter(F.col("vec_id") == F.col("component"))
     .select("vec_id", "v", "centroid_id")
     .write.mode("overwrite").parquet(idx["reps"]))
    return out


def semantic_index_append(new_emb: DataFrame, path: str,
                          threshold: float = 0.95,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding", max_iter: int = 20,
                          checkpoint_dir: str | None = None,
                          batch_tag: str | None = None) -> DataFrame:
    """Semantically dedup a NEW batch against the frozen index and grow
    it — O(batch + touched reps), never O(corpus).  Frozen-keeper
    semantics exactly as ``dedup_index_append``: existing assignments
    never change; a new vector joins an existing cluster only through
    an above-threshold cosine pair with a KEEPER representative in its
    (frozen-centroid) cluster; new-new pairs chain within the batch; a
    component touching ≥1 existing keeper maps every NEW member to the
    MINIMUM such keeper (two old keepers bridged by a batch stay
    distinct), keeper-less components keep their min new id.

    ``batch_tag`` scopes the index writes to overwrite-idempotent
    subdirectories — the replay hook a streaming twin needs.

    Returns one row per new vector (vec_id, centroid_id,
    keeper_vec_id)."""
    from ..plans.checkpoint import Truncator
    from .graph import weakly_connected_components
    from .similarity import (dot_expr, ivf_assign, prepare_vectors,
                             with_unit_vector)
    spark = new_emb.sparkSession
    trunc = Truncator(checkpoint_dir)
    idx = _sem_dirs(path)
    cents = _read_idx_dir(spark, idx["centroids"])
    vecs = prepare_vectors(new_emb, id_col=id_col, vec_col=vec_col)
    assigned = trunc(ivf_assign(vecs, cents, n_probe=1), "sem_append_asg")
    reps = _read_idx_dir(spark, idx["reps"])
    normed = with_unit_vector(assigned)
    a = normed.select("centroid_id", F.col("vec_id").alias("id_a"),
                      F.col("vn").alias("va"))
    b = normed.select("centroid_id", F.col("vec_id").alias("id_b"),
                      F.col("vn").alias("vb"))
    nn = (a.join(b, "centroid_id")
          .filter(F.col("id_a") < F.col("id_b"))
          .filter(F.round(dot_expr("va", "vb"), 4) >= threshold)
          .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    nk = (a.join(with_unit_vector(reps)
                 .select("centroid_id", F.col("vec_id").alias("id_b"),
                         F.col("vn").alias("vb")), "centroid_id")
          .filter(F.round(dot_expr("va", "vb"), 4) >= threshold)
          .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    comp = weakly_connected_components(nn.union(nk),
                                       max_iter=max_iter,
                                       checkpoint_dir=checkpoint_dir)
    repset = reps.select(F.col("vec_id").alias("node"))
    comp_keeper = (comp.join(repset, "node")
                   .groupBy("component").agg(F.min("node").alias("kmin")))
    resolved = (comp.join(comp_keeper, "component", "left")
                .select(F.col("node").alias("vec_id"),
                        F.coalesce("kmin", F.col("component"))
                        .alias("keeper_vec_id")))
    out = trunc(
        assigned.select("vec_id", "centroid_id")
        .join(resolved, "vec_id", "left")
        .select("vec_id", "centroid_id",
                F.coalesce("keeper_vec_id", F.col("vec_id"))
                .alias("keeper_vec_id")), "sem_append_out")

    def _grow(df: DataFrame, name: str) -> None:
        if batch_tag is None:
            df.write.mode("append").parquet(idx[name])
        else:
            df.write.mode("overwrite").parquet(f"{idx[name]}/{batch_tag}")

    _grow(out, "keepers")
    new_reps = out.filter("vec_id = keeper_vec_id").select("vec_id")
    _grow(assigned.join(new_reps, "vec_id")
          .select("vec_id", "v", "centroid_id"), "reps")
    return out


def semantic_index_compact(spark: SparkSession, path: str,
                           snapshot_id: str | None = None,
                           vacuum: bool = True,
                           num_files: int | None = None,
                           keep_snapshots: int = 1) -> dict:
    """Rewrite the semantic index's current tables as one coalesced
    ``snap=<id>`` snapshot under an atomic manifest flip — same
    contract (and same vacuum caveat for pre-flip DataFrame handles) as
    ``dedup_index_compact``; the shared snapshot writer enforces the
    fresh-id self-overwrite guard."""
    tables = {t: _read_idx_dir(spark, _sem_dirs(path)[t])
              for t in _SEM_TABLES}
    return _write_index_snapshot(path, tables, _SEM_TABLES, _SEM_MANIFEST,
                                 _sem_dirs, snapshot_id=snapshot_id,
                                 vacuum=vacuum, num_files=num_files,
                                 keep_snapshots=keep_snapshots)


def semantic_index_reconcile(window_emb: DataFrame, path: str,
                             threshold: float = 0.95,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             max_iter: int = 20,
                             checkpoint_dir: str | None = None,
                             snapshot_id: str | None = None,
                             vacuum: bool = True,
                             num_files: int | None = None,
                             keep_snapshots: int = 1) -> dict:
    """Keeper-drift reconciliation for the frozen-keeper SEMANTIC index
    — the embedding-tier twin of ``dedup_index_reconcile``, closing the
    same measured trade (a new vector whose only above-threshold
    neighbor is a dropped non-keeper member can never link through the
    keeper surface): re-run semantic dedup over ``window_emb`` ∪ the
    frozen keeper surface under the FROZEN centroids and REBASE every
    stored assignment, publishing under the same atomic manifest flip
    compaction uses.

    Centroids stay frozen: reconcile repairs KEEPER drift (forgotten
    member surfaces), not QUANTIZER drift (a distribution shift that
    makes the build-batch centroids a poor partition) — the mitigation
    for the latter is a rebuild, exactly as for the IVF index.  With a
    full-corpus window the result equals a fresh ``semantic_dedup``
    under the frozen quantizer (pinned by the
    ``semantic_dedup_reconciled`` oracle).

    Rebase semantics mirror the MinHash reconcile: components may MERGE
    old clusters, never SPLIT them — every window vector's STORED
    assignment rides into the component computation as an explicit
    edge, so prior merges survive even when their witnessing keeper was
    since demoted.  Assignments outside the window are rewritten
    through the keeper remap (member → old keeper → new keeper); the
    reps surface is rebuilt from the new keeper set's vectors (old
    reps reused outside the window — no recompute, the vector IS the
    surface).  Cost is O(|window| + |keepers|) for the pair tiers and
    one map-side remap join for the corpus-sized keepers rewrite.

    Returns the published manifest dict."""
    from ..plans.checkpoint import Truncator
    from .graph import weakly_connected_components
    from .similarity import (dot_expr, ivf_assign, prepare_vectors,
                             with_unit_vector)
    spark = window_emb.sparkSession
    trunc = Truncator(checkpoint_dir)
    idx = _sem_dirs(path)
    cents = _read_idx_dir(spark, idx["centroids"])
    old_assign = _read_idx_dir(spark, idx["keepers"])
    vecs = prepare_vectors(window_emb, id_col=id_col, vec_col=vec_col)
    w_asg = trunc(ivf_assign(vecs, cents, n_probe=1), "sem_rec_asg")
    w_ids = w_asg.select("vec_id").distinct()
    # keeper surface NOT in the window (a window vector that is also a
    # keeper contributes its window copy, not two rows)
    reps_old = (_read_idx_dir(spark, idx["reps"])
                .join(w_ids, "vec_id", "left_anti"))
    surface = (w_asg.select("vec_id", "v", "centroid_id")
               .unionByName(reps_old.select("vec_id", "v",
                                            "centroid_id")))
    nsurf = with_unit_vector(surface)
    a = nsurf.select("centroid_id", F.col("vec_id").alias("id_a"),
                     F.col("vn").alias("va"))
    b = nsurf.select("centroid_id", F.col("vec_id").alias("id_b"),
                     F.col("vn").alias("vb"))
    pairs = (a.join(b, "centroid_id")
             .filter(F.col("id_a") < F.col("id_b"))
             .filter(F.round(dot_expr("va", "vb"), 4) >= threshold)
             .select(F.col("id_a").alias("src"),
                     F.col("id_b").alias("dst")))
    # window vectors' stored links — the no-split guarantee
    old_links = (old_assign.join(w_ids, "vec_id")
                 .filter("vec_id != keeper_vec_id")
                 .select(F.col("vec_id").alias("src"),
                         F.col("keeper_vec_id").alias("dst")))
    comp = weakly_connected_components(pairs.unionByName(old_links),
                                       max_iter=max_iter,
                                       checkpoint_dir=checkpoint_dir)
    assign_new = trunc(
        surface.select("vec_id", "centroid_id")
        .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select("vec_id", "centroid_id",
                F.coalesce("component", F.col("vec_id"))
                .alias("keeper_vec_id")), "sem_rec_assign")
    old_keepers = (old_assign.filter("vec_id = keeper_vec_id")
                   .select("vec_id"))
    remap = (assign_new.join(old_keepers, "vec_id")
             .select(F.col("vec_id").alias("keeper_vec_id"),
                     F.col("keeper_vec_id").alias("_nk")))
    kept = (old_assign.join(w_ids, "vec_id", "left_anti")
            .join(remap, "keeper_vec_id", "left")
            .select("vec_id", "centroid_id",
                    F.coalesce("_nk", F.col("keeper_vec_id"))
                    .alias("keeper_vec_id")))
    new_keepers_tbl = trunc(
        assign_new.join(w_ids, "vec_id").unionByName(kept),
        "sem_rec_keepers")
    # every new keeper is an old keeper or a window vector, so its
    # vector is in `surface` — the reps rebuild is a metadata join
    reps_tbl = surface.join(
        new_keepers_tbl.filter("vec_id = keeper_vec_id")
        .select("vec_id"), "vec_id")
    tables = {"centroids": cents, "keepers": new_keepers_tbl,
              "reps": reps_tbl}
    return _write_index_snapshot(path, tables, _SEM_TABLES, _SEM_MANIFEST,
                                 _sem_dirs, snapshot_id=snapshot_id,
                                 vacuum=vacuum, num_files=num_files,
                                 keep_snapshots=keep_snapshots)
