"""Workloads of the KG-construction benchmark, driven through the public
functions the jobs call, with the output checks each operation must
pass.  Every Spark call is wrapped in a span named after the module and
function it enters (``plans.ledger.run_with_resume``), so a traced run
can attribute time and Spark stages to layers."""

from __future__ import annotations

import os
import random
import signal
import time
from collections import Counter, defaultdict

from bench_trace import Tracer, descendants

STAR = [("?d", "decided_by", "?court"), ("?d", "has_judge", "?judge"),
        ("?d", "cites_precedent", "?p")]
CHAIN = [("?m", "same_as", "?canon"), ("?m2", "same_as", "?canon")]

BUCKETS = 16            # as jobs/run_pipeline.py defaults
TASKS_PER_CORE = 6      # as jobs/run_pipeline.py defaults


# ---------------------------------------------------------------- session

class Session:
    """One local Spark session at ``local[cores]`` whose JVM and Python
    workers are started by ``start`` and fully stopped (JVM exited,
    workers reaped) by ``stop``."""

    def __init__(self, work: str, cores: int, event_log: str | None,
                 pythonpath: str):
        self.work, self.cores = work, cores
        self.event_log, self.pythonpath = event_log, pythonpath
        self.spark = None

    def start(self) -> tuple[float, float]:
        """Create the session (launching the JVM) and warm the Python
        workers with a one-document extraction.  Returns
        (seconds until get_spark returned, seconds of the warm job)."""
        from legal_ner_spark import synth
        from legal_ner_spark.operators import extract as ops
        from legal_ner_spark.schema import CORPUS_SCHEMA
        from legal_ner_spark.session import get_spark
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.executorEnv.PYTHONPATH": self.pythonpath,
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.work}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="kgbench",
                               master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores,
                               extra_conf=conf)
        t1 = time.perf_counter()
        one = self.spark.createDataFrame([synth.gen_doc(0)], CORPUS_SCHEMA)
        ops.extract_records(one).count()
        return t1 - t0, time.perf_counter() - t1

    def stop(self) -> None:
        from pyspark import SparkContext
        if self.spark is None:
            return
        kids = descendants(os.getpid())
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        _reap(kids)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: list[int], timeout_s: float = 30.0) -> None:
    deadline = time.time() + timeout_s
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    for p in pids:
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


# ---------------------------------------------------------------- oracle

def oracle_triples(docs: list[dict]) -> dict[str, list[tuple]]:
    """doc_id → (subj, pred, obj) list from the single-document core."""
    from legal_ner_spark import synth
    from legal_ner_spark.core.extract import extract_document
    return {d["doc_id"]: extract_document(
        d["doc_id"], synth.assemble_text(d["spans"])).triples for d in docs}


def star_rows(triples) -> set[tuple]:
    by: dict[str, dict[str, set]] = defaultdict(lambda: defaultdict(set))
    for s, p, o in triples:
        by[p][s].add(o)
    rows = set()
    for d, courts in by["decided_by"].items():
        judges, precs = by["has_judge"].get(d), by["cites_precedent"].get(d)
        if judges and precs:
            rows.update((d, c, j, p) for c in courts for j in judges
                        for p in precs)
    return rows


def chain_rows(triples) -> set[tuple]:
    subjects: dict[str, set] = defaultdict(set)
    for s, p, o in triples:
        if p == "same_as":
            subjects[o].add(s)
    return {(m, c, m2) for c, ms in subjects.items() for m in ms for m2 in ms}


class Checks:
    """Counts operations attempted and failed; a failure is an operation
    that raised or whose output differs from the oracle."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{what}: {detail}"[:300])


# ---------------------------------------------------------------- readers

def reader_set(tr: Tracer, tri_fn) -> tuple[float, list, list]:
    """The fixed reader set against the live triples: resolve the triple
    table, then a BGP star and a BGP chain, rows collected.  Returns
    (wall seconds, star rows, chain rows)."""
    from legal_ner_spark.operators import kgquery
    t0 = time.perf_counter()
    with tr.span("bench.query"):
        tri = tri_fn()
        with tr.span("operators.kgquery.star"):
            star = kgquery.bgp_match(tri, STAR).collect()
        with tr.span("operators.kgquery.chain"):
            chain = kgquery.bgp_match(tri, CHAIN).collect()
    return time.perf_counter() - t0, star, chain


def check_readers(checks: Checks, star, chain, oracle_spo) -> None:
    want_star, want_chain = star_rows(oracle_spo), chain_rows(oracle_spo)
    got_star, got_chain = {tuple(r) for r in star}, {tuple(r) for r in chain}
    checks.record("query", got_star == want_star and len(star) == len(got_star)
                  and got_chain == want_chain,
                  f"star {len(got_star)}/{len(want_star)} "
                  f"chain {len(got_chain)}/{len(want_chain)}")


# ---------------------------------------------------------------- bulk build

def build(spark, tr: Tracer, corpus_path: str, out: str,
          fail_after: int | None = None) -> float:
    """The jobs/run_pipeline.py path: read_corpus → run_with_resume
    (16 buckets, 6 tasks/core, no n_docs hint) → read_all_records →
    write_triples.  Returns wall seconds.  ``fail_after`` stops the
    ledger after that many buckets (the warm-up stops early)."""
    from legal_ner_spark.operators import extract as ops
    from legal_ner_spark.plans import ledger
    from legal_ner_spark.sources import corpus as src
    t0 = time.perf_counter()
    with tr.span("bench.build"):
        with tr.span("sources.corpus.read_corpus"):
            corpus = src.read_corpus(spark, corpus_path)
        with tr.span("plans.ledger.run_with_resume"):
            try:
                ledger.run_with_resume(corpus, out, n_buckets=BUCKETS,
                                       tasks_per_core=TASKS_PER_CORE,
                                       fail_after=fail_after)
            except RuntimeError:
                if fail_after is None:
                    raise
        with tr.span("plans.ledger.read_all_records"):
            records = ledger.read_all_records(spark, out)
        with tr.span("sources.corpus.write_triples"):
            src.write_triples(ops.triples(records),
                              os.path.join(out, "triples"))
    return time.perf_counter() - t0


def check_build(spark, out: str, docs_by_id: dict, oracle: dict,
                sample: list[str]) -> list[str]:
    """Output checks of one build; returns the problems found.  The
    ledger's n_docs sum equals the corpus size, the triples table holds
    the oracle's count and, on the sample, exactly the oracle's triples,
    and the sample's doc rows keep their span sequence."""
    from pyspark.sql import functions as F
    from legal_ner_spark.plans import ledger
    probs = []
    rows = ledger.completed_buckets(out)
    n_docs = sum(r["n_docs"] for r in rows.values())
    if len(rows) != BUCKETS or n_docs != len(docs_by_id):
        probs.append(f"ledger: {len(rows)} buckets, {n_docs} docs")
    tri = spark.read.parquet(os.path.join(out, "triples"))
    total = tri.count()
    want_total = sum(len(t) for t in oracle.values())
    got = Counter((r.doc_id, r.subj, r.pred, r.obj) for r in
                  tri.filter(F.col("doc_id").isin(sample)).collect())
    want = Counter((d, *t) for d in sample for t in oracle[d])
    if total != want_total or got != want:
        probs.append(f"triples: total {total}/{want_total}, sample "
                     f"{sum(got.values())}/{sum(want.values())}")
    spans = {r.doc_id: [s.asDict() for s in r.spans] for r in
             ledger.read_all_records(spark, out)
             .filter((F.col("rec_type") == "doc")
                     & F.col("doc_id").isin(sample))
             .select("doc_id", "spans").collect()}
    bad = [d for d in sample if spans.get(d) != docs_by_id[d]["spans"]]
    if bad:
        probs.append(f"spans: {len(bad)}/{len(sample)} docs changed")
    return probs


def sample_ids(docs: list[dict], seed: int, k: int) -> list[str]:
    """A fixed seeded sample that always holds the longest document."""
    ids = sorted(d["doc_id"] for d in docs)
    longest = max(docs, key=lambda d: sum(len(s["text"]) for s in d["spans"]))
    pick = set(random.Random(seed).sample(ids, min(k - 1, len(ids))))
    return sorted(pick | {longest["doc_id"]})


# ---------------------------------------------------------------- incremental

def new_batch_table(manifest: dict, snapshot_id: str) -> str:
    """The triple table an ingest wrote under ``snapshot_id``."""
    return next(t for t, p in manifest["tables"].items()
                if t != "kg_degrees"
                and p.rstrip("/").endswith(f"snap={snapshot_id}"))


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, read from the file footers with
    pyarrow: a check that submits no Spark job."""
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def ingest(spark, tr: Tracer, root: str, batch_path: str, snapshot_id: str,
           compact_id: str | None) -> tuple[float, dict]:
    """One ``ingest_batch`` (plus ``compact`` when due).  Returns wall
    seconds and the manifest the ingest published."""
    from jobs import incremental_kg
    from legal_ner_spark.sources import corpus as src
    t0 = time.perf_counter()
    with tr.span("bench.ingest"):
        with tr.span("sources.corpus.read_corpus"):
            corpus = src.read_corpus(spark, batch_path)
        with tr.span("jobs.incremental_kg.ingest_batch"):
            man = incremental_kg.ingest_batch(spark, root, corpus,
                                              snapshot_id)
        if compact_id is not None:
            with tr.span("jobs.incremental_kg.compact"):
                incremental_kg.compact(spark, root, compact_id)
    return time.perf_counter() - t0, man


def check_degrees(spark, checks: Checks, root: str) -> int:
    """After the last batch, ``kg_degrees`` equals ``triple_degrees``
    over ``read_triples``.  Returns the kg_degrees row count."""
    from jobs import incremental_kg
    from legal_ner_spark.plans import publish
    deg = Counter(map(tuple, publish.read_published(
        spark, root, "kg_degrees").collect()))
    exp = Counter(map(tuple, incremental_kg.triple_degrees(
        incremental_kg.read_triples(spark, root)).collect()))
    checks.record("kg_degrees", deg == exp,
                  f"{sum((deg - exp).values())} extra, "
                  f"{sum((exp - deg).values())} missing rows")
    return sum(deg.values())
