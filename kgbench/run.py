"""KG-construction benchmark: one command that generates seeded inputs,
runs a workload through the public functions the jobs call, checks every
operation's output and prints its metrics, by name and with units, as
the last line of standard output.

    python3 kgbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run it from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics of a traced run
(spans around every layer call, Spark event log on).  Workloads, metrics
and the layer each per-layer metric should move are described in
kgbench/METRICS.md.  Everything the run writes lands under
``.kgbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

BULK = {"n_docs": 400, "n_warm": 48}
# an odd number of batches puts each median on one sample, a read of a
# two-table snapshot or a plain ingest, not between the ranks where
# the reads after a compaction land
INCREMENTAL = {"n_batches": 7, "batch_docs": 50, "n_warm": 4}
COMPACT_EVERY = 3           # incremental_kg.compact after every 3rd batch
BULK_UNTIMED_READS = 3      # untimed reader sets on each new bulk build
BULK_QUERY_REPEATS = 7      # timed reader sets that follow them
MIN_OPS = 1                 # bulk builds per run, at least
WARM_BUCKETS = 4            # ledger buckets of the untimed warm-up build
CORE_SAMPLE = 150           # documents timed through core in the driver
CHECK_SAMPLE = 16           # documents whose triples are compared exactly

SPARK_LAYERS = ["", "sources.corpus", "operators.extract", "plans.ledger",
                "jobs.incremental_kg", "operators.kgquery"]
SELF_LAYERS = ["bench", "sources.corpus", "operators.extract",
               "plans.ledger", "jobs.incremental_kg", "operators.kgquery"]

# every per-layer metric a traced run prints, in BENCHMARK.json order; a
# layer that a workload does not run reads 0 there
PER_LAYER = (
    ["session.create_s", "session.worker_warm_s",
     "sources.corpus.scan_s", "sources.corpus.input_mb",
     "sources.corpus.write_triples_s",
     "core.preamble_ms", "core.tagger_ms", "core.rest_ms",
     "core.extract_ms_p50", "core.extract_ms_max",
     "core.mentions_per_doc", "core.triples_per_doc",
     "operators.extract.stage_s", "operators.extract.records_out",
     "operators.extract.core_share", "operators.extract.task_skew",
     "plans.ledger.run_s", "plans.ledger.overhead_ratio",
     "plans.ledger.scan_amplification", "plans.ledger.bucket_ms_p50",
     "plans.ledger.bucket_ms_max", "plans.ledger.resume_s",
     "plans.ledger.resume_recomputed",
     "jobs.incremental_kg.ingest_batch_s",
     "jobs.incremental_kg.extract_passes", "jobs.incremental_kg.fixed_s",
     "jobs.incremental_kg.degrees_rows", "jobs.incremental_kg.compact_s",
     "jobs.incremental_kg.read_triples_s",
     "plans.publish.tables_in_snapshot",
     "operators.kgquery.star_s", "operators.kgquery.chain_s",
     "operators.kgquery.rows_out"]
    + ["spark." + (p + "." if p else "") + m for p in SPARK_LAYERS
       for m in ("shuffle_write_mb", "spill_mb", "gc_s", "cpu_share")]
    + [lay + ".self_s" for lay in SELF_LAYERS]
    + ["trace.overhead_ratio", "trace.spans"])


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_build", "incremental_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: exercises every workload and check "
                         "in seconds (for the benchmark's own tests)")
    return ap.parse_args(argv)


class Phases(dict):
    """Wall seconds of a run's phases, for the detail line."""

    def __init__(self):
        super().__init__()
        self.t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self[name] = self.get(name, 0.0) + now - self.t
        self.t = now


def _op(checks, what: str, fn):
    """Run one operation; an exception counts as a failed operation."""
    try:
        return fn()
    except Exception:
        checks.record(what, False, traceback.format_exc(limit=3))
        return None


# ------------------------------------------------------------------ core

def core_profile(docs: list[dict], seed: int, k: int) -> tuple[dict, float]:
    """Driver-side timing of the single-document core on a fixed seeded
    sample: preamble split, tagger, and the whole extract_document (the
    remainder is docmodel, postprocess and emit).  Returns the metrics
    and the mean extract time per document in seconds."""
    from legal_ner_spark import synth
    from legal_ner_spark.core.extract import extract_document
    from legal_ner_spark.core.preamble import separate_and_clean_preamble
    from legal_ner_spark.core.tagger import tag_region
    sample = random.Random(seed).sample(docs, min(k, len(docs)))
    pre, tag, tot, n_m, n_t = [], [], [], 0, 0
    for d in sample:
        text = synth.assemble_text(d["spans"])
        t0 = time.perf_counter()
        pre_text, pre_end = separate_and_clean_preamble(text)
        t1 = time.perf_counter()
        tag_region(pre_text, "preamble")
        tag_region(text[pre_end:], "judgment")
        t2 = time.perf_counter()
        r = extract_document(d["doc_id"], text)
        t3 = time.perf_counter()
        pre.append(t1 - t0)
        tag.append(t2 - t1)
        tot.append(t3 - t2)
        n_m += len(r.mentions)
        n_t += len(r.triples)
    mean = statistics.fmean
    return {
        "core.preamble_ms": 1e3 * mean(pre),
        "core.tagger_ms": 1e3 * mean(tag),
        "core.rest_ms": 1e3 * (mean(tot) - mean(pre) - mean(tag)),
        "core.extract_ms_p50": 1e3 * statistics.median(tot),
        "core.extract_ms_max": 1e3 * max(tot),
        "core.mentions_per_doc": n_m / len(sample),
        "core.triples_per_doc": n_t / len(sample),
    }, mean(tot)


# ------------------------------------------------------------------ bulk

def run_bulk(spark, tr, st, args, checks, run_dir, cores, ph):
    import bench_workloads as bw
    from bench_inputs import read_docs
    from legal_ner_spark.operators import extract as ops
    from legal_ner_spark.plans import ledger
    from legal_ner_spark.sources import corpus as src
    from pyspark.sql import functions as F

    corpus_path = os.path.join(st["root"], "corpus")
    docs = read_docs(corpus_path)
    by_id = {d["doc_id"]: d for d in docs}
    oracle = bw.oracle_triples(docs)
    spo = {t for ts in oracle.values() for t in ts}
    sample = bw.sample_ids(docs, args.seed, CHECK_SAMPLE)
    n = len(docs)
    ph.mark("oracle")

    # untimed warm-up of the build path (codegen, worker imports, JIT):
    # WARM_BUCKETS ledger buckets of the warm-up corpus, then the rest
    # of the build; each build's untimed first reader sets below warm
    # the readers
    warm = os.path.join(run_dir, "warm")
    bw.build(spark, bw.Tracer(False), os.path.join(st["root"], "warm"), warm,
             fail_after=WARM_BUCKETS)
    shutil.rmtree(warm, ignore_errors=True)
    ph.mark("warmup")

    builds, queries = [], []          # (seconds, traced)
    rows_out = []
    min_ops = 2 * MIN_OPS if args.trace else MIN_OPS
    t_end = time.perf_counter() + args.seconds
    k = 0
    while k < min_ops or time.perf_counter() < t_end:
        tr.enabled = bool(args.trace) and k % 2 == 1
        tr.run_id = f"build{k}"
        out = os.path.join(run_dir, f"out{k}")
        t = _op(checks, "build",
                lambda: bw.build(spark, tr, corpus_path, out))
        ph.mark("build")
        if t is not None:
            builds.append((t, tr.enabled))
            probs = _op(checks, "build", lambda: bw.check_build(
                spark, out, by_id, oracle, sample))
            if probs is not None:
                checks.record("build", not probs, "; ".join(probs))
            ph.mark("check_build")
            tri_path = os.path.join(out, "triples")
            # the first reader sets on a fresh table are untimed (their
            # rows are still checked): reader-set time falls by about
            # half over the first three reads of a new table as the JVM
            # compiles the join paths, and the timed ones measure the
            # steady reads that follow
            for q in range(BULK_UNTIMED_READS + BULK_QUERY_REPEATS):
                timed = q >= BULK_UNTIMED_READS
                qtr = tr if timed else bw.Tracer(False)
                res = _op(checks, "query", lambda: bw.reader_set(
                    qtr, lambda: _read_table(spark, qtr, tri_path)))
                if res is None:
                    continue
                bw.check_readers(checks, res[1], res[2], spo)
                if timed:
                    queries.append((res[0], tr.enabled))
                    rows_out.append(len(res[1]) + len(res[2]))
            ph.mark("queries")
        shutil.rmtree(out, ignore_errors=True)
        k += 1
    tr.enabled = False

    e2e = {"build": builds, "ingest": builds, "query": queries, "docs": n}
    if not args.trace:
        return e2e, {}

    # ---- traced-only layer measurements
    tr.enabled = True
    layer = {"sources.corpus.input_mb": st["input_mb"]}
    tr.run_id = "layers"
    with tr.span("sources.corpus.scan"):
        src.read_corpus(spark, corpus_path).select(F.sum(F.expr(
            "aggregate(spans, 0L, (a, s) -> a + coalesce(length(s.text), 0))"
        ))).collect()
    stage = []
    for _ in range(2):
        with tr.span("operators.extract.extract_records") as sp:
            t0 = time.perf_counter()
            recs_out = ops.extract_records(
                src.read_corpus(spark, corpus_path)).count()
            stage.append(time.perf_counter() - t0)
        sp.count("records_out", recs_out)
    layer["operators.extract.stage_s"] = statistics.median(stage)
    layer["operators.extract.records_out"] = recs_out
    out_r = os.path.join(run_dir, "resume")
    with tr.span("plans.ledger.run_with_resume_crash"):
        try:
            ledger.run_with_resume(src.read_corpus(spark, corpus_path), out_r,
                                   n_buckets=bw.BUCKETS,
                                   tasks_per_core=bw.TASKS_PER_CORE,
                                   fail_after=bw.BUCKETS // 2)
        except RuntimeError:
            pass
    t0 = time.perf_counter()
    with tr.span("plans.ledger.resume"):
        redone = ledger.run_with_resume(
            src.read_corpus(spark, corpus_path), out_r, n_buckets=bw.BUCKETS,
            tasks_per_core=bw.TASKS_PER_CORE)
    layer["plans.ledger.resume_s"] = time.perf_counter() - t0
    layer["plans.ledger.resume_recomputed"] = len(redone)
    rows = ledger.completed_buckets(out_r)
    checks.record("resume", len(redone) == bw.BUCKETS - bw.BUCKETS // 2
                  and sum(r["n_docs"] for r in rows.values()) == n,
                  f"recomputed {len(redone)} buckets")
    walls = [r["wall_ms"] for r in rows.values()]
    layer["plans.ledger.bucket_ms_p50"] = statistics.median(walls)
    layer["plans.ledger.bucket_ms_max"] = max(walls)
    shutil.rmtree(out_r, ignore_errors=True)
    tr.enabled = False

    core, core_s = core_profile(docs, args.seed, CORE_SAMPLE)
    layer.update(core)
    layer["operators.extract.core_share"] = (
        core_s * n / cores / layer["operators.extract.stage_s"])
    layer["sources.corpus.scan_s"] = _med(tr.durations("sources.corpus.scan"))
    layer["sources.corpus.write_triples_s"] = _med(
        tr.durations("sources.corpus.write_triples"))
    layer["plans.ledger.run_s"] = _med(
        tr.durations("plans.ledger.run_with_resume"))
    layer["plans.ledger.overhead_ratio"] = (
        layer["plans.ledger.run_s"] / layer["operators.extract.stage_s"])
    layer["operators.kgquery.star_s"] = _med(
        tr.durations("operators.kgquery.star"))
    layer["operators.kgquery.chain_s"] = _med(
        tr.durations("operators.kgquery.chain"))
    layer["operators.kgquery.rows_out"] = _med(rows_out)
    layer["_scan_markers"] = {"corpus": corpus_path}
    layer["_traced_builds"] = sum(1 for _, on in builds if on)
    return e2e, layer


def _read_table(spark, tr, path):
    with tr.span("bench.read_triples_table"):
        return spark.read.parquet(path)


def _med(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ incremental

def due_compact(b: int) -> bool:
    return (b + 1) % COMPACT_EVERY == 0


def run_incremental(spark, tr, st, args, checks, run_dir, cores, ph):
    import bench_workloads as bw
    from bench_inputs import read_docs
    from jobs import incremental_kg
    from legal_ner_spark.operators import extract as ops
    from legal_ner_spark.plans import publish
    from legal_ner_spark.sources import corpus as src

    batches = [os.path.join(st["root"], f"batch{b:03d}")
               for b in range(st["batches"])]
    batch_docs = [read_docs(p) for p in batches]
    oracle = [bw.oracle_triples(ds) for ds in batch_docs]
    ph.mark("oracle")

    # untimed warm-up: the timed sequence (ingests, a compaction, a
    # reader set after each) on the disjoint warm-up batches; after a
    # shorter warm-up the JVM is still compiling the ingest and reader
    # paths, and when that compilation lands varies with host load
    wroot = os.path.join(run_dir, "warm_kg")
    off = bw.Tracer(False)
    for w in range(st["warm_batches"]):
        bw.ingest(spark, off, wroot, os.path.join(st["root"], f"warm{w}"),
                  f"w{w:05d}", f"wc{w:05d}" if due_compact(w) else None)
        bw.reader_set(off, lambda: incremental_kg.read_triples(spark, wroot))
    shutil.rmtree(wroot, ignore_errors=True)
    ph.mark("warmup")

    root = os.path.join(run_dir, "kg")

    def live_triples():
        with tr.span("jobs.incremental_kg.read_triples"):
            return incremental_kg.read_triples(spark, root)

    ingests, queries, tables, fixed, rows_out = [], [], [], [], []
    spo: set = set()
    t_end = time.perf_counter() + args.seconds
    for b, path in enumerate(batches):
        tr.enabled = bool(args.trace) and b % 2 == 1
        tr.run_id = f"batch{b}"
        sid = f"s{b:05d}"
        cid = f"c{b:05d}" if due_compact(b) else None
        res = _op(checks, "ingest",
                  lambda: bw.ingest(spark, tr, root, path, sid, cid))
        if res is None:
            continue
        ingests.append((res[0], tr.enabled))
        ph.mark("ingest")
        for ts in oracle[b].values():
            spo.update(ts)
        want = sum(len(ts) for ts in oracle[b].values())
        got = _op(checks, "ingest", lambda: bw.parquet_rows(
            res[1]["tables"][bw.new_batch_table(res[1], sid)]))
        if got is not None:
            checks.record("ingest", got == want, f"batch triples {got}/{want}")
        ph.mark("check_ingest")
        q = _op(checks, "query", lambda: bw.reader_set(tr, live_triples))
        if q is not None:
            queries.append((q[0], tr.enabled))
            rows_out.append(len(q[1]) + len(q[2]))
            bw.check_readers(checks, q[1], q[2], spo)
        tables.append(len(publish.current_manifest(root)["tables"]))
        ph.mark("queries")
        if tr.enabled:
            tr.run_id = f"extract{b}"     # measurement, not part of the op
            with tr.span("operators.extract.extract_records"):
                t0 = time.perf_counter()
                ops.extract_records(src.read_corpus(spark, path)).count()
                ex = time.perf_counter() - t0
            ing = tr.durations("jobs.incremental_kg.ingest_batch")[-1]
            fixed.append(ing - ex)
        if time.perf_counter() > t_end + 120:
            break       # a run must end well within its time limit
    tr.enabled = False
    n_rows = _op(checks, "kg_degrees",
                 lambda: bw.check_degrees(spark, checks, root))
    ph.mark("check_degrees")

    docs = sum(len(ds) for ds in batch_docs[:len(ingests)])
    e2e = {"build": [], "ingest": ingests, "query": queries, "docs": docs}
    if not args.trace:
        return e2e, {}

    layer = {"sources.corpus.input_mb": st["input_mb"]}
    all_docs = [d for ds in batch_docs for d in ds]
    core, _ = core_profile(all_docs, args.seed, CORE_SAMPLE)
    layer.update(core)
    layer["jobs.incremental_kg.ingest_batch_s"] = _med(
        tr.durations("jobs.incremental_kg.ingest_batch"))
    layer["jobs.incremental_kg.fixed_s"] = _med(fixed)
    layer["jobs.incremental_kg.degrees_rows"] = n_rows or 0
    layer["jobs.incremental_kg.compact_s"] = _med(
        tr.durations("jobs.incremental_kg.compact"))
    layer["jobs.incremental_kg.read_triples_s"] = _med(
        tr.durations("jobs.incremental_kg.read_triples"))
    layer["plans.publish.tables_in_snapshot"] = _med(tables)
    layer["operators.kgquery.star_s"] = _med(
        tr.durations("operators.kgquery.star"))
    layer["operators.kgquery.chain_s"] = _med(
        tr.durations("operators.kgquery.chain"))
    layer["operators.kgquery.rows_out"] = _med(rows_out)
    layer["operators.extract.stage_s"] = _med(
        tr.durations("operators.extract.extract_records"))
    layer["_scan_markers"] = {}
    layer["_traced_batch_docs"] = sum(
        len(batch_docs[b]) for b in range(len(ingests)) if b % 2 == 1)
    return e2e, layer


# ------------------------------------------------------------------ output

E2E_UNITS = {"setup_s": "s", "build_docs_per_s": "docs/s",
             "ingest_p50_s": "s", "query_p50_s": "s",
             "peak_rss_mb": "MB", "ok_ratio": "ratio"}


def end_to_end(e2e, setup_s, peak_mb, checks) -> tuple[dict, dict]:
    from bench_trace import quartiles, tail_percentile
    ing = [t for t, _ in e2e["ingest"]]
    qry = [t for t, _ in e2e["query"]]
    if e2e["build"]:
        docs_per_s = statistics.median(e2e["docs"] / t for t, _ in e2e["build"])
    else:
        docs_per_s = e2e["docs"] / sum(ing)
    ip, iv = tail_percentile(ing)
    qp, qv = tail_percentile(qry)
    vals = {
        "setup_s": setup_s,
        "build_docs_per_s": docs_per_s,
        "ingest_p50_s": statistics.median(ing),
        "query_p50_s": statistics.median(qry),
        "peak_rss_mb": peak_mb,
        "ok_ratio": 1.0 - checks.failed / max(1, checks.attempted),
    }
    # the tails stay out of the metrics: a run holds ten samples or
    # fewer of each operation, so the tail is that run's slowest sample
    detail = {"ingest_tail_s": iv, "query_tail_s": qv,
              "ingest_samples_s": ing,
              "query_samples_s": qry, "ingest_quartiles_s": quartiles(ing),
              "query_quartiles_s": quartiles(qry), "ingest_samples": len(ing),
              "ingest_tail_percentile": ip, "query_samples": len(qry),
              "query_tail_percentile": qp,
              "failed_ratio": checks.failed / max(1, checks.attempted)}
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}, \
        detail


def per_layer(layer, e2e, tr, event_log_dir) -> dict:
    import bench_trace as bt
    vals = {k: v for k, v in layer.items() if not k.startswith("_")}

    files = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    tasks = bt.parse_event_log(files[0], layer["_scan_markers"])
    for prefix in SPARK_LAYERS:
        name = "spark." + (prefix + "." if prefix else "")
        for k, v in bt.spark_layer_metrics(tasks, prefix).items():
            vals[name + k] = v
    vals["operators.extract.task_skew"] = bt.task_skew(
        tasks, "operators.extract.extract_records")
    if "_traced_builds" in layer:
        reads = bt.records_read(tasks, "plans.ledger.run_with_resume",
                                "corpus")
        vals["plans.ledger.scan_amplification"] = (
            reads / (e2e["docs"] * max(1, layer["_traced_builds"])))
    if "_traced_batch_docs" in layer:
        # the extraction stage fuses the batch scan with MapInArrow, so
        # its input records are the documents each pass extracts
        reads = bt.records_read(tasks, "jobs.incremental_kg.ingest_batch",
                                operator="MapInArrow")
        vals["jobs.incremental_kg.extract_passes"] = (
            reads / max(1, layer["_traced_batch_docs"]))

    selft = bt.self_times(tr.spans)
    ops = {s.run_id for s in tr.spans if s.parent is None
           and s.name in ("bench.build", "bench.ingest")}
    for lay in SELF_LAYERS:
        tot = sum(v for sid, v in selft.items()
                  if tr.spans[sid].run_id in ops
                  and bt.layer_of(tr.spans[sid].name) == lay)
        vals[lay + ".self_s"] = tot / max(1, len(ops))
    main = e2e["build"] or e2e["ingest"]
    on = [t for t, traced in main if traced]
    off = [t for t, traced in main if not traced]
    vals["trace.overhead_ratio"] = statistics.median(on) / statistics.median(off)
    vals["trace.spans"] = len(tr.spans)
    return {k: vals.get(k, 0) for k in PER_LAYER}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "legal_ner_spark")):
        print(f"kgbench: no legal_ner_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    t_start = process_start_epoch()
    work = os.path.join(ROOT, ".kgbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    pythonpath = os.pathsep.join([ROOT, HERE])
    os.environ["PYTHONPATH"] = pythonpath
    # a 2 GB driver heap bounds the JVM on a shared 4-core machine (the
    # session factory's own default is 8 GB)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path[:0] = [ROOT, HERE]
    import tempfile
    tempfile.tempdir = None
    os.chdir(run_dir)

    import bench_inputs
    import bench_trace as bt
    import bench_workloads as bw
    import pyspark  # noqa: F401  (part of set-up: its import cost counts)
    import_s = time.time() - t_start

    sizes = dict(BULK if args.workload == "bulk_build" else INCREMENTAL)
    if args.smoke:
        sizes = ({"n_docs": 40, "n_warm": 12}
                 if args.workload == "bulk_build"
                 else {"n_batches": 6, "batch_docs": 6, "n_warm": 3})
    st = bench_inputs.ensure_inputs(args.workload, args.seed,
                                    os.path.join(work, "inputs"), **sizes)
    phases = {"inputs": time.time() - t_start - import_s}
    t_phase = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    checks = bw.Checks()
    sess = bw.Session(run_dir, cores, event_log, pythonpath)
    try:
        with bt.RssSampler() as rss:
            create_s, warm_s = sess.start()
            run_ph = Phases()
            tr = bt.Tracer(False, sess.spark.sparkContext
                           if args.trace else None)
            runner = (run_bulk if args.workload == "bulk_build"
                      else run_incremental)
            e2e, layer = runner(sess.spark, tr, st, args, checks, run_dir,
                                cores, run_ph)
        phases["run"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        layer["session.create_s"] = create_s
        layer["session.worker_warm_s"] = warm_s
    finally:
        sess.stop()
    phases["stop"] = time.perf_counter() - t_phase

    metrics, detail = end_to_end(e2e, import_s + create_s + warm_s,
                                 rss.peak_mb, checks)
    if args.trace:
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in
                   per_layer(layer, e2e, tr, event_log).items()}
        tr.dump(os.path.join(work, f"spans-{args.workload}-seed{args.seed}"
                                   ".jsonl"))
    detail.update({"setup_parts_s": {"import": import_s,
                                     "create": create_s,
                                     "worker_warm": warm_s},
                   "phases_s": phases, "run_phases_s": run_ph,
                   "peak_rss_split_mb": rss.peak_split,
                   "workload": args.workload,
                   "seed": args.seed,
                   "trace": args.trace, "inputs": st,
                   "errors": checks.errors[:5]})
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": checks.failed == 0,
                      "attempted": checks.attempted,
                      "failed": checks.failed, "metrics": metrics}))
    return 0


def unit(name: str) -> str:
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_doc"):
        return "1/doc"
    if name.endswith(("records_out", "rows_out", "resume_recomputed",
                      "degrees_rows",
                      "tables_in_snapshot", "trace.spans")):
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
