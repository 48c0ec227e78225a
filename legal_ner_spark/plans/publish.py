"""Atomic multi-table snapshot publish (Iceberg-commit stand-in).

The KG job materializes SEVERAL tables that must stay mutually
consistent — triples, mentions, cluster heads, stats.  A crash between
two table writes must never leave readers seeing new triples against old
mentions.  Iceberg solves this with a snapshot commit; the parquet
equivalent here is the same two-phase shape:

1. every table writes to an IMMUTABLE snapshot directory
   ``<root>/<table>/snap=<snapshot_id>/`` (a re-run of the same snapshot
   id overwrites its own directories — idempotent, like a replayed
   foreachBatch);
2. one atomic manifest swap (`os.rename` of ``_current.json``; on
   HDFS/S3 the same role is played by an Iceberg snapshot commit or a
   conditional PUT) flips ALL tables at once.

Readers resolve through the manifest, so a publish that dies after
writing some tables is invisible: the manifest still names the previous
snapshot, whose directories are immutable.  Old snapshots stay readable
until vacuumed (time travel for free).

Complements `plans/ledger.py` (intra-job per-bucket resume) — the ledger
gets a killed JOB back to where it was; the manifest keeps CONSUMERS
consistent across job boundaries.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_current.json"


def publish_tables(tables: dict[str, DataFrame], root: str,
                   snapshot_id: str,
                   partition_by: dict[str, list[str]] | None = None,
                   carry: dict[str, str] | None = None) -> dict:
    """Write every table to its ``snap=<snapshot_id>`` directory, then
    atomically swap the manifest.  Returns the manifest dict.

    ``carry`` maps table names to EXISTING snapshot paths (from the
    previous manifest) to be re-referenced without rewriting — the
    incremental-maintenance move: only the changed table pays a write,
    unchanged ones ride along because their directories are immutable
    and ``vacuum`` keeps every snapshot the manifest still names."""
    partition_by = partition_by or {}
    entries = dict(carry or {})
    for name, df in tables.items():
        path = os.path.join(root, name, f"snap={snapshot_id}")
        writer = df.write.mode("overwrite")
        if name in partition_by:
            writer = writer.partitionBy(*partition_by[name])
        writer.parquet(path)
        entries[name] = path
    manifest = {"snapshot": snapshot_id, "tables": entries}
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".{_MANIFEST}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, os.path.join(root, _MANIFEST))  # the commit point
    return manifest


def current_manifest(root: str) -> dict | None:
    path = os.path.join(root, _MANIFEST)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def vacuum(root: str, keep_ids: set[str] | None = None,
           dry_run: bool = False) -> dict[str, list[str]]:
    """Delete snapshot directories no longer reachable: everything except
    the manifest-referenced snapshot and ``keep_ids`` (pass an in-flight
    publish's id here — an unfinished publish is unreferenced and would
    otherwise be collected as garbage, which is correct AFTER it is
    abandoned but not while it is being written).  The current snapshot
    can never be removed.  Returns {table: [removed snapshot ids]};
    ``dry_run`` reports without deleting (run it first at 100 TB — the
    same listing is the audit trail)."""
    import shutil

    manifest = current_manifest(root)
    if manifest is None:
        raise FileNotFoundError(f"no published snapshot under {root}")
    # per-table keep: the snapshot id the manifest references for THAT
    # table (which may be OLDER than the committed id when the table was
    # carried by reference — publish_tables carry=…) plus keep_ids
    base_keep = {manifest["snapshot"]} | (keep_ids or set())
    table_keep: dict[str, set[str]] = {}
    for name, path in manifest["tables"].items():
        leaf = os.path.basename(path.rstrip("/"))
        if leaf.startswith("snap="):
            table_keep.setdefault(name, set()).add(leaf.split("=", 1)[1])
    removed: dict[str, list[str]] = {}
    for table in sorted(os.listdir(root)):
        tdir = os.path.join(root, table)
        if not os.path.isdir(tdir):
            continue
        keep = base_keep | table_keep.get(table, set())
        for entry in sorted(os.listdir(tdir)):
            if not entry.startswith("snap="):
                continue
            snap_id = entry.split("=", 1)[1]
            if snap_id in keep:
                continue
            if not dry_run:
                shutil.rmtree(os.path.join(tdir, entry))
            removed.setdefault(table, []).append(snap_id)
    return removed


def read_published(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read a table AT THE CURRENT SNAPSHOT (never a half-published
    one).  Raises KeyError if the table was not part of the snapshot."""
    manifest = current_manifest(root)
    if manifest is None:
        raise FileNotFoundError(f"no published snapshot under {root}")
    return spark.read.parquet(manifest["tables"][name])


def read_snapshot(spark: SparkSession, root: str, name: str,
                  snapshot_id: str) -> DataFrame:
    """Time-travel read: a table at a SPECIFIC retained snapshot.
    Snapshot directories are immutable once published, so any id that
    survives retention (`vacuum` keep_ids) is exactly the state the
    commit published; an expired or never-published id raises with the
    retained list, never a half-missing-directory scan."""
    tdir = os.path.join(root, name)
    path = os.path.join(tdir, f"snap={snapshot_id}")
    if not os.path.isdir(path):
        have = sorted(e.split("=", 1)[1] for e in os.listdir(tdir)
                      if e.startswith("snap=")) if os.path.isdir(tdir) \
            else []
        raise ValueError(
            f"snapshot {snapshot_id!r} of table {name!r} is not retained "
            f"under {root} (retained: {have}) — it was vacuumed, or "
            "never published")
    return spark.read.parquet(path)


# ---------------------------------------------------------------------
# Stored predicate counts: a published triple table carries its
# ``{pred: rows}`` in ``_pred_counts.json`` beside its data files (table
# statistics in the table's own metadata, like Iceberg's per-file stats
# in its manifests).  Spark's file listing skips ``_``-prefixed names,
# so the file is invisible to every reader of the data.  Writers keep
# the order  drop stale counts → data → counts → manifest flip,  so a
# crash anywhere leaves either exact counts or none: readers then fall
# back to the count probe, never to wrong counts.
# ---------------------------------------------------------------------

PRED_COUNTS = "_pred_counts.json"

# reader options that narrow a directory to a subset of its files: a
# relation read with any of them is not the table the counts describe
_FILE_FILTER_OPTIONS = {"pathglobfilter", "recursivefilelookup",
                        "modifiedbefore", "modifiedafter"}


def count_preds(triples: DataFrame) -> dict:
    """``{pred: row count}`` by one ≤|preds|-row aggregate (the probe)."""
    return {r["pred"]: r["n"] for r in
            triples.groupBy("pred").agg(F.count("*").alias("n")).collect()}


def _local_dir(path: str) -> str | None:
    """The local directory behind a table path (plain or ``file:``
    URI); None for any other filesystem, whose tables carry no counts."""
    if path.startswith("file:"):
        from urllib.parse import urlparse
        return urlparse(path).path
    return None if "://" in path else path


def drop_pred_counts(path: str) -> None:
    """Remove the counts of the table at ``path`` before its data is
    rewritten, so a crash mid-write cannot leave stale counts behind."""
    d = _local_dir(path)
    if d is not None and os.path.exists(os.path.join(d, PRED_COUNTS)):
        os.remove(os.path.join(d, PRED_COUNTS))


def write_pred_counts(path: str, counts: dict | None) -> None:
    """Store ``counts`` beside the (already written) data of the table at
    ``path``, atomically.  Writes nothing for None, for a null predicate
    (JSON keys are strings) or for a non-local path."""
    d = _local_dir(path)
    if d is None or counts is None or None in counts:
        return
    tmp = os.path.join(d, f".{PRED_COUNTS}.tmp")
    with open(tmp, "w") as fh:
        json.dump({p: int(n) for p, n in counts.items()}, fh)
    os.rename(tmp, os.path.join(d, PRED_COUNTS))


def read_pred_counts(path: str) -> dict | None:
    """The counts stored with the table at ``path``, or None."""
    d = _local_dir(path)
    if d is None:
        return None
    try:
        with open(os.path.join(d, PRED_COUNTS)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def sum_pred_counts(paths) -> dict | None:
    """Summed stored counts of several tables; None if any has none."""
    total: dict = {}
    for p in paths:
        counts = read_pred_counts(p)
        if counts is None:
            return None
        for pred, n in counts.items():
            total[pred] = total.get(pred, 0) + n
    return total


def footer_pred_counts(path: str) -> dict | None:
    """Counts of a ``partitionBy("pred")`` parquet table at a local
    ``path``, summed from the footer row counts of each ``pred=``
    directory on the driver: no Spark job.  None for a non-local path
    or a null-predicate partition."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote
    d = _local_dir(path)
    if d is None:
        return None
    counts = {}
    for entry in os.listdir(d):
        if not entry.startswith("pred="):
            continue
        pred = unquote(entry[len("pred="):])
        if pred == "__HIVE_DEFAULT_PARTITION__":
            return None
        pdir = os.path.join(d, entry)
        counts[pred] = sum(pq.read_metadata(os.path.join(pdir, f)).num_rows
                           for f in os.listdir(pdir)
                           if not f.startswith(("_", ".")))
    return counts


def stored_pred_counts(triples: DataFrame) -> dict | None:
    """``{pred: rows}`` of ``triples`` from the counts stored with its
    tables, or None when they cannot be trusted to be exact.

    They are trusted only when the analyzed plan is a bare scan of
    published tables: parquet ``LogicalRelation``s over an
    ``InMemoryFileIndex``, possibly under ``Union``s and ``Project``s of
    plain attributes, with every root directory local and carrying a
    counts file.  Anything that can change the row multiset — a
    ``Filter``, an alias, a join, an in-memory or derived relation —
    returns None, and so does a table whose counts are missing (a crash
    between its data and counts writes).  A root path given twice is
    scanned twice, so it is counted twice."""
    roots: list[str] = []

    def walk(plan) -> bool:
        cls = plan.getClass().getSimpleName()
        kids = plan.children()
        if cls == "Union":
            return all(walk(kids.apply(i)) for i in range(kids.size()))
        if cls == "Project":
            exprs = plan.projectList()
            return (all(exprs.apply(i).getClass().getSimpleName()
                        == "AttributeReference" for i in range(exprs.size()))
                    and walk(kids.apply(0)))
        if cls != "LogicalRelation":
            return False
        rel = plan.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return False
        index = rel.location()
        if (rel.fileFormat().getClass().getSimpleName()
                != "ParquetFileFormat"
                or index.getClass().getSimpleName() != "InMemoryFileIndex"):
            return False
        opts = {k.lower() for k in
                rel.options().keys().mkString("\n").split("\n")}
        if opts & _FILE_FILTER_OPTIONS:
            return False
        paths = index.rootPaths()
        for i in range(paths.size()):
            uri = paths.apply(i).toUri()
            if uri.getScheme() != "file":
                return False
            roots.append(uri.getPath())
        return True

    if not walk(triples._jdf.queryExecution().analyzed()):
        return None
    return sum_pred_counts(roots)


# ---------------------------------------------------------------------
# Segmented-lifecycle snapshot log (BM25 text index, IVF): the
# commit-vs-file-expiry split for manifests whose state is a SEGMENT
# LIST that appends mutate between compactions.  The dedup/semantic
# lifecycles get the same split from their shared snapshot writer
# (operators/dedup.py `_write_index_snapshot`); these helpers give the
# two segment-list manifests one consistent implementation of history,
# snapshot resolution, and retention-driven expiry.
# ---------------------------------------------------------------------

def segmented_history(man: dict, entry_keys: tuple[str, ...]) -> list[dict]:
    """Snapshot log of a segmented manifest, oldest → newest, CURRENT
    LAST.  The current snapshot's entry is re-derived from the manifest
    body (not the stored history) because appends grow the live
    ``segments`` list after the snapshot was published — the body is
    authoritative for the current state; stored history entries are
    frozen as-superseded states.  A manifest whose ``snapshot`` is None
    (legacy build-once / fresh build) contributes no current entry —
    that state is untracked, exactly like the dedup index's flat
    layout."""
    hist = list(man.get("history", []))
    if man.get("snapshot") is not None:
        cur = {k: man[k] for k in entry_keys if k in man}
        hist = ([e for e in hist if e.get("snapshot") != man["snapshot"]]
                + [cur])
    return hist


def resolve_segmented_snapshot(man: dict, entry_keys: tuple[str, ...],
                               snapshot_id: str, what: str) -> dict:
    """The history entry for ``snapshot_id``, or a loud ValueError
    naming the retained ids — never a half-missing-directory scan."""
    hist = segmented_history(man, entry_keys)
    for e in hist:
        if e.get("snapshot") == snapshot_id:
            return e
    raise ValueError(
        f"snapshot {snapshot_id!r} is not retained in the {what} "
        f"(retained: {[e.get('snapshot') for e in hist]}) — it was "
        "expired, or never published")


def referenced_roots(path: str, entries: list[dict]) -> set[str]:
    """Top-level directory names under ``path`` that retained history
    entries still reference (segment roots, centroids, …) — the KEEP
    set for vacuum/expiry.  A reference equal to ``path`` itself (the
    legacy single-segment layout) contributes nothing: legacy states
    are untracked."""
    roots: set[str] = set()
    for e in entries:
        refs = list(e.get("segments", []))
        if "centroids" in e:
            refs.append(e["centroids"])
        for s in refs:
            rel = os.path.relpath(s, path)
            if rel != "." and not rel.startswith(".."):
                roots.add(rel.split(os.sep)[0])
    return roots


def expire_segmented_snapshots(path: str, manifest_name: str,
                               entry_keys: tuple[str, ...],
                               keep_last: int = 1,
                               legacy_dirs: tuple[str, ...] = ()) -> dict:
    """Drop all but the newest ``keep_last`` retained snapshots of a
    segmented index: prune the history, rewrite the manifest
    atomically, THEN delete unreferenced ``snap=``/``seg-`` directories
    (and untracked legacy flat dirs).  The current snapshot is the
    log's last entry and is always kept.  Returns the rewritten
    manifest."""
    import shutil
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    mpath = os.path.join(path, manifest_name)
    if not os.path.exists(mpath):
        raise ValueError(
            f"no manifest at {path} — a build-once index has no "
            "snapshots to expire; compact it first")
    with open(mpath) as fh:
        man = json.load(fh)
    hist = segmented_history(man, entry_keys)
    if not hist:
        raise ValueError(
            f"the index at {path} has never published a snapshot "
            "(snapshot is None) — compact it first")
    kept = hist[-keep_last:]
    manifest = {k: v for k, v in man.items() if k != "history"}
    manifest["history"] = kept
    tmp = os.path.join(path, f".{manifest_name}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, mpath)  # commit point
    keep = referenced_roots(path, kept)
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if d in keep or not os.path.isdir(full):
            continue
        if d.startswith("snap=") or d.startswith("seg-") \
                or d in legacy_dirs:
            shutil.rmtree(full)
    return manifest
