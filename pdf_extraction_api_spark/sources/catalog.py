"""Snapshot-manifest table commits — Iceberg semantics without the jar.

No Iceberg runtime is available in this sandbox (verified, SURVEY.md
§7), so this module provides the minimal seam the north_rule needs:
atomic snapshot commit + resume from the last committed snapshot.
Swap `SnapshotCatalog` for real Iceberg `df.writeTo(...).append()` +
snapshot reads when the jar exists — the call sites don't change.

Layout per table directory:

    <root>/<table>/data/<run_id>/<attempt>/part-*.parquet   (written first)
    <root>/<table>/manifest-<seq>.json                      (created last)

A snapshot is visible iff its manifest exists. A manifest is written to
a temp file and hard-linked to manifest-<seq>.json, a put-if-absent
create (Delta Lake's and Iceberg's Hadoop-table commit): the link is the
commit point, and the only one. It fails when that sequence number is
taken, so each number has one writer and no reader sees a partial
manifest; the loser re-reads the history and takes the next number.
Nothing is held across a commit, so a crash leaves nothing to release:
at most a `.manifest-*.tmp` that no reader opens. Readers take the
manifests in sequence order and read exactly the files they list. A
killed run leaves data files but no manifest → invisible → idempotent
re-run (exactly-once per url together with the J4 resume anti-join).
Every write goes to a fresh attempt directory, and the run id is
re-checked before every link, so two writers of one run id never touch
each other's files: the first manifest wins, the loser's files are
orphans for vacuum(). Manifests named manifest-<seq>-<run_id>.json by
earlier versions still read, and their table's sequence continues.

Hidden columns: a column flagged with `hide()` is written into the data
files and listed under the manifest's "hidden" key. `read()` projects
it away, `read_run()` (one run's files, e.g. to derive a run's audit
from its committed rows) keeps it, and `compact()` carries it into the
rewrite. Results keep their per-document lineage this way, in the same
files and under the same commit as the rows it describes.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# field-metadata flag append() turns into the manifest's "hidden" list;
# a flag on the DataFrame rather than an append() parameter, so that
# append(df, table, run_id) keeps the signature its wrappers rely on
HIDDEN = "snapshot_catalog.hidden"


def hide(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Flag `cols` so that append() stores them but read() omits them."""
    for c in cols:
        df = df.withMetadata(c, {HIDDEN: True})
    return df


class ConcurrentCommitError(RuntimeError):
    """A maintenance commit lost a race with a concurrent append."""


def _prior(history: list[dict], table: str, run_id: str,
           full_snapshot: bool) -> dict | None:
    """The latest manifest in `history` committed under `run_id`, if
    any; a ValueError when it is of the other kind (append vs
    compaction)."""
    prior = next((m for m in reversed(history) if m["run_id"] == run_id),
                 None)
    if prior is None or bool(prior.get("full_snapshot")) == full_snapshot:
        return prior
    if full_snapshot:
        raise ValueError(
            f"run_id {run_id!r} was already used by an append "
            f"commit on {table!r}; pick a distinct maintenance run_id")
    raise ValueError(
        f"run_id {run_id!r} was already used by a compaction commit on "
        f"{table!r}; appending under it would be silently dropped — "
        "pick a distinct run_id")


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = Path(root)

    def _tdir(self, table: str) -> Path:
        return self.root / table

    def snapshots(self, table: str) -> list[dict]:
        """Every committed manifest of the table, oldest first — the
        one manifest reader. Manifests named manifest-<seq>-<run_id>.json
        by earlier versions of this module match the glob and sort
        by sequence among the current names."""
        return [json.loads(p.read_text())
                for p in sorted(self._tdir(table).glob("manifest-*.json"))]

    def last_snapshot(self, table: str) -> dict | None:
        history = self.snapshots(table)
        return history[-1] if history else None

    def committed_run_ids(self, table: str) -> list[str]:
        return [m["run_id"] for m in self.snapshots(table)]

    def append(self, df: DataFrame, table: str, run_id: str) -> dict:
        """Write data files, then commit a manifest listing them.

        Idempotent per run_id: re-appending an already-committed run_id
        (the foreachBatch crash-replay path — a batch that committed
        but wasn't checkpointed is re-run with the same batch id) is a
        no-op returning the existing manifest — unless that run_id was
        consumed by a COMPACTION, which is an error (the new batch's
        rows would silently never land otherwise).

        Columns flagged by hide() are written unflagged and listed in
        the manifest's "hidden" key.

        Each call writes its own attempt directory, and _commit
        re-checks the run_id before every commit attempt, so concurrent
        appends of one run_id commit exactly one manifest and delete
        nothing.
        """
        prior = _prior(self.snapshots(table), table, run_id, False)
        if prior is not None:
            return prior
        hidden = [f.name for f in df.schema.fields
                  if f.metadata.get(HIDDEN)]
        for c in hidden:  # the flag is the manifest's, not the files'
            df = df.withMetadata(c, {})
        files = self._write_attempt(df, self._tdir(table), run_id)
        return self._commit(table, run_id, files, hidden)

    @staticmethod
    def _write_attempt(df: DataFrame, tdir: Path, run_id: str) -> list[str]:
        """Write `df` into a new attempt directory of `run_id`; the
        written parquet files, relative to `tdir`."""
        data_dir = tdir / "data" / run_id / uuid.uuid4().hex
        df.write.parquet(str(data_dir))
        return sorted(
            str(p.relative_to(tdir)) for p in data_dir.glob("*.parquet"))

    def _commit(self, table: str, run_id: str, files: list[str],
                hidden: list[str], pinned: int | None = None) -> dict:
        """Commit `files` as the table's next snapshot; the manifest
        that stands for `run_id` afterwards. A compaction passes the
        sequence it `pinned` and commits a full snapshot.

        The manifest goes to a temp file, which is hard-linked to
        manifest-<seq>.json; the link fails when that name exists, so
        exactly one writer gets each sequence number and a reader never
        sees a partial manifest. A writer that loses re-reads the
        history and tries the next number — unless the winner committed
        this run_id (its manifest stands, this attempt's files are
        orphans for vacuum()), or, for a compaction, the table moved
        past the pinned snapshot: committing on top would supersede the
        newer rows, so that raises ConcurrentCommitError."""
        tdir = self._tdir(table)
        full = pinned is not None
        tmp = tdir / f".manifest-{uuid.uuid4().hex}.tmp"
        try:
            while True:
                history = self.snapshots(table)
                prior = _prior(history, table, run_id, full)
                if prior is not None:
                    return prior
                prev = history[-1] if history else None
                seq = prev["sequence"] + 1 if prev else 1
                if full and seq != pinned + 1:
                    raise ConcurrentCommitError(
                        f"table {table!r} advanced from sequence "
                        f"{pinned} to {seq - 1} while compacting; "
                        "rerun compact()")
                manifest = {
                    "sequence": seq,
                    "run_id": run_id,
                    "files": files,
                    "parent": prev["run_id"] if prev else None,
                    "committed_at_unix": int(time.time()),
                }
                if full:  # supersedes earlier manifests
                    manifest["full_snapshot"] = True
                if hidden:
                    manifest["hidden"] = hidden
                tmp.write_text(json.dumps(manifest, indent=1))
                try:
                    os.link(tmp, tdir / f"manifest-{seq:09d}.json")
                except FileExistsError:
                    continue  # another writer took seq
                return manifest
        finally:
            tmp.unlink(missing_ok=True)

    def compact(self, spark: SparkSession, table: str,
                *, target_files: int = 8,
                run_id: str = "compaction") -> dict | None:
        """Small-file maintenance (Iceberg rewrite_data_files
        semantics): rewrite the current union into ~target_files
        parquet files and commit a FULL snapshot that supersedes the
        manifest history. Readers always see either the old file set
        or the new one (the manifest commit is the atomic switch); old
        data files stay on disk for time-travel/GC, exactly like
        Iceberg's expire_snapshots being a separate step. Idempotent
        per run_id like append() — but a run_id already used by an
        APPEND is rejected instead of silently reported as compacted.

        Safe against a concurrent append: the rewrite is read from a
        pinned snapshot, and the commit must land directly on top of
        it — if a manifest landed after that snapshot, the
        full_snapshot commit would silently supersede the concurrent
        append's rows, so compact raises ConcurrentCommitError instead
        (rerun it; the orphaned rewrite files are vacuum()'s job)."""
        history = self.snapshots(table)
        prior = _prior(history, table, run_id, True)
        if prior is not None or not history:
            return prior
        pinned = history[-1]["sequence"]
        paths, hidden = self._read_set(table, as_of=pinned)
        if not paths:
            return None
        files = self._write_attempt(
            spark.read.parquet(*paths).coalesce(target_files),
            self._tdir(table), run_id)
        return self._commit(table, run_id, files, hidden, pinned=pinned)

    def vacuum(self, table: str, *,
               grace_seconds: int = 900) -> list[str]:
        """GC companion to compact() (Iceberg expire_snapshots +
        remove_orphan_files semantics): delete data files no longer
        reachable from the current read set (files superseded by the
        latest full snapshot, or left by crashed runs). Manifests are
        kept — append()'s per-run_id idempotency and the audit trail
        stay intact; only unreferenced bytes are reclaimed.

        The grace window protects BOTH in-flight writers and in-flight
        readers:

        - writers: an append writes data files before its manifest, so
          a file younger than `grace_seconds` (mtime) is never touched
          (the reason Iceberg's remove_orphan_files defaults to
          older-than-3-days);
        - readers: files superseded by a compaction have OLD mtimes
          but may still be mid-scan in a query that resolved its path
          list before the compaction committed — so a file that was
          ever committed is additionally gated on time since the
          full-snapshot commit that superseded it (committed_at_unix),
          not just its own mtime.

        Sidecars (_SUCCESS, .crc) and emptied run and attempt
        directories of superseded or crashed writes are removed once
        every data file in the directory is gone. Returns the deleted
        paths."""
        tdir = self._tdir(table)
        live: set[str] = set()
        ever_listed: set[str] = set()
        superseded_at = 0  # latest full-snapshot commit time
        for info in self.snapshots(table):
            if info.get("full_snapshot"):
                live.clear()
                superseded_at = max(superseded_at,
                                    info.get("committed_at_unix", 0))
            live.update(info["files"])
            ever_listed.update(info["files"])
        deleted = []
        data_root = tdir / "data"
        if not data_root.exists():
            return deleted
        now = time.time()
        cutoff = now - grace_seconds
        for p in sorted(data_root.rglob("*.parquet")):
            if not p.is_file():
                continue
            rel = str(p.relative_to(tdir))
            if rel in live or p.stat().st_mtime >= cutoff:
                continue
            if rel in ever_listed and superseded_at >= cutoff:
                continue  # superseded too recently — reader grace
            p.unlink()
            deleted.append(rel)
        # second pass: clear sidecars and rmdir the directories (run
        # and attempt dirs, deepest first) that no longer hold any
        # parquet data (all deleted above, or a crashed attempt whose
        # files aged out) — same time gates apply.
        dirs = sorted((d for d in data_root.rglob("*") if d.is_dir()),
                      key=lambda d: len(d.parts), reverse=True)
        for d in dirs:
            leftovers = [q for q in d.rglob("*") if q.is_file()]
            if any(q.suffix == ".parquet" for q in leftovers):
                continue
            if any(q.stat().st_mtime >= cutoff for q in leftovers):
                continue
            for q in leftovers:
                q.unlink()
                deleted.append(str(q.relative_to(tdir)))
            try:
                d.rmdir()
            except OSError:
                pass  # a writer recreated it concurrently — leave it
        return deleted

    def _read_set(self, table: str, as_of: int | None = None
                  ) -> tuple[list[str], list[str]]:
        """(data file paths, hidden columns) of the current table: the
        union of manifests since (and including) the latest full
        snapshot — append manifests add files, a full_snapshot manifest
        (compaction) replaces everything before it. `as_of` pins it to
        manifests with sequence <= as_of."""
        tdir = self._tdir(table)
        paths: list[str] = []
        seen: set[str] = set()
        hidden: list[str] = []
        for info in self.snapshots(table):
            if as_of is not None and info["sequence"] > as_of:
                continue
            if info.get("full_snapshot"):
                paths.clear()
                seen.clear()
                hidden.clear()
            for f in info["files"]:
                if f not in seen:
                    seen.add(f)
                    paths.append(str(tdir / f))
            hidden += [c for c in info.get("hidden", ()) if c not in hidden]
        return paths, hidden

    def read(self, spark: SparkSession, table: str,
             as_of: int | None = None) -> DataFrame | None:
        """Read the current table (see _read_set) without its hidden
        columns. Uncommitted data files are never read. `as_of` pins
        the read to manifests with sequence <= as_of (time travel)."""
        paths, hidden = self._read_set(table, as_of)
        if not paths:
            return None
        return spark.read.parquet(*paths).drop(*hidden)

    def read_run(self, spark: SparkSession, table: str,
                 run_id: str) -> DataFrame | None:
        """The files one run committed, hidden columns included; None
        when the run has no manifest or vacuum() has reclaimed its
        files (a later compaction superseded them)."""
        tdir = self._tdir(table)
        info = next((m for m in reversed(self.snapshots(table))
                     if m["run_id"] == run_id), None)
        if info is None:
            return None
        paths = [tdir / f for f in info["files"]]
        if not all(p.exists() for p in paths):
            return None
        return spark.read.parquet(*map(str, paths))
