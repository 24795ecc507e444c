"""Snapshot-manifest table commits — Iceberg semantics without the jar.

No Iceberg runtime is available in this sandbox (verified, SURVEY.md
§7), so this module provides the minimal seam the north_rule needs:
atomic snapshot commit + resume from the last committed snapshot.
Swap `SnapshotCatalog` for real Iceberg `df.writeTo(...).append()` +
snapshot reads when the jar exists — the call sites don't change.

Layout per table directory:

    <root>/<table>/data/<run_id>/<attempt>/part-*.parquet   (written first)
    <root>/<table>/manifest-<seq>-<run_id>.json             (atomic rename last)

A snapshot is visible iff its manifest exists; manifests are written to
a temp name and `os.replace`d (atomic on POSIX) — that rename is the
commit point, and the only one. Readers take the manifest with the
highest sequence number and read exactly the files it lists. A killed
run leaves data files but no manifest → invisible → idempotent re-run
(exactly-once per url together with the J4 resume anti-join). Every
write goes to a fresh attempt directory, and the run id is re-checked
under the commit lock, so two writers of one run id never touch each
other's files: the first manifest wins, the loser's files are orphans
for vacuum().

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
import re
import socket
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


class SnapshotCatalog:
    # commit lock: manifest sequence assignment + rename happen under
    # an O_EXCL lock file so two writers can never mint the same
    # sequence number (Iceberg gets this from the catalog's atomic
    # swap; a plain filesystem needs the explicit mutex)
    LOCK_TIMEOUT = 60.0
    LOCK_STALE = 300.0

    def __init__(self, root: str):
        self.root = Path(root)

    def _tdir(self, table: str) -> Path:
        return self.root / table

    def _manifests(self, table: str) -> list[Path]:
        tdir = self._tdir(table)
        if not tdir.exists():
            return []
        return sorted(tdir.glob("manifest-*.json"))

    def snapshots(self, table: str) -> list[dict]:
        """Every committed manifest of the table, oldest first."""
        return [json.loads(m.read_text()) for m in self._manifests(table)]

    def last_snapshot(self, table: str) -> dict | None:
        ms = self._manifests(table)
        if not ms:
            return None
        return json.loads(ms[-1].read_text())

    def committed_run_ids(self, table: str) -> list[str]:
        return [m["run_id"] for m in self.snapshots(table)]

    def append(self, df: DataFrame, table: str, run_id: str) -> dict:
        """Write data files, then commit atomically via manifest rename.

        Idempotent per run_id: re-appending an already-committed run_id
        (the foreachBatch crash-replay path — a batch that committed
        but wasn't checkpointed is re-run with the same batch id) is a
        no-op returning the existing manifest — unless that run_id was
        consumed by a COMPACTION, which is an error (the new batch's
        rows would silently never land otherwise). Without the no-op,
        the mode("overwrite") below would delete the part files the
        earlier manifest references and dangle every subsequent read().

        Columns flagged by hide() are written unflagged and listed in
        the manifest's "hidden" key.

        Each call writes its own attempt directory and re-checks the
        run_id under the commit lock, so concurrent appends of one
        run_id commit exactly one manifest and delete nothing.
        """
        tdir = self._tdir(table)
        prior = self._prior(tdir, table, run_id, full_snapshot=False)
        if prior is not None:
            return prior
        hidden = [f.name for f in df.schema.fields
                  if f.metadata.get(HIDDEN)]
        for c in hidden:  # the flag is the manifest's, not the files'
            df = df.withMetadata(c, {})
        files = self._write_attempt(df, tdir, run_id)
        with self._commit_lock(tdir):
            # a concurrent writer of this run_id committed first: its
            # manifest stands, this attempt's files are orphans
            prior = self._prior(tdir, table, run_id, full_snapshot=False)
            if prior is not None:
                return prior
            prev = self.last_snapshot(table)
            seq = (prev["sequence"] + 1) if prev else 1
            manifest = {
                "sequence": seq,
                "run_id": run_id,
                "files": files,
                "parent": prev["run_id"] if prev else None,
                "committed_at_unix": int(time.time()),
            }
            if hidden:
                manifest["hidden"] = hidden
            return self._commit(tdir, manifest)

    @staticmethod
    def _write_attempt(df: DataFrame, tdir: Path, run_id: str) -> list[str]:
        """Write `df` into a new attempt directory of `run_id`; the
        written parquet files, relative to `tdir`."""
        data_dir = tdir / "data" / run_id / uuid.uuid4().hex
        df.write.parquet(str(data_dir))
        return sorted(
            str(p.relative_to(tdir)) for p in data_dir.glob("*.parquet"))

    def _prior(self, tdir: Path, table: str, run_id: str,
               full_snapshot: bool) -> dict | None:
        """The committed manifest of `run_id`, if any; a ValueError
        when it is of the other kind (append vs compaction)."""
        prior = self._manifest_for(tdir, run_id)
        if prior is None or bool(prior.get("full_snapshot")) == full_snapshot:
            return prior
        if full_snapshot:
            raise ValueError(
                f"run_id {run_id!r} was already used by an append "
                f"commit on {table!r}; pick a distinct maintenance "
                "run_id")
        raise ValueError(
            f"run_id {run_id!r} was already used by a compaction "
            f"commit on {table!r}; appending under it would be "
            "silently dropped — pick a distinct run_id")

    @staticmethod
    def _manifest_for(tdir: Path, run_id: str) -> dict | None:
        """Latest committed manifest for exactly this run_id.
        Filenames are manifest-<9 digits>-<run_id>.json; the glob
        candidates are re-checked with an anchored regex because a
        bare 'manifest-*-{run_id}.json' glob lets '*' absorb
        '<seq>-<other-prefix>' and match foreign run_ids whose name
        merely ends with this one (e.g. 'nightly-r1' vs 'r1')."""
        pat = re.compile(
            rf"manifest-\d{{9}}-{re.escape(run_id)}\.json\Z")
        hits = sorted(p for p in tdir.glob(f"manifest-*-{run_id}.json")
                      if pat.fullmatch(p.name))
        return json.loads(hits[-1].read_text()) if hits else None

    def _commit(self, tdir, manifest: dict) -> dict:
        tmp = tdir / f".manifest-{uuid.uuid4().hex}.tmp"
        tmp.write_text(json.dumps(manifest, indent=1))
        final = (tdir / f"manifest-{manifest['sequence']:09d}"
                        f"-{manifest['run_id']}.json")
        os.replace(tmp, final)  # atomic commit point
        return manifest

    @staticmethod
    def _pid_space() -> str | None:
        """Who can see this process's pid: host, boot and pid
        namespace. Two processes in the same pid space see each other's
        pids; None when /proc cannot tell (then no lock is judged by
        its pid)."""
        try:
            boot = Path("/proc/sys/kernel/random/boot_id").read_text()
            pidns = os.readlink("/proc/self/ns/pid")
        except OSError:
            return None
        return f"{socket.gethostname()}/{boot.strip()}/{pidns}"

    def _lock_is_stale(self, lock: Path) -> bool:
        """A lock holds "<pid space> <pid> <time>". It is stale when its
        holder ran in this pid space and has exited, or — for a holder
        elsewhere (another host, boot or pid namespace, whose pid means
        nothing here) or a lock that cannot be parsed — when it is
        older than LOCK_STALE."""
        try:
            space, pid, _ = lock.read_text().split()
            here = self._pid_space()
            if here is not None and space == here:
                os.kill(int(pid), 0)  # signal 0: existence check only
        except ProcessLookupError:
            return True
        except (OSError, ValueError):
            pass  # alive under another user, gone, or unparseable
        return time.time() - lock.stat().st_mtime > self.LOCK_STALE

    def _commit_lock(self, tdir: Path):
        """Exclusive inter-process lock for the [decide sequence →
        rename manifest] window. O_EXCL create is atomic on POSIX;
        a stale lock (a crashed committer, see _lock_is_stale) is
        broken. Sequence numbers are therefore unique even with
        concurrent append/compact writers."""
        import contextlib

        lock = tdir / ".commit.lock"

        @contextlib.contextmanager
        def held():
            tdir.mkdir(parents=True, exist_ok=True)
            deadline = time.monotonic() + self.LOCK_TIMEOUT
            while True:
                try:
                    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, f"{self._pid_space() or '-'} "
                                 f"{os.getpid()} {time.time()}".encode())
                    os.close(fd)
                    break
                except FileExistsError:
                    try:
                        if self._lock_is_stale(lock):
                            # claim the break atomically: rename wins
                            # exactly once — a plain unlink could race
                            # another breaker and delete the FRESH
                            # lock that breaker's winner just created
                            claimed = lock.with_name(
                                f".commit.stale-{uuid.uuid4().hex}")
                            os.rename(lock, claimed)
                            claimed.unlink(missing_ok=True)
                            continue
                    except OSError:
                        continue  # lock changed hands mid-break
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"commit lock on {tdir} held for >"
                            f"{self.LOCK_TIMEOUT}s") from None
                    time.sleep(0.05)
            try:
                yield
            finally:
                lock.unlink(missing_ok=True)

        return held()

    def compact(self, spark: SparkSession, table: str,
                *, target_files: int = 8,
                run_id: str = "compaction") -> dict | None:
        """Small-file maintenance (Iceberg rewrite_data_files
        semantics): rewrite the current union into ~target_files
        parquet files and commit a FULL snapshot that supersedes the
        manifest history. Readers always see either the old file set
        or the new one (manifest rename is the atomic switch); old
        data files stay on disk for time-travel/GC, exactly like
        Iceberg's expire_snapshots being a separate step. Idempotent
        per run_id like append() — but a run_id already used by an
        APPEND is rejected instead of silently reported as compacted.

        Safe against a concurrent append: the rewrite is read from a
        pinned snapshot, and the commit re-checks (under the commit
        lock) that no manifest landed after that snapshot — if one
        did, the full_snapshot commit would silently supersede the
        concurrent append's rows, so compact raises
        ConcurrentCommitError instead (rerun it; the orphaned rewrite
        files are vacuum()'s job)."""
        tdir = self._tdir(table)
        prior = self._prior(tdir, table, run_id, full_snapshot=True)
        if prior is not None:
            return prior
        pinned = self.last_snapshot(table)
        if pinned is None:
            return None
        paths, hidden = self._read_set(table, as_of=pinned["sequence"])
        if not paths:
            return None
        files = self._write_attempt(
            spark.read.parquet(*paths).coalesce(target_files), tdir, run_id)
        with self._commit_lock(tdir):
            prior = self._prior(tdir, table, run_id, full_snapshot=True)
            if prior is not None:
                return prior
            prev = self.last_snapshot(table)
            if prev is None or prev["sequence"] != pinned["sequence"]:
                raise ConcurrentCommitError(
                    f"table {table!r} advanced from sequence "
                    f"{pinned['sequence']} to "
                    f"{prev['sequence'] if prev else None} while "
                    "compacting; rerun compact()")
            manifest = {
                "sequence": prev["sequence"] + 1,
                "run_id": run_id,
                "files": files,
                "parent": prev["run_id"],
                "committed_at_unix": int(time.time()),
                "full_snapshot": True,  # supersedes earlier manifests
            }
            if hidden:
                manifest["hidden"] = hidden
            return self._commit(tdir, manifest)

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
        for m in self._manifests(table):
            info = json.loads(m.read_text())
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
        info = self._manifest_for(tdir, run_id)
        if info is None:
            return None
        paths = [tdir / f for f in info["files"]]
        if not all(p.exists() for p in paths):
            return None
        return spark.read.parquet(*map(str, paths))
