"""Catalog model test: random append/compact/vacuum/crash sequences
must keep read() equal to an in-memory model of the committed rows.
(The round-1 advice found a real catalog bug — crash-replay append
corrupting the table — so the snapshot machinery gets systematic
sequence coverage, not just the happy-path test.)"""

from __future__ import annotations

import random

import pytest


@pytest.mark.parametrize("seed", [11, 23])
def test_random_catalog_sequences(spark, tmp_path, seed):
    from pyspark.sql import functions as F

    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / f"wh{seed}"))
    rng = random.Random(seed)
    expected: dict[str, int] = {}  # url → v (model of committed rows)
    next_id = 0

    def batch(n):
        nonlocal next_id
        rows = [(f"u{next_id + i:04d}", next_id + i) for i in range(n)]
        next_id += n
        return rows

    for step in range(12):
        op = rng.choice(["append", "append", "replay", "crash",
                         "compact", "vacuum"])
        if op == "append":
            rows = batch(rng.randint(1, 30))
            df = spark.createDataFrame(rows, "url STRING, v LONG")
            cat.append(df, "t", run_id=f"r{step}")
            expected.update(rows)
        elif op == "replay" and expected:
            # crash-replay: same APPEND run_id, different data → must
            # be a no-op (the manifest already exists). Reusing a
            # COMPACTION run_id is an error (guard tested separately).
            df = spark.createDataFrame(
                [("SHOULD-NOT-APPEAR", -1)], "url STRING, v LONG")
            prior = [m for m in cat.committed_run_ids("t")
                     if m.startswith("r")]
            if prior:
                cat.append(df, "t", run_id=prior[-1])
        elif op == "crash":
            # uncommitted data files (no manifest) must stay invisible
            df = spark.createDataFrame(
                [("CRASHED", -2)], "url STRING, v LONG")
            ddir = tmp_path / f"wh{seed}" / "t" / "data" / f"crash{step}"
            df.write.mode("overwrite").parquet(str(ddir))
        elif op == "compact" and expected:
            cat.compact(spark, "t", target_files=2,
                        run_id=f"maint{step}")
        elif op == "vacuum":
            cat.vacuum("t", grace_seconds=0)

        got = cat.read(spark, "t")
        if expected:
            rows = {(r.url, r.v) for r in got.collect()}
            assert rows == set(expected.items()), (step, op)
        else:
            assert got is None or got.count() == 0


def _cat(tmp_path, name):
    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

    return SnapshotCatalog(str(tmp_path / name))


def _df(spark, rows):
    return spark.createDataFrame(rows, "url STRING, v LONG")


def test_append_under_compaction_run_id_raises(spark, tmp_path):
    """ADVICE r2: append() reusing a run_id consumed by compact() must
    raise, not silently drop the batch."""
    cat = _cat(tmp_path, "wh")
    cat.append(_df(spark, [("a", 1)]), "t", run_id="r1")
    cat.compact(spark, "t", run_id="m1")
    with pytest.raises(ValueError, match="compaction"):
        cat.append(_df(spark, [("b", 2)]), "t", run_id="m1")
    # table unchanged and the new batch did not land
    assert {r.url for r in cat.read(spark, "t").collect()} == {"a"}


def test_compact_aborts_when_append_races(spark, tmp_path):
    """ADVICE r2: a compact whose table advanced between its snapshot
    read and its commit must abort (ConcurrentCommitError) instead of
    superseding — and never mint a duplicate sequence number."""
    from pdf_extraction_api_spark.sources.catalog import (
        ConcurrentCommitError,
        SnapshotCatalog,
    )

    cat = _cat(tmp_path, "wh")
    cat.append(_df(spark, [("a", 1)]), "t", run_id="r1")

    # interleave: once compact has pinned + rewritten, an append lands
    # before compact's commit. Simulate by committing the append from
    # inside a subclassed _commit, before compact's first link.
    class Racing(SnapshotCatalog):
        raced = False

        def _commit(self, table, run_id, files, hidden, pinned=None):
            if not Racing.raced:
                Racing.raced = True
                clean = SnapshotCatalog(str(self.root))
                clean.append(_df(spark, [("b", 2)]), "t", run_id="r2")
            return super()._commit(table, run_id, files, hidden, pinned)

    racing = Racing(str(tmp_path / "wh"))
    with pytest.raises(ConcurrentCommitError):
        racing.compact(spark, "t", run_id="m1")
    # the concurrent append's rows survived; sequences are unique
    assert {r.url for r in cat.read(spark, "t").collect()} == {"a", "b"}
    seqs = [m["sequence"] for m in map(
        lambda p: __import__("json").loads(p.read_text()),
        sorted((tmp_path / "wh" / "t").glob("manifest-*.json")))]
    assert len(seqs) == len(set(seqs))
    # retry succeeds and preserves both rows
    cat.compact(spark, "t", run_id="m2")
    assert {r.url for r in cat.read(spark, "t").collect()} == {"a", "b"}


def test_vacuum_reader_grace_protects_superseded_files(spark, tmp_path):
    """Files superseded by a just-committed compaction have old mtimes
    but must survive vacuum until the supersede event itself ages out
    — a reader that resolved paths before the compaction may still be
    scanning them."""
    import os
    import time

    cat = _cat(tmp_path, "wh")
    cat.append(_df(spark, [("a", 1)]), "t", run_id="r1")
    tdir = tmp_path / "wh" / "t"
    # age the data files well past any grace window
    old = time.time() - 3600
    for p in (tdir / "data").rglob("*"):
        if p.is_file():
            os.utime(p, (old, old))
    # a reader resolves its file list from the pre-compaction snapshot
    reader_paths = [str(tdir / f)
                    for f in cat.last_snapshot("t")["files"]]
    cat.compact(spark, "t", run_id="m1")  # supersedes r1 files NOW
    deleted = cat.vacuum("t", grace_seconds=600)
    assert deleted == []  # mtime is old, but supersede is recent
    for f in reader_paths:
        assert os.path.exists(f)
    # once the supersede event is outside the grace window the files go
    deleted = cat.vacuum("t", grace_seconds=0)
    time.sleep(1.1)  # int-second commit stamp vs float cutoff
    deleted += cat.vacuum("t", grace_seconds=0)
    assert any(f.endswith(".parquet") for f in deleted)
    assert {r.url for r in cat.read(spark, "t").collect()} == {"a"}


def test_vacuum_in_flight_reader_completes_scan(spark, tmp_path):
    """The stronger form of the reader-grace guarantee: an ACTUAL
    in-flight reader — a DataFrame whose parquet path list was
    resolved BEFORE a compaction — must complete its scan after
    compact + vacuum(grace > 0). And the failure mode the grace
    window exists to prevent is demonstrated, not assumed: at
    grace=0 the superseded files are unlinked and the same held plan
    dies mid-scan — the reason the production default is 900 s
    (Iceberg's expire_snapshots/remove_orphan_files retain windows
    serve the identical purpose)."""
    import os
    import time

    cat = _cat(tmp_path, "wh")
    cat.append(_df(spark, [("a", 1), ("b", 2)]), "t", run_id="r1")
    tdir = tmp_path / "wh" / "t"
    # age the data files so only the supersede-event gate protects them
    old = time.time() - 3600
    for p in (tdir / "data").rglob("*"):
        if p.is_file():
            os.utime(p, (old, old))
    reader = cat.read(spark, "t")  # resolves r1's file paths NOW
    cat.compact(spark, "t", run_id="m1")  # supersedes those files
    assert cat.vacuum("t", grace_seconds=600) == []
    # the pre-compaction reader still completes its scan
    assert {r.url for r in reader.collect()} == {"a", "b"}
    # grace=0: age the supersede stamp out (int-second commit stamp vs
    # float cutoff — same dance as the sibling test), files go…
    deleted = cat.vacuum("t", grace_seconds=0)
    time.sleep(1.1)
    deleted += cat.vacuum("t", grace_seconds=0)
    assert any(f.endswith(".parquet") for f in deleted)
    # …and the held pre-compaction plan now fails mid-scan: this is
    # the documented grace=0 hazard (FileNotFound wrapped by Spark)
    with pytest.raises(Exception, match="(?i)file|exist|FileNotFound"):
        reader.collect()
    # new readers are unaffected — they resolve the compacted snapshot
    assert {r.url for r in cat.read(spark, "t").collect()} == {"a", "b"}


def test_vacuum_clears_sidecars_and_empty_dirs(spark, tmp_path):
    """_SUCCESS/.crc sidecars and emptied run directories of crashed
    or superseded runs must not accumulate forever."""
    import os
    import time

    cat = _cat(tmp_path, "wh")
    cat.append(_df(spark, [("a", 1)]), "t", run_id="r1")
    tdir = tmp_path / "wh" / "t"
    # crashed run: data + sidecars, no manifest
    _df(spark, [("crash", -1)]).write.mode("overwrite").parquet(
        str(tdir / "data" / "crashed"))
    old = time.time() - 3600
    for p in (tdir / "data").rglob("*"):
        if p.is_file():
            os.utime(p, (old, old))
    cat.vacuum("t", grace_seconds=600)
    assert not (tdir / "data" / "crashed").exists()
    # the committed run's files are untouched
    assert {r.url for r in cat.read(spark, "t").collect()} == {"a"}


def test_carry_collision_rejected(spark):
    from pdf_extraction_api_spark.plans.extract import run_extraction

    pages = spark.createDataFrame(
        [("u", b"<p>x</p>", "en")], "url STRING, html BINARY, lang STRING")
    with pytest.raises(ValueError, match="carry"):
        run_extraction(pages, carry=("url",))


def test_concurrent_commits_get_unique_gapless_sequences(spark, tmp_path):
    """Concurrent commits race for the same manifest name: each link
    has one winner, the losers take the next number, so sequences stay
    unique and gapless and no temp file is left behind."""
    import threading

    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

    cat = _cat(tmp_path, "wh")
    cat.append(_df(spark, [("a", 1)]), "t", run_id="r1")
    # many threads commit empty file lists (bypassing Spark writes for
    # speed), released together so their first links collide
    start = threading.Barrier(8, timeout=60)
    results, errors = [], []

    def committer(i):
        try:
            c = SnapshotCatalog(str(tmp_path / "wh"))
            start.wait()
            results.append(c._commit("t", f"t{i}", [], [])["sequence"])
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=committer, args=(i,))
               for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert sorted(results) == list(range(2, 10))  # unique, gapless
    tdir = tmp_path / "wh" / "t"
    assert sorted(p.name for p in tdir.glob("*manifest*")) == [
        f"manifest-{seq:09d}.json" for seq in range(1, 10)]
    assert sorted(cat.committed_run_ids("t")[1:]) == [
        f"t{i}" for i in range(8)]


def test_leftover_manifest_temp_blocks_nobody(spark, tmp_path):
    """A writer killed between writing its manifest temp file and
    linking it leaves a `.manifest-*.tmp`: there is no lock to release,
    the next commit takes the sequence the dead writer wanted, and no
    read ever opens the temp file."""
    import json

    cat = _cat(tmp_path, "wh")
    cat.append(_df(spark, [("a", 1)]), "t", run_id="r1")
    tdir = tmp_path / "wh" / "t"
    left = tdir / ".manifest-0123456789abcdef.tmp"
    left.write_text(json.dumps(
        {"sequence": 2, "run_id": "dead", "files": ["data/missing.parquet"],
         "parent": "r1", "committed_at_unix": 0})[:40])  # torn write
    m = cat.append(_df(spark, [("b", 2)]), "t", run_id="r2")
    assert m["sequence"] == 2
    assert cat.committed_run_ids("t") == ["r1", "r2"]
    assert {r.url for r in cat.read(spark, "t").collect()} == {"a", "b"}
    assert cat.read(spark, "t", as_of=1).count() == 1
    assert left.exists()


def test_old_manifest_names_still_read(spark, tmp_path):
    """Tables committed by earlier versions name their manifests
    manifest-<seq>-<run_id>.json: they still read, a replayed run id
    is still a no-op, and the sequence continues under the new names."""
    cat = _cat(tmp_path, "wh")
    cat.append(_df(spark, [("a", 1)]), "t", run_id="r1")
    cat.append(_df(spark, [("b", 2)]), "t", run_id="r2")
    tdir = tmp_path / "wh" / "t"
    for seq, run_id in ((1, "r1"), (2, "r2")):
        (tdir / f"manifest-{seq:09d}.json").rename(
            tdir / f"manifest-{seq:09d}-{run_id}.json")

    assert {r.url for r in cat.read(spark, "t").collect()} == {"a", "b"}
    assert cat.read(spark, "t", as_of=1).count() == 1
    replay = cat.append(_df(spark, [("x", -1)]), "t", run_id="r1")
    assert replay["sequence"] == 1
    m = cat.append(_df(spark, [("c", 3)]), "t", run_id="r3")
    assert (m["sequence"], m["parent"]) == (3, "r2")
    assert sorted(p.name for p in tdir.glob("manifest-*.json")) == [
        "manifest-000000001-r1.json", "manifest-000000002-r2.json",
        "manifest-000000003.json"]
    assert {r.url for r in cat.read(spark, "t").collect()} == {
        "a", "b", "c"}


def _results_run(spark, cat, run_id, urls):
    """Commit `urls` to "results" the way commit_run does (lineage
    hidden), without an audit: a run killed between its two commits."""
    from pdf_extraction_api_spark.plans.extract import LINEAGE_COLS
    from pdf_extraction_api_spark.sources.catalog import hide

    df = spark.createDataFrame(
        [(u, None, 1, i % 2, 10, 5) for i, u in enumerate(urls)],
        "url STRING, error STRING, n_tables LONG, partition_id LONG, "
        "bytes_in LONG, kernel_us LONG")
    cat.append(hide(df, LINEAGE_COLS), "results", run_id=run_id)


def test_concurrent_audit_repairs_commit_once(spark, tmp_path):
    """Two job.main runs can repair the same missing audit at the same
    moment (say, an extraction and a cron --compact). Both write the
    audit's data before either commits; each writes its own attempt
    directory and re-checks the run id before its commit, so exactly one
    manifest commits, the table reads whole, and the loser's files are
    orphans that vacuum reclaims."""
    import os
    import threading
    import time

    from pdf_extraction_api_spark.plans.extract import repair_audits
    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

    _results_run(spark, _cat(tmp_path, "wh"), "c1",
                 [f"u{i}" for i in range(20)])
    both_written = threading.Barrier(2, timeout=120)

    class Racing(SnapshotCatalog):
        def _write_attempt(self, df, tdir, run_id):
            files = super()._write_attempt(df, tdir, run_id)
            if tdir.name == "audit":
                both_written.wait()
            return files

    errors = []

    def repair():
        try:
            repair_audits(spark, Racing(str(tmp_path / "wh")))
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=repair) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    cat = _cat(tmp_path, "wh")
    assert cat.committed_run_ids("audit") == ["c1"]
    audit = cat.read(spark, "audit")
    assert audit.groupBy().sum("input_rows").collect()[0][0] == 20
    attempts = list((tmp_path / "wh" / "audit" / "data" / "c1").iterdir())
    assert len(attempts) == 2

    old = time.time() - 3600
    for p in (tmp_path / "wh" / "audit" / "data").rglob("*"):
        os.utime(p, (old, old))
    assert cat.vacuum("audit", grace_seconds=600)
    assert len(list(
        (tmp_path / "wh" / "audit" / "data" / "c1").iterdir())) == 1
    assert cat.read(spark, "audit").groupBy().sum(
        "input_rows").collect()[0][0] == 20


def test_repair_skips_run_vacuumed_after_compaction(spark, tmp_path,
                                                    capsys):
    """A run whose audit is missing and whose files a compaction
    superseded and vacuum reclaimed cannot be audited any more: the
    repair warns and moves on to the runs it can repair, instead of
    failing every later job.main or microbatch."""
    import time

    from pdf_extraction_api_spark.plans.extract import repair_audits

    cat = _cat(tmp_path, "wh")
    _results_run(spark, cat, "c1", ["a", "b"])
    cat.compact(spark, "results", run_id="m1")
    time.sleep(1.1)  # int-second commit stamp vs float cutoff
    assert cat.vacuum("results", grace_seconds=0)
    _results_run(spark, cat, "c2", ["c"])
    repair_audits(spark, cat)
    out = capsys.readouterr().out
    assert "cannot repair the missing 'audit' snapshot of run 'c1'" in out
    assert "repaired missing 'audit' snapshot of run 'c2'" in out
    assert cat.committed_run_ids("audit") == ["c2"]
    assert {r.url for r in cat.read(spark, "results").collect()} == {
        "a", "b", "c"}


def test_incremental_dedup_probes_persisted_catalog(spark, tmp_path):
    """The dd_incremental production seam, end-to-end: historical md5
    hashes and LSH band signatures are APPENDED to a SnapshotCatalog
    (as a recurring crawl would per batch), read back, and probed by
    incremental_verdicts for a new batch — verdicts must equal the
    single-table dd_incremental over the same corpus."""
    from pyspark.sql import functions as F

    from pdf_extraction_api_spark.operators.textops import (
        NEW_BATCH_MOD,
        _band_keys,
        _shingles,
        dd_incremental,
        incremental_verdicts,
    )
    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

    base = " ".join(f"p{i}" for i in range(25))
    dup = " ".join(f"e{i}" for i in range(30))
    rows = [
        (3, dup, 0, "s"), (7, f"{base} hist_tail", 0, "s"),
        (8, " ".join(f"h{i}" for i in range(30)), 0, "s"),
        (10, dup, 0, "s"), (5, f"{base} new_tail", 0, "s"),
        (15, " ".join(f"z{i}" for i in range(30)), 0, "s"),
    ]
    sf = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id LONG, text STRING, n_chars LONG, source STRING"
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    d = spark.read.parquet(f"{sf}/documents.parquet")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == 0
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    cat.append(d.filter(~is_new).select(F.md5("text").alias("h")),
               "dedup_hashes", "batch0")
    cat.append(
        _band_keys(_shingles(spark, sf))
        .filter(F.col("doc_id") % NEW_BATCH_MOD != 0),
        "dedup_sigs", "batch0")

    got = {r.doc_id: r.verdict for r in incremental_verdicts(
        d.filter(is_new),
        cat.read(spark, "dedup_hashes"),
        cat.read(spark, "dedup_sigs"),
    ).collect()}
    ref = {r.doc_id: r.verdict for r in dd_incremental(spark, sf).collect()}
    assert got == ref
    assert got == {10: "exact_dup", 5: "near_dup_candidate",
                   15: "new_unique"}
