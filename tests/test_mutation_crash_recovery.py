"""Kill-produced crash recovery for the UPDATE/DELETE rewrite swap and
the REINDEX staged commit (r13 verdict item 3 — these two surfaces were
covered only by fabricated-orphan-state tests; this file produces the
orphan state FOR REAL, the test_cow_crash_recovery.py method).

A subprocess runs an actual UPDATE / DELETE / REINDEX whose process dies
via ``os._exit`` at each window of the locked commit tail:

- window A: after the staging write, before the version-dir rename
  (``_next_version_dir`` patched to die → only a ``.staging-*`` dir);
- window B: after the rename, before index-meta/commit (``update_meta``
  for REINDEX, ``_commit`` for UPDATE/DELETE → an orphan v-dir, no WAL
  line, pointer and meta untouched);
- window C (REINDEX only): after the index meta write, before the
  pointer swap (``_commit`` patched → STALE index meta naming a version
  that never committed). This was the live hazard: trusting that meta
  wedged every SEARCHSIMILAR (no ``bucket`` column in the flat current
  snapshot) and let INSERT merge a bucket-assigned delta into a flat
  snapshot — silent mixed-layout corruption. ``Collection.live_index``
  (catalog.py) now refuses index meta whose version stamp was never
  committed, so window C must degrade to exact search and flat appends
  until REINDEX re-runs (or TRUNCATEWAL clears the debris).

Indexed COMPACT (window B at ``_commit``; window C at the post-swap index
re-stamp, ``update_meta``) and the hard-link RESTORE (window B) are killed
the same way, each after an unpatched setup step in the same process.

A fresh process then verifies: the pre-crash rows read back exactly,
HISTORY shows no phantom commit, the same mutation re-runs cleanly on
top of the debris, and for REINDEX the search surface stays correct
through crash → insert → re-reindex → truncate.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
base, phase = sys.argv[2], sys.argv[3]
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from vrod_spark.engine import Engine
from vrod_spark import catalog as C

# Embedding chosen so every pairwise distance to the probe vector is
# DISTINCT (the i*i*0.01 term breaks the |i-5| symmetry): top-k sets are
# deterministic, no tie-order flakiness.
ROWS = [
    {"id": i, "embedding": [float(i), i * i * 0.01, 1.0], "payload": f"p{i}"}
    for i in range(12)
]

def search_ids(eng, k=3):
    res = eng.execute(
        "SEARCHSIMILAR", collection="c",
        arg={"vector": [5.0, 0.25, 1.0], "k": k},
    )
    return sorted(r["id"] for r in res.df.collect())

if phase == "setup":
    eng = Engine.create(spark, base, "cdb")
    eng.execute("CREATE", collection="c")
    eng.execute("INSERT", collection="c", arg=ROWS)
    print("SETUP", eng.db.collection("c").read().count(), flush=True)
else:
    eng = Engine.load(spark, os.path.join(base, "cdb"))
    op, window = phase.split("-", 1) if "-" in phase else (phase, "")
    if op in ("update", "delete", "reindex") and window:
        # Patch the CLASS at the chosen window of the commit tail; the
        # engine may hand out fresh Collection objects per command.
        if window == "A":
            C.Collection._next_version_dir = lambda self: os._exit(7)
        elif window == "B" and op == "reindex":
            C.Collection.update_meta = lambda self, **k: os._exit(7)
        elif window == "B":
            C.Collection._commit = lambda self, *a, **k: os._exit(7)
        elif window == "C":
            C.Collection._commit = lambda self, *a, **k: os._exit(7)
        if op == "update":
            eng.execute("UPDATE", collection="c",
                        arg={"where": "id < 3", "set": {"payload": "'DOOMED'"}})
        elif op == "delete":
            eng.execute("DELETE", collection="c", arg="id >= 9")
        elif op == "reindex":
            eng.execute("REINDEX", collection="c", arg={"kind": "sign_lsh",
                                                        "n_planes": 4})
        os._exit(8)  # the command must not survive its own kill window
    elif op == "compact" and window:
        # Setup (unpatched): an indexed snapshot to compact.
        eng.execute("REINDEX", collection="c", arg={"kind": "sign_lsh",
                                                    "n_planes": 4})
        if window == "B":  # before the pointer swap
            C.Collection._commit = lambda self, *a, **k: os._exit(7)
        else:  # window C: at the post-swap index re-stamp
            C.Collection.update_meta = lambda self, **k: os._exit(7)
        eng.db.collection("c").compact()
        os._exit(8)
    elif op == "restore" and window:
        # Setup (unpatched): a later version to roll back from.
        eng.execute("DELETE", collection="c", arg="id >= 9")
        C.Collection._commit = lambda self, *a, **k: os._exit(7)
        eng.execute("RESTORE", collection="c", arg={"version": 1})
        os._exit(8)
    elif phase == "verify_compact":
        col = eng.db.collection("c")
        rows = sorted(r["id"] for r in col.read().collect())
        ops = [r["op"] for r in eng.execute("HISTORY", collection="c").df.collect()]
        print("VERIFY", repr((rows, ops, col.live_index() is not None,
                              search_ids(eng))), flush=True)
    elif phase == "verify_restore":
        col = eng.db.collection("c")
        rows = sorted(r["id"] for r in col.read().collect())
        ops = [r["op"] for r in eng.execute("HISTORY", collection="c").df.collect()]
        n = eng.execute("RESTORE", collection="c",
                        arg={"version": 1}).info["rows"]
        rows2 = sorted(r["id"] for r in col.read().collect())
        ops2 = [r["op"] for r in eng.execute("HISTORY", collection="c").df.collect()]
        print("VERIFY", repr((rows, ops, n, rows2, ops2)), flush=True)
    elif phase == "verify_rewrite":
        col = eng.db.collection("c")
        rows = sorted((r["id"], r["payload"]) for r in col.read().collect())
        ops = [r["op"] for r in eng.execute("HISTORY", collection="c").df.collect()]
        # the same mutations must commit cleanly on top of the debris
        n_up = eng.execute("UPDATE", collection="c",
                           arg={"where": "id = 0", "set": {"payload": "'fixed'"}}
                           ).info["matched"]
        n_del = eng.execute("DELETE", collection="c", arg="id = 11").info["deleted"]
        rows2 = sorted((r["id"], r["payload"]) for r in col.read().collect())
        print("VERIFY", repr((rows, ops, n_up, n_del, len(rows2),
                              rows2[0], rows2[-1])), flush=True)
    elif phase == "verify_reindex":
        col = eng.db.collection("c")
        rows = sorted(r["id"] for r in col.read().collect())
        ops = [r["op"] for r in eng.execute("HISTORY", collection="c").df.collect()]
        live = col.live_index()
        stale_meta = col.meta.get("index") is not None
        # searches must DEGRADE to the exact path, not wedge
        ids_after_crash = search_ids(eng)
        # inserts must take the FLAT append path (no mixed-layout merge)
        eng.execute("INSERT", collection="c",
                    arg=[{"id": 99, "embedding": [4.9, 0.25, 1.0],
                          "payload": "new"}])
        ids_after_insert = search_ids(eng)
        n_after_insert = col.read().count()
        # re-running REINDEX must repair and go live
        eng.execute("REINDEX", collection="c", arg={"kind": "sign_lsh",
                                                    "n_planes": 4})
        live2 = col.live_index() is not None
        ids_after_reindex = search_ids(eng)
        print("VERIFY", repr((rows, ops, live is None, stale_meta,
                              ids_after_crash, ids_after_insert,
                              n_after_insert, live2, ids_after_reindex)),
              flush=True)
    elif phase == "verify_truncate_heals":
        col = eng.db.collection("c")
        eng.execute("TRUNCATEWAL", collection="c")
        print("VERIFY", repr((col.meta.get("index"), col.read().count())),
              flush=True)
    elif phase == "truncate_kill":
        # Die at the FIRST snapshot-dir reclaim inside TRUNCATEWAL — the
        # index-meta heal must already be persisted by then (heal before
        # reclaim: freeing an orphan's version NUMBER while its stale
        # stamp survives would let a later commit mint that number and
        # resurrect the stale index as live).
        import vrod_spark.catalog as C2
        C2.shutil.rmtree = lambda *a, **k: os._exit(7)
        eng.execute("TRUNCATEWAL", collection="c")
        os._exit(8)
    elif phase == "export_kill":
        # Die after the shard write job, before _manifest.json: the
        # manifest is the export's commit record — a crashed export must
        # be DETECTABLE (shards without a manifest), never mistaken for
        # a complete one.
        # engine._export imports write_export_manifest from the module
        # at call time, so the module-attribute patch is what it runs.
        import vrod_spark.sources.export as X
        X.write_export_manifest = lambda *a, **k: os._exit(7)
        eng.execute("EXPORT", collection="c",
                    arg={"path": os.path.join(base, "shards"),
                         "format": "jsonl"})
        os._exit(8)
    elif phase == "verify_export_kill":
        shards = os.path.join(base, "shards")
        had_manifest = os.path.exists(os.path.join(shards, "_manifest.json"))
        # re-export over the debris must complete and commit the manifest
        import json as _j
        res = eng.execute("EXPORT", collection="c",
                          arg={"path": shards, "format": "jsonl",
                               "mode": "overwrite"})
        with open(os.path.join(shards, "_manifest.json")) as f:
            man = _j.load(f)
        print("VERIFY", repr((had_manifest, res.info.get("rows"),
                              man["rows"], man["n_files"] > 0)), flush=True)
    elif phase == "verify_truncate_kill":
        col = eng.db.collection("c")
        idx_meta = col.meta.get("index")
        n_vdirs = len([e for e in os.listdir(col.path)
                       if e.startswith("v") and e[1:].isdigit()])
        n = col.read().count()
        eng.execute("INSERT", collection="c",
                    arg=[{"id": 100, "embedding": [1.0, 2.0, 3.0],
                          "payload": "post"}])
        eng.execute("TRUNCATEWAL", collection="c")
        n_vdirs2 = len([e for e in os.listdir(col.path)
                        if e.startswith("v") and e[1:].isdigit()])
        print("VERIFY", repr((idx_meta, n_vdirs, n, col.read().count(),
                              n_vdirs2)), flush=True)
spark.stop()
"""


def _run(base: str, phase: str, cwd: str):
    return subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, base, phase],
        capture_output=True, text=True, timeout=600, cwd=cwd,
    )


def _setup(tmp_path) -> str:
    base = str(tmp_path / "wh")
    setup = _run(base, "setup", str(tmp_path))
    assert setup.returncode == 0, setup.stderr[-1500:]
    assert "SETUP 12" in setup.stdout
    return base


def _crash(base: str, phase: str, cwd: str) -> None:
    crashed = _run(base, phase, cwd)
    assert crashed.returncode == 7, (
        f"{phase} should die via os._exit(7): rc={crashed.returncode}\n"
        f"{crashed.stderr[-1500:]}"
    )


def _verify_line(base: str, phase: str, cwd: str):
    verify = _run(base, phase, cwd)
    assert verify.returncode == 0, verify.stderr[-1500:]
    line = [ln for ln in verify.stdout.splitlines() if ln.startswith("VERIFY")][0]
    return eval(line.removeprefix("VERIFY "), {"__builtins__": {}}, {})  # noqa: S307 — our own repr


def _chain(tmp_path, crash_phases: list[str], verify_phase: str):
    """One full scenario: fresh warehouse → kill(s) → verify, in its own
    tmp dir. Safe to run concurrently with other scenarios — every
    subprocess chain is fully isolated on disk."""
    base = _setup(tmp_path)
    for phase in crash_phases:
        _crash(base, phase, str(tmp_path))
    return _verify_line(base, verify_phase, str(tmp_path))


#: scenario -> (kill phases, verify phase). Each is a 3-4 subprocess
#: chain dominated by JVM boots; serially this module cost ~9.5 min of
#: mostly-idle pytest wall (r14 PERF), so the module fixture below runs
#: all chains CONCURRENTLY and the tests only assert.
SCENARIOS: dict[str, tuple[list[str], str]] = {
    "update-A": (["update-A"], "verify_rewrite"),
    "update-B": (["update-B"], "verify_rewrite"),
    "delete-A": (["delete-A"], "verify_rewrite"),
    "delete-B": (["delete-B"], "verify_rewrite"),
    "reindex-A": (["reindex-A"], "verify_reindex"),
    "reindex-B": (["reindex-B"], "verify_reindex"),
    "reindex-C": (["reindex-C"], "verify_reindex"),
    "truncate_heals": (["reindex-C"], "verify_truncate_heals"),
    "export": (["export_kill"], "verify_export_kill"),
    "truncate_kill": (["reindex-C", "truncate_kill"], "verify_truncate_kill"),
    "compact-B": (["compact-B"], "verify_compact"),
    "compact-C": (["compact-C"], "verify_compact"),
    "restore-B": (["restore-B"], "verify_restore"),
}


@pytest.fixture(scope="module")
def crash_results(tmp_path_factory):
    from concurrent.futures import ThreadPoolExecutor

    # mktemp on the main thread only — TempPathFactory is not
    # thread-safe (a concurrent mktemp intermittently fails its
    # relative-path sanity check).
    tmps = {
        name: tmp_path_factory.mktemp(f"mcr_{name.replace('-', '_')}")
        for name in SCENARIOS
    }

    def one(name: str):
        phases, verify = SCENARIOS[name]
        try:
            return ("ok", _chain(tmps[name], phases, verify))
        except BaseException as e:  # re-raised in the owning test
            return ("err", e)

    # Each chain holds one JVM at a time; cap how many run at once.
    with ThreadPoolExecutor(max_workers=min(len(SCENARIOS), 8)) as pool:
        futs = {name: pool.submit(one, name) for name in SCENARIOS}
        return {name: f.result() for name, f in futs.items()}


def _result(crash_results, name: str):
    status, value = crash_results[name]
    if status == "err":
        raise value
    return value


@pytest.mark.parametrize("phase", ["update-A", "update-B", "delete-A", "delete-B"])
def test_rewrite_crash_leaves_committed_snapshot(crash_results, phase):
    rows, ops, n_up, n_del, n2, first, last = _result(crash_results, phase)
    assert rows == [(i, f"p{i}") for i in range(12)], (
        f"{phase}: doomed rewrite leaked: {rows[:4]}..."
    )
    assert ops.count("INSERT") == 1 and "UPDATE" not in ops and "DELETE" not in ops, (
        f"{phase}: phantom commit in history: {ops}"
    )
    assert (n_up, n_del) == (1, 1), f"{phase}: post-crash mutations broken"
    assert n2 == 11 and first == (0, "fixed") and last == (10, "p10")


@pytest.mark.parametrize("window", ["A", "B", "C"])
def test_reindex_crash_degrades_then_repairs(crash_results, window):
    (rows, ops, live_none, stale_meta, ids_crash, ids_ins, n_ins,
     live2, ids_re) = _result(crash_results, f"reindex-{window}")
    assert rows == list(range(12)), f"{window}: rows corrupted: {rows}"
    assert ops.count("INSERT") == 1 and "REINDEX" not in ops, (
        f"{window}: phantom commit: {ops}"
    )
    assert live_none, f"{window}: stale/absent index read as live"
    # window C is the one that leaves meta debris behind
    assert stale_meta == (window == "C")
    assert ids_crash == [4, 5, 6], f"{window}: exact fallback broken: {ids_crash}"
    assert ids_ins == [4, 5, 99], f"{window}: post-insert search broken: {ids_ins}"
    assert n_ins == 13
    assert live2, f"{window}: re-REINDEX did not go live"
    assert ids_re == [4, 5, 99], f"{window}: indexed search broken: {ids_re}"


def test_truncate_heals_stale_index_meta(crash_results):
    """TRUNCATEWAL under window-C debris must clear the stale index meta
    (and reclaim the orphan), not re-stamp it live."""
    idx_meta, n = _result(crash_results, "truncate_heals")
    assert idx_meta is None, f"stale index meta survived TRUNCATEWAL: {idx_meta}"
    assert n == 12


def test_export_crash_is_detectable_and_rerunnable(crash_results):
    """Kill EXPORT between the shard write and the manifest write: the
    manifest is the export's commit record, so the debris must read as
    INCOMPLETE (no _manifest.json) and a re-run EXPORT over the same
    path must complete with a manifest matching the collection."""
    had_manifest, rows, man_rows, has_files = _result(crash_results, "export")
    assert had_manifest is False, (
        "crashed export left a manifest — partial shards would read as "
        "a complete export"
    )
    assert rows == 12 and man_rows == 12 and has_files


def test_truncate_heals_meta_before_reclaiming_orphans(crash_results):
    """Kill TRUNCATEWAL at its first snapshot-dir rmtree, running on
    window-C debris: the stale-index heal must ALREADY be on disk. The
    reverse order would free the orphan's version number while the stale
    stamp survives — a later commit minting that number would make the
    stamp read as committed (live) over a flat snapshot."""
    idx_meta, n_vdirs, n, n2, n_vdirs2 = _result(crash_results, "truncate_kill")
    assert idx_meta is None, (
        f"stale index meta not healed before dir reclaim: {idx_meta}"
    )
    # v0 (CREATE), v1 (INSERT=current), v2 (orphan) all still on disk —
    # the kill fired at the first reclaim attempt.
    assert n_vdirs == 3 and n == 12
    # post-crash: inserts commit and a re-run TRUNCATEWAL finishes the
    # reclaim (only the new current survives).
    assert n2 == 13 and n_vdirs2 == 1


@pytest.mark.parametrize("window", ["B", "C"])
def test_indexed_compact_crash_keeps_index_live(crash_results, window):
    """Kill an indexed COMPACT at the pointer swap (B) or at the post-swap
    index re-stamp (C). Either way the index must stay live: before the
    swap the stamp still names the committed REINDEX version (a re-stamp
    moved before the swap would name the never-committed COMPACT version
    and read as no index); after it, the old stamp is committed and older
    than CURRENT."""
    rows, ops, live, ids = _result(crash_results, f"compact-{window}")
    assert rows == list(range(12)), f"{window}: rows corrupted: {rows}"
    assert "REINDEX" in ops
    assert ("COMPACT" in ops) == (window == "C"), f"{window}: history {ops}"
    assert live, f"{window}: index no longer live after a killed COMPACT"
    assert ids == [4, 5, 6], f"{window}: indexed search broken: {ids}"


def test_restore_crash_commits_nothing_and_reruns(crash_results):
    """Kill a hard-link RESTORE at the pointer swap: the orphan version
    dir it linked must not read as a RESTORE, and a re-run commits."""
    rows, ops, n, rows2, ops2 = _result(crash_results, "restore-B")
    assert rows == list(range(9)), f"killed RESTORE leaked: {rows}"
    assert "RESTORE" not in ops, f"phantom RESTORE in history: {ops}"
    assert n == 12 and rows2 == list(range(12))
    assert ops2.count("RESTORE") == 1
