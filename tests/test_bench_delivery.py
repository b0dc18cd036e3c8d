"""Bench DELIVERY gates (r12 verdict items 1-3): the round's official
perf number comes from the driver running ``bench.py`` in its own
environment, and rounds 2, 3 and 12 each lost theirs to the same class
of failure — the process (or its JVM) dying before a parseable record
reached stdout. These tests pin the two halves of the fix in the
driver's own configuration shape:

- the single local-mode JVM survives the concurrent suite on a SMALL
  heap (r12's death was the default-1 GiB heap under 46 concurrent
  queries + eager in-heap materializations; the shared snapshots are
  DISK_ONLY now and ``get_spark`` sets an explicit
  ``spark.driver.memory``), and
- when the JVM DOES die mid-pass (simulated exactly: ``Runtime.halt``
  severs py4j the way an OOM kill does), stdout still ends with a
  parseable, degraded-flagged headline record.

Each test launches bench.py in a subprocess so it owns a fresh JVM with
its own heap setting — the in-process pytest session's JVM proves
nothing about either property.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "bench.py")

#: The memory-heavy slice: every query that materializes a shared
#: snapshot (localCheckpoint), trains a driver-bounded model, or carries
#: a broadcast — the allocations that stacked up in the r12 death.
HEAVY_SLICE = (
    "q29_lang_quality,q49_repetition_ratio,q52_clean_corpus_pipeline,"
    "q53_vocab_top_tokens,q26_jaccard_top_pairs,q26b_prob_near_dup,"
    "q28_embedding_near_dup,q28b_embedding_near_dup_bucketed,"
    "q59_corpus_assembly,q54_mixture_sampling"
)


def _run_bench(env_overrides: dict[str, str], timeout: int = 540):
    env = dict(os.environ)
    # The ambient shell may export bench knobs (a prior perf probe, a CI
    # wrapper); the assertions below pin bench.py's DEFAULTS, so drop any
    # inherited override before applying this test's own (ADVICE r14:
    # SPARK_GRAFT_BENCH_WORKERS leaking in broke workers == n_queries).
    for k in list(env):
        if k.startswith("SPARK_GRAFT_BENCH"):
            del env[k]
    env.update(env_overrides)
    return subprocess.run(
        [sys.executable, BENCH],
        capture_output=True,
        text=True,
        timeout=timeout,
        env=env,
        cwd=REPO,
    )


def _last_json_line(stdout: str) -> dict:
    lines = [ln for ln in stdout.strip().splitlines() if ln.strip()]
    assert lines, f"no stdout at all; stderr tail was the only output"
    return json.loads(lines[-1])


@pytest.fixture(scope="module")
def bench_runs():
    """Both bench subprocesses run CONCURRENTLY: each owns a fresh JVM
    with its own heap, and every assertion below is correctness-shaped
    (exit codes, record fields), not timing-shaped, so CPU overlap is
    safe and halves the module's mostly-idle pytest wall."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        heap = pool.submit(
            _run_bench,
            {
                "SPARK_GRAFT_DRIVER_MEM": "1g",
                "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1",
                "SPARK_GRAFT_BENCH_ONLY": HEAVY_SLICE,
                "SPARK_GRAFT_BENCH_REPEATS": "1",
            },
        )
        kill = pool.submit(
            _run_bench,
            {
                "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.01",
                "SPARK_GRAFT_BENCH_ONLY": (
                    "q01_pricing_summary,q03_top_orders,q10_semi_anti,"
                    "q11_date_buckets,q12_events_hourly,q16_set_ops"
                ),
                "SPARK_GRAFT_BENCH_REPEATS": "1",
                "SPARK_GRAFT_BENCH_KILL_AFTER": "3",
            },
        )
        return {"heap": heap.result(), "kill": kill.result()}


def test_heap_headroom_1g_driver(bench_runs):
    """The concurrent heavy slice at the driver's SF completes on a
    1 GiB driver heap — the exact configuration BENCH_r12 died under.
    This is the proof that the explicit-driver-memory default in
    get_spark is margin, not a crutch: the engine's working set is
    bounded (DISK_ONLY snapshots, driver-bounded models) even at the
    Spark default heap. If this test starts failing after adding a new
    eagerly-materialized shared asset, that asset is parking blocks in
    the execution heap — fix the asset, don't raise this limit."""
    res = bench_runs["heap"]
    assert res.returncode == 0, (
        f"bench died on a 1g heap: rc={res.returncode}\n"
        f"stdout tail: {res.stdout[-2000:]}\nstderr tail: {res.stderr[-2000:]}"
    )
    record = _last_json_line(res.stdout)
    assert record["metric"] == "headline_suite_wall_clock"
    assert record["final"] is True
    assert not record.get("degraded")
    assert record["n_queries"] == len(HEAVY_SLICE.split(","))
    # Self-normalizing record (r13 verdict item 1): the same-window
    # DuckDB oracle leg and ratio live INSIDE the official record, so a
    # degraded host window is identifiable from the record alone. q26b
    # has no oracle twin (declared rows-only), hence n-1.
    assert record["oracle_sec"] > 0
    assert record["oracle_n_queries"] == record["n_queries"] - 1
    assert record["ratio"] == round(record["value"] / record["oracle_sec"], 3)
    assert record["workers"] == record["n_queries"]


def test_evidence_survives_jvm_death(bench_runs):
    """Killing the JVM mid-pass (Runtime.halt — no shutdown hooks, the
    OOM-kill shape) must leave a parseable, degraded-flagged headline
    record as the LAST stdout line and exit nonzero. r2, r3 and r12 each
    lost their official number to exactly this; the driver's parser
    takes the last complete JSON line, so this record IS the round's
    evidence floor."""
    res = bench_runs["kill"]
    assert res.returncode != 0, "JVM halt should surface as a nonzero exit"
    record = _last_json_line(res.stdout)
    assert record["metric"] == "headline_suite_wall_clock"
    assert record["degraded"] is True
    assert record["completed_queries"] >= 3
    assert "error" in record and record["error"]
    # The mid-pass per-query evidence (detail line) precedes it.
    details = [
        json.loads(ln)
        for ln in res.stdout.strip().splitlines()
        if '"headline_suite_detail"' in ln
    ]
    assert details and details[-1].get("degraded") is True
    assert len(details[-1]["queries"]) >= 3


def test_parse_driver_mem_tolerant(capsys):
    """The heap knob must never be able to crash (or shrink) the JVM
    launch: valid JVM memory strings of at least Spark's practical floor
    pass through; everything else — garbage, a bare number (Spark reads
    it as MiB), or a sub-floor value the JVM cannot start with — falls
    back to the default, loudly when the operator actually set a value."""
    from vrod_spark.session import DEFAULT_DRIVER_MEM, parse_driver_mem

    assert parse_driver_mem("8g") == "8g"
    assert parse_driver_mem(" 512M ") == "512m"
    assert parse_driver_mem("1g") == "1g"  # the heap-headroom gate's value
    assert parse_driver_mem("524288k") == "524288k"
    assert parse_driver_mem("1t") == "1t"
    # Two-letter units (r13 advice): Spark's JavaUtils accepts them, so
    # rejecting '2gb' silently handed the operator a 6x larger default
    # heap. Normalized to the single-letter form Spark also accepts.
    assert parse_driver_mem("12gb") == "12g"
    assert parse_driver_mem(" 2048MB ") == "2048m"
    assert parse_driver_mem("1tb") == "1t"
    assert parse_driver_mem("0gb") == DEFAULT_DRIVER_MEM  # still sub-floor
    for bad in (None, "", "   ", "twelve", "12", "12 g", "g12", "-4g",
                "1.5g", "12bg", "12gbb", "0g", "1k", "256m", "4096k"):
        assert parse_driver_mem(bad) == DEFAULT_DRIVER_MEM, bad
    # Explicit-but-rejected values warn on stderr; unset/empty stays quiet.
    capsys.readouterr()
    parse_driver_mem("0g")
    assert "SPARK_GRAFT_DRIVER_MEM" in capsys.readouterr().err
    parse_driver_mem(None)
    parse_driver_mem("")
    assert capsys.readouterr().err == ""


def test_jvm_counters_records_precede_the_headline(bench_runs):
    """bench.py reports the driver JVM's own JIT/GC/code-cache counters
    once after warm-up and once after pass 1, as one-line records; the
    compact headline stays the last line."""
    lines = [ln for ln in bench_runs["heap"].stdout.strip().splitlines() if ln.strip()]
    records = [json.loads(ln) for ln in lines if ln.startswith("{")]
    counters = [r for r in records if r["metric"] == "jvm_counters"]
    assert [r["phase"] for r in counters] == ["warmup", "pass1"]
    warm, pass1 = counters
    assert set(warm) == {"metric", "phase", "compile_ms", "gc_ms", "gc_count",
                         "used_mb", "peak_mb", "jvm_cpu_s"}
    for key in ("compile_ms", "gc_count", "peak_mb", "jvm_cpu_s"):
        assert pass1[key] >= warm[key], key
    assert records[-1]["metric"] == "headline_suite_wall_clock"
