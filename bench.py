"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": suite_wall_clock_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Measurement model — SUITE THROUGHPUT, the metric that transfers to the
target deployment (many queries sharing a large cluster):

- All headline queries are submitted CONCURRENTLY (a thread pool of
  ``SPARK_GRAFT_BENCH_WORKERS``, default 8, one FAIR-scheduler pool per
  thread). ``value`` is the wall-clock from first submission until the last
  query finishes. Each query is fully executed (collected), so the number
  includes scan, shuffle, and result materialization.
- ``queries`` records each query's individual submit→result latency inside
  that concurrent run; the sum exceeds ``value`` because queries overlap —
  that is the point, not an anomaly. ``serial_sum_sec`` echoes the sum.
- Rationale: Spark's per-query cost at small SF is dominated by a fixed
  driver-side floor (planning, codegen, task scheduling) that does not
  shrink with data size but also does not grow at 100 TB — and it is
  single-threaded per query, so a serial loop leaves 31 of 32 cores idle.
  Concurrent submission is how a real Spark deployment amortizes that
  floor; DuckDB (the oracle baseline) saturates the box from a serial loop
  because its per-query floor is ~1 ms. Comparing serial-loop wall-clocks
  would measure the loop, not the engine. ``--serial`` preserves the
  one-at-a-time mode for per-query latency work.

A warmup phase first touches the JVM, the parquet footers (shared
DataFrame catalog), the Python/Arrow UDF workers, and the Structured
Streaming machinery, so measured numbers reflect steady-state work, not
session spin-up (all of which is per-session, not per-query, cost).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vrod_spark.queries import QUERIES, RAW_QUERIES  # noqa: E402
from vrod_spark.session import get_spark, jvm_counters  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q56_local_supplier_volume",
    "q03_top_orders",
    "q04_window_rank",
    "q05_knn_metrics",
    "q07_knn_per_label",
    "q08b_dedup_keep_first",
    "q10_semi_anti",
    "q11_date_buckets",
    "q12_events_hourly",
    "q13_grouping_analytics",
    "q14_stats_aggs",
    "q15_window_analytics",
    "q16_set_ops",
    "q17_range_join_tiers",
    "q18_asof_click_purchase",
    "q19_scalar_funcs",
    "q21_array_funcs",
    "q22_distinct_percentiles",
    "q23_pivot_status",
    "q24_subqueries",
    "q25_distribution_windows",
    "q26_jaccard_top_pairs",
    "q26b_prob_near_dup",
    "q28_embedding_near_dup",
    "q28b_embedding_near_dup_bucketed",
    "q29_lang_quality",
    "q30_text_profile",
    "q32_python_pipelines",
    "q34_stream_windows",
    "q36_stream_sessions",
    "q37_stream_dedup",
    "q38_pandas_grouped",
    # q39 (engine index roundtrips) stays in the GATE but not the bench
    # headline: it is an index BUILD (BULKINSERT+REINDEX+search), not a
    # query — there is no DuckDB-side equivalent to compare latency with.
    "q40_stateful_totals",
    "q46_stream_joins",
    "q41_map_funcs",
    "q42_outer_joins",
    "q49_repetition_ratio",
    "q50_decontamination",
    "q52_clean_corpus_pipeline",
    "q53_vocab_top_tokens",
    "q54_mixture_sampling",
    "q57_skew_salted_join",
    "q58_pii_redaction",
    "q59_corpus_assembly",
]


#: Queries whose uncontended latency is re-measured serially after the
#: concurrent suite (see the serial pass in main): the pair-generation and
#: text-heavy paths where a plan regression actually moves the needle.
SERIAL_TRACK = [
    "q51_multimodal_decode",
    "q53_vocab_top_tokens",
    "q26_jaccard_top_pairs",
    "q26b_prob_near_dup",
    "q28_embedding_near_dup",
    "q28b_embedding_near_dup_bucketed",
    "q29_lang_quality",
    "q30_text_profile",
    "q22_distinct_percentiles",
    "q49_repetition_ratio",
    "q50_decontamination",
    "q52_clean_corpus_pipeline",
    "q54_mixture_sampling",
    "q59_corpus_assembly",
]


def _warmup(spark, sf_dir: str) -> None:
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    from vrod_spark.sources.tables import load_tables
    from vrod_spark.streaming.ingest import run_to_completion

    # Parquet footers + schemas into the session's DataFrame catalog.
    load_tables(spark, sf_dir)
    # One real query: executor threads + whole-stage codegen path.
    QUERIES["q03_top_orders"](spark, sf_dir).collect()
    # Python/Arrow worker fork-and-handshake (per-session, not per-query).
    # One partition per core: workers are forked lazily per concurrent
    # task, so an 8-partition warmup leaves the other 24 forks — ~2 s of
    # task wall each — inside the first measured mapInPandas query. The
    # warm function also imports numpy: worker processes resolve imports
    # on first use, and a bare identity UDF would leave every worker's
    # numpy/pandas import (~0.2 s CPU each, under full contention) inside
    # the first measured numpy-kernel query.
    n_workers = spark.sparkContext.defaultParallelism

    def _warm_worker(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"].to_numpy(dtype=np.int64)})

    spark.range(1000).repartition(n_workers).mapInPandas(
        _warm_worker, "id long"
    ).collect()
    # Interpreted higher-order text-expression classes: transform /
    # filter / zip_with / aggregate are CodegenFallback, and their first
    # evaluation (class init + C2-compiling the interpreted eval path,
    # plus the md5/regex scalar battery) costs ~1.5-2 s — one-time per
    # session, otherwise landing inside whichever text query (q29/q30/
    # q49/q52/q53) the scheduler runs first. 64 documents suffice; the
    # cost is per-expression-class, not per-row.
    from vrod_spark.functions.text import (
        gopher_rule_mask,
        let_once,
        shingles_from_tokens,
        tokens,
    )

    _prof = let_once(
        tokens(F.col("text")),
        lambda toks: F.struct(
            F.size(toks).alias("ws"),
            F.array_min(
                F.transform(shingles_from_tokens(toks, 3), F.md5)
            ).alias("fp"),
            gopher_rule_mask(toks, F.col("text")).alias("gm"),
        ),
    )
    _docs_pq = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(_docs_pq):
        (
            spark.read.parquet(_docs_pq)
            .limit(64)
            .select(_prof.alias("p"))
            .groupBy("p.gm")
            .agg(F.count("p.fp"))
            .collect()
        )
    # Structured Streaming machinery (state store providers, memory sink,
    # micro-batch thread pools) — otherwise the first streaming query in
    # the suite absorbs ~2 s of one-time initialization.
    run_to_completion(
        lambda s: s.readStream.format("rate").option("rowsPerSecond", "1").load()
        .groupBy("value").count(),
        spark,
        output_mode="complete",
        state_partitions=2,
    )


def _oracle_leg(sf_dir: str, names: list[str]) -> dict:
    """Same-window DuckDB oracle leg (r13 verdict item 1): time the
    oracle SQL for every headline query that has one, serially, in THIS
    process right after the measured suite — so the headline record
    carries its own baseline and ``ratio`` self-normalizes away host
    CPU-steal episodes. (r9's 25.8 s and r13's 25.463 s were both
    ~2x-degraded windows, indistinguishable from regressions because the
    record had no same-window baseline; four independent same-HEAD
    brackets all read 0.63-0.75x.) Serial loop is the symmetric choice:
    DuckDB parallelizes internally and saturates the box from a serial
    loop (per-query fixed cost ~1 ms), which is exactly how
    tools/bench_oracle.py and BASELINE.md measure it."""
    from tools.check_oracle import duck_connect
    from vrod_spark.queries import ORACLES

    con = duck_connect(sf_dir)
    timings: dict[str, float] = {}
    start = time.perf_counter()
    for name in names:
        sql = ORACLES.get(name)
        if sql is None:
            continue  # declared rows-only gates (q26b/q32) have no twin
        q0 = time.perf_counter()
        con.execute(sql).fetchall()
        timings[name] = round(time.perf_counter() - q0, 3)
    wall = round(time.perf_counter() - start, 3)
    con.close()
    return {
        "oracle_sec": wall,
        "oracle_n_queries": len(timings),
        "oracle_queries": timings,
    }


def _emit(walls, timings, names, sf_val, mode, workers, serial_queries, final,
          serial_warm=None, floor=None, oracle=None):
    """Print the two evidence lines (detail, then the short headline) and
    flush. Called after EVERY phase, not only at process exit: rounds 2 and
    3 both lost their official bench number to the driver killing/truncating
    the run before the single end-of-run print — evidence must exist on
    stdout from the first completed suite pass onward. The LAST complete
    JSON line on the stream is always a valid headline record; ``final``
    marks whether later phases were still pending when it was printed."""
    wall = min(walls)
    oracle = oracle or {}
    oracle_sec = oracle.get("oracle_sec")
    per_query = {n: timings[n] for n in names if n in timings}
    print(
        json.dumps(
            {
                "metric": "headline_suite_detail",
                "queries": per_query,
                "walls": walls,
                **({"serial_queries": serial_queries} if serial_queries else {}),
                **({"serial_warm": serial_warm} if serial_warm else {}),
                **({"floor": floor} if floor else {}),
                **(
                    {"oracle_queries": oracle["oracle_queries"]}
                    if oracle.get("oracle_queries")
                    else {}
                ),
            }
        ),
        flush=True,
    )
    # Additive one-line per-query records (r16 VERDICT item 2): the
    # driver's per-query comparator reads one-line JSON records, and the
    # per-query data previously lived only inside the multi-line detail
    # record, so PERF_r16.per_query came out empty. Emitted before the
    # headline line so the LAST complete JSON line on the stream stays
    # the compact headline record — the driver's BENCH capture keeps only
    # the final ~2000 bytes of stdout, so the headline line itself must
    # stay well under that; per-query dicts (~1.9 KB for 46 queries) go
    # in their own records. ``per_query_concurrent`` is each query's
    # submit→result latency inside the best concurrent pass;
    # ``per_query_serial`` is the uncontended serial-track cold latency
    # (the number that detects a single-query plan regression), with its
    # prepared-plan ``warm`` twin.
    if per_query:
        print(
            json.dumps(
                {
                    "metric": "per_query_concurrent",
                    "unit": "sec",
                    "sf": sf_val,
                    "queries": per_query,
                }
            ),
            flush=True,
        )
    if serial_queries:
        print(
            json.dumps(
                {
                    "metric": "per_query_serial",
                    "unit": "sec",
                    "sf": sf_val,
                    "queries": serial_queries,
                    **({"warm": serial_warm} if serial_warm else {}),
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_clock",
                "value": wall,
                "unit": "sec",
                "sf": sf_val,
                "mode": mode,
                "workers": workers,
                "n_queries": len(names),
                "serial_sum_sec": round(sum(timings.values()), 3),
                # Pass-1 wall as a first-class metric (r16 VERDICT item
                # 1): best-of-N discards the first pass, where every
                # session-shared snapshot build lands — this keeps the
                # cold "materialization convoy" number tracked instead of
                # invisible. walls[0] is always the first measured pass.
                "pass1_wall_sec": walls[0],
                "final": final,
                # Same-window baseline: DuckDB serial wall over the same
                # headline set (minus the no-oracle gates), measured in
                # this process minutes apart from `value`. ratio <= ~1.2
                # is the quiet-window expectation; a degraded host
                # inflates BOTH legs, so ratio stays meaningful.
                **({"oracle_sec": oracle_sec} if oracle_sec else {}),
                **(
                    {"oracle_n_queries": oracle["oracle_n_queries"]}
                    if "oracle_n_queries" in oracle
                    else {}
                ),
                **(
                    {"ratio": round(wall / oracle_sec, 3)}
                    if oracle_sec
                    else {}
                ),
                **(
                    {"oracle_error": oracle["oracle_error"]}
                    if oracle.get("oracle_error")
                    else {}
                ),
            }
        ),
        flush=True,
    )


def _emit_jvm_counters(spark, phase: str) -> None:
    """One ``jvm_counters`` record (JIT, GC, code cache, JVM CPU) at the
    end of a phase. Printed before that phase's headline, which stays the
    last line; a failed read costs the record, never the run."""
    try:
        counters = jvm_counters(spark)
    except Exception as exc:  # noqa: BLE001 — evidence over purity
        counters = {"error": f"{type(exc).__name__}: {exc}"[:200]}
    print(json.dumps({"metric": "jvm_counters", "phase": phase, **counters}),
          flush=True)


def main() -> None:
    serial = "--serial" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Hard global deadline: when the host is in a CPU-steal episode the
    # refinement phases (best-of-N repeat, serial track) are skipped so a
    # complete evidence record still reaches stdout before any driver kill.
    t0 = time.monotonic()
    deadline = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "300"))

    def over_deadline() -> bool:
        return time.monotonic() - t0 > deadline

    names = [n for n in HEADLINE if n in QUERIES]
    # Subset knob for CI gates / targeted debugging: a comma list of query
    # names restricts the suite (used by the heap-headroom and
    # evidence-on-JVM-death tests; also handy for bisecting a regression).
    only = {s.strip() for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s.strip()}
    if only:
        names = [n for n in names if n in only]
        if not names:
            # Loud, immediate failure: an all-typos filter must not mint a
            # plausible rc=0 ~0 s headline (serial mode) or die inside
            # ThreadPoolExecutor(max_workers=0) with a confusing degraded
            # record (concurrent mode).
            print(
                f"SPARK_GRAFT_BENCH_ONLY matched no known queries: "
                f"{sorted(only)}",
                file=sys.stderr,
                flush=True,
            )
            raise SystemExit(2)
    mode = "serial" if serial else "concurrent"
    # Computed here, not in _run_suite, so the degraded crash record can
    # report the REAL worker count (r13 advice: it hardcoded 0, a
    # fictional value differing from the normal record's semantics).
    workers = 1 if serial else (
        int(os.environ.get("SPARK_GRAFT_BENCH_WORKERS", "0")) or len(names)
    )
    walls: list[float] = []
    timings: dict[str, float] = {}
    best_holder: dict[str, dict[str, float]] = {}
    oracle_holder: dict = {}

    try:
        _run_suite(serial, sf_dir, sf_val, t0, over_deadline, names, only,
                   walls, timings, best_holder, workers, oracle_holder)
        return
    except BaseException as exc:  # noqa: BLE001 — incl. py4j gateway death
        # r2, r3 and r12 each lost the round's official number because the
        # JVM (or the run) died before the single end-of-run print. Leave a
        # best-so-far, parseable headline record — flagged degraded — on
        # stdout before exiting nonzero, whatever killed the suite.
        if isinstance(exc, KeyboardInterrupt):
            raise
        # The full traceback still belongs on stderr — SystemExit would
        # otherwise suppress it (including the __cause__ chain) and leave
        # only the 300-char type+message in the JSON record.
        import traceback

        traceback.print_exc(file=sys.stderr)
        sys.stderr.flush()
        # Prefer the last COMPLETE pass's snapshot when one exists: a
        # death in repeat 2 must not pair repeat 1's wall with repeat 2's
        # half-filled timings (the record would claim the measured pass
        # died early).
        if walls and best_holder.get("best"):
            snapshot = dict(best_holder["best"])
        else:
            snapshot = dict(timings)
        print(json.dumps({
            "metric": "headline_suite_detail",
            "queries": snapshot,
            "walls": walls,
            "degraded": True,
        }), flush=True)
        oracle_sec = oracle_holder.get("oracle_sec")
        print(json.dumps({
            "metric": "headline_suite_wall_clock",
            "value": min(walls) if walls else round(time.monotonic() - t0, 3),
            "unit": "sec",
            "sf": sf_val,
            "mode": mode,
            "workers": workers,
            "n_queries": len(names),
            "serial_sum_sec": round(sum(snapshot.values()), 3),
            **({"pass1_wall_sec": walls[0]} if walls else {}),
            "final": False,
            "degraded": True,
            "completed_queries": len(snapshot),
            **({"oracle_sec": oracle_sec} if oracle_sec else {}),
            **(
                {"ratio": round(min(walls) / oracle_sec, 3)}
                if oracle_sec and walls
                else {}
            ),
            "error": f"{type(exc).__name__}: {exc}"[:300],
        }), flush=True)
        raise SystemExit(1) from exc


def _run_suite(serial, sf_dir, sf_val, t0, over_deadline, names, only,
               walls, timings, best_holder, workers, oracle_holder) -> None:
    """The measured body. ``walls``, ``timings``, ``best_holder`` and
    ``oracle_holder`` are MUTATED IN PLACE (never rebound): they are
    main()'s crash-handler view of progress, so a mid-pass JVM death
    still has per-query evidence to report — ``best_holder['best']``
    carries the last complete pass's snapshot once one exists.

    ``workers``: thread-pool size for the concurrent suite (default: one
    per query — submit EVERYTHING at once). Half the suite is streaming /
    engine-path queries that hold a thread while idling on micro-batch
    or commit machinery, not on cores — oversubscribing threads lets the
    CPU-bound queries fill those idle slots (measured: 49 workers ≈ 12.5 s
    wall vs 14 workers ≈ 15.7 s at sf0.1/local[32]). FAIR pools keep task
    slots shared; the scheduler, not the thread count, owns the cores."""
    mode = "serial" if serial else "concurrent"
    spark = get_spark("vrod-spark-bench")
    _warmup(spark, sf_dir)
    _emit_jvm_counters(spark, "warmup")
    if not serial:
        # Longest-processing-time-first submission: the suite's makespan is
        # bounded below by the slowest query, and LPT keeps the long poles
        # from starting last. Static cost classes are enough — exact order
        # within a class doesn't matter.
        heavy = [
            "q26_jaccard_top_pairs", "q26b_prob_near_dup", "q29_lang_quality",
            "q28_embedding_near_dup", "q30_text_profile", "q34_stream_windows",
            "q36_stream_sessions", "q37_stream_dedup", "q46_stream_joins",
            "q40_stateful_totals", "q22_distinct_percentiles",
            "q32_python_pipelines", "q15_window_analytics", "q17_range_join_tiers",
        ]
        names = [n for n in heavy if n in names] + [n for n in names if n not in heavy]

    # Mid-pass progress evidence (r12 verdict item 2): a partial-detail
    # line every 10 completions, so a JVM death DURING the first pass —
    # the exact r12 failure, which previously left zero evidence because
    # the first emit happened only after a complete pass — still leaves
    # per-query timings on stdout (in addition to main()'s degraded
    # record, which needs the process to survive the exception; these
    # lines don't even need that much).
    progress_lock = threading.Lock()
    completed = [0]  # per-pass (reset each repeat); drives the %10 cadence
    total_done = [0]  # monotonic across repeats; drives the kill hook
    # Test hook for the evidence-on-JVM-death CI gate: after N query
    # completions (counted across the whole run), halt the JVM the same
    # way an OOM-killed driver dies (no shutdown hooks, no socket close
    # handshake) so every later py4j call sees the r12 ConnectionRefused.
    # Never set outside tests.
    kill_after = int(os.environ.get("SPARK_GRAFT_BENCH_KILL_AFTER", "0") or "0")

    def run_one(idx_name) -> None:
        idx, name = idx_name
        if not serial:
            # One FAIR pool per worker thread: equal task-slot shares across
            # in-flight queries, no head-of-line blocking behind a big stage.
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"bench{idx % workers}")
        start = time.perf_counter()
        try:
            # RAW builders: every measured run builds and compiles a fresh
            # plan, so suite numbers stay cold-cost measurements even
            # though the engine's query surface (QUERIES) carries a
            # prepared-plan cache.
            RAW_QUERIES[name](spark, sf_dir).collect()
        except Exception as first_err:
            # One retry: a host-contention kill of a single micro-batch or
            # task must not zero out the whole suite's evidence. The timing
            # keeps the failed attempt's cost — honest, not flattering.
            # Named on stderr so a flaky query is diagnosable from the
            # driver's log even when the retry goes green.
            print(
                f"bench retry {name}: {type(first_err).__name__}: "
                f"{str(first_err)[:200]}",
                file=sys.stderr,
                flush=True,
            )
            RAW_QUERIES[name](spark, sf_dir).collect()
        timings[name] = round(time.perf_counter() - start, 3)
        with progress_lock:
            completed[0] += 1
            total_done[0] += 1
            done = completed[0]
            kill_now = kill_after and total_done[0] == kill_after
            # Print under the lock: two threads hitting done=10 and
            # done=20 near-simultaneously would otherwise interleave
            # their write() calls and corrupt both evidence lines.
            if done % 10 == 0:
                print(json.dumps({
                    "metric": "headline_suite_partial",
                    "completed": done,
                    "n_queries": len(names),
                    "elapsed_sec": round(time.monotonic() - t0, 3),
                    "queries": dict(timings),
                }), flush=True)
        if kill_now:
            try:
                spark.sparkContext._jvm.java.lang.Runtime.getRuntime().halt(1)
            except Exception:
                pass  # the halt itself severs the py4j reply channel

    if serial:
        suite_start = time.perf_counter()
        for item in enumerate(names):
            run_one(item)
        walls.append(round(time.perf_counter() - suite_start, 3))
        _emit_jvm_counters(spark, "pass1")
    else:
        # Best-of-N (default 2): the concurrent suite saturates every core
        # for its whole window, so a host-side CPU-steal episode inflates
        # the wall arbitrarily (measured ±10 s between back-to-back runs of
        # the identical suite on this box). The serial-loop numbers are
        # stable; best-of-N restores that stability for the headline
        # number. Per-query timings are taken from the best run.
        repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))
        # If the host is in a severe steal episode a suite run can take
        # minutes instead of ~15 s; repeating it would risk blowing the
        # caller's timeout for no signal. Past the cutoff, settle for the
        # single (degraded, flagged) measurement.
        cutoff = float(os.environ.get("SPARK_GRAFT_BENCH_REPEAT_CUTOFF", "45"))
        best: dict[str, float] | None = None
        for rep in range(repeats):
            timings.clear()
            completed[0] = 0  # per-pass progress; total_done keeps counting
            suite_start = time.perf_counter()
            with ThreadPoolExecutor(max_workers=workers) as pool:
                list(pool.map(run_one, enumerate(names)))
            walls.append(round(time.perf_counter() - suite_start, 3))
            if best is None or walls[-1] == min(walls):
                best = dict(timings)
            best_holder["best"] = best
            if rep == 0:
                _emit_jvm_counters(spark, "pass1")
            # Evidence checkpoint: a parseable record exists from the first
            # completed pass onward, whatever happens later.
            _emit(walls, best, names, sf_val, mode, workers, {}, final=False)
            if walls[-1] > cutoff or over_deadline():
                break
        if best is not None:
            timings.clear()
            timings.update(best)

    # Same-window oracle leg, run IMMEDIATELY after the measured passes
    # (the closest window to what `value` measured). A DuckDB failure
    # must never cost the round its Spark number — degrade to an
    # oracle_error field instead. oracle_holder is main()'s crash-handler
    # view, so even a later serial-track death keeps the ratio.
    if not over_deadline():
        try:
            oracle_holder.update(_oracle_leg(sf_dir, names))
        except Exception as exc:  # noqa: BLE001 — evidence over purity
            oracle_holder["oracle_error"] = f"{type(exc).__name__}: {exc}"[:200]
        # Evidence checkpoint: the ratio reaches stdout before the serial
        # track runs (r12 lesson — never defer evidence to process exit).
        _emit(walls, timings, names, sf_val, mode, workers, {},
              final=False, oracle=oracle_holder)

    # Uncontended per-query latency for the expensive queries — concurrent
    # timings include scheduler contention, so regressions in a single
    # query's plan (the q26/q27/q28 pair paths especially) hide inside the
    # noise. A short serial pass pins them per round.
    serial_queries: dict[str, float] = {}
    serial_warm: dict[str, float] = {}
    floor: dict[str, float] = {}
    if (
        not serial
        and min(walls) <= float(os.environ.get("SPARK_GRAFT_BENCH_REPEAT_CUTOFF", "45"))
        and not over_deadline()
    ):
        # Measured per-query FLOOR probes: the serial-cold numbers below
        # include a fixed driver-side cost (fresh-plan compile + stage
        # scheduling + python-stage launch) that is per-query, not
        # per-byte. These two probes measure it directly on this host in
        # this session — a fresh trivial JVM plan (1 shuffle stage) and a
        # fresh trivial Arrow python stage — so a reader comparing
        # serial-cold against the DuckDB oracle (per-query floor ~1 ms)
        # can see how much of a small query's cold number is floor.
        from pyspark.sql import functions as _F

        for probe, build in (
            ("floor_jvm", lambda: spark.range(100_000)
                .groupBy((_F.col("id") % 7).alias("g")).agg(_F.sum("id").alias("s"))),
            # The python probe pushes 100k rows through a fresh Arrow
            # stage but collects only a count — a bare .collect() of the
            # 100k output rows costs ~0.4 s of DRIVER-side Row
            # materialization that no real query pays (their outputs are
            # small aggregates), which used to inflate this probe ~2x.
            ("floor_py", lambda: spark.range(100_000).repartition(8)
                .mapInPandas(lambda it: it, "id long")
                .selectExpr("count(*) AS c")),
        ):
            t = []
            for _ in range(2):
                start = time.perf_counter()
                build().collect()  # fresh DataFrame: full analyze+compile
                t.append(time.perf_counter() - start)
            floor[probe] = round(min(t), 3)
        for name in SERIAL_TRACK:
            if name not in QUERIES or over_deadline() or (only and name not in only):
                continue
            start = time.perf_counter()
            try:
                # Cold: fresh plan, full analysis + codegen + execution —
                # this call also primes the prepared-plan cache.
                QUERIES[name](spark, sf_dir).collect()
            except Exception:
                continue
            serial_queries[name] = round(time.perf_counter() - start, 3)
            # Warm: prepared-plan re-execution (the steady state a
            # long-lived engine serves repeated queries from). Spark also
            # reuses materialized shuffle outputs of an identical plan, so
            # this bounds repeat-latency from below; the cold number above
            # remains the apples-to-apples one against the DuckDB oracle.
            start = time.perf_counter()
            try:
                QUERIES[name](spark, sf_dir).collect()
            except Exception:
                continue
            serial_warm[name] = round(time.perf_counter() - start, 3)

    spark.stop()
    # Final authoritative record, printed after spark.stop() so shutdown
    # warnings cannot land between the JSON and the end of the stream. The
    # detail line comes first; the LAST line is the short headline summary,
    # small enough to survive the driver's ~2 KB tail capture.
    _emit(walls, timings, names, sf_val, mode, workers, serial_queries,
          final=True, serial_warm=serial_warm, floor=floor,
          oracle=oracle_holder)


if __name__ == "__main__":
    main()
