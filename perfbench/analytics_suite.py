"""Workload ``analytics_suite``: the query library, cold then warm.

One client in a fresh session runs a pinned list of the library's
queries over tables generated from the seed: one cold pass (the
session's first-use costs and the session-shared snapshot builds land
here; nothing warms the session before it), then warm passes over the same RAW
builders: two unmeasured warm-up passes, then measured passes for
``seconds`` seconds, at least three (plans are rebuilt, snapshots are
reused: the per-query floor). Every execution is checked against the
DuckDB oracle twin of the query, run over the same files.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

from harness import (
    Outcome,
    SparkCounts,
    Tracer,
    catalyst_phases_ms,
    complete_per_layer,
    end_to_end,
    host_cpu_ticks,
    jvm_pid,
    median,
    metric,
    peak_rss_mb,
    repeated_setup,
    self_time_by_layer,
    start_spark,
    steal_share,
    stop_spark,
    tail_percentile,
    tree_cpu_s,
    wrap,
)

# -- the workload definition (pinned here; nothing else defines it) ---------
#: (query, group). Relational queries run on the TPC-H-like tables; corpus
#: queries drive the session-shared snapshot builders (dedup, text);
#: stream queries run Structured Streaming to completion.
SUITE = (
    ("q01_pricing_summary", "relational"),
    ("q03_top_orders", "relational"),
    ("q04_window_rank", "relational"),
    ("q26_jaccard_top_pairs", "corpus"),
    ("q36_stream_sessions", "stream"),
)
GROUPS = ("relational", "corpus", "stream")
#: Unmeasured passes between the cold pass and the warm ones: CPU seconds
#: per pass fall as the JVM compiles more of the code (10.6, 8.2, 6.5, 7.3
#: over the first four passes after the cold one in one run); two is what
#: a run's time budget allows.
WARM_UP_PASSES = 2
#: Measured warm passes at least (more while ``seconds`` have not passed);
#: ``warm_cpu_s`` is their median.
WARM_PASSES = 3


def digest(rows, columns) -> str:
    """Order-insensitive digest of a result (the oracle check's canon)."""
    from tools.check_oracle import canon

    return hashlib.sha256(repr(canon(rows, columns)).encode()).hexdigest()


def oracle_digests(data_dir: str) -> dict[str, str]:
    """Digest of each pinned query's DuckDB oracle twin (every pinned
    query has one) over the same generated files."""
    from tools.check_oracle import duck_connect
    from vrod_spark.queries import ORACLES

    con = duck_connect(data_dir)
    try:
        out = {}
        for name, _group in SUITE:
            rel = con.execute(ORACLES[name])
            out[name] = digest(rel.fetchall(), [d[0] for d in rel.description])
        return out
    finally:
        con.close()


def install_probes(tracer: Tracer) -> None:
    """Spans around the public shared-snapshot builders, the stream
    runner and the table loaders. The first call of a builder for a data
    directory in the session is its build; later calls are cache hits."""
    from vrod_spark import queries
    from vrod_spark.sources import tables
    from vrod_spark.streaming import ingest

    seen: set = set()

    def note_build(name):
        def on_result(args, kwargs, result):
            key = (name, args[1] if len(args) > 1 else kwargs.get("sf_dir"))
            if key not in seen:
                seen.add(key)
                tracer.count(f"shared_build_op.{tracer.op_id}", 1)
        return on_result

    for name in dir(queries):
        if name.startswith("shared_") and callable(getattr(queries, name)):
            wrap(tracer, queries, name, f"queries.{name}", "queries", note_build(name))
    wrap(tracer, ingest, "run_to_completion", "streaming.run_to_completion", "streaming")
    wrap(tracer, tables, "load_table", "sources.load_table", "sources")
    wrap(tracer, tables, "load_tables", "sources.load_tables", "sources")


def run(*, seed: int, seconds: float, tracer: Tracer, root: str, spark_conf: dict,
        process_age_s) -> Outcome:
    import tables as table_gen

    if tracer.enabled:
        install_probes(tracer)
    spark, session_s = start_spark(tracer, "perfbench-analytics_suite", spark_conf)
    session_cpu_s, session_age_s = tree_cpu_s(), process_age_s()
    counts = SparkCounts(spark)
    ops: dict[int, tuple[str, str, str]] = {}   #: op id -> (pass, query, group)
    latency: dict[str, list[float]] = {"cold": [], "warmup": [], "warm": []}
    build_exec: dict[int, tuple[float, float]] = {}
    results: dict[int, str | None] = {}
    catalyst: dict[str, list[float]] = {}
    jobs: dict[int, int] = {}
    try:
        from vrod_spark.queries import RAW_QUERIES
        from vrod_spark.sources.tables import load_tables

        load_s: list[float] = []

        def prepare(i: int) -> str:
            """Tables from the seed, then ``load_tables`` over them."""
            data_dir = os.path.join(root, f"tables{i}")
            table_gen.generate(data_dir, seed)
            t0 = time.perf_counter()
            load_tables(spark, data_dir)
            load_s.append(time.perf_counter() - t0)
            return data_dir

        data_dir, prepare_cpu_s, prepare_s = repeated_setup(prepare)
        load_tables_s = median(load_s)

        def execute(op: int, pass_name: str, name: str, group: str) -> None:
            ops[op] = (pass_name, name, group)
            if tracer.enabled:
                counts.set_group(f"op{op}", name)
            t0 = time.perf_counter()
            t1 = t0
            try:
                with tracer.op(op, f"op.{name}"):
                    with tracer.span("queries.build", "queries"):
                        df = RAW_QUERIES[name](spark, data_dir)
                    t1 = time.perf_counter()
                    with tracer.span("spark.collect", "spark"):
                        rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
                results[op] = digest(rows, df.columns)
            except Exception as exc:  # noqa: BLE001 — a failed query is counted
                print(f"{name} failed: {type(exc).__name__}: {exc}", file=sys.stderr,
                      flush=True)
                results[op] = None
                t2 = time.perf_counter()
            latency[pass_name].append(t2 - t0)
            build_exec[op] = (t1 - t0, t2 - t1)
            if tracer.enabled:
                t3 = time.perf_counter()
                n_jobs, _tasks = counts.jobs_and_tasks(f"op{op}")
                counts.clear_group()
                jobs[op] = n_jobs
                if pass_name == "cold" and results[op] is not None:
                    for phase, ms in catalyst_phases_ms(df).items():
                        catalyst.setdefault(phase, []).append(ms)
                tracer.add_overhead(time.perf_counter() - t3)

        setup_s = session_cpu_s + prepare_cpu_s
        host0 = host_cpu_ticks()
        cpu0 = tree_cpu_s()
        op = 0
        t_start = time.perf_counter()
        for name, group in SUITE:
            op += 1
            execute(op, "cold", name, group)
        cold_s = time.perf_counter() - t_start
        cpu1 = tree_cpu_s()
        for _ in range(WARM_UP_PASSES):
            for name, group in SUITE:
                op += 1
                execute(op, "warmup", name, group)
        warm_stop = time.perf_counter() + seconds
        warm_cpu: list[float] = []    #: CPU seconds of each warm pass
        warm_wall: list[float] = []
        while len(warm_cpu) < WARM_PASSES or time.perf_counter() < warm_stop:
            c0, w0 = tree_cpu_s(), time.perf_counter()
            for name, group in SUITE:
                op += 1
                execute(op, "warm", name, group)
            warm_wall.append(time.perf_counter() - w0)
            warm_cpu.append(tree_cpu_s() - c0)
        host1 = host_cpu_ticks()
        rss = peak_rss_mb(jvm_pid(spark))
    finally:
        stop_spark(spark)

    # Output check: every execution's digest equals the oracle's.
    oracle = oracle_digests(data_dir)
    failed = 0
    mismatched = set()
    for op_id, (_p, name, _g) in ops.items():
        if results[op_id] != oracle[name]:
            failed += 1
            mismatched.add(name)

    warm = latency["warm"]
    warm_passes = len(warm_cpu)
    warm_tail = tail_percentile(warm)
    detail = {
        "workload": "analytics_suite",
        "seed": seed,
        "session_start_s": session_s,
        "prepare_s": prepare_s,
        "setup_wall_s": session_age_s + prepare_s,
        "query_cold_s": cold_s,
        "peak_rss_mb": rss,
        "query_warm_s": median(warm_wall),
        "warm_passes": warm_passes,
        "warm_query_p50_ms": 1e3 * median(warm),
        "warm_query_tail": warm_tail and {"ms": 1e3 * warm_tail[0],
                                          "percentile": warm_tail[1],
                                          "samples": warm_tail[2]},
        "failed_frac": failed / len(ops),
        "failed_queries": sorted(mismatched),
        "per_query_cold_s": {n: latency["cold"][i] for i, (n, _g) in enumerate(SUITE)},
        "per_query_warm_s": {n: median(warm[i::len(SUITE)]) for i, (n, _g) in enumerate(SUITE)},
        "warm_pass_cpu_s": warm_cpu,
        "warm_pass_wall_s": warm_wall,
        "host_steal_share": steal_share(host0, host1),
    }
    e2e = end_to_end(setup_s, cpu1 - cpu0, median(warm_cpu))
    per_layer = complete_per_layer(layer_metrics(
        tracer, ops, build_exec, jobs, catalyst, session_s, load_tables_s))
    return Outcome(e2e, per_layer, len(ops), failed, detail)


def layer_metrics(tracer, ops, build_exec, jobs, catalyst, session_s, load_tables_s) -> dict:
    spans = tracer.spans
    by_id = {s.span_id: s for s in spans}
    out = {"session.start_s": metric(session_s, "s"),
           "sources.load_tables_s": metric(load_tables_s, "s")}
    n_passes = {"cold": 1, "warm": max(1, sum(1 for p, _n, _g in ops.values() if p == "warm")
                                       // len(SUITE))}
    for p in ("cold", "warm"):
        mine = [op for op, (pp, _n, _g) in ops.items() if pp == p]
        per = n_passes[p]
        out[f"queries.{p}.build_s"] = metric(sum(build_exec[o][0] for o in mine) / per, "s")
        out[f"queries.{p}.exec_s"] = metric(sum(build_exec[o][1] for o in mine) / per, "s")
        for g in GROUPS:
            out[f"queries.{p}.{g}_s"] = metric(
                sum(sum(build_exec[o]) for o in mine if ops[o][2] == g) / per, "s")
        shared = [s for s in spans if s.op_id in set(mine) and s.name.startswith("queries.shared_")
                  and not (s.parent in by_id and by_id[s.parent].name.startswith("queries.shared_"))]
        out[f"queries.{p}.shared_build_s"] = metric(sum(s.end - s.start for s in shared) / per, "s")
        out[f"queries.{p}.shared_builds"] = metric(
            sum(len(tracer.counters.get(f"shared_build_op.{o}", [])) for o in mine), "count")
        runs = [s for s in spans if s.op_id in set(mine)
                and s.name == "streaming.run_to_completion"]
        out[f"streaming.{p}.run_s"] = metric(sum(s.end - s.start for s in runs) / per, "s")
        out[f"streaming.{p}.runs"] = metric(len(runs) / per, "count")
        out[f"spark.jobs_per_pass.{p}"] = metric(sum(jobs.get(o, 0) for o in mine) / per, "count")
    for phase in ("analysis", "optimization", "planning"):
        out[f"spark.catalyst.{phase}_ms"] = metric(median(catalyst.get(phase, [])), "ms")
    for layer, secs in self_time_by_layer(spans).items():
        out[f"self_s.{layer}"] = metric(secs, "s")
    out["trace.overhead_s"] = metric(tracer.overhead_s, "s")
    return out
