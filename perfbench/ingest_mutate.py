"""Workload ``ingest_mutate``: the engine's write path, with reads between
the writes.

Three phases on one collection, all closed loops of one client:

1. build: BULKINSERT into the empty collection, then REINDEX with the
   sign-LSH default;
2. mixed (``seconds`` seconds, whole rounds): small commits (INSERT of 100
   rows, UPDATE of an id range, DELETE of 100 ids), each followed by reads
   of the serving mix (SEARCHSIMILAR, SEARCHSIMILAR with a ``where``
   prefilter, SEARCH with a predicate and limit), so a write-path change
   that slows reads, or leaves the index stale, shows;
3. maintenance: TRUNCATEWAL.

The benchmark keeps its own model of the collection and checks every
result against it, and the final state again after ``Engine.load``.
Reads never overlap a commit (README.md, "Known defects").
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass

import numpy as np

from harness import (
    ENGINE_VERBS,
    Outcome,
    SparkCounts,
    Tracer,
    catalyst_phases_ms,
    complete_per_layer,
    end_to_end,
    host_cpu_ticks,
    dir_bytes,
    jvm_pid,
    median,
    metric,
    op_layer_breakdown,
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
N_ROWS = 20_000           #: rows loaded by BULKINSERT
DIM = 64
N_CLUSTERS = 256          #: Gaussian clusters on the unit sphere
CLUSTER_NOISE = 0.1       #: per-dimension noise before re-normalising
BULK_BATCHES = 1
INSERT_POOL = 5_000       #: fresh rows available to INSERT commits
COMMIT_ROWS = 100         #: rows per INSERT / UPDATE range / DELETE
QUERY_NOISE = 0.02        #: perturbation of the data point a query starts from
K = 10
SEARCH_RANGE = 2_000      #: id window of a SEARCH predicate
SEARCH_LIMIT = 1_000
#: One round of the mixed phase: each commit, then the reads that follow
#: it; 60% SEARCHSIMILAR, 20% SEARCHSIMILAR + where, 20% SEARCH. The seed
#: picks vectors, labels, ids and ranges. INSERT keeps the LSH index, so
#: the reads after it take the bucket path; UPDATE and DELETE drop it, so
#: the reads after them scan. The prefiltered SEARCHSIMILAR comes after
#: the UPDATE: on the bucket path a label prefilter returns fewer than k
#: rows (README.md, "Known defects").
ROUND = (("insert", ("searchsimilar", "searchsimilar")),
         ("update", ("searchsimilar_where", "search")),
         ("delete", ("searchsimilar",)))
COMMIT_VERBS = tuple(verb for verb, _reads in ROUND)
COLLECTION = "vectors"
READ_VERBS = ("searchsimilar", "search")


def make_vectors(rng: np.random.Generator, n: int):
    centers = rng.standard_normal((N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_CLUSTERS, n)
    x = centers[labels] + CLUSTER_NOISE * rng.standard_normal((n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels


def payload_for(i: int, label: int) -> str:
    return f"lab{label} doc{i}"


def row_bytes(payload: str, label: int) -> int:
    """User bytes of one record: id, float32 vector, payload, meta map."""
    return 8 + 4 * DIM + len(payload.encode()) + len("lab") + len(str(label))


def write_batch(path: str, ids, vectors, labels) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "id": pa.array(ids, type=pa.int64()),
        "embedding": pa.array(list(vectors), type=pa.list_(pa.float32())),
        "payload": pa.array([payload_for(int(i), int(lb)) for i, lb in zip(ids, labels)]),
        "meta": pa.array([[("lab", str(int(lb)))] for lb in labels],
                         type=pa.map_(pa.string(), pa.string())),
    })
    pq.write_table(table, path)


# -- the benchmark's model of the collection ---------------------------------

@dataclass
class Model:
    """What the collection must hold; each commit is applied once the
    engine acknowledged it and it passed its check."""

    vectors: np.ndarray
    labels: np.ndarray
    live: np.ndarray
    payload: list


# -- output checks -------------------------------------------------------------

def check_similar(model: Model, rows, query: np.ndarray,
                  label: int | None) -> tuple[bool, float | None]:
    """k rows (fewer only when fewer are live), sorted by distance, each
    id live (and of the prefilter's label), each distance equal to
    numpy's for that id. Returns (ok, recall@k or None)."""
    live = model.live.copy()
    if label is not None:
        live &= model.labels == label
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    dists = np.array([r["dist"] for r in rows], dtype=np.float64)
    if len(ids) != min(K, live.sum()):
        return False, None
    if len(ids) and (ids.max() >= len(live) or not live[ids].all()):
        return False, None
    if np.any(np.diff(dists) < -1e-9):
        return False, None
    want = np.linalg.norm(model.vectors[ids].astype(np.float64) - query, axis=1)
    if not np.allclose(dists, want, rtol=1e-5, atol=1e-6):
        return False, None
    recall = None
    if label is None and live.sum() >= K:
        cand = np.flatnonzero(live)
        d = np.linalg.norm(model.vectors[cand].astype(np.float64) - query, axis=1)
        exact = cand[np.argsort(d, kind="stable")[:K]]
        recall = len(set(exact.tolist()) & set(ids.tolist())) / K
    return True, recall


def check_search(model: Model, rows, lo: int, hi: int, label: int) -> bool:
    """SEARCH ids equal a pandas evaluation of the predicate over the
    model."""
    import pandas as pd

    ids = np.arange(lo, min(hi, len(model.live) - 1) + 1)
    frame = pd.DataFrame({
        "id": ids,
        "live": model.live[ids],
        "payload": [model.payload[i] for i in ids],
    })
    hit = frame[frame["live"] & frame["payload"].str.startswith(f"lab{label} ")]
    got = [r["id"] for r in rows]
    return len(got) == len(set(got)) and set(got) == set(hit["id"].tolist())


def check_final(model: Model, frame) -> bool:
    want = {int(i): model.payload[i] for i in np.flatnonzero(model.live)}
    got = dict(zip(frame["id"].astype(int).tolist(), frame["payload"].tolist()))
    return len(got) == len(frame) and got == want


# -- tracing probes --------------------------------------------------------------

def install_probes(tracer: Tracer) -> None:
    """Spans around the public functions of engine, catalog and the
    index operators, plus the counts taken at those boundaries."""
    from vrod_spark import catalog, engine
    from vrod_spark.operators import ann, knn

    wrap(tracer, engine.Engine, "execute",
         lambda a, kw: f"engine.{str(a[1]).lower()}", "engine")
    for name in ("read", "live_index", "insert", "update", "delete", "analyze",
                 "commit_staged_index", "bucket_histogram", "truncate_wal"):
        wrap(tracer, catalog.Collection, name, f"catalog.{name}", "catalog")

    def probed(args, kwargs, result):
        index_meta, k = args[0], args[2]
        hist = index_meta["histogram"]
        tracer.count("ann.buckets_probed", len(result))
        rows = sum(int(hist.get(str(b), hist.get(b, 0))) for b in result)
        tracer.count("ann.candidates_per_result", rows / k)

    wrap(tracer, ann, "candidate_buckets", "ann.candidate_buckets", "ann", probed)
    wrap(tracer, ann, "reindex_collection", "ann.reindex", "ann")
    wrap(tracer, ann, "ann_search_bucketed", "ann.search", "ann")
    wrap(tracer, knn, "knn_exact", "knn.exact", "knn")


def version_layout(col) -> tuple[int, int]:
    """(data files, bucket partition dirs) of the current snapshot."""
    files = dirs = 0
    for base, subdirs, names in os.walk(col.version_dir()):
        dirs += sum(1 for d in subdirs if d.startswith("bucket="))
        files += sum(1 for n in names if n.endswith(".parquet"))
    return files, dirs


# -- the run ---------------------------------------------------------------------

class Run:
    def __init__(self, spark, engine, model, tracer, seconds, rng):
        self.engine, self.model = engine, model
        self.tracer, self.seconds, self.rng = tracer, seconds, rng
        self.counts = SparkCounts(spark)
        self.col = engine.db.collection(COLLECTION)
        self.op_ids = iter(range(1, 1 << 30))
        self.ops: dict[int, str] = {}           #: op id -> verb
        self.latency: dict[str, list[float]] = {}
        self.plan_exec: dict[str, list[tuple[float, float]]] = {}
        self.recalls: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.next_insert = N_ROWS
        self.rounds: list[float] = []           #: wall of each commit round
        self.commit_growth: list[float] = []
        self.versions_retained = 0

    # bookkeeping
    def _begin(self, verb: str) -> int:
        op = next(self.op_ids)
        self.ops[op] = verb
        self.attempted += 1
        if self.tracer.enabled:
            self.counts.set_group(f"op{op}", verb)
        return op

    def _end(self, op: int, verb: str, seconds: float, ok: bool) -> None:
        """Latency samples are kept for ops that succeeded; a failed op
        counts in ``failed`` instead."""
        if ok:
            self.latency.setdefault(verb, []).append(seconds)
        else:
            self.failed += 1
        if self.tracer.enabled:
            t0 = time.perf_counter()
            jobs, tasks = self.counts.jobs_and_tasks(f"op{op}")
            self.counts.clear_group()
            base = verb.split("_")[0]
            self.tracer.count(f"spark.jobs_per_op.{base}", jobs)
            self.tracer.count(f"spark.tasks_per_op.{base}", tasks)
            self.tracer.add_overhead(time.perf_counter() - t0)

    # writer
    def write(self, verb: str, arg, touched: np.ndarray, check, apply=None) -> None:
        op = self._begin(verb)
        size0 = dir_bytes(self.engine.db.path) if self.tracer.enabled and apply else 0
        ok = False
        t0 = time.perf_counter()
        try:
            with self.tracer.op(op, f"op.{verb}"):
                info = self.engine.execute(verb.upper(), collection=COLLECTION, arg=arg).info
            ok = check(info)
            if not ok:
                print(f"{verb} failed its output check: {info}", flush=True,
                      file=sys.stderr)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            print(f"{verb} failed: {type(exc).__name__}: {exc}", flush=True,
                  file=sys.stderr)
        elapsed = time.perf_counter() - t0
        if ok and apply is not None:
            apply()
        if self.tracer.enabled and apply is not None and ok:
            t1 = time.perf_counter()
            user = sum(row_bytes(self.model.payload[i], int(self.model.labels[i]))
                       for i in touched)
            growth = dir_bytes(self.engine.db.path) - size0
            self.commit_growth.append(growth / max(user, 1))
            self.tracer.add_overhead(time.perf_counter() - t1)
        self._end(op, verb, elapsed, ok)

    def build(self, batches: list[tuple[str, np.ndarray]]) -> None:
        """BULKINSERT the batches, then REINDEX (sign-LSH)."""
        m = self.model
        for path, ids in batches:
            def apply(ids=ids):
                m.live[ids] = True
            self.write("bulkinsert", path, ids,
                       lambda info, n=len(ids): info.get("rows") == n, apply)
        self.write("reindex", None, np.empty(0, np.int64),
                   lambda info: info.get("indexed") is True)

    def mixed(self, rng: np.random.Generator) -> None:
        """Whole rounds (``ROUND``) until ``seconds`` have passed, at
        least one; ``rng`` draws the reads."""
        stop_at = time.perf_counter() + self.seconds
        while not self.rounds or time.perf_counter() < stop_at:
            t0 = time.perf_counter()
            for verb, reads in ROUND:
                getattr(self, f"commit_{verb}")()
                for kind in reads:
                    self.read(kind, rng)
            self.rounds.append(time.perf_counter() - t0)

    def maintain(self) -> None:
        """TRUNCATEWAL, which reclaims superseded snapshots."""
        self.versions_retained = sum(
            1 for d in os.listdir(self.col.path) if d[:1] == "v" and d[1:].isdigit()
        )
        self.write("truncatewal", None, np.empty(0, np.int64),
                   lambda info: "removed_versions" in info)

    def commit_insert(self) -> None:
        m = self.model
        ids = np.arange(self.next_insert, self.next_insert + COMMIT_ROWS)
        self.next_insert += COMMIT_ROWS
        rows = [{"id": int(i), "embedding": m.vectors[i].tolist(),
                 "payload": m.payload[i], "meta": {"lab": str(int(m.labels[i]))}}
                for i in ids]

        def apply():
            m.live[ids] = True
        self.write("insert", rows, ids,
                   lambda info: info.get("rows") == COMMIT_ROWS, apply)

    def commit_update(self) -> None:
        m = self.model
        lo = int(self.rng.integers(0, N_ROWS - COMMIT_ROWS))
        hi = lo + COMMIT_ROWS - 1
        ids = np.arange(lo, hi + 1)
        hit = ids[m.live[ids]]

        def apply():
            for i in hit:
                m.payload[i] = m.payload[i] + " u"
        self.write("update",
                   {"where": f"id BETWEEN {lo} AND {hi}",
                    "set": {"payload": "concat(payload, ' u')"}},
                   ids, lambda info: info.get("matched") == len(hit), apply)

    def commit_delete(self) -> None:
        m = self.model
        ids = np.sort(self.rng.choice(np.flatnonzero(m.live), COMMIT_ROWS, replace=False))

        def apply():
            m.live[ids] = False
        self.write("delete", [int(i) for i in ids], ids,
                   lambda info: info.get("deleted") == COMMIT_ROWS, apply)

    # reads
    def read(self, kind: str, rng: np.random.Generator) -> None:
        """One read op of the serving mix, checked against the model."""
        m = self.model
        src = int(rng.integers(0, N_ROWS))
        label = int(m.labels[src])
        query = m.vectors[src].astype(np.float64) + QUERY_NOISE * rng.standard_normal(DIM)
        if kind == "search":
            lo = int(rng.integers(0, N_ROWS - SEARCH_RANGE))
            hi = lo + SEARCH_RANGE - 1
            arg = {"where": f"id BETWEEN {lo} AND {hi} AND payload LIKE 'lab{label} %'",
                   "limit": SEARCH_LIMIT}
            verb = "search"
        else:
            arg = {"vector": query.tolist(), "k": K}
            if kind == "searchsimilar_where":
                arg["where"] = f"payload LIKE 'lab{label} %'"
            verb = kind
        op = self._begin(verb)
        ok = False
        t0 = time.perf_counter()
        t1 = t0
        try:
            with self.tracer.op(op, f"op.{verb}"):
                res = self.engine.execute(verb.split("_")[0].upper(),
                                          collection=COLLECTION, arg=arg)
                t1 = time.perf_counter()
                with self.tracer.span("spark.collect", "spark"):
                    rows = res.df.collect()
            t2 = time.perf_counter()
            if verb == "search":
                ok = check_search(m, rows, lo, hi, label)
            else:
                ok, recall = check_similar(
                    m, rows, query, label if kind == "searchsimilar_where" else None)
                if recall is not None:
                    self.recalls.append(recall)
            if not ok:
                print(f"{kind} failed its output check ({len(rows)} rows)", flush=True,
                      file=sys.stderr)
            self.plan_exec.setdefault(verb, []).append((t1 - t0, t2 - t1))
            if self.tracer.enabled:
                t3 = time.perf_counter()
                for phase, ms in catalyst_phases_ms(res.df).items():
                    self.tracer.count(f"spark.catalyst.{phase}_ms", ms)
                files, dirs = version_layout(self.col)
                self.tracer.count("catalog.files_per_version", files)
                self.tracer.count("catalog.partition_dirs", dirs)
                self.tracer.add_overhead(time.perf_counter() - t3)
            elapsed = t2 - t0
        except Exception as exc:  # noqa: BLE001
            print(f"{verb} failed: {type(exc).__name__}: {exc}", flush=True,
                  file=sys.stderr)
            elapsed = time.perf_counter() - t0
        self._end(op, verb, elapsed, ok)


def run(*, seed: int, seconds: float, tracer: Tracer, root: str, spark_conf: dict,
        process_age_s) -> Outcome:
    if tracer.enabled:
        install_probes(tracer)
    spark, session_s = start_spark(tracer, "perfbench-ingest_mutate", spark_conf)
    session_cpu_s, session_age_s = tree_cpu_s(), process_age_s()
    try:
        from vrod_spark.engine import Engine

        def prepare(i: int):
            """Inputs from the seed, an empty database, CREATE."""
            rng = np.random.default_rng(seed)
            vectors, labels = make_vectors(rng, N_ROWS + INSERT_POOL)
            model = Model(
                vectors=vectors,
                labels=labels,
                live=np.zeros(len(vectors), dtype=bool),
                payload=[payload_for(i, int(lb)) for i, lb in enumerate(labels)],
            )
            in_dir = os.path.join(root, f"input{i}")
            os.makedirs(in_dir)
            batches = []
            for b, ids in enumerate(np.array_split(np.arange(N_ROWS), BULK_BATCHES)):
                path = os.path.join(in_dir, f"batch{b}.parquet")
                write_batch(path, ids, vectors[ids], labels[ids])
                batches.append((path, ids))
            engine = Engine.create(spark, root, f"db{i}")
            engine.execute("CREATE", collection=COLLECTION, arg={"dimension": DIM})
            return rng, model, batches, engine

        (rng, model, batches, engine), prepare_cpu_s, prepare_s = repeated_setup(prepare)
        labels = model.labels
        bench = Run(spark, engine, model, tracer, seconds, rng)
        read_rng = np.random.default_rng(rng.integers(1 << 31))

        setup_s = session_cpu_s + prepare_cpu_s
        host0 = host_cpu_ticks()
        cpu0 = tree_cpu_s()
        bench.build(batches)
        cpu1 = tree_cpu_s()
        n_before = len(bench.ops)
        t_mixed = time.perf_counter()
        bench.mixed(read_rng)
        mixed_wall = time.perf_counter() - t_mixed
        cpu2 = tree_cpu_s()
        mixed_ops = len(bench.ops) - n_before
        bench.maintain()
        cpu3 = tree_cpu_s()
        host1 = host_cpu_ticks()

        # Final state, then again through a fresh Engine.load of the path.
        final_ok = []
        for eng in (engine, Engine.load(spark, engine.db.path)):
            bench.attempted += 1
            frame = eng.db.collection(COLLECTION).read().select("id", "payload").toPandas()
            final_ok.append(check_final(model, frame))
            if not final_ok[-1]:
                print("final state differs from the model", flush=True, file=sys.stderr)
            bench.failed += 0 if final_ok[-1] else 1
        live_bytes = sum(row_bytes(model.payload[i], int(labels[i]))
                         for i in np.flatnonzero(model.live))
        space_amp = dir_bytes(engine.db.path) / live_bytes
        rss = peak_rss_mb(jvm_pid(spark))
    finally:
        stop_spark(spark)

    lat = bench.latency
    commits = [s for v in COMMIT_VERBS for s in lat.get(v, [])]
    searches = lat.get("searchsimilar", []) + lat.get("searchsimilar_where", [])
    cold = sum(sum(lat.get(v, [])) for v in ("bulkinsert", "reindex", "truncatewal"))
    search_tail = tail_percentile(searches)
    commit_tail = tail_percentile(commits)
    detail = {
        "workload": "ingest_mutate",
        "seed": seed,
        "cold_wall_s": cold,
        "warm_wall_s": float(np.mean(bench.rounds)),
        "mixed_wall_s": mixed_wall,
        "mixed_ops": mixed_ops,
        "ops_per_s": mixed_ops / mixed_wall,
        "commit_rounds": len(bench.rounds),
        "session_start_s": session_s,
        "prepare_s": prepare_s,
        "setup_wall_s": session_age_s + prepare_s,
        "bulkinsert_s": sum(lat.get("bulkinsert", [])),
        "reindex_s": sum(lat.get("reindex", [])),
        "truncatewal_s": sum(lat.get("truncatewal", [])),
        "commit_p50_ms": 1e3 * median(commits),
        "commit_tail": commit_tail and {"ms": 1e3 * commit_tail[0], "percentile": commit_tail[1],
                                        "samples": commit_tail[2]},
        "search_p50_ms": 1e3 * median(searches),
        "search_tail_ms": search_tail and {"ms": 1e3 * search_tail[0],
                                           "percentile": search_tail[1],
                                           "samples": search_tail[2]},
        "filter_search_p50_ms": 1e3 * median(lat.get("search", [])),
        "recall_at_10": float(np.mean(bench.recalls)) if bench.recalls else None,
        "space_amp": space_amp,
        "peak_rss_mb": rss,
        "host_steal_share": steal_share(host0, host1),
        "failed_frac": bench.failed / max(bench.attempted, 1),
        "final_state_ok": final_ok,
        "ops": {v: len(s) for v, s in lat.items()},
    }
    e2e = end_to_end(setup_s, (cpu1 - cpu0) + (cpu3 - cpu2),
                     (cpu2 - cpu1) / len(bench.rounds))
    if tracer.enabled:
        detail["search_breakdown_ms"] = search_breakdown(tracer, bench)
    per_layer = complete_per_layer(layer_metrics(tracer, bench, session_s))
    return Outcome(e2e, per_layer, bench.attempted, bench.failed, detail)


def search_breakdown(tracer: Tracer, bench: Run) -> dict:
    """Per search route (LSH buckets, exact scan): op count and
    median per-op self time of each layer, in ms."""
    route_of: dict[int, str] = {}
    for s in tracer.spans:
        if s.name == "ann.search":
            route_of[s.op_id] = "ann"
    out = {}
    for route in ("ann", "exact"):
        for verb in ("searchsimilar", "search"):
            ids = {op for op, v in bench.ops.items()
                   if v.split("_")[0] == verb and route_of.get(op, "exact") == route}
            if ids:
                out[f"{verb}.{route}"] = {"ops": len(ids),
                                          **op_layer_breakdown(tracer.spans, ids)}
    return out


def _span_ms(spans, name, op_verbs=None, ops=None) -> float:
    vals = [1e3 * (s.end - s.start) for s in spans
            if s.name == name and (op_verbs is None or ops.get(s.op_id) in op_verbs)]
    return median(vals)


def layer_metrics(tracer: Tracer, bench: Run, session_s: float) -> dict:
    """Per-layer figures; the span- and counter-based ones need tracing."""
    spans, ops, c = tracer.spans, bench.ops, tracer.counters
    out = {"session.start_s": metric(session_s, "s")}
    for verb in ("searchsimilar", "search"):
        pe = bench.plan_exec.get(verb, []) if verb == "search" else (
            bench.plan_exec.get("searchsimilar", []) + bench.plan_exec.get("searchsimilar_where", []))
        out[f"engine.{verb}.plan_ms"] = metric(1e3 * median([p for p, _ in pe]), "ms")
        out[f"engine.{verb}.exec_ms"] = metric(1e3 * median([e for _, e in pe]), "ms")
    for verb in ("insert", "update", "delete", "bulkinsert", "reindex"):
        out[f"engine.{verb}_ms"] = metric(_span_ms(spans, f"engine.{verb}"), "ms")
    for verb in ("insert", "update", "delete"):
        out[f"catalog.{verb}_ms"] = metric(
            _span_ms(spans, f"catalog.{verb}", {verb}, ops), "ms")
    for name in ("ann.reindex", "catalog.commit_staged_index",
                 "catalog.bucket_histogram", "catalog.analyze", "catalog.truncate_wal",
                 "catalog.live_index"):
        out[f"{name}_ms"] = metric(_span_ms(spans, name), "ms")
    out["catalog.analyze_calls"] = metric(
        sum(1 for s in spans if s.name == "catalog.analyze"), "count")
    read_ops = {op for op, v in ops.items() if v.split("_")[0] in READ_VERBS}
    read_spans = [s for s in spans if s.name == "catalog.read" and s.op_id in read_ops]
    out["catalog.read_ms"] = metric(median([1e3 * (s.end - s.start) for s in read_spans]), "ms")
    out["catalog.read_calls_per_op"] = metric(len(read_spans) / max(len(read_ops), 1), "count")
    for name in ("catalog.files_per_version", "catalog.partition_dirs",
                 "ann.buckets_probed", "ann.candidates_per_result"):
        out[name] = metric(median(c.get(name, [])), "count")
    out["catalog.bytes_written_per_user_byte"] = metric(median(bench.commit_growth), "ratio")
    out["catalog.versions_retained"] = metric(bench.versions_retained, "count")
    for verb in ENGINE_VERBS:
        out[f"spark.jobs_per_op.{verb}"] = metric(median(c.get(f"spark.jobs_per_op.{verb}", [])), "count")
        out[f"spark.tasks_per_op.{verb}"] = metric(median(c.get(f"spark.tasks_per_op.{verb}", [])), "count")
    for phase in ("analysis", "optimization", "planning"):
        out[f"spark.catalyst.{phase}_ms"] = metric(median(c.get(f"spark.catalyst.{phase}_ms", [])), "ms")
    for layer, secs in self_time_by_layer(spans).items():
        out[f"self_s.{layer}"] = metric(secs, "s")
    out["trace.overhead_s"] = metric(tracer.overhead_s, "s")
    return out
