"""Environment-perturbation repro harness for the q28b/q49 gates.

The r8/r9 driver rounds reported ``hash_match: false`` on these gates
while every in-session re-run (all SFs) was green — i.e. the failure was
environment-dependent. This harness re-runs both gates against their
DuckDB oracles under deliberately perturbed environments, each in a
FRESH subprocess (JVM options and thread-pool env only bind at session
launch): master local[1]/local[4], shuffle.partitions 1/7/200,
single-threaded BLAS, a Turkish JVM locale (the classic upper/lowercase
trap), HotSpot's full tiered JIT (C2) in place of the factory's C1-only
driver, small Arrow batches (different pandas_udf batch shapes), and
Arrow disabled entirely (the driver's session — the r11 NaN episode).

Any FAIL here reproduces the driver's red row and names the trigger.
Run: ``python tools/perturb_gates.py [sf_dir]``.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: The gates whose pins depend on float ORDERINGS each engine computes
#: independently — the class that produced the r8/r9 driver reds: the
#: two formerly-red gates plus q53 (its r10 hybrid leg ranks by cosine).
GATES = [
    "q05_knn_metrics",  # r11: pq_exact engine leg orders by rescored l2
    "q28b_embedding_near_dup_bucketed",
    "q49_repetition_ratio",
    "q53_vocab_top_tokens",
    # r11: the mutating engine pipeline (EXPORT shard cycle, RESTORE
    # hard-link rollback, HISTORY commit-sequence pins) — filesystem
    # side effects rather than float orderings, but the same "only the
    # driver's env is different" failure surface.
    "q48_dedup_engine_roundtrip",
    # late r11: the fused one-scan multi-model scoring rewrite — its
    # snap-rounded float pins (dsir_avg/dsir_max) ride a new plan.
    "q54_mixture_sampling",
]

RUNNER_BODY = r"""
import os, sys
sys.path.insert(0, REPO)
from vrod_spark.session import get_spark
from tools.check_oracle import canon, duck_connect
from vrod_spark.queries import ORACLES, QUERIES

spark = get_spark("perturb", master=MASTER, shuffle_partitions=SHUFFLE,
                  extra_conf=EXTRA)
con = duck_connect(SF_DIR)
rc = 0
for name in GATES:
    sdf = QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    rel = con.execute(ORACLES[name])
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    sc, dc = canon(srows, sdf.columns), canon(drows, dcols)
    if len(srows) != len(drows) or sc != dc:
        rc = 1
        diff = [(a, b) for a, b in zip(sc, dc) if a != b][:2]
        print(f"FAIL {name}: rows {len(srows)}/{len(drows)} diff={diff}")
    else:
        print(f"ok {name} ({len(srows)} rows)")
spark.stop()
sys.exit(rc)
"""

CONFIGS: list[tuple[str, dict]] = [
    ("local1", dict(master="local[1]", shuffle=1)),
    ("local4", dict(master="local[4]", shuffle=4)),
    ("shuffle7", dict(shuffle=7)),
    ("shuffle200", dict(shuffle=200)),
    ("blas1", dict(env={"OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
                        "MKL_NUM_THREADS": "1"})),
    ("locale_tr", dict(extra={
        "spark.driver.extraJavaOptions": "-Duser.language=tr -Duser.country=TR",
    })),
    # get_spark's driver JVM compiles with C1 only; cluster executors and
    # deployments that override it run HotSpot's full tiered JIT (C2).
    # extraJavaOptions follow the factory's defaultJavaOptions, and the
    # JVM takes the last value, so this config runs the gates under C2.
    ("c2_tiered", dict(extra={
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=4",
    })),
    ("arrow1k", dict(extra={
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1000",
    })),
    ("arrow97", dict(extra={
        "spark.sql.execution.arrow.maxRecordsPerBatch": "97",
    })),
    # Driver parity (r11 postmortem): the driver's session never enables
    # Arrow, so every createDataFrame(pandas) takes the row-pickling
    # conversion path, which is STRICTER about dtypes (r11: HISTORY's
    # int+None -> float64/NaN frame died with "LongType() can not accept
    # object nan" only in the driver). Two consecutive red episodes
    # (HUGEINT r8-r10, NaN r11) were builder-vs-driver representation
    # gaps invisible to every Arrow-on in-session check.
    ("arrow_off", dict(extra={
        "spark.sql.execution.arrow.pyspark.enabled": "false",
    })),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    failures = 0
    for label, cfg in CONFIGS:
        header = (
            f"REPO = {REPO!r}\n"
            f"MASTER = {cfg.get('master')!r}\n"
            f"SHUFFLE = {cfg.get('shuffle')!r}\n"
            f"EXTRA = {cfg.get('extra', {})!r}\n"
            f"SF_DIR = {sf_dir!r}\n"
            f"GATES = {GATES!r}\n"
        )
        code = header + RUNNER_BODY
        env = dict(os.environ, **cfg.get("env", {}))
        # The matrix assumes the factory defaults except for the one
        # perturbed knob — ambient overrides would silently change what
        # each config actually tests.
        env.pop("SPARK_GRAFT_CPUS", None)
        env.pop("SPARK_GRAFT_SHUFFLE", None)
        try:
            res = subprocess.run(
                [sys.executable, "-c", code], env=env, cwd=REPO,
                capture_output=True, text=True, timeout=900,
            )
        except subprocess.TimeoutExpired:
            # One wedged JVM must not abort the remaining configs.
            failures += 1
            print(f"{label:12s} FAIL  (timeout after 900s)")
            continue
        tail = "; ".join(
            ln for ln in res.stdout.splitlines() if ln.startswith(("ok", "FAIL"))
        )
        status = "PASS" if res.returncode == 0 else "FAIL"
        if res.returncode != 0:
            failures += 1
            sys.stdout.write(res.stderr[-2000:] + "\n")
        print(f"{label:12s} {status}  {tail}")
    print(f"\n{len(CONFIGS) - failures}/{len(CONFIGS)} configs clean")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
