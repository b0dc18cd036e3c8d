"""SparkSession factory tuned for the engine.

Defaults are sized for local[N] testing but every knob is the one that
matters on a real cluster too: AQE for runtime re-planning (skew joins,
partition coalescing), Arrow for the Python boundary, UTC session time
zone so results are oracle-comparable, and shuffle partitions matched to
parallelism instead of the legacy 200. The one driver-only knob is the JIT
policy: the driver JVM compiles with C1 only (see ``get_spark``), while
executors keep HotSpot's full tiered compiler.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: Default local-mode driver heap. In local mode the ONE JVM is driver +
#: all executor threads, and Spark's own default is 1 GiB — marginal
#: under a ~50-query concurrent suite (the BENCH_r12 death).
DEFAULT_DRIVER_MEM = "12g"


_MEM_UNIT_MIB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
#: Spark's own driver floor is ~450 MiB (it refuses to start below it);
#: anything smaller is a typo, not a choice.
_MIN_DRIVER_MIB = 512


def parse_driver_mem(raw: str | None) -> str:
    """Tolerant parse of the SPARK_GRAFT_DRIVER_MEM knob: a JVM memory
    string (digits + k/m/g/t unit) of at least 512 MiB passes through
    lowercased; anything else — empty, garbage, a bare number (Spark
    reads "12" as 12 MiB, far below its own floor, never what the
    operator meant), or a sub-floor value like "0g"/"1k" the JVM cannot
    start with — falls back to the default instead of crashing deep
    inside the py4j gateway launch (the r11 SPARK_GRAFT_CPUS lesson).
    The substitution is LOUD (one stderr line) whenever a non-empty
    value is overridden — a silently upsized heap on a constrained box
    is its own failure mode."""
    import sys

    val = (raw or "").strip().lower()
    # Optional trailing 'b' (r13 advice): Spark's own JavaUtils
    # byteStringAsBytes accepts '12gb'/'2048mb' — rejecting them here
    # silently substituted a 12g default for an operator deliberately
    # capping the heap. Normalize to the single-letter form.
    m = re.fullmatch(r"([0-9]+)([kmgt])b?", val)
    if m and int(m.group(1)) * _MEM_UNIT_MIB[m.group(2)] >= _MIN_DRIVER_MIB:
        return m.group(1) + m.group(2)
    if val:
        print(
            f"SPARK_GRAFT_DRIVER_MEM={raw!r} is not a usable JVM memory "
            f"string (need digits + k/m/g/t unit, >= {_MIN_DRIVER_MIB}m); "
            f"using {DEFAULT_DRIVER_MEM}",
            file=sys.stderr,
            flush=True,
        )
    return DEFAULT_DRIVER_MEM


def get_spark(
    app_name: str = "vrod-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a cluster, ``master`` comes from spark-submit; locally we default to
    ``local[$SPARK_GRAFT_CPUS]`` (all cores). ``shuffle_partitions`` defaults
    to the local parallelism; at 100 TB scale it should be set so that
    post-shuffle partitions land in the 100-200 MB range — AQE's
    ``coalescePartitions`` handles the fine-tuning at runtime either way.
    """
    # Tolerant parse for BOTH env knobs (r11 review: only SHUFFLE was
    # tolerant; `SPARK_GRAFT_CPUS= python bench.py` crashed on int('')
    # and produced master 'local[]'): empty/garbage/non-positive falls
    # back to '*'.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*").strip() or "*"
    if cpus != "*":
        try:
            cpus = str(max(int(cpus), 1))
        except ValueError:
            cpus = "*"
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            env_shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE") or "0")
        except ValueError:
            env_shuffle = 0
        shuffle_partitions = (
            env_shuffle if env_shuffle > 0 else (32 if cpus == "*" else int(cpus))
        )

    # Driver heap (r12 verdict's hard failure): in local mode the ONE JVM
    # is driver + all executor threads, and Spark's default is 1 GiB —
    # marginal under a ~50-query concurrent suite with a 64 MB broadcast
    # threshold, a 4096-entry codegen cache, and eagerly-materialized
    # shared snapshots (BENCH_r12 died mid-suite with py4j
    # ConnectionRefused when the default-heap JVM exited; the GCLocker
    # warnings at the -Xlog config below were the earlier symptom). Only
    # binds when THIS call launches the JVM (always in practice — the
    # factory is the engine's entry point); on a cluster spark-submit
    # owns it. Tolerant parse: see parse_driver_mem.
    driver_mem = parse_driver_mem(os.environ.get("SPARK_GRAFT_DRIVER_MEM"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE sort-merge → shuffled-hash rewrite (guide §3.1,
        # spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold): left
        # at Spark's default, 0 = off. Isolated-query probes favored it
        # (q53 0.84→0.56 s, q54 1.31→0.97 s, q42 0.71→0.57 s serial at
        # sf0.1), but the engine is multi-tenant: under the 46-query
        # concurrent suite every converted join's per-partition hash
        # build bids against every other query's operators for the ONE
        # unified execution-memory pool, and the suite wall regressed
        # 12-13 s → ≥17.3 s across 8 measured passes (min-statistics;
        # same windows read 9.2-15.7 s with the rewrite off — r16
        # bisect, OPTIMIZATION_r16.md). Sort-merge's streaming/spill
        # path degrades gracefully under that contention; the hash build
        # does not. Deployments with per-executor memory isolation (a
        # real cluster, where concurrent queries do not share one pool)
        # can opt in through get_spark(extra_conf={...: "64m"}).
        # Fair scheduling across concurrently-submitted jobs (the engine is
        # multi-tenant: the SQL surface, streams, and bench submit from
        # many threads; FIFO would head-of-line-block behind big stages).
        .config("spark.scheduler.mode", "FAIR")
        # Arrow-vectorized transfer for every Python/pandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic, oracle-comparable timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # Small dims (region/nation/supplier) should always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-class cache sized for the engine's query library. The
        # default (100 entries) evicts constantly under a ~50-query
        # workload whose plans compile to several classes each, so every
        # re-planned query pays Janino again; a long-lived engine keeps
        # its compiled operators resident (read at first codegen — must be
        # set at session build, not at runtime).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Python workers over Unix domain sockets (Spark 4.1+): the local
        # TCP loopback path pays Nagle/delayed-ACK style stalls on every
        # JVM->worker task handshake (~60 ms per python-boundary job
        # measured on this kernel); UDS has no such machinery. Safe on a
        # single host; on a cluster the sockets are per-executor-local
        # anyway.
        .config("spark.python.unix.domain.socket.enabled", "true")
        # JVM unified logging defaults to STDOUT (-Xlog:all=warning:stdout),
        # so a GC warning under memory pressure (observed: "Retried waiting
        # for GCLocker too often") lands BETWEEN bench.py's JSON lines and
        # corrupts any stdout-JSON consumer. Route JVM warnings to stderr;
        # only effective for sessions that launch the JVM (i.e. always in
        # practice — the factory is the engine's entry point).
        #
        # The driver JVM compiles with C1 only (TieredStopAtLevel=1). The
        # driver's work is planning, codegen and thousands of short-lived
        # generated classes, and in local mode the same JVM runs every
        # task. C2 never pays that back: on 4 vCPUs (local[4]) its compiler
        # threads used 45-49 CPU-s of a perfbench ingest_mutate run and
        # 59-67 CPU-s of an analytics_suite run, against 11-21 CPU-s for
        # every task thread together, and C2's warm passes only beat C1's
        # after ~30 passes. C1 only, medians of 10 perfbench pairs:
        # analytics_suite cold_cpu_s 53.9 -> 23.8, setup_s 23.3 -> 12.7
        # (PERF.md "JIT layer").
        # TieredStopAtLevel=1 alone shrinks HotSpot's default code cache
        # from 240 MB to 48 MB, which the query library overflows ("Out of
        # space in CodeCache for adapters" killed the JVM 40 s into
        # bench.py at sf0.1; peak use is 66 MB there and 98 MB over a
        # full tier-1 test run), so the cache is pinned
        # at 240m. Executors (spark.executor.*) keep the full tiered JIT:
        # on a cluster they run the long hot loops C2 pays back. Spark
        # appends spark.driver.extraJavaOptions after these and HotSpot
        # takes the last value, so a deployment gets C2 back with
        # -XX:TieredStopAtLevel=4 there.
        .config(
            "spark.driver.defaultJavaOptions",
            "-Xlog:all=warning:stderr:uptime,level,tags"
            " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
        )
        # List up to 1024 directories on the driver (Spark's default: 32).
        # Every directory the catalog lists is on the driver's own POSIX
        # filesystem (it commits with os.rename/os.link), so the 256
        # bucket= dirs of a sign-LSH snapshot cost 256 local readdirs; above
        # the threshold Spark instead runs a listing job of one task per
        # directory. On 4 vCPUs (20k x 64 vectors, 256 buckets) that job
        # made an UPDATE 2 jobs / 265 tasks, 1.60 s wall, 5.6 CPU-s; listed
        # here it is 1 job / 9 tasks, 0.76 s, 2.7 CPU-s. Layouts of more
        # than 1024 directories keep Spark's parallel listing.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # Quiet UI/retries for non-interactive runs.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def jvm_counters(spark: SparkSession) -> dict:
    """The driver JVM's own JIT, GC and CPU counters, read through py4j.

    ``compile_ms`` is the JIT's total compilation time; ``gc_ms`` and
    ``gc_count`` are summed over every garbage collector. ``used_mb`` and
    ``peak_mb`` cover the code cache: the ``CodeCache`` pool, or the
    ``CodeHeap *`` pools of a segmented cache (``peak_mb`` sums the pools'
    own peaks). ``jvm_cpu_s`` is the JVM process's user + system CPU from
    ``/proc/<pid>/stat``. All but ``used_mb`` only grow over a session.
    """
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = gc_count = 0
    for gc in mf.getGarbageCollectorMXBeans():
        gc_ms += max(gc.getCollectionTime(), 0)
        gc_count += max(gc.getCollectionCount(), 0)
    used = peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        name = pool.getName()
        if name == "CodeCache" or name.startswith("CodeHeap "):
            used += pool.getUsage().getUsed()
            peak += pool.getPeakUsage().getUsed()
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # Fields 14 and 15 of proc(5) (utime, stime): 11 and 12 after the comm.
    ticks = int(fields[11]) + int(fields[12])
    return {
        "compile_ms": int(mf.getCompilationMXBean().getTotalCompilationTime()),
        "gc_ms": int(gc_ms),
        "gc_count": int(gc_count),
        "used_mb": round(used / 2**20, 1),
        "peak_mb": round(peak / 2**20, 1),
        "jvm_cpu_s": round(ticks / os.sysconf("SC_CLK_TCK"), 2),
    }
