"""Per-stage cost table from a Spark event log.

Reads an uncompressed event log (``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false``) and prints one JSON line per completed
stage: its id, attempt, name, task count and the stage totals Spark
records in the ``SparkListenerStageCompleted`` accumulables — executor
run time, executor CPU time, task-binary deserialize CPU time, JVM GC time
and shuffle write time, all in milliseconds. A fixed per-task cost (the
deserialize column) against the work itself (run and CPU time) is what it
makes visible. Stdlib only; the engine never enables the event log.

Usage: python tools/stage_profile.py <event-log dir or file>

The path may be a single event-log file, a rolling ``eventlog_v2_*`` dir,
or a ``spark.eventLog.dir`` holding several applications.
"""

from __future__ import annotations

import json
import os
import sys

#: output key -> (accumulable name, divisor to milliseconds)
METRICS = {
    "executorRunTime_ms": ("internal.metrics.executorRunTime", 1),
    "executorCpuTime_ms": ("internal.metrics.executorCpuTime", 1e6),
    "executorDeserializeCpuTime_ms": (
        "internal.metrics.executorDeserializeCpuTime", 1e6),
    "jvmGCTime_ms": ("internal.metrics.jvmGCTime", 1),
    "shuffleWriteTime_ms": ("internal.metrics.shuffle.write.writeTime", 1e6),
}


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith((".", "appstatus_"))
    )


def stage_rows(path: str):
    """Yield one dict per ``SparkListenerStageCompleted`` event under
    ``path``, in log order."""
    for fname in _event_files(path):
        with open(fname, "rb") as f:
            head = f.read(1)
            if head and head != b"{":
                raise ValueError(
                    f"{fname}: not a JSON event log (compressed? set "
                    "spark.eventLog.compress=false)")
            f.seek(0)
            for line in f:
                # An in-progress log may end in a partly written line.
                try:
                    event = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if event.get("Event") != "SparkListenerStageCompleted":
                    continue
                info = event["Stage Info"]
                acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                row = {
                    "stage": info["Stage ID"],
                    "attempt": info.get("Stage Attempt ID", 0),
                    "name": info.get("Stage Name", ""),
                    "tasks": info["Number of Tasks"],
                    "failed": "Failure Reason" in info,
                }
                for key, (name, div) in METRICS.items():
                    row[key] = round(int(acc.get(name) or 0) / div, 3)
                yield row


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 1:
        print(__doc__.split("\n\n")[2], file=sys.stderr)
        return 2
    for row in stage_rows(argv[0]):
        print(json.dumps(row))
    return 0


if __name__ == "__main__":
    sys.exit(main())
