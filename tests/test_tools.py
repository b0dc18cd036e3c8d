"""The diagnostic tools are part of the correctness story (SURVEY §5.6's
integer-pin policy leans on them) — keep them from rotting."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.exists(SF), reason="driver testdata absent")
def test_pin_margins_reports_safe_margins(capsys, monkeypatch):
    """All audited gate-pin boundaries sit far above cross-engine drift
    at the smoke SF, the informational row stays out of the verdict, and
    the exit code is green."""
    sys.path.insert(0, REPO)
    from tools.pin_margins import main

    monkeypatch.setattr(sys, "argv", ["pin_margins.py", SF])
    rc = main()
    out = capsys.readouterr().out
    assert rc == 0
    assert "worst margin" in out
    # every audited boundary present
    for name in (
        "q28b_assignment_margin_min",
        "q28b_ccos_u6_snap_margin_min",
        "q49_repetition_cut_gap",
        "q49_dup_spans_cut_gap",
        "q49_decon_spans_cut_gap",
    ):
        assert name in out
    assert "(informational)" in out
    worst = float(out.split("worst margin:")[1].split()[0])
    assert worst > 1e-9


def test_check_oracle_canon_rounds_and_orders():
    """The gate-replica canonicalizer: column-name ordering, 6dp float
    grid, NaN and date handling — the exact compare semantics every
    oracle pin is written against."""
    import datetime
    import math

    sys.path.insert(0, REPO)
    from tools.check_oracle import canon

    rows = [(2.00000049, "b", datetime.date(2024, 1, 2)),
            (float("nan"), "a", datetime.date(2024, 1, 1))]
    got = canon(rows, ["z_val", "a_key", "m_date"])
    # columns sort to (a_key, m_date, z_val); rows sort canonically
    assert got == sorted(got)
    assert any("'NaN'" in v for row in got for v in row)
    assert any("2.0" == v.strip("'") for row in got for v in row if "2.0" in v)
    assert not any("2.00000049" in v for row in got for v in row)


@pytest.mark.skipif(not os.path.exists(SF), reason="driver testdata absent")
def test_gate_dump_wrapper_paths(spark, tmp_path, monkeypatch):
    """r12: every gate is wrapped — green plain gates dump NOTHING,
    a compare mismatch dumps both engines' rows + MISMATCH status, and
    a build-time raise dumps the traceback while still propagating.
    This is the machinery that turns a driver-red round into a one-file
    diff (r8-r10 HUGEINT / r11 NaN both lacked it)."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    dump_dir = str(tmp_path / "gate_dumps")
    monkeypatch.setattr(E, "_DUMP_DIR", dump_dir)

    # Green gate, not in the always-dump set: no files at all.
    fn = E._with_dump(
        "q01_pricing_summary", E.QUERIES["q01_pricing_summary"], always=False
    )
    fn(spark, SF).collect()
    assert not os.path.exists(dump_dir)

    # Deliberate oracle mismatch: rows + MISMATCH status land on disk.
    monkeypatch.setitem(
        E.ORACLES, "q01_pricing_summary",
        "SELECT 1::BIGINT AS nothing_like_the_real_result",
    )
    fn(spark, SF).collect()
    status = open(os.path.join(dump_dir, "q01_pricing_summary.status.txt")).read()
    assert status.startswith("MISMATCH")
    assert os.path.exists(os.path.join(dump_dir, "q01_pricing_summary.spark.txt"))
    assert os.path.exists(os.path.join(dump_dir, "q01_pricing_summary.duck.txt"))
    assert os.path.exists(os.path.join(dump_dir, "env.txt"))

    # Back to green: the stale MISMATCH evidence is retired (r12 review
    # — leftover red files would read as live disagreement next round)
    # but ARCHIVED as .prev, not unlinked (r12 advice: if the driver's
    # own compare disagrees with the wrapper's grid verdict, the prior
    # round's rows are exactly the diagnostic that was being deleted).
    monkeypatch.undo()
    monkeypatch.setattr(E, "_DUMP_DIR", dump_dir)
    fn(spark, SF).collect()
    assert not os.path.exists(
        os.path.join(dump_dir, "q01_pricing_summary.status.txt")
    )
    assert not os.path.exists(
        os.path.join(dump_dir, "q01_pricing_summary.spark.txt")
    )
    prev = open(
        os.path.join(dump_dir, "q01_pricing_summary.status.txt.prev")
    ).read()
    assert prev.startswith("MISMATCH")
    assert os.path.exists(
        os.path.join(dump_dir, "q01_pricing_summary.spark.txt.prev")
    )

    # Build-time raise: error dump written, exception still propagates.
    def boom(spark, sf_dir):
        raise RuntimeError("synthetic build failure")

    wrapped = E._with_dump("qXX_synthetic", boom, always=False)
    with pytest.raises(RuntimeError, match="synthetic build failure"):
        wrapped(spark, SF)
    err = open(os.path.join(dump_dir, "qXX_synthetic.error.txt")).read()
    assert "synthetic build failure" in err and "sf_dir=" in err


def test_worker_probe_records_anomalies(monkeypatch):
    """ADVICE r14: a query that fails inside a timed probe pass must be
    RECORDED (retried once -> 'retried'; failed twice -> 'failed'), never
    silently retried or allowed to escape pool.map and abort the run."""
    sys.path.insert(0, REPO)
    import tools.worker_probe as wp

    class FakeDF:
        def __init__(self, fn):
            self._fn = fn

        def collect(self):
            return self._fn()

    def boom():
        raise RuntimeError("synthetic query failure")

    def mk(*behaviors):
        it = iter(behaviors)

        def build(spark, sf_dir):
            return FakeDF(next(it))

        return build

    fakes = {
        "ok": mk(lambda: []),
        "flaky": mk(boom, lambda: []),
        "dead": mk(boom, boom),
    }
    monkeypatch.setattr(wp, "RAW_QUERIES", fakes)

    class FakeSC:
        def setLocalProperty(self, k, v):
            pass

    class FakeSpark:
        sparkContext = FakeSC()

    anomalies: list[dict] = []
    wall = wp.suite_pass(FakeSpark(), "/none", ["ok", "flaky", "dead"], 2, anomalies)
    assert wall >= 0  # the pass completed despite the dead query
    outcomes = {(a["query"], a["outcome"]) for a in anomalies}
    assert outcomes == {("flaky", "retried"), ("dead", "failed")}
    assert all("synthetic query failure" in a["error"] for a in anomalies)


def test_stage_profile_reduces_stage_completed_events(tmp_path, capsys):
    """tools/stage_profile.py folds each StageCompleted event's accumulables
    into one JSON line (ns CPU counters to ms), skips other events and an
    in-progress log's partly written last line, and reads a rolling
    ``eventlog_v2_*`` dir."""
    import json

    sys.path.insert(0, REPO)
    from tools.stage_profile import main

    def acc(name, value):
        return {"ID": 1, "Name": f"internal.metrics.{name}", "Value": value}

    stage = {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 3, "Stage Attempt ID": 0, "Stage Name": "parquet at x:0",
        "Number of Tasks": 256, "Accumulables": [
            acc("executorRunTime", 3100),
            acc("executorCpuTime", 2_400_000_000),
            acc("executorDeserializeCpuTime", "6500000000"),
            acc("jvmGCTime", 42),
            acc("shuffle.write.writeTime", 1_500_000),
        ]}}
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    (log / "appstatus_local-1.inprogress").write_text("")
    (log / "events_1_local-1").write_text("\n".join([
        json.dumps({"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}),
        json.dumps(stage),
        '{"Event": "SparkListenerJobEnd", "Job',
    ]) + "\n")

    assert main([str(tmp_path)]) == 0
    rows = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert rows == [{
        "stage": 3, "attempt": 0, "name": "parquet at x:0", "tasks": 256,
        "failed": False, "executorRunTime_ms": 3100, "executorCpuTime_ms": 2400.0,
        "executorDeserializeCpuTime_ms": 6500.0, "jvmGCTime_ms": 42,
        "shuffleWriteTime_ms": 1.5,
    }]
