"""Smoke tests of the benchmark itself, at sf0.001 size.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs in its own process (a stopped PySpark gateway cannot be
restarted in-process): ``python3 perfbench/test_smoke.py <mode> <workload>``
shrinks the workloads, then either runs the benchmark (``metrics``) or
checks that the output checks pass on a clean result and fail on a
corrupted one (``corrupt``). It prints one JSON line.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
TABLE_METRICS = [m["name"] for m in SPEC["end_to_end"]] + [
    "batch_p50_s", "batch_tail_s", "peak_rss_mb", "failed_ratio", "stored_bytes_ratio"]


def _probe(*args: str) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, str(Path(__file__)), *args], cwd=ROOT,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    result, stdout = _probe("metrics", workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in declared)
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if trace == "0":
            assert got["value"] > 0, m["name"]
    for name in TABLE_METRICS:  # the table names every end-to-end metric
        assert re.search(rf"^{re.escape(name)}\s+\S+\s+\S+$", stdout, re.M), name


@pytest.mark.parametrize("workload", ["db_sync", "cdc_apply"])
def test_checks_fail_on_a_corrupted_result(workload):
    result, _ = _probe("corrupt", workload)
    assert result["clean"] == []
    assert len(result["corrupted"]) >= 1


# ------------------------------------------------------------------ probe

def _shrink() -> None:
    from query_workloads import Queries
    from sync_workloads import CdcApply, DbSync

    DbSync.SF = Queries.SF = 0.001
    DbSync.min_passes = CdcApply.min_passes = Queries.min_passes = 1
    CdcApply.REPLICA_ROWS, CdcApply.FILES_PER_PASS = 300, 3
    Queries.DOCS = Queries.VECS = 120
    Queries.WARMUP_PASSES = 1


def _corrupt(workload: str) -> dict:
    import run
    from harness import Tracer
    from sync_workloads import CdcApply, DbSync, _execute
    from workload import Ctx

    work = ROOT / ".bench_work" / f"smoke-{os.getpid()}"
    run.configure(work, 2)
    ctx = Ctx(seed=5, workdir=str(work), cpus=2, tracer=Tracer())
    wl = {"db_sync": DbSync, "cdc_apply": CdcApply}[workload](ctx)
    try:
        run.start_session(ctx)
        wl.setup()
        wl.prepare(0)
        wl.run_pass(0)
        clean = wl.check()
        if workload == "db_sync":  # one dropped row
            _execute(ctx.spark, wl.tgt, [
                "DELETE FROM REGION WHERE R_REGIONKEY = (SELECT MIN(R_REGIONKEY) FROM REGION)"
            ])
        else:  # one delete the replica never applied
            row = next(iter(wl.log.deleted.values()))
            ts = row["ts"].strftime("%Y-%m-%d %H:%M:%S.%f")
            _execute(ctx.spark, wl.url, [
                "INSERT INTO EVENTS_REPLICA (EVENT_ID, TS, USER_ID, EVENT_TYPE, VALUE, PROPS) "
                f"VALUES ({row['event_id']}, TIMESTAMP('{ts}'), {row['user_id']}, "
                f"'{row['event_type']}', {row['value']!r}, '{row['props']}')"
            ])
        return {"clean": clean, "corrupted": wl.check()}
    finally:
        run.stop_everything(ctx, wl)
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    _shrink()
    mode, name = sys.argv[1], sys.argv[2]
    if mode == "metrics":
        import run

        sys.exit(run.main(["--workload", name, "--seed", "3", "--seconds", "0",
                           "--trace", sys.argv[3]]))
    print(json.dumps(_corrupt(name)))
