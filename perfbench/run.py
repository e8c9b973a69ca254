"""The repository's benchmark: one workload per run, one closed-loop
client, ``local[<cpus>]``.

    python3 perfbench/run.py --workload db_sync --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It builds nothing: the program is the
Python package beside this directory. Each run

1. sets the program up: session start, input generation from
   ``--seed``, seeding, warm-up passes;
2. runs measured passes until ``--seconds`` have passed and the
   workload's minimum pass count is reached;
3. checks the outputs (untimed);
4. prints a table of every metric, then one JSON line: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

End-to-end times are scaled by the share of CPU time the hypervisor did
not steal while they ran (``harness.unstolen_share``).

With ``--trace 1`` passes alternate untraced and traced; spans are kept
in memory and written to ``.bench_out/`` when the run ends.

All files go under ``.bench_work/`` in the checkout and are removed at
the end. ``perfbench/NOTES.md`` defines every metric per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "cpt_database_sync_spark"
DRIVER_MEM = "2g"  # the program's default, 32g, overcommits a 15 GB host without swap
# Layers the spans attribute time to (see NOTES.md, "Per-layer metrics").
LAYERS = [
    "bench", "sources.sync", "sources.catalog", "streaming.incremental",
    "plans.tpch", "plans.sqlfront", "operators.relational",
    "operators.llm_dedup", "operators.llm_text", "operators.llm_similarity",
    "spark",
]


def configure(work: Path, cpus: int) -> None:
    """Size the program for this host through its own environment
    variables, and keep every file it writes inside ``work``."""
    tmp = work / "tmp"
    for d in (tmp, work / "local", work / "scratch"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SCRATCH": str(work / "scratch"),
        "SPARK_GRAFT_LOCAL_DIR": str(work / "local"),
        "SPARK_LOCAL_DIRS": str(work / "local"),  # overrides spark.local.dir
        "TMPDIR": str(tmp),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
    })
    time.tzset()
    sys.path.insert(0, str(ROOT))


def start_session(ctx) -> float:
    """Start the program's session; returns the seconds it took."""
    from cpt_database_sync_spark.session import get_spark
    from harness import JobMeter

    t0 = time.perf_counter()
    ctx.spark = get_spark(app_name="perfbench")
    ctx.jobs = JobMeter(ctx.spark)
    return time.perf_counter() - t0


def stop_everything(ctx, workload) -> None:
    """Close the workload's databases, stop Spark and its JVM, and wait
    until every process this run started has ended."""
    from harness import descendants

    if ctx.spark is not None:
        if workload is not None:
            workload.close()
        try:
            ctx.spark._jvm.java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")  # noqa: SLF001
        except Exception:  # noqa: BLE001 - Derby signals shutdown with an exception
            pass
        ctx.spark.stop()
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    pids = descendants()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            break
        time.sleep(0.2)
    else:
        for p in alive:
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] == "Z"
    except OSError:
        return True


def fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no program sources at {PACKAGE}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(names)}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    configure(work, cpus)

    from harness import RssPeak, Tracer
    from query_workloads import Queries
    from sync_workloads import CdcApply, DbSync
    from workload import Ctx

    classes = {c.name: c for c in (DbSync, CdcApply, Queries)}
    ctx = Ctx(seed=args.seed, workdir=str(work), cpus=cpus, tracer=Tracer())
    workload = None
    try:
        workload = classes[args.workload](ctx)
        with RssPeak() as rss:
            run = measure(ctx, workload, args.seconds, bool(args.trace))
        t_check = time.perf_counter()
        failures = workload.check()
        print(f"# phases: setup {run.setup_s:.1f} s, measure {run.measure_s:.1f} s, "
              f"check {time.perf_counter() - t_check:.1f} s", file=sys.stderr)
        result = report(args, spec, ctx, workload, run, failures, rss.peak_mb)
    finally:
        stop_everything(ctx, workload)
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()
    print(json.dumps(result))
    return 0


@dataclass
class Pass:
    wall: float  # seconds
    share: float  # unstolen share of the CPU time wanted during the pass
    units: list
    traced: bool

    @property
    def seconds(self) -> float:
        return self.wall * self.share


@dataclass
class Run:
    setup_s: float  # steal-corrected, as every time below
    session_s: float
    measure_s: float
    passes: list[Pass]
    pass_jobs: list  # (first job id, next job id) per pass


def measure(ctx, workload, seconds: float, trace: bool) -> Run:
    """Set up once, then run passes until ``seconds`` have passed, the
    workload's minimum pass count is reached and, when tracing, both an
    untraced and a traced pass ran. Passes alternate untraced/traced."""
    from harness import cpu_jiffies, unstolen_share

    j0, t0 = cpu_jiffies(), time.perf_counter()
    session_s = start_session(ctx)
    workload.setup()
    setup_s = (time.perf_counter() - t0) * unstolen_share(j0, cpu_jiffies())

    passes, pass_jobs = [], []
    t_start = time.perf_counter()
    i = 0
    while (time.perf_counter() - t_start < seconds
           or len(passes) < workload.min_passes
           or (trace and not all(any(p.traced == on for p in passes) for on in (False, True)))):
        workload.prepare(i)
        on = trace and i % 2 == 1
        ctx.tracer.enabled, ctx.tracer.pass_id = on, i
        first_job = ctx.jobs.mark()
        j0, t0 = cpu_jiffies(), time.perf_counter()
        with ctx.tracer.span("pass", "bench"):
            units = workload.run_pass(i)
        wall = time.perf_counter() - t0
        passes.append(Pass(wall, unstolen_share(j0, cpu_jiffies()), units, on))
        ctx.tracer.enabled = False
        pass_jobs.append((first_job, ctx.jobs.mark()))
        i += 1
    return Run(setup_s, session_s, time.perf_counter() - t_start, passes, pass_jobs)


def report(args, spec, ctx, workload, run: Run, failures: list[str], peak_mb: float) -> dict:
    """Print the metric table and return the JSON result. Every time is
    scaled by its pass's unstolen share (``harness.unstolen_share``)."""
    from harness import geomean, median, percentile, tail_level

    plain = [p for p in run.passes if not p.traced]
    traced = [p.seconds for p in run.passes if p.traced]
    times, by_unit = [], {}
    for p in plain:
        for u in p.units:
            if u.ok:
                times.append(u.seconds * p.share)
                by_unit.setdefault(u.name, []).append(u.seconds * p.share)
    level = tail_level(workload.min_units)
    attempted = sum(len(p.units) for p in run.passes)
    failed = sum(1 for p in run.passes for u in p.units if not u.ok) + len(failures)
    e2e = {
        "setup_s": (run.setup_s, "s"),
        "pass_s": (median([p.seconds for p in plain]), "s"),
        "rows_per_s": (median([sum(u.rows for u in p.units) / p.seconds
                               for p in plain]), "1/s"),
        "batch_p50_s": (percentile(times, 0.5), "s"),
        "batch_tail_s": (percentile(times, level), "s"),
        "query_geomean_s": (geomean([median(v) for v in by_unit.values()]), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "failed_ratio": (failed / max(1, attempted), "ratio"),
        "stored_bytes_ratio": (workload.stored_bytes_ratio(), "ratio"),
    }

    layer = workload.layer_metrics([p.units for p in run.passes])
    stats = [ctx.jobs.stat(*r) for r in run.pass_jobs]
    layer["spark.jobs"] = median([s.jobs for s in stats])
    layer["spark.tasks"] = median([s.tasks for s in stats])
    layer["session.start_s"] = run.session_s
    if args.trace:
        per_pass = ctx.tracer.self_times()
        ids = [i for i, p in enumerate(run.passes) if p.traced]
        for name in sorted({n for i in ids for n in per_pass[i]} | set(LAYERS)):
            layer[f"self_s.{name}"] = median([per_pass[i].get(name, 0.0) for i in ids])
        layer["trace.overhead_s"] = median(traced) - e2e["pass_s"][0]
        out = ROOT / ".bench_out" / f"trace-{args.workload}-seed{args.seed}.json"
        ctx.tracer.dump(str(out))
        print(f"# spans: {out.relative_to(ROOT)} ({len(ctx.tracer.spans)} spans)")

    print(f"# workload {args.workload}  seed {args.seed}  cpus {ctx.cpus}  "
          f"passes {len(run.passes)} ({len(traced)} traced)  "
          f"units ({workload.unit_kind}) measured {len(times)}  "
          f"batch_tail_s = p{round(level * 100)}")
    print("# pass wall s / unstolen share: "
          + "  ".join(f"{p.wall:.3f}/{p.share:.3f}" for p in run.passes))
    for f in failures:
        print(f"# CHECK FAILED {f}")
    for name, (value, unit) in e2e.items():
        print(f"{name:<28} {fmt(value):>14} {unit}")
    if args.trace:
        for name in sorted(layer):
            print(f"{name:<44} {fmt(layer[name]):>14}")

    if args.trace:
        values = {m["name"]: layer.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {m["name"]: e2e[m["name"]][0] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
