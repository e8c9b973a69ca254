"""The query workload: dashboards re-running the same keys over the same
data, and LLM data prep over a corpus the session has never seen."""

from __future__ import annotations

import os
import time

import gen
from harness import median
from workload import Unit, Workload

# Re-run warm over the same data every pass: one key per planner, the
# relational operators and the catalog.
WARM_KEYS = ["sql_tpch_q1", "sql_frontend", "table_profile", "agg_hash"]
# Run over a corpus generated fresh every pass: dedup, text and
# similarity keys of the LLM layer.
COLD_KEYS = ["dedup_exact", "text_stats", "sim_ann_ivf"]
PACKAGE = "cpt_database_sync_spark."


def key_layer(fn) -> str:
    return fn.__module__.removeprefix(PACKAGE)


def oracle_problems(spark_cols, spark_rows, oracle_sql: str, sf_dir: str) -> list[str]:
    """Compare one key's collected result with its DuckDB oracle over the
    same parquet files, with the repository's parity rules."""
    import duckdb

    from tests.parity import compare

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        res = con.execute(oracle_sql)
        ora_cols = [d[0] for d in res.description]
        return compare(spark_cols, spark_rows, ora_cols, res.fetchall())
    finally:
        con.close()


class Queries(Workload):
    """Each pass runs every key once: the warm keys over the run's fixed
    fixture, so the planners, operators and session memos run warm, then
    the cold keys over a corpus generated fresh from (seed, pass), so each
    pass pays the cold builds the memos and stamped indexes skip for the
    warm keys. No key touches JDBC.

    A key's time is construction (the key's callable, with any eager jobs
    it launches), forcing its physical plan, and writing every column
    through the ``noop`` sink.
    """

    name = "queries"
    unit_kind = "key"
    min_passes = 3
    WARMUP_PASSES = 2  # the first is cold; the second lets the JIT settle
    SF = 0.005
    DOCS = 500
    VECS = 500

    def __init__(self, ctx) -> None:
        from cpt_database_sync_spark.plans.registry import all_specs

        super().__init__(ctx)
        self.units_per_pass = len(WARM_KEYS) + len(COLD_KEYS)
        specs = all_specs()
        self.specs = {k: specs[k] for k in WARM_KEYS + COLD_KEYS}
        self.frames: dict[str, tuple] = {}  # key -> (frame, its fixture dir)
        self.input_rows: dict[str, int] = {}
        self.table_rows: dict[str, int] = {}

    def _corpus(self, tag: int) -> str:
        d = self.path(f"corpus_t{tag}")
        self.table_rows.update(gen.write_corpus(d, self.ctx.seed, tag, self.DOCS, self.VECS))
        return d

    def setup(self) -> None:
        self.fixture = self.path("fixture")
        self.table_rows = gen.write_fixture(
            self.fixture, self.ctx.seed, gen.Sizes.scaled(self.SF)
        )
        self.input_rows = {}
        for tag in range(self.WARMUP_PASSES):
            self.corpus_dir = self._corpus(tag)
            self.run_pass(-1)

    def prepare(self, pass_id: int) -> None:
        self.corpus_dir = self._corpus(self.WARMUP_PASSES + pass_id)

    def run_pass(self, pass_id: int) -> list[Unit]:
        return [self._run_key(k, self.fixture) for k in WARM_KEYS] + [
            self._run_key(k, self.corpus_dir) for k in COLD_KEYS
        ]

    def _input_rows(self, df) -> int:
        """Rows of the input tables the key's plan scans."""
        names = {os.path.basename(f if f.endswith(".parquet") else os.path.dirname(f))
                 for f in df.inputFiles()}
        return sum(self.table_rows.get(n.removesuffix(".parquet"), 0) for n in names)

    def _run_key(self, key: str, sf_dir: str) -> Unit:
        spark, tr, jobs = self.ctx.spark, self.ctx.tracer, self.ctx.jobs
        spec = self.specs[key]
        detail = {}
        ok = True
        j0 = jobs.mark()
        t0 = time.perf_counter()
        with tr.span(f"key:{key}", "bench"):
            try:
                with tr.span("construct", key_layer(spec.fn)) as sp:
                    df = spec.fn(spark, sf_dir)
                t1 = time.perf_counter()
                j1 = jobs.mark()
                with tr.span("executedPlan", "spark"):
                    df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                t2 = time.perf_counter()
                with tr.span("noop write", "spark"):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                detail = {
                    "construct_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
                    "cjobs": (j0, j1), "ejobs": (j1, jobs.mark()),
                    "span": sp.sid if sp is not None else None,
                }
                self.frames[key] = (df, sf_dir)
            except Exception as exc:  # noqa: BLE001 - counted, never dropped
                ok = False
                self.frames.pop(key, None)
                print(f"# {key}: {type(exc).__name__}: {str(exc)[:300]}")
        seconds = time.perf_counter() - t0
        if ok and key not in self.input_rows:
            self.input_rows[key] = self._input_rows(df)
        return Unit(key, seconds, self.input_rows.get(key, 0), ok, detail)

    def check(self) -> list[str]:
        bad = []
        for key, spec in self.specs.items():
            if key not in self.frames:
                continue  # its failure is already counted
            df, sf_dir = self.frames[key]
            try:
                rows = [tuple(r) for r in df.collect()]
                problems = oracle_problems(df.columns, rows, spec.oracle, sf_dir)
            except Exception as exc:  # noqa: BLE001 - a check that cannot run fails
                problems = [f"{type(exc).__name__}: {str(exc)[:200]}"]
            if problems:
                bad.append(f"{key}: " + "; ".join(problems))
        return bad

    def layer_metrics(self, passes: list[list[Unit]]) -> dict[str, float]:
        jobs, tr = self.ctx.jobs, self.ctx.tracer
        sums = {k: [] for k in ("construct_s", "construct_jobs", "plan_s",
                                "exec_s", "exec_jobs", "exec_tasks")}
        per_key = {k: {"construct_s": [], "exec_s": []} for k in self.specs}
        for units in passes:
            acc = dict.fromkeys(sums, 0.0)
            for u in units:
                if not u.ok:
                    continue
                d = u.detail
                cjobs = jobs.jobs(*d["cjobs"])
                ejob = jobs.stat(*d["ejobs"])
                acc["construct_s"] += d["construct_s"]
                acc["construct_jobs"] += len(cjobs)
                acc["plan_s"] += d["plan_s"]
                acc["exec_s"] += d["exec_s"]
                acc["exec_jobs"] += ejob.jobs
                acc["exec_tasks"] += ejob.tasks
                per_key[u.name]["construct_s"].append(d["construct_s"])
                per_key[u.name]["exec_s"].append(d["plan_s"] + d["exec_s"])
                if d["span"] is not None:
                    for name, _, s0, s1 in cjobs:
                        tr.add(f"job:{name}", "spark", s0, s1, d["span"])
            for k, v in acc.items():
                sums[k].append(v)
        out = {
            "plans.construct_s": median(sums["construct_s"]),
            "plans.construct_jobs": median(sums["construct_jobs"]),
            "spark.plan_s": median(sums["plan_s"]),
            "spark.exec_s": median(sums["exec_s"]),
            "spark.exec_jobs": median(sums["exec_jobs"]),
            "spark.exec_tasks": median(sums["exec_tasks"]),
        }
        for key, m in per_key.items():
            out[f"{key}.construct_s"] = median(m["construct_s"])
            out[f"{key}.exec_s"] = median(m["exec_s"])
        return out
