"""The three benchmark workloads.

Each workload runs one *pass* of the program through its public functions,
with a span around every call into a layer, and checks the program's
outputs against an independent oracle outside the timed region:

* courts workloads: input dir -> ``ResumoMetas.csv`` + ``Consolidado.csv``
  through ``metas.pipeline``; checked cell for cell against the pandas
  oracle ``tests/metas_oracle.expected`` (and the Consolidado row count);
* ``registry_mix``: one round of a fixed registry query list, each query
  forced with the ``noop`` sink; checked once per run against DuckDB with
  ``tests/oracle_harness.compare``.
"""

from __future__ import annotations

import csv
import math
import os
import shutil

from metas_judiciarias_etl_spark import registry
from metas_judiciarias_etl_spark.metas.pipeline import (
    FILE_COL,
    compute_resumo,
    read_court_csvs,
    stringify_resumo,
    write_csv,
)
from metas_judiciarias_etl_spark.sources.parquet import load_table
from tests import metas_oracle, oracle_harness

MB = 1 << 20

# One registry round: relational, window, analytics, sessionization,
# near-dup (memoized intermediate) and text-statistics plans.
QUERY_MIX = (
    "q1_pricing_summary",
    "a4_guarded_ratio_kernel",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "j1_dim_lookup_fallback",
    "u1_union_by_name",
    "w1_topk_sort",
    "window_topn_per_group",
    "q18_large_volume_customers",
    "sessionize_events",
    "dedup_minhash_lsh",
    "text_quality",
)
REGISTRY_MODULES = (
    "plans.relational",
    "plans.windows",
    "plans.analytics_ext",
    "plans.sessions_ext",
    "operators.dedup",
    "operators.textstats",
)
MIX_TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "events", "documents",
)


def _module_of(query: str) -> str:
    return registry.QUERIES[query].__module__.split(".", 1)[1]


class Courts:
    """Full metas pass over a court-CSV directory, both sinks written."""

    queries_per_pass = 1
    # Passes keep speeding up for about ten passes (JIT); two warm passes
    # after the cold one flatten most of that.
    warm_passes = 2
    min_window_passes = 3
    nominal_pass_s = 4.8

    def __init__(self, input_dir: str, work_dir: str) -> None:
        self.input_dir = input_dir
        self.out_dir = os.path.join(work_dir, "out")
        self.csv_files = [
            n for n in sorted(os.listdir(input_dir))
            if n.endswith(".csv") and os.path.isfile(os.path.join(input_dir, n))
        ]
        self.input_bytes = sum(
            os.path.getsize(os.path.join(input_dir, n)) for n in self.csv_files
        )

    def setup(self, spark, tr) -> None:
        pass

    def run_pass(self, spark, tr, keep: bool = False) -> None:
        """``keep`` is the registry's; every courts pass is checked."""
        with tr.span("metas.read_court_csvs.build"):
            data = read_court_csvs(spark, self.input_dir)
        with tr.span("metas.compute_resumo.build"):
            resumo = stringify_resumo(compute_resumo(data))
        with tr.span("metas.resumo_sink.exec"):
            write_csv(resumo, os.path.join(self.out_dir, "ResumoMetas.csv"))
        with tr.span("metas.read_court_csvs.build"):
            consolidado = read_court_csvs(spark, self.input_dir, typed=False).drop(FILE_COL)
        with tr.span("metas.consolidado_sink.exec"):
            write_csv(
                consolidado, os.path.join(self.out_dir, "Consolidado.csv"),
                single_file=False,
            )

    def collect(self) -> dict:
        """Read back what the pass wrote, then delete it."""
        resumo_dir = os.path.join(self.out_dir, "ResumoMetas.csv")
        (part,) = [n for n in os.listdir(resumo_dir) if n.startswith("part-")]
        with open(os.path.join(resumo_dir, part), encoding="utf-8", newline="") as fh:
            resumo = list(csv.reader(fh, delimiter=";"))
        cons_dir = os.path.join(self.out_dir, "Consolidado.csv")
        rows = out_bytes = 0
        for name in os.listdir(cons_dir):
            if name.startswith("part-"):
                path = os.path.join(cons_dir, name)
                out_bytes += os.path.getsize(path)
                with open(path, "rb") as fh:
                    rows += max(fh.read().count(b"\n") - 1, 0)  # minus the header
        self.cleanup()
        return {"resumo": resumo, "consolidado_rows": rows, "out_bytes": out_bytes}

    def cleanup(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def probe(self, spark, tr) -> dict[str, float]:
        """Traced-only layer probes, run outside the pass span."""
        data = read_court_csvs(spark, self.input_dir)
        with tr.span("metas.read_court_csvs.scan"):
            data.write.format("noop").mode("overwrite").save()
        used = len(data.inputFiles())
        leaves = data._jdf.queryExecution().analyzed().collectLeaves().size()
        return {
            "metas.read_court_csvs.files_opened": len(self.csv_files),
            "metas.read_court_csvs.files_used": used,
            "metas.read_court_csvs.useful_file_ratio": used / len(self.csv_files),
            "metas.read_court_csvs.header_buckets": leaves,
        }

    def pass_metrics(self, totals: dict[str, float]) -> dict[str, float]:
        return {f"{name}_s": v for name, v in totals.items()}

    def check(self, observations: list[dict]) -> list[str]:
        """One problem string per observation that differs from the oracle."""
        exp_resumo, exp_cons = metas_oracle.expected(self.input_dir)
        exp_rows = sorted(
            (tuple(_oracle_cell(r.get(c)) for c in sorted(exp_resumo.columns))
             for r in exp_resumo.to_dict("records")),
            key=repr,
        )
        problems = []
        for i, obs in enumerate(observations):
            header, *body = obs["resumo"]
            if not set(exp_resumo.columns) <= set(header):
                problems.append(f"pass {i}: resumo columns {header}")
                continue
            extra = [c for c in header if c not in exp_resumo.columns]
            got = [dict(zip(header, row)) for row in body]
            got_rows = sorted(
                (tuple(_sink_cell(c, r[c]) for c in sorted(exp_resumo.columns))
                 for r in got),
                key=repr,
            )
            if got_rows != exp_rows:
                problems.append(f"pass {i}: resumo differs from the oracle")
            elif any(r[c] != "NA" for r in got for c in extra):
                problems.append(f"pass {i}: metas absent from the oracle are not NA")
            elif obs["consolidado_rows"] != len(exp_cons):
                problems.append(
                    f"pass {i}: consolidado rows {obs['consolidado_rows']} "
                    f"!= {len(exp_cons)}"
                )
        return problems


def _oracle_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return round(float(v), 6) if isinstance(v, float) else v


def _sink_cell(col: str, v: str):
    if col in ("sigla_tribunal", "ramo_justica"):
        return v
    return None if v == "NA" else round(float(v), 6)


class Registry:
    """One round of ``QUERY_MIX`` over the parquet tables, closed loop,
    one client."""

    queries_per_pass = len(QUERY_MIX)
    # Rounds speed up from ~5.8 s to ~4.6 s over the first six (JIT). Whole
    # processes differ by ~10 % (more warm or window rounds did not narrow
    # that), so the window stays at three rounds to fit the time budget.
    warm_passes = 1
    min_window_passes = 3
    nominal_pass_s = 5.3

    def __init__(self, input_dir: str, work_dir: str) -> None:
        self.sf_dir = input_dir
        self.work_dir = work_dir
        self.kept: dict[str, _Collected] = {}
        self.input_bytes = sum(
            os.path.getsize(os.path.join(input_dir, f"{t}.parquet")) for t in MIX_TABLES
        )

    def setup(self, spark, tr) -> None:
        with tr.span("registry.load_all"):
            registry.load_all()
        modules = {_module_of(q) for q in QUERY_MIX}
        if modules != set(REGISTRY_MODULES):
            raise RuntimeError(f"query mix spans modules {sorted(modules)}")

    def run_pass(self, spark, tr, keep: bool = False) -> None:
        """One round; ``keep`` collects each result for ``check`` instead
        of forcing it with the ``noop`` sink."""
        with tr.span("spark.clear_cache"):
            spark.catalog.clearCache()
        for q in QUERY_MIX:
            with tr.span(f"registry.{q}.build"):
                df = registry.QUERIES[q](spark, self.sf_dir)
            with tr.span(f"registry.{q}.exec"):
                if keep:
                    self.kept[q] = _Collected(df.columns, df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()

    def collect(self) -> dict:
        return {}

    def cleanup(self) -> None:
        pass

    def probe(self, spark, tr) -> dict[str, float]:
        for t in MIX_TABLES:
            with tr.span("sources.parquet.scan"):
                load_table(spark, self.sf_dir, t).write.format("noop").mode(
                    "overwrite"
                ).save()
        return {}

    def pass_metrics(self, totals: dict[str, float]) -> dict[str, float]:
        out = {f"{name}_s": v for name, v in totals.items()}
        for q in QUERY_MIX:
            for phase in ("build", "exec"):
                key = f"{_module_of(q)}.{phase}_s"
                out[key] = out.get(key, 0.0) + totals[f"registry.{q}.{phase}"]
        return out

    def check(self, observations: list[dict]) -> list[str]:
        """Compare the kept result of every query with its DuckDB oracle;
        the rounds ran the same plans, so a mismatch fails all of them."""
        if set(self.kept) != set(QUERY_MIX):
            problems = ["no kept results"]
        else:
            con = oracle_harness.duckdb_con(self.sf_dir)
            try:
                con.execute("SET memory_limit='1GB'")
                con.execute(f"SET temp_directory='{os.path.join(self.work_dir, 'duckdb')}'")
                problems = []
                for q in QUERY_MIX:
                    problems += oracle_harness.compare(
                        q, self.kept[q], registry.ORACLES[q], con
                    )
            finally:
                con.close()
        if not problems:
            return []
        detail = "; ".join(problems)
        return [
            f"round {i}: {detail if i == 0 else 'same plans as round 0'}"
            for i in range(len(observations))
        ]


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) of the job group ``group``; a stage shared by
    several jobs counts once."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    return len(jobs), tasks


class ManyFiles(Courts):
    nominal_pass_s = 7.0


WORKLOADS = {
    "courts_skewed": Courts,
    "courts_many_files": ManyFiles,
    "registry_mix": Registry,
}


def layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric a traced run reports,
    whatever the workload: a layer the workload bypasses reads 0 there."""
    out = [
        ("session.build_s", "s", "lower"),
        ("registry.load_all_s", "s", "lower"),
        ("metas.read_court_csvs.build_s", "s", "lower"),
        ("metas.compute_resumo.build_s", "s", "lower"),
        ("metas.read_court_csvs.scan_s", "s", "lower"),
        ("metas.resumo_sink.exec_s", "s", "lower"),
        ("metas.consolidado_sink.exec_s", "s", "lower"),
        ("metas.read_court_csvs.files_opened", "count", "lower"),
        ("metas.read_court_csvs.files_used", "count", "higher"),
        ("metas.read_court_csvs.useful_file_ratio", "ratio", "higher"),
        ("metas.read_court_csvs.header_buckets", "count", "lower"),
        ("metas.consolidado_sink.bytes_out_per_in", "ratio", "lower"),
        ("spark.jobs_per_pass", "count", "lower"),
        ("spark.tasks_per_pass", "count", "lower"),
        ("spark.clear_cache_s", "s", "lower"),
        ("sources.parquet.scan_s", "s", "lower"),
    ]
    for m in REGISTRY_MODULES:
        out += [(f"{m}.build_s", "s", "lower"), (f"{m}.exec_s", "s", "lower")]
    out += [(f"registry.{q}.exec_s", "s", "lower") for q in QUERY_MIX]
    out += [
        ("jvm.peak_rss_mb", "MB", "lower"),
        ("trace.pass_s", "s", "lower"),
        ("trace.pass_self_s", "s", "lower"),
        ("tracing.overhead_s", "s", "lower"),
    ]
    return out
