"""Benchmark of the metas engine: one workload per run, one JSON result.

    python3 perfbench/run.py --workload courts_skewed --seed 1 --seconds 10 --trace 0

Workloads (inputs generated from ``--seed`` by ``perfbench/inputs.py``):

* ``courts_skewed``      87 courts, 525x size spread, both sinks written
* ``registry_mix``       a 12-query registry round over parquet tables
* ``courts_many_files``  240 tiny court files over 16 header variants; not in
  ``BENCHMARK.json``: runs of three workloads do not fit its time budget

A run generates (or reuses) the inputs, then sets up: Spark session at
``local[nproc]``, the workload's own set-up, the cold first pass and the
workload's ``warm_passes`` more passes that fill the JIT and codegen
caches. Then it runs the passes that fill ``--seconds`` at the workload's
``nominal_pass_s`` (at least its ``min_window_passes``) and reports the
median.
Every pass's output is checked against an oracle after the window.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones: its window alternates untraced and traced passes, so the tracing
overhead is the difference of their medians, and it writes the spans to
``.perfbench/trace-<workload>-<seed>.json``. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
human-readable summary (versions, sample counts, error rate). The exit
code is 1 when any pass raised or produced a wrong output.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import manifest  # noqa: E402
import workloads  # noqa: E402
from tracing import NULL, Tracer  # noqa: E402

from metas_judiciarias_etl_spark.session import build_session  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
MB = 1 << 20


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is the smoke test's")
    return ap.parse_args()


def _inputs(workload: str, seed: int, size: str) -> str:
    """Inputs for (workload, seed, size, generator source), generated once
    and reused; other inputs of the same workload are deleted."""
    base = os.path.join(WORK, "inputs")
    with open(inputs.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    name = f"{workload}-{size}-{seed}-{version}"
    path = os.path.join(base, name)
    if not os.path.exists(os.path.join(path, ".complete")):
        os.makedirs(base, exist_ok=True)
        for old in os.listdir(base):
            if old.startswith(f"{workload}-"):
                shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        inputs.generate(workload, path, seed, size)
        open(os.path.join(path, ".complete"), "w").close()
    return path


def _spark_conf(run_dir: str) -> dict[str, str]:
    """Parallelism is pinned by ``build_session``'s arguments; everything
    the JVM writes stays under ``run_dir``."""
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers,
    which exit with it) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


def main() -> int:
    args = _args()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args: argparse.Namespace, run_dir: str) -> int:
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")

    t = time.perf_counter()
    input_dir = _inputs(args.workload, args.seed, args.size)
    gen_s = time.perf_counter() - t

    nproc = len(os.sched_getaffinity(0))
    traced_run = args.trace == 1
    tracer = Tracer() if traced_run else NULL
    wl = workloads.WORKLOADS[args.workload](input_dir, run_dir)
    if args.size == "tiny":  # smoke test: every code path in the fewest passes
        wl.warm_passes, wl.min_window_passes = 0, 1

    with tracer.span("session.build"):
        spark = build_session(
            app_name="perfbench",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_conf=_spark_conf(run_dir),
        )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        return _measure(args, spark, wl, tracer, nproc, gen_s)
    finally:
        _stop(spark)


def _measure(args, spark, wl, tracer, nproc: int, gen_s: float) -> int:
    sc = spark.sparkContext
    traced_run = args.trace == 1
    wl.setup(spark, tracer)

    attempted = raised = 0
    observations: list[dict] = []
    untraced_s: list[float] = []
    traced: list[dict] = []  # per-layer values of each traced pass

    def one_pass(trace_it: bool, keep: bool = False) -> float | None:
        nonlocal attempted, raised
        attempted += 1
        tr = tracer if trace_it else NULL
        group = f"pass-{attempted}"
        if trace_it:
            sc.setJobGroup(group, "perfbench pass")
        try:
            t0 = time.perf_counter()
            with tr.span("pass") as rec:
                wl.run_pass(spark, tr, keep)
            dt = time.perf_counter() - t0
            obs = wl.collect()
        except Exception:
            traceback.print_exc()
            raised += 1
            wl.cleanup()
            return None
        observations.append(obs)
        if trace_it:
            layer = wl.pass_metrics(tracer.totals_under(rec))
            jobs, tasks = workloads.job_counts(sc, group)
            sc.setJobGroup("probe", "perfbench probe")
            layer.update(wl.probe(spark, tracer))
            probes = [s for s in tracer.spans if s["start"] > rec["end"]]
            for s in probes:
                key = f"{s['name']}_s"
                layer[key] = layer.get(key, 0.0) + s["end"] - s["start"]
            layer.update({
                "spark.jobs_per_pass": jobs,
                "spark.tasks_per_pass": tasks,
                "trace.pass_s": dt,
                "trace.pass_self_s": tracer.self_time(rec),
            })
            if "out_bytes" in obs:
                layer["metas.consolidado_sink.bytes_out_per_in"] = (
                    obs["out_bytes"] / wl.input_bytes
                )
            traced.append(layer)
        return dt

    # the last set-up pass keeps its results for the registry's check
    cold_pass_s = one_pass(trace_it=False, keep=wl.warm_passes == 0)
    for i in range(wl.warm_passes):
        one_pass(trace_it=False, keep=i == wl.warm_passes - 1)
    setup_s = time.perf_counter() - T_PROCESS - gen_s

    # The window is a fixed number of passes, as many as fill --seconds at
    # the workload's nominal pass time: passes still speed up as the JIT
    # warms, so a median over a varying count would move with the count.
    # A traced run alternates U T T U and adds a pass, so it samples both.
    n_window = max(round(args.seconds / wl.nominal_pass_s), wl.min_window_passes)
    if traced_run:
        n_window += 1
    for i in range(n_window):
        trace_it = traced_run and i % 4 in (1, 2)  # U T T U: cancels drift
        dt = one_pass(trace_it)
        if dt is not None and not trace_it:
            untraced_s.append(dt)
        if raised > attempted // 2:
            break

    t = time.perf_counter()
    problems = wl.check(observations) if observations else ["no pass completed"]
    check_s = time.perf_counter() - t
    for p in problems:
        print(p, file=sys.stderr)
    failed = min(raised + len(problems), attempted)
    correct = failed == 0

    pipeline_s = statistics.median(untraced_s) if untraced_s else float("nan")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = _peak_rss_mb(jvm_pid)
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": cold_pass_s or float("nan"),
        "pipeline_s": pipeline_s,
        "input_mb_per_s": wl.input_bytes / MB / pipeline_s,
        "queries_per_s": wl.queries_per_pass / pipeline_s,
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "input_mb": round(wl.input_bytes / MB, 3),
        "gen_s": round(gen_s, 3),
        "check_s": round(check_s, 3),
        "window_passes": len(untraced_s),
        "traced_passes": len(traced),
        "error_rate": failed / attempted,
        "peak_rss_mb": round(peak_rss_mb, 1),
        "untraced_pass_s": [round(x, 3) for x in untraced_s],
    }

    if traced_run:
        units = {name: unit for name, unit, _ in workloads.layer_metrics()}
        values = {
            name: statistics.median([lv.get(name, 0.0) for lv in traced]) if traced else 0.0
            for name in units
        }
        for s in tracer.spans:
            if s["name"] in ("session.build", "registry.load_all"):
                values[f"{s['name']}_s"] = s["end"] - s["start"]
        values["jvm.peak_rss_mb"] = peak_rss_mb
        values["tracing.overhead_s"] = values["trace.pass_s"] - pipeline_s
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
    else:
        units = {name: unit for name, unit, _, _ in manifest.END_TO_END}
        values = e2e
        summary.update({k: round(v, 4) for k, v in e2e.items()})

    print("# " + json.dumps(summary))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
