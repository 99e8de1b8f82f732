"""Record a full-registry parity artifact (``.perfbench/PARITY.json``).

The driver's CORRECTNESS gate samples ~50 queries per round, so most of the
registry never gets a machine-readable per-round verdict. This script runs
EVERY registered query against its DuckDB oracle at sf0.01 through the same
``tests/oracle_harness.py::compare`` logic the local gate uses, and writes a
JSON file in the driver's CORRECTNESS format::

    {"<query>": {"rows_match": bool, "schema_match": bool, "hash_match": bool,
                 "spark_rows": int, "oracle_rows": int, "err": str | None}, ...}

Queries with no oracle (non-SQL-expressible) get the driver's weaker
rows-only record: ``{"rows_only": true, "spark_rows": N, "err": ...}``.

Usage::

    python scripts/record_parity.py [--out .perfbench/PARITY.json] [--sf <sf0.01 dir>]
    python scripts/record_parity.py --jobs 4   # sharded

``--jobs N`` shards the registry by query-name hash across N child
processes (each with its own SparkSession/DuckDB) and merges their partial
artifacts. The children split the cores evenly — ``SPARK_GRAFT_CPUS``, or
else the cores this process may use — at ``local[cores // N]`` each (at
least 1), so ``--jobs 4`` on a 4-core box runs four 1-thread sessions.
``--shard K/N`` runs one shard inline (what the children execute).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def _shard_of(name: str, n: int) -> int:
    import hashlib

    return int(hashlib.md5(name.encode()).hexdigest()[:8], 16) % n


def _run_jobs(args) -> int:
    """Spawn N shard children, merge their partial artifacts into --out."""
    import subprocess

    script = os.path.abspath(__file__)
    parts = [f"{args.out}.shard{k}" for k in range(args.jobs)]
    # split the core budget so N local[k] JVMs don't oversubscribe the box
    env = dict(os.environ)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_CPUS"] = str(max(1, cores // args.jobs))
    env["SPARK_DRIVER_MEMORY"] = os.environ.get("SPARK_DRIVER_MEMORY_SHARD", "4g")
    procs = []
    for k, part in enumerate(parts):
        cmd = [sys.executable, script, "--out", part, "--sf", args.sf,
               "--shard", f"{k}/{args.jobs}",
               "--shuffle-partitions", str(args.shuffle_partitions)]
        if args.only:
            cmd += ["--only", args.only]
        procs.append(subprocess.Popen(cmd, env=env))
    rc = max(p.wait() for p in procs)
    merged: dict = {}
    metas = []
    for part in parts:
        with open(part) as f:
            d = json.load(f)
        metas.append(d.pop("_meta"))
        merged.update(d)
        os.remove(part)
    meta = {
        "sf_dir": args.sf,
        "n_queries": sum(m["n_queries"] for m in metas),
        "n_with_oracle": sum(m["n_with_oracle"] for m in metas),
        "n_fail": sum(m["n_fail"] for m in metas),
        "elapsed_sec": max(m["elapsed_sec"] for m in metas),
        "jobs": args.jobs,
        "shuffle_partitions": args.shuffle_partitions,
    }
    with open(args.out, "w") as f:
        json.dump({"_meta": meta, **dict(sorted(merged.items()))}, f, indent=1)
    print(f"wrote {args.out}: {meta['n_queries']} queries, "
          f"{meta['n_fail']} failing, wall {meta['elapsed_sec']}s x{args.jobs} shards")
    return 1 if meta["n_fail"] else rc


def _args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse the command line and create the directory ``--out`` goes to."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "PARITY.json"),
                    help="artifact path; the default is git-ignored")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default=None, help="comma-separated subset of query names")
    ap.add_argument("--jobs", type=int, default=1,
                    help="shard across N child processes and merge")
    ap.add_argument("--shard", default=None, metavar="K/N",
                    help="run only queries with hash(name) %% N == K")
    ap.add_argument("--shuffle-partitions", type=int, default=8,
                    help="spark.sql.shuffle.partitions for the run — record "
                    "the artifact twice at different layouts to prove no "
                    "query's hash depends on the shuffle plan (VERDICT r5 "
                    "item 8)")
    args = ap.parse_args(argv)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    return args


def main() -> int:
    args = _args()
    if args.jobs > 1:
        return _run_jobs(args)

    from metas_judiciarias_etl_spark import registry
    from metas_judiciarias_etl_spark.session import build_session
    from tests.oracle_harness import compare, duckdb_con, dtype_problems

    registry.load_all()
    spark = build_session(app_name="record-parity", shuffle_partitions=args.shuffle_partitions)
    con = duckdb_con(args.sf)

    names = sorted(registry.QUERIES)
    if args.only:
        keep = set(args.only.split(","))
        names = [n for n in names if n in keep]
    if args.shard:
        k, n = (int(x) for x in args.shard.split("/"))
        names = [q for q in names if _shard_of(q, n) == k]

    out: dict[str, dict] = {}
    t0 = time.time()
    n_fail = 0
    for i, name in enumerate(names):
        rec: dict = {}
        try:
            df = registry.QUERIES[name](spark, args.sf)
            if name not in registry.ORACLES:
                rec = {"rows_only": True, "spark_rows": df.count(), "err": None}
            else:
                sql = registry.ORACLES[name]
                problems = compare(name, df, sql, con)
                problems += dtype_problems(name, df.schema, sql, con)
                o_rows = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                rec = {
                    "rows_match": not any("row count" in p for p in problems),
                    "schema_match": not any("columns differ" in p or "dtype class" in p for p in problems),
                    "hash_match": not any("values differ" in p or "vacuous" in p for p in problems),
                    "spark_rows": df.count(),
                    "oracle_rows": int(o_rows),
                    "err": "; ".join(problems) or None,
                }
        except Exception:
            rec = {"rows_match": False, "schema_match": False, "hash_match": False,
                   "spark_rows": None, "oracle_rows": None,
                   "err": traceback.format_exc(limit=3)}
        out[name] = rec
        if rec.get("err"):
            n_fail += 1
            print(f"[{i+1}/{len(names)}] FAIL {name}: {rec['err'][:200]}", flush=True)
        elif (i + 1) % 25 == 0:
            print(f"[{i+1}/{len(names)}] ... {time.time()-t0:.0f}s", flush=True)
        # The bench/cert drivers clear the cache between queries so 81
        # persist() sites can't accumulate across a 366-query sweep
        # (ADVICE r4): release everything this query pinned.
        spark.catalog.clearCache()

    meta = {
        "_meta": {
            "sf_dir": args.sf,
            "n_queries": len(names),
            "n_with_oracle": sum(1 for n in names if n in registry.ORACLES),
            "n_fail": n_fail,
            "elapsed_sec": round(time.time() - t0, 1),
            "shuffle_partitions": args.shuffle_partitions,
        }
    }
    with open(args.out, "w") as f:
        json.dump({**meta, **out}, f, indent=1)
    print(f"wrote {args.out}: {len(names)} queries, {n_fail} failing, {time.time()-t0:.0f}s")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
