"""Compare the benchmark's generated query tables with a reference copy.

    python3 perfbench/fidelity.py REFERENCE_DIR > perfbench/FIDELITY.md

``REFERENCE_DIR`` holds the ten base tables (``<table>.parquet``) that
``gen.write_tables`` imitates at sf0.1. The report, in markdown, has

* per table and column: rows, nulls, distinct values, min, max and mean
  on both sides (DuckDB ``SUMMARIZE``);
* per session query: output rows and cold and warm seconds (build plus
  digest action) on both sides. Each side runs the session's cold pass
  and one warm pass ``--reps`` times, each in a fresh process and JVM;
  times are medians.

Only the benchmark reads its generated tables; this script is how they
are checked against the data they stand in for.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

STATS = ("count", "null_percentage", "approx_unique", "min", "max", "avg")


def table_stats(sf_dir: str) -> dict[str, dict[str, dict]]:
    import duckdb

    con = duckdb.connect()
    out = {}
    for t in gen.TABLES:
        cur = con.execute(f"SUMMARIZE SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        names = [d[0] for d in cur.description]
        out[t] = {row[0]: {k: row[names.index(k)] for k in STATS} for row in cur.fetchall()}
    return out


def one_session(sf_dir: str) -> dict[str, dict]:
    """Cold and warm pass over the session queries on ``sf_dir`` in this
    process; output rows and seconds per query."""
    import duckdb

    from etl_seattle_call_data_spark.plans.queries import REGISTRY
    from etl_seattle_call_data_spark.session import get_spark
    from etl_seattle_call_data_spark.sources.registry import load_tables
    from tools.verify_oracle import duck_digest

    con = duckdb.connect(config={"threads": str(run.cores())})
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    expected = {n: duck_digest(con, REGISTRY[n].oracle)[1] for n in workloads.SESSION_QUERIES}
    con.close()
    spark = get_spark(app_name="perfbench-fidelity", extra_conf=run.spark_conf(None))
    try:
        load_tables(spark, sf_dir, register_views=False)
        out = workloads.run_queries(spark, sf_dir, list(workloads.SESSION_QUERIES), expected,
                                    1, Tracer(False))
    finally:
        run.shut_down(spark)
    cold, warm = out.passes[0].ops, out.passes[1].ops
    return {
        c["query"]: {"rows": expected[c["query"]][0], "cold_s": c["seconds"],
                     "warm_s": w["seconds"], "ok": c["ok"] and w["ok"]}
        for c, w in zip(cold, warm)
    }


def sessions(sf_dir: str, reps: int) -> dict[str, dict]:
    runs = []
    for _ in range(reps):
        p = subprocess.run([sys.executable, os.path.abspath(__file__), "--one", sf_dir],
                           check=True, capture_output=True, text=True)
        runs.append(json.loads(p.stdout.strip().splitlines()[-1]))
    return {
        q: {"rows": runs[0][q]["rows"], "ok": all(r[q]["ok"] for r in runs),
            "cold_s": statistics.median(r[q]["cold_s"] for r in runs),
            "warm_s": statistics.median(r[q]["warm_s"] for r in runs)}
        for q in runs[0]
    }


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)[:19] if v is not None else ""


def report(ref_dir: str, reps: int) -> None:
    gen_dir = run.data_dir()
    print("# Generated sf0.1 tables vs the reference tables\n")
    print(f"Generated by `python3 perfbench/fidelity.py` (generator version {gen.VERSION}, "
          f"data seed {run.DATA_SEED}) on a {run.cores()}-core host; times are medians of "
          f"{reps} fresh-process runs per side.\n")
    print("## Session queries\n")
    print("| query | rows gen | rows ref | cold s gen | cold s ref | warm s gen | warm s ref |")
    print("|---|---|---|---|---|---|---|")
    g, r = sessions(gen_dir, reps), sessions(ref_dir, reps)
    tot = {"gen": [0.0, 0.0], "ref": [0.0, 0.0]}
    for q in workloads.SESSION_QUERIES:
        a, b = g[q], r[q]
        flag = "" if a["ok"] and b["ok"] else " (check failed)"
        print(f"| {q}{flag} | {a['rows']} | {b['rows']} | {a['cold_s']:.2f} | {b['cold_s']:.2f}"
              f" | {a['warm_s']:.2f} | {b['warm_s']:.2f} |")
        for side, x in (("gen", a), ("ref", b)):
            tot[side][0] += x["cold_s"]
            tot[side][1] += x["warm_s"]
    print(f"| **total** | | | {tot['gen'][0]:.2f} | {tot['ref'][0]:.2f} | {tot['gen'][1]:.2f}"
          f" | {tot['ref'][1]:.2f} |\n")
    print("## Tables\n")
    print("| table.column | " + " | ".join(f"{k} gen / ref" for k in STATS) + " |")
    print("|---|" + "---|" * len(STATS))
    sg, sr = table_stats(gen_dir), table_stats(ref_dir)
    for t in gen.TABLES:
        for col in sr[t]:
            a, b = sg[t].get(col, {}), sr[t][col]
            cells = " | ".join(f"{_fmt(a.get(k))} / {_fmt(b[k])}" for k in STATS)
            print(f"| {t}.{col} | {cells} |")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("reference", nargs="?")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--one", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    run.pin_env(run.cores())
    if args.one:
        print(json.dumps(one_session(args.one)))
        return 0
    if not args.reference:
        ap.error("REFERENCE_DIR is required")
    run.ensure_tables()
    report(os.path.abspath(args.reference), args.reps)
    return 0


if __name__ == "__main__":
    sys.exit(main())
