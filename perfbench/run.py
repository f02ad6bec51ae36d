"""Benchmark of the spark-graft engine: one command per workload run.

    python3 perfbench/run.py --workload session_sf0.1 --seed 1 --seconds 36 --trace 0

Run it from the root of a checkout. A run

1. pins its environment (``local[N]`` with N = the cores this process may
   use, shuffle partitions = N, a 4g driver, all Spark scratch space
   under ``.perfbench/`` in the checkout);
2. makes the workload's inputs, or reuses them from ``.perfbench/inputs/``
   (keyed by seed and generator version): the fixed sf0.1 query tables
   and their expected digests, and for ``ingest`` the seed's CAD CSV and
   stream records;
3. sets the session up (engine import, JVM launch and ``get_spark``,
   first read of every base table's footer) and reports that as ``setup_s``;
4. runs the workload (``perfbench/workloads.py``) in that session and
   checks every output;
5. prints one JSON line, last on stdout: ``correct``, ``attempted``,
   ``failed`` and ``metrics`` -- the end-to-end metrics with
   ``--trace 0``, the per-layer metrics with ``--trace 1``.

The full record of the run (host, versions, every operation, and in a
traced run every span and the event log's counters per job group) is
written to ``.perfbench/results/``. Progress goes to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import asdict  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

from perfbench import gen, layers, workloads  # noqa: E402
from perfbench.trace import Tracer, heap_live_mb  # noqa: E402

WORKLOADS = ("session_sf0.1", "ingest")
DATA_SF = 0.1
DATA_SEED = 42  # the query tables are one fixed dataset, like the shared sf0.1 set
DRIVER_MEM = "4g"
# (cold, warm) pass seconds of each workload on a 4-core host: --seconds
# buys as many warm passes as fit after the cold pass at these times, so
# the number of passes, and with it every run's work, does not depend on
# how fast the run itself goes (the first warm pass is still slower than
# later ones while the JIT settles)
NOMINAL_PASS_S = {"session_sf0.1": (24.0, 4.0), "ingest": (20.0, 10.0)}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(n: int) -> None:
    """Fix every knob the engine reads from the environment."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n),
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(n),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(STATE, "local"),
        TMPDIR=os.path.join(STATE, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM, the launcher's too: no hsperfdata or temp files in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(STATE, 'tmp')}",
    )
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)


def spark_conf(event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# ------------------------------------------------------------------ inputs

def data_dir() -> str:
    return os.path.join(STATE, "inputs", f"tables-sf{DATA_SF}-s{DATA_SEED}-v{gen.VERSION}")


def prepare_tables() -> None:
    """Write the query tables and their DuckDB oracle digests once per
    checkout. Runs in a child process, so the timed process imports the
    engine for the first time during set-up."""
    import duckdb

    from etl_seattle_call_data_spark.plans.queries import REGISTRY
    from tools.verify_oracle import duck_digest

    final = data_dir()
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    gen.write_tables(tmp, DATA_SF, DATA_SEED)
    con = duckdb.connect(config={"threads": str(cores())})
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp}/{t}.parquet')")
    expected = {n: duck_digest(con, REGISTRY[n].oracle)[1] for n in workloads.SESSION_QUERIES}
    con.close()
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    shutil.rmtree(final, ignore_errors=True)  # an older query list's digests
    os.replace(tmp, final)


def _covers(path: str, queries) -> bool:
    with open(path) as f:
        return set(queries) <= json.load(f).keys()


def ensure_tables() -> dict[str, list[int]]:
    path = os.path.join(data_dir(), "expected.json")
    if not os.path.exists(path) or not _covers(path, workloads.SESSION_QUERIES):
        log("generating query tables and oracle digests")
        subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare"], check=True)
    with open(path) as f:
        return json.load(f)


def ensure_csv(seed: int) -> tuple[str, int]:
    """The seed's CAD CSV and the star-table row count it must produce."""
    d = os.path.join(STATE, "inputs", f"cad-r{workloads.CSV_ROWS}-s{seed}-v{gen.VERSION}")
    path, meta = os.path.join(d, "cad.csv"), os.path.join(d, "kept.json")
    if not os.path.exists(meta):
        kept = gen.write_cad_csv(path, workloads.CSV_ROWS, seed)
        with open(meta, "w") as f:
            json.dump(kept, f)
    with open(meta) as f:
        return path, json.load(f)


# ------------------------------------------------------------------- set-up

def set_up(conf: dict, tracer: Tracer):
    """Import the engine, launch the JVM and start the session in it, and
    read every base table's footer once: the first-touch cost every
    process pays before its first query."""
    t0 = time.perf_counter()
    with tracer.span("session.import"):
        from etl_seattle_call_data_spark.plans.queries import REGISTRY  # noqa: F401
        from etl_seattle_call_data_spark.session import get_spark
        from etl_seattle_call_data_spark.sources.registry import load_tables
    t1 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    t2 = time.perf_counter()
    with tracer.span("session.warmup"):
        load_tables(spark, data_dir(), register_views=False)
    t3 = time.perf_counter()
    setup = {"import_s": t1 - t0, "start_s": t2 - t1, "warmup_s": t3 - t2, "setup_s": t3 - t0}
    return spark, setup


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the driver JVM."""

    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm("self") + hwm(jvm)) / 1024.0


def shut_down(spark) -> None:
    """Stop the session, then end the JVM it runs in and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def host_record(spark) -> dict:
    def run(cmd):
        try:
            return subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT,
                                  timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            return None

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": cores(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "python": sys.version.split()[0],
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEM,
        "commit": run(["git", "rev-parse", "HEAD"]),
    }


def warm_passes(workload: str, seconds: float) -> int:
    cold, warm = NOMINAL_PASS_S[workload]
    return max(1, int((seconds - cold) // warm))


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------- main

def run(workload: str, seed: int, seconds: float, traced: bool) -> int:
    n = cores()
    pin_env(n)
    expected = ensure_tables()
    csv = ensure_csv(seed) if workload == "ingest" else None
    work = workloads.fresh_dir(os.path.join(STATE, "work"))
    event_log = workloads.fresh_dir(os.path.join(STATE, "eventlog")) if traced else None
    tracer = Tracer(traced)

    log(f"set-up on local[{n}]")
    spark, setup = set_up(spark_conf(event_log), tracer)
    try:
        warm = warm_passes(workload, seconds)
        log(f"{workload}: seed {seed}, cold pass + {warm} warm")
        if workload == "ingest":
            out = workloads.run_ingest(spark, work, csv[0], workloads.CSV_ROWS, csv[1], seed,
                                       warm, tracer)
        else:
            out = workloads.run_queries(spark, data_dir(), list(workloads.SESSION_QUERIES),
                                        expected, warm, tracer)
        rss = peak_rss_mb(spark)
        heap = heap_live_mb(spark)
        host = host_record(spark)
    finally:
        shut_down(spark)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": traced,
        "host": host, "setup": setup,
        "attempted": out.attempted, "failed": out.failed, "notes": out.notes,
        "passes": [{"kind": p.kind, "seconds": p.seconds, "ops": p.ops} for p in out.passes],
    }
    if traced:
        from perfbench.trace import read_event_logs

        record["groups"] = read_event_logs(event_log)
        record["spans"] = [asdict(s) for s in tracer.spans]
        metrics = layers.per_layer(setup, out, tracer, record["groups"], n, rss)
    else:
        metrics = layers.end_to_end(setup, out, heap)
    record["metrics"] = metrics
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    name = f"{workload}-s{seed}-t{int(traced)}.json"
    with open(os.path.join(STATE, "results", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    units = layers.UNITS if traced else layers.E2E_UNITS
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if out.failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=36.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_seattle_call_data_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    if args.prepare:
        prepare_tables()
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
