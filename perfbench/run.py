"""Benchmark entry point.

    python3 perfbench/run.py --workload curation_eager|medallion_nightly \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Three steps:

1. prepare (untimed): generate the seeded inputs under .perfbench_work/,
   resolve every table through ``sources.tables`` with SPARK_GRAFT_CPUS
   pinned (so the re-split cache is built here, not inside setup_s), and
   compute the DuckDB oracle results and the medallion row invariants;
2. run worker.py in its own process with its own JVM, for the workload;
3. print one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer ones (``--trace 1``).

Exit status is 0 only when every operation succeeded and every output
matched. Without the engine package next to this directory it exits 2
before printing a result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import spec  # noqa: E402

DEADLINE_S = 170  # every run must end within 180 s


def prepare(sf: float, seed: int) -> tuple[str, str]:
    """Inputs, resolved tables, oracle results and invariants for (sf, seed).

    Everything lands under one directory per (sf, seed), reused by later
    runs with the same seed. The directory name also carries a digest of
    gen.py and of the curation queries' oracle SQL, so an edit to either
    never reuses stale inputs or oracle results."""
    import duckdb
    import gen

    from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules
    from e2e_stock_data_pipeline_spark.sources import tables

    registry = load_all_query_modules()
    digest = hashlib.sha256()
    with open(gen.__file__, "rb") as f:
        digest.update(f.read())
    for q in spec.CURATION:
        digest.update(registry[q].oracle.encode())
    data = os.path.join(WORK, "data", f"sf{sf}-seed{seed}-{digest.hexdigest()[:12]}")
    if not os.path.isdir(data):
        gen.generate(data, sf, seed)
    for name in tables.TABLE_NAMES:
        tables.spark_readable_path(data, name)

    oracle = os.path.join(data, "oracle")
    expected = os.path.join(data, "expected.json")
    if os.path.exists(expected) and all(
        os.path.exists(os.path.join(oracle, f"{q}.parquet")) for q in spec.CURATION
    ):
        return data, oracle
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in tables.TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {tables.oracle_view_source(data, name)}")
    tmp = f"{oracle}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for q in spec.CURATION:
        con.execute(f"COPY ({registry[q].oracle}) TO '{tmp}/{q}.parquet' (FORMAT PARQUET)")
    shutil.rmtree(oracle, ignore_errors=True)
    os.replace(tmp, oracle)
    landed = con.execute(f"SELECT count(*) FROM '{data}/landing_events/*.parquet'").fetchone()[0]
    keys = con.execute(
        "SELECT count(DISTINCT (upper(trim(symbol)), date)) "
        f"FROM read_parquet('{data}/raw_prices_*.parquet')"
    ).fetchone()[0]
    con.close()
    with open(f"{expected}.tmp", "w") as f:
        json.dump({"landed_rows": landed, "silver_keys": keys}, f)
    os.replace(f"{expected}.tmp", expected)
    return data, oracle


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's process group (its JVM and Python workers) and
    wait until every member has exited."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        time.sleep(0.1)
    else:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def main() -> int:
    t_start = time.time()
    # a terminated run still stops its worker (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=spec.SF)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "e2e_stock_data_pipeline_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(spec.CPUS),
        SPARK_DRIVER_MEMORY=spec.DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        TZ="UTC",
    )
    os.environ["SPARK_GRAFT_CPUS"] = env["SPARK_GRAFT_CPUS"]
    data, oracle = prepare(args.sf, args.seed)
    t_prepared = time.time()

    run_dir = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", data, "--oracle", oracle,
        "--work", run_dir, "--out", out,
    ]
    env["PERFBENCH_T0"] = repr(time.time())
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        print("worker timed out", file=sys.stderr)
        code = None
    finally:
        _stop_group(proc)
    if code != 0 or not os.path.exists(out):
        print(f"worker failed (exit {code})", file=sys.stderr)
        return 3

    with open(out) as f:
        res = json.load(f)
    units = spec.PER_LAYER if args.trace else spec.END_TO_END
    metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()}
    correct = res["ops_failed"] == 0
    detail = {k: v for k, v in res.items() if k != "metrics"}
    detail["prepare_s"] = t_prepared - t_start
    detail["run_s"] = time.time() - t_start
    print(json.dumps({"workload": args.workload, "seed": args.seed, **detail}))
    print(json.dumps({
        "correct": correct,
        "attempted": res["ops_attempted"],
        "failed": res["ops_failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
