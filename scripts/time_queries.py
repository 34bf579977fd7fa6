"""Isolated warm noop timings for named registry queries at any sf dir,
and with ``--oracle`` the same timings for their DuckDB oracles plus a
result compare.

One session; per query: ONE untimed warmup then --runs timed passes
via the noop sink (guide §1.4), reporting each pass and the median.
Floor/canary probes ride along, taken through bench.py's own probe (one
untimed warm-up, then the median of 5), so a polluted box is visible in
the output and reads on bench.py's scale.

``--oracle`` times each query's oracle SQL the same way (one untimed
warmup, then the median of --runs fetches) in a child process, so
``--duckdb-timeout`` (default 7200 s) can stop it, and then compares the
two results through ``plans/oracle.py``. An output above
``oracle.COLLECT_LIMIT`` rows is compared, and its DuckDB side timed, in
the COUNT-plus-integer-sums aggregate form, so neither engine
materializes it on the driver. A DuckDB timeout is reported, not
failed: that query's exactness has to come from elsewhere. Exits 1 when
a compared result differs. A DuckDB canary (SUM/COUNT over
lineitem) joins the Spark probes, because the DuckDB side drifts with
page-cache state on its own.

    python scripts/time_queries.py <sf_dir> q86_... [q126_...] [--runs 3] [--oracle] [--duckdb-timeout SEC]
"""

from __future__ import annotations

import multiprocessing as mp
import queue
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
# the repo for the package, this directory so the spawned DuckDB child
# can import _duckdb_timed from this module
sys.path[:0] = [str(REPO), str(REPO / "scripts")]

import bench  # noqa: E402
from e2e_stock_data_pipeline_spark.plans import oracle, registry  # noqa: E402
from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules  # noqa: E402
from e2e_stock_data_pipeline_spark.session import get_spark  # noqa: E402


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def median(ts: list[float]) -> float:
    return sorted(ts)[len(ts) // 2]


def _duckdb_timed(sf_dir: str, sql: str, runs: int, threads: int, out: mp.Queue) -> None:
    """Child process: warmup plus ``runs`` timed fetches of ``sql``."""
    con = oracle.connect(sf_dir, threads)
    # cap spill so a blow-up oracle errors cleanly instead of filling the disk
    con.execute(f"SET temp_directory='{REPO / '.tmp' / 'duck_spill'}'")
    con.execute("SET max_temp_directory_size='40GiB'")
    con.sql(sql).fetchall()
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        res = oracle.duckdb_result(con.sql(sql))
        ts.append(time.perf_counter() - t0)
    out.put((ts, res))


def pair(spark, spec, sf_dir: str, runs: int, timeout: float, spark_median: float) -> bool:
    """Time the oracle, compare results, print one line; True on a match."""
    df = spec.spark(spark, sf_dir)
    n_rows = df.count()
    sql, form = spec.oracle, "full"
    if n_rows > oracle.COLLECT_LIMIT:
        df, sql = oracle.aggregate_form(df, sql)
        form = "aggregate"
    got = oracle.spark_result(df)
    ctx = mp.get_context("spawn")  # fork is unsafe beside the JVM's threads
    out = ctx.Queue()
    threads = spark.sparkContext.defaultParallelism
    child = ctx.Process(target=_duckdb_timed, args=(sf_dir, sql, runs, threads, out))
    child.start()
    deadline = time.monotonic() + timeout
    res = None
    while res is None and time.monotonic() < deadline:
        try:
            res = out.get(timeout=5.0)
        except queue.Empty:
            if not child.is_alive() and out.empty():
                break
    if res is None:
        child.terminate()
        child.join()
        why = "timeout" if child.exitcode in (-15, None) else "error"
        print(f"{spec.name}: duckdb {why} rows={n_rows} compare={form}", flush=True)
        return why == "timeout"
    child.join()
    ts, want = res
    d = median(ts)
    msg = oracle.diff(spec.name, got, want)
    print(
        f"{spec.name}: duckdb median={d:.2f}s runs={[round(t, 2) for t in sorted(ts)]} "
        f"ratio={spark_median / d:.2f} rows={n_rows} compare={form} match={msg is None}",
        flush=True,
    )
    if msg:
        print(f"  {msg}", flush=True)
    return msg is None


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip().splitlines()[-1].strip())
        return 2
    argv = list(argv)
    sf_dir = argv[0]
    runs = 3
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    duckdb_timeout = 7200.0
    if "--duckdb-timeout" in argv:
        i = argv.index("--duckdb-timeout")
        duckdb_timeout = float(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    check = "--oracle" in argv
    if check:
        argv.remove("--oracle")
    names = argv[1:]
    reg = load_all_query_modules()
    spark = get_spark(app_name="time-queries")
    spark.sparkContext.setLogLevel("ERROR")

    # machine-state controls, measured as bench.py measures them
    floor = bench._probe(spark, lambda s: s.range(32))
    canary = bench._probe(spark, bench._canary_df)
    probes = f"floor={floor:.3f}s canary={canary:.3f}s"
    if check:
        con = oracle.connect(sf_dir, spark.sparkContext.defaultParallelism)
        sql = "SELECT SUM(l_extendedprice), COUNT(*) FROM lineitem"
        con.sql(sql).fetchall()
        t0 = time.perf_counter()
        con.sql(sql).fetchall()
        probes += f" duck_canary={time.perf_counter() - t0:.3f}s"
        con.close()
    print(probes, flush=True)

    ok = True
    for name in names:
        spec = reg.get(name)
        if spec is None:
            print(f"MISSING {name}")
            continue
        q_dir = oracle.sf_dir_for(spec, sf_dir)
        spark.sparkContext.setJobDescription(f"time: {name}")

        def one_pass() -> float:
            # time construction + noop: iterative operators (pagerank,
            # coverage, CC) run their rounds EAGERLY while the plan is
            # being built, so timing only the noop would miss them
            t0 = time.perf_counter()
            df = spec.spark(spark, q_dir)
            noop(df)
            return time.perf_counter() - t0

        one_pass()  # warmup
        registry.release(spark)
        ts = []
        for _ in range(runs):
            ts.append(one_pass())
            registry.release(spark)
        ts.sort()
        med = median(ts)
        print(f"{name}: median={med:.2f}s runs={[round(t, 2) for t in ts]}", flush=True)
        if check:
            ok = pair(spark, spec, q_dir, runs, duckdb_timeout, med) and ok
            registry.release(spark)
        spark.sparkContext.setJobDescription(None)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
