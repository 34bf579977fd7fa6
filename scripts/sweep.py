"""Run every registered query once, in the driver's order.

By default each query is forced through the noop sink (bench.py's
discipline: no driver collect, so the sweep runs at any sf, sf10
included) and its wall seconds are recorded. ``--oracle`` instead
collects each query and compares it with its DuckDB oracle through
``plans/oracle.py``, the comparison tier-1's parity test uses; that is
the correctness gate at sf0.01, where every oracle is feasible. Queries
without an oracle are collected and recorded ok. A query whose oracle
embeds a literal path runs at that pinned sf in both modes.

    python scripts/sweep.py <sf_dir> [--oracle] [--only q01_...,q36_...]
        [--json PATH] [--timeout 300] [--heavy] [--resume] [--state PATH]

* ``--json PATH`` writes ``{query: record}``; each record carries
  ``total_s`` (and ``spark_s``, the Spark side alone), the shape
  ``__spark_entry__._costs`` reads from ``scripts/query_costs.json``.
* ``--timeout S`` cancels a runaway query through its job group and
  records it as a timeout instead of hanging the sweep.
* Every record is appended to a state file the moment it lands
  (``--state``, default ``.smoke_state/<sf basename>[-oracle].jsonl``
  under the repo root, never inside sf_dir). ``--resume`` replays the
  queries that file records as ok or skipped instead of re-running them,
  so a killed sweep restarts where it stopped; a fresh sweep keeps the
  previous file as ``.prev``.
* Between queries the sweep releases checkpoint blocks and prepared
  plans (``registry.release``) and rebuilds the session if a query killed
  it, so one heap death cannot cascade into every later query.
* In noop mode a ``baseline``-tagged query with a ``scale_twin`` (a
  by-design quadratic correctness anchor) is skipped unless ``--heavy``;
  the oracle gate runs it.

Prints one JSON line per query and a closing summary; exits 1 unless
every query that ran is ok. The session comes from ``session.get_spark``
(``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEMORY``); a session that was
already running is reused and left running.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from e2e_stock_data_pipeline_spark.plans import oracle, registry  # noqa: E402
from e2e_stock_data_pipeline_spark.session import get_spark  # noqa: E402
from e2e_stock_data_pipeline_spark.sources import tables  # noqa: E402


def _flag(argv: list[str], name: str, default=None):
    """Pop ``name VALUE`` from argv; the value, or default when absent."""
    if name not in argv:
        return default
    i = argv.index(name)
    value = argv[i + 1]
    del argv[i : i + 2]
    return value


def _switch(argv: list[str], name: str) -> bool:
    if name not in argv:
        return False
    argv.remove(name)
    return True


def _resumable(state_path: str) -> dict[str, dict]:
    done: dict[str, dict] = {}
    with open(state_path) as f:
        for line in f:
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue  # a kill mid-write leaves a torn last line
            if rec.get("status") == "ok" or rec.get("status", "").startswith("skip"):
                done[rec.pop("query")] = rec
    return done


def _run(spark, spec, sf_dir: str, con) -> dict:
    """One query, forced through noop, or collected and compared on con."""
    t0 = time.perf_counter()
    sdf = spec.spark(spark, oracle.sf_dir_for(spec, sf_dir))
    if con is None:
        sdf.write.format("noop").mode("overwrite").save()
        return {"status": "ok", "spark_s": round(time.perf_counter() - t0, 3)}
    got = oracle.spark_result(sdf)
    rec = {"status": "ok", "spark_s": round(time.perf_counter() - t0, 3), "rows": len(got.rows)}
    msg = oracle.diff(spec.name, got, oracle.duckdb_result(con.sql(spec.oracle)))
    if msg:
        rec.update(status="mismatch", error=msg[:300])
    return rec


def main(argv: list[str]) -> int:
    argv = list(argv)
    check = _switch(argv, "--oracle")
    heavy = _switch(argv, "--heavy")
    resume = _switch(argv, "--resume")
    only = _flag(argv, "--only")
    only = set(only.split(",")) if only else None
    json_path = _flag(argv, "--json")
    timeout = float(_flag(argv, "--timeout", "300"))
    state_path = _flag(argv, "--state")
    if len(argv) != 1:
        print(__doc__)
        return 2
    sf_dir = argv[0]
    if state_path is None:
        os.makedirs(REPO / ".smoke_state", exist_ok=True)
        base = os.path.basename(os.path.normpath(sf_dir)) + ("-oracle" if check else "")
        state_path = str(REPO / ".smoke_state" / f"{base}.jsonl")
    done = _resumable(state_path) if resume and os.path.exists(state_path) else {}
    if not resume and os.path.exists(state_path):
        os.replace(state_path, state_path + ".prev")
    state = open(state_path, "a", buffering=1)

    owned = SparkSession.getActiveSession() is None

    def fresh_session():
        s = get_spark(app_name="sweep")
        if owned:
            s.sparkContext.setLogLevel("ERROR")
        return s

    spark = fresh_session()
    reg = registry.load_all_query_modules()
    # the driver's order; queries are called through their specs, so a
    # reused session keeps its own conf
    names = [n for n in entrymod.queries() if only is None or n in only]
    # one untimed touch per table warms the JVM and the table memo, so
    # the first query's recorded cost is not cold-start time (these
    # costs order the driver's gate through scripts/query_costs.json)
    for t in tables.TABLE_NAMES:
        tables.load(spark, sf_dir, t).limit(1).collect()

    records: dict[str, dict] = {}
    # a pinned query's oracle reads its own literal path, so one set of
    # views serves the whole sweep, as in the parity test
    con = oracle.connect(sf_dir) if check else None
    t_all = time.perf_counter()
    for name in names:
        spec = reg[name]
        if name in done:
            records[name] = dict(done[name], resumed=True)
            print(json.dumps({"query": name, **records[name]}), flush=True)
            continue
        rec: dict
        if not check and not heavy and "baseline" in spec.tags and spec.scale_twin:
            # the declared scale_twin IS the large-sf path; running the
            # anchor at sf10 only burns the timeout proving the tag
            rec = {"status": "skip_baseline_anchor", "scale_twin": spec.scale_twin}
        else:
            group = f"sweep-{name}"
            cancelled = threading.Event()
            timer = None
            t0 = time.perf_counter()
            try:
                # inside the try: a JVM the PREVIOUS query killed surfaces
                # here as a py4j error, which must record and rebuild
                sc = spark.sparkContext
                sc.setJobGroup(group, name, interruptOnCancel=True)

                def watchdog(sc=sc, group=group, cancelled=cancelled):
                    cancelled.set()
                    sc.cancelJobGroup(group)

                timer = threading.Timer(timeout, watchdog)
                timer.start()
                rec = _run(spark, spec, sf_dir, con)
            except Exception as exc:  # noqa: BLE001
                if cancelled.is_set():
                    rec = {"status": "timeout"}
                else:
                    rec = {"status": "error", "error": f"{type(exc).__name__}: {str(exc)[:300]}"}
            finally:
                if timer is not None:
                    timer.cancel()
                try:
                    spark.sparkContext.setJobGroup("", "")
                except Exception:  # noqa: BLE001
                    pass
            rec["total_s"] = round(time.perf_counter() - t0, 3)
            # the result is consumed, so its checkpoint blocks, broadcasts
            # and prepared plan can go before the next query
            try:
                released = registry.release(spark)
                if released["rdds_unpersisted"]:
                    rec["released_rdds"] = released["rdds_unpersisted"]
            except Exception:  # noqa: BLE001
                pass
            # an executor OOM in local mode can kill the shared context;
            # without a rebuild every later query cascade-fails
            try:
                spark.sql("SELECT 1").collect()
            except Exception:  # noqa: BLE001
                rec["session_rebuilt"] = True
                try:
                    spark.stop()
                except Exception:  # noqa: BLE001
                    pass
                owned = True
                spark = fresh_session()
        records[name] = rec
        line = json.dumps({"query": name, **rec})
        print(line, flush=True)
        state.write(line + "\n")

    counts: dict[str, int] = {}
    for rec in records.values():
        status = "skipped" if rec["status"].startswith("skip") else rec["status"]
        counts[status] = counts.get(status, 0) + 1
    failed = sorted(
        n for n, r in records.items() if r["status"] != "ok" and not r["status"].startswith("skip")
    )
    print(
        json.dumps(
            {
                "metric": "sweep",
                "mode": "oracle" if check else "noop",
                "sf_dir": sf_dir,
                "queries": len(records),
                **counts,
                "failed": failed,
                "total_sec": round(time.perf_counter() - t_all, 1),
            }
        ),
        flush=True,
    )
    if json_path:
        with open(json_path, "w") as f:
            json.dump(records, f, indent=1)
    state.close()
    if con is not None:  # release view-backed file handles
        con.close()
    if owned:
        spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
