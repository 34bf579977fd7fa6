"""Benchmark worker: one Python process (the Spark driver) and the JVM it
starts, running one workload as a closed loop with one client.

run.py starts this after its untimed prepare step and passes the spawn
time in PERFBENCH_T0, so ``setup_s`` counts from process start: Python
imports, JVM and session start, table resolution and the
``spec.WARM_PASSES`` warm-up passes. Then timed passes run until
``--seconds`` have passed (at least ``spec.MIN_TIMED_PASSES``). Every
call into the engine inside a pass is one operation; an exception or a
failed output check marks it failed and the run goes on. The result is
written as JSON to ``--out``.

CPU and memory are read from /proc for this process and every process
under it (the driver JVM and its Python workers).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T0 = float(os.environ.get("PERFBENCH_T0") or time.time())
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the engine package, from source
sys.path.insert(0, HERE)

import spec  # noqa: E402
from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from spans import Tracer, layer_counters  # noqa: E402

from e2e_stock_data_pipeline_spark.pipeline import maintenance  # noqa: E402
from e2e_stock_data_pipeline_spark.pipeline.gold import price_features  # noqa: E402
from e2e_stock_data_pipeline_spark.pipeline.prices import (  # noqa: E402
    normalize_prices,
    write_partitioned_by_day,
)
from e2e_stock_data_pipeline_spark.pipeline.silver import merge_upsert  # noqa: E402
from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules  # noqa: E402
from e2e_stock_data_pipeline_spark.session import get_spark  # noqa: E402
from e2e_stock_data_pipeline_spark.sources import tables  # noqa: E402
from e2e_stock_data_pipeline_spark.streaming import bronze  # noqa: E402
from e2e_stock_data_pipeline_spark.streaming.rollup import stream_hourly_rollup  # noqa: E402

REGISTRY = load_all_query_modules()
CLK = os.sysconf("SC_CLK_TCK")


# -- /proc accounting ---------------------------------------------------------


def process_tree() -> list[int]:
    """This process and all of its live descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out = [os.getpid()]
    for pid in out:
        out.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime+stime of each process plus that of its reaped children."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ticks += sum(int(x) for x in st[st.rindex(")") + 2 :].split()[11:15])
    return ticks / CLK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


# -- harness ------------------------------------------------------------------


class Bench:
    """Shared state of one run: the live application, the op ledger and
    the per-call timings every metric is computed from."""

    def __init__(self, args):
        self.args = args
        self.data = args.data
        self.tracer = Tracer(bool(args.trace))
        self.event_dir = os.path.join(args.work, "eventlog")
        self.spark = None
        self.fresh_app = False
        self.warm = False
        self.touring = False  # in the traced run's passes of another workload
        self.ops: list[dict] = []
        self.start_s: list[float] = []
        self.resolve_s: list[float] = []
        self.schemas: dict[str, object] = {}
        self._obs = 0

    def layer(self, layer: str) -> str:
        return "warmup" if self.warm else layer

    def start_app(self, tables_needed=tables.TABLE_NAMES) -> None:
        conf = {}
        if self.args.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            }
        t = time.perf_counter()
        with self.tracer.span("get_spark", self.layer("session")):
            self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)
        if not self.touring:
            self.start_s.append(time.perf_counter() - t)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        t = time.perf_counter()
        with self.tracer.span("resolve_tables", self.layer("sources")):
            for name in tables_needed:
                tables.load(self.spark, self.data, name)
        if not self.touring:
            self.resolve_s.append(time.perf_counter() - t)
        self.fresh_app = True

    def stop_app(self) -> None:
        if self.spark is not None:
            self.tracer.sc = None
            self.spark.stop()
            self.spark = None

    def op(self, name: str, layer: str, fn) -> dict:
        """One attempted operation: run fn inside a span, record outcome."""
        rec = {"name": name, "pass": self.tracer.pass_id, "ok": True, "err": None}
        self.ops.append(rec)
        t = time.perf_counter()
        with self.tracer.span(name, self.layer(layer)):
            try:
                rec["out"] = fn()
            except Exception as e:  # noqa: BLE001 - counted, run continues
                rec["ok"] = False
                rec["err"] = f"{type(e).__name__}: {str(e).strip()[:400]}"
                rec["out"] = None
        rec["s"] = time.perf_counter() - t
        return rec

    def fail(self, rec: dict, why: str) -> None:
        if rec["ok"]:
            rec["ok"] = False
            rec["err"] = why

    def force(self, df) -> tuple[int, str]:
        """Noop-sink the frame; return its order-insensitive fingerprint
        (row count, sum of per-row xxhash64 over name-sorted columns)."""
        self._obs += 1
        obs = Observation(f"fp{self._obs}")
        df.observe(obs, *fingerprint_aggs(df)).write.format("noop").mode(
            "overwrite"
        ).save()
        got = obs.get
        return got["n"], str(got["h"])

    def query_op(self, name: str) -> dict:
        """Build a registry query (eager rounds run here) under the
        operators layer, then execute its plan under the plans layer."""
        tracker = self.spark.sparkContext.statusTracker()

        def run():
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            t = time.perf_counter()
            with self.tracer.span("build", self.layer("operators")):
                df = REGISTRY[name].spark(self.spark, self.data)
            build_s = time.perf_counter() - t
            build_jobs = len(tracker.getJobIdsForGroup(None) or []) - j0
            self.schemas[name] = df.schema
            t = time.perf_counter()
            with self.tracer.span("execute", self.layer("plans")):
                fp = self.force(df)
            return {
                "build_s": build_s,
                "exec_s": time.perf_counter() - t,
                "build_jobs": build_jobs,
                "fp": fp,
            }

        return self.op(name, "operators", run)

    def check_fingerprints(self) -> None:
        """Compare every recorded query fingerprint with the DuckDB
        oracle's, computed once here from the oracle results that the
        prepare step wrote (cast to the Spark output schema)."""
        recs = [r for r in self.ops if r["ok"] and isinstance(r["out"], dict) and "fp" in r["out"]]
        names = sorted({r["name"] for r in recs})
        if not names:
            return
        want: dict[str, tuple[int, str]] = {}
        frames = []
        with self.tracer.span("oracle_fingerprints", "check"):
            for name in names:
                path = os.path.join(self.args.oracle, f"{name}.parquet")
                schema = self.schemas[name]
                if not os.path.exists(path):
                    continue
                o = self.spark.read.parquet(path)
                if sorted(o.columns) != sorted(schema.fieldNames()):
                    continue
                o = o.select(*[o[f.name].cast(f.dataType).alias(f.name) for f in schema])
                frames.append(o.agg(F.lit(name).alias("q"), *fingerprint_aggs(o)))
            if frames:
                union = frames[0]
                for fr in frames[1:]:
                    union = union.unionByName(fr)
                for row in union.collect():
                    want[row["q"]] = (row["n"], str(row["h"]))
        for r in recs:
            exp = want.get(r["name"])
            if exp is None:
                self.fail(r, "no comparable oracle result")
            elif tuple(r["out"]["fp"]) != exp:
                self.fail(r, f"fingerprint {r['out']['fp']} != oracle {exp}")


def fingerprint_aggs(df):
    cols = sorted(df.columns)
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[df[c] for c in cols]).cast("decimal(38,0)")).alias("h"),
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


# -- workloads ----------------------------------------------------------------


class CurationEager:
    """Nightly curation job: eager operators, a fresh application per
    pass so session memos start cold while HotSpot stays warm."""

    name = "curation_eager"

    def setup(self, b: Bench) -> None:
        if b.spark is None:
            b.start_app()

    def before_pass(self, b: Bench) -> None:
        if not b.fresh_app:
            b.stop_app()
        if b.spark is None:
            b.start_app()

    def run_pass(self, b: Bench) -> dict:
        out = {"plans.build_s": 0.0, "plans.build_jobs": 0, "plans.exec_s": 0.0}
        for q in spec.CURATION:
            rec = b.query_op(q)
            out[f"operators.{q}_s"] = rec["s"]
            if rec["ok"]:
                for k in ("build_s", "build_jobs", "exec_s"):
                    out[f"plans.{k}"] += rec["out"][k]
            if q == "q56_dedup_clusters" and rec["ok"]:
                jobs = rec["out"]["build_jobs"]
                if jobs < spec.Q56_MIN_BUILD_JOBS:
                    b.fail(rec, f"q56 built with {jobs} Spark jobs: a memo read, not a build")
        return out

    def after_pass(self, b: Bench, out: dict) -> None:
        pass


class MedallionNightly:
    """The reference's nightly tier: raw -> bronze -> silver -> gold."""

    name = "medallion_nightly"
    KEYS = ["symbol", "trade_date"]

    def __init__(self):
        self.schema_app = None
        self.events_schema = None

    def setup(self, b: Bench) -> None:
        if b.spark is None:
            b.start_app(("events",))
        app = b.spark.sparkContext.applicationId
        if self.schema_app != app:
            self.events_schema = tables.load(b.spark, b.data, "events").schema
            self.schema_app = app

    def before_pass(self, b: Bench) -> None:
        self.setup(b)
        self.dir = os.path.join(b.args.work, "medallion")
        shutil.rmtree(self.dir, ignore_errors=True)

    @staticmethod
    def _silver_rows(df):
        return df.select(
            "symbol",
            F.col("as_of_date").alias("trade_date"),
            "open", "high", "low", "close", "volume", "fetched_at",
        )

    def run_pass(self, b: Bench) -> dict:
        spark, d, data = b.spark, self.dir, b.data
        landing = os.path.join(data, "landing_events")
        silver = f"{d}/silver/prices"

        def stream():
            return bronze.read_file_stream(
                spark, landing, self.events_schema, "parquet",
                max_files_per_trigger=spec.MAX_FILES_PER_TRIGGER,
            )

        def rollup():
            q = stream_hourly_rollup(stream(), f"{d}/gold/hourly", f"{d}/ckpt/rollup")
            q.awaitTermination()

        def merge(path: str):
            def run():
                src = spark.read.parquet(path)
                if "as_of_date" not in src.columns:  # raw API rows
                    src = normalize_prices(src)
                merge_upsert(spark, silver, self._silver_rows(src), self.KEYS, "fetched_at")
            return run

        steps = [
            ("normalize_write", "pipeline", lambda: write_partitioned_by_day(
                normalize_prices(spark.read.parquet(f"{data}/raw_prices_initial.parquet")),
                f"{d}/raw/prices")),
            ("bronze", "streaming", lambda: bronze.run_bronze_stream(
                stream(), f"{d}/bronze/events", f"{d}/ckpt/bronze")),
            ("rollup", "streaming", rollup),
            ("merge_initial", "pipeline", merge(f"{d}/raw/prices")),
            ("merge_incremental", "pipeline", merge(f"{data}/raw_prices_incremental.parquet")),
            ("gold", "pipeline", lambda: price_features(spark.read.parquet(silver))
                .write.mode("overwrite").parquet(f"{d}/gold/price_features")),
            ("compact", "pipeline", lambda: maintenance.compact(spark, f"{d}/bronze/events")),
        ]
        self.recs = {name: b.op(name, layer, fn) for name, layer, fn in steps}
        commits = os.path.join(d, "ckpt", "bronze", "commits")
        landed = b.args.expected["landed_rows"]
        bronze_s = self.recs["bronze"]["s"]
        return {
            "streaming.bronze_s": bronze_s,
            "streaming.bronze_rows_per_s": landed / bronze_s,
            "streaming.bronze_batches": len(
                [f for f in os.listdir(commits) if f.isdigit()]
            ) if os.path.isdir(commits) else 0,
            "streaming.rollup_s": self.recs["rollup"]["s"],
            "pipeline.normalize_write_s": self.recs["normalize_write"]["s"],
            "pipeline.merge_initial_s": self.recs["merge_initial"]["s"],
            "pipeline.merge_incremental_s": self.recs["merge_incremental"]["s"],
            "pipeline.gold_s": self.recs["gold"]["s"],
            "pipeline.compact_s": self.recs["compact"]["s"],
            "pipeline.silver_bytes_written": _dir_bytes(silver),
        }

    def after_pass(self, b: Bench, out: dict) -> None:
        """Row invariants of the pass, checked outside the timed window."""
        spark, d, exp = b.spark, self.dir, b.args.expected

        def count(path: str) -> int:
            return spark.read.parquet(path).count()

        checks = [
            ("bronze", lambda: count(f"{d}/bronze/events"), exp["landed_rows"]),
            ("rollup", lambda: spark.read.parquet(f"{d}/gold/hourly")
                .agg(F.sum("n")).first()[0], exp["landed_rows"]),
            ("merge_incremental", lambda: count(f"{d}/silver/prices"), exp["silver_keys"]),
            ("merge_incremental", lambda: spark.read.parquet(f"{d}/silver/prices")
                .select(*self.KEYS).distinct().count(), exp["silver_keys"]),
            ("gold", lambda: count(f"{d}/gold/price_features"), exp["silver_keys"]),
        ]
        with b.tracer.span("invariants", "check"):
            for step, got_fn, want in checks:
                rec = self.recs[step]
                if not rec["ok"]:
                    continue
                try:
                    got = got_fn()
                except Exception as e:  # noqa: BLE001
                    got = f"{type(e).__name__}: {e}"
                if got != want:
                    b.fail(rec, f"invariant: got {got}, want {want}")


WORKLOADS = {w.name: w for w in (CurationEager, MedallionNightly)}


# -- run loop -----------------------------------------------------------------


def run_pass(wl, b: Bench, label: str, warm: bool) -> dict:
    b.warm = warm
    b.tracer.pass_id = f"{wl.name}:{label}"
    wl.before_pass(b)
    tree = process_tree()
    cpu0 = cpu_seconds(tree)
    steal0 = steal_seconds()
    t = time.perf_counter()
    with b.tracer.span(f"pass {label}", b.layer("pass")):
        out = wl.run_pass(b)
    wall = time.perf_counter() - t
    cpu = cpu_seconds(process_tree()) - cpu0
    steal = (steal_seconds() - steal0) / (wall * os.cpu_count())
    b.fresh_app = False
    wl.after_pass(b, out)
    b.warm = False
    return {"workload": wl.name, "pass": b.tracer.pass_id, "wall": wall, "cpu": cpu, "steal": steal, "warm": warm, **out}


def _median(values):
    return statistics.median(values) if values else 0.0


def per_layer(b: Bench, passes: list[dict], counters: dict) -> dict:
    """Per-layer metrics: medians over the measured passes of the
    workload each metric belongs to, and event-log counters per pass."""
    out = {
        "session.start_s": _median(b.start_s),
        "sources.resolve_s": _median(b.resolve_s),
    }
    measured = [p for p in passes if not p["warm"]]
    for name in spec.PER_LAYER:
        if name in out or name.startswith("trace."):
            continue
        vals = [p[name] for p in measured if name in p]
        if vals:
            out[name] = _median(vals)
    n_resolves = len([s for s in b.tracer.spans if s["layer"] == "sources"])
    for layer, owner in spec.COUNTER_LAYERS.items():
        n = n_resolves if owner is None else len([p for p in measured if p["workload"] == owner])
        got = counters.get(layer, {})
        for c in spec.counters(layer):
            out[f"{layer}.{c}"] = got.get(c, 0) / max(n, 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--oracle", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(args.data, "expected.json")) as f:
        args.expected = json.load(f)

    b = Bench(args)
    wl = WORKLOADS[args.workload]()
    passes = []
    wl.setup(b)
    for k in range(spec.WARM_PASSES):
        passes.append(run_pass(wl, b, f"warm{k}", warm=True))
    setup_s = time.time() - T0
    t_loop = time.perf_counter()
    timed: list[dict] = []
    while len(timed) < spec.MIN_TIMED_PASSES or time.perf_counter() - t_loop < args.seconds:
        timed.append(run_pass(wl, b, f"t{len(timed)}", warm=False))
    passes += timed
    if args.trace:
        # every other workload too, warmed up as usual and then measured
        # over one pass, so each traced run reports every layer
        b.touring = True
        for name, cls in WORKLOADS.items():
            if name != wl.name:
                other = cls()
                for k in range(spec.WARM_PASSES):
                    passes.append(run_pass(other, b, f"tour-warm{k}", warm=True))
                passes.append(run_pass(other, b, "tour", warm=False))
    t_end = time.perf_counter()
    b.check_fingerprints()
    rss = peak_rss_mb(process_tree())
    t_check = time.perf_counter()
    b.stop_app()

    own = [p for p in passes if p["workload"] == wl.name]
    warm = [p for p in own if p["warm"]]
    timed_ids = {p["pass"] for p in timed}
    timed_ops = [r for r in b.ops if r["pass"] in timed_ids]
    result = {
        "ops_attempted": len(b.ops),
        "ops_failed": sum(not r["ok"] for r in b.ops),
        "errors": sorted({f"{r['name']}: {r['err']}" for r in b.ops if not r["ok"]})[:10],
        "passes": len(timed),
        "pass_walls": [round(p["wall"], 4) for p in own],
        "pass_cpu": [round(p["cpu"], 3) for p in own],
        "pass_steal": [round(p["steal"], 4) for p in own],
        "warm_drift": timed[0]["wall"] / warm[-1]["wall"] if warm else None,
        "op_s": {
            name: round(statistics.median(r["s"] for r in timed_ops if r["name"] == name), 4)
            for name in dict.fromkeys(r["name"] for r in timed_ops)
        },
        "check_s": t_check - t_end,
        "stop_s": time.perf_counter() - t_check,
    }
    if args.trace:
        t = time.perf_counter()
        counters = layer_counters(b.event_dir)
        b.tracer.write(os.path.join(args.work, "trace", f"{wl.name}.spans.jsonl"))
        metrics = per_layer(b, passes, counters)
        metrics["trace.overhead_s"] = b.tracer.overhead_s + time.perf_counter() - t
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": _median([p["wall"] for p in timed]),
            "pass_core_s": _median([p["cpu"] for p in timed]),
            "peak_rss_mb": rss,
        }
    result["metrics"] = metrics
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
