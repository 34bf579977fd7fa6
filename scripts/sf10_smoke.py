"""sf10 full-registry EXECUTION smoke: prove every registry query runs
to completion at sf10 (60M lineitem / 10M events) without OOM or error,
and record per-query wall seconds.

This is the Spark-side durability complement to the oracle sweeps: the
oracle ladder proves exactness up to sf1 (full registry) and sf10
(headline + hazard-class queries, full/aggregate compare); this proves
the remaining registry EXECUTES at sf10 — no driver collects, no
maxResultSize trips, no heap death — using the same noop-forced
discipline as bench.py.

Known-heavy queries are SKIPPED by default and PRINTED as skipped —
no silent caps (--heavy includes them). The set is EMPTY since r14:
q184's l=2 prefix upgrade closed the last corpus-density straggler
(629 s -> 123 s), so the whole registry runs in the default sweep.
--timeout S (default 300) cancels a runaway query via its job group
and records it as timeout instead of hanging the sweep.

Checkpoint/resume (r16, after the r15 external-SIGKILL incident killed
a sweep at ~146/196 with no traceback): every per-query record is
ALSO appended to a state file (--state PATH, default
``.smoke_state/<sf_dir basename>.jsonl`` under the repo root — never
inside sf_dir, which may be read-only) the moment it lands, and --resume
replays that file — queries already recorded ok/skipped are emitted
from the state without re-running (flagged "resumed": true) and count
in the closing summary; error/timeout rows are retried. So after any
kill the one-command recovery is re-running with --resume added.
Each record also carries the JVM's peak RSS observed while the query
ran (2 s sampler on /proc/<jvm>/status VmRSS) so the next external
kill can be attributed to the query that was inflating the heap.

    python scripts/sf10_smoke.py [sf_dir] [--timeout 300] [--heavy]
                                 [--resume] [--state PATH]

Prints one JSON line per query and a closing summary.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, ".")

from e2e_stock_data_pipeline_spark.plans import registry  # noqa: E402
from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules  # noqa: E402
from e2e_stock_data_pipeline_spark.session import get_spark  # noqa: E402

# sf10 evidence for these lives in BENCH_NOTES (heavy-tier pair table).
# r12's star-contraction CC brought the whole CC family under the
# default watchdog (q56 cold 234 s was 598 s; q153 247 s was 434 s
# after single-probe dual-leak + pair-set reuse), so it runs in the
# default sweep now; only the corpus-density candidate-explosion pair
# remains skipped.
# r13: q86's hot-bucket cap (mirrored in its oracle) brought it to
# 205 s at sf10 — in-sweep under the default watchdog now. r14: q184's
# l=2 prefix scheme (AdaptJoin token-pair keys; posting lists moved
# from single-shingle space, mean 227, to pair space, max 39) cut the
# r13 629 s run to 123 s — in-sweep too; nothing is heavy-gated now.
KNOWN_HEAVY: set[str] = set()


def _jvm_pid() -> int | None:
    """Pid of the Spark JVM (the java child of this driver process)."""
    me = str(os.getpid())
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parts = f.read().split()
                if parts[3] == me and "java" in parts[1]:
                    return int(pid)
            except OSError:
                continue
    except OSError:
        pass
    return None


def _rss_mb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        return None
    return None


class _RssSampler:
    """Max JVM VmRSS observed between reset() calls (2 s poll). The
    kernel's VmHWM can't attribute a peak to a QUERY (it's a process-
    lifetime high-water mark); a coarse sampler can."""

    def __init__(self) -> None:
        self.pid: int | None = None
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self) -> None:
        while not self._stop.wait(2.0):
            if self.pid is None:
                self.pid = _jvm_pid()
            if self.pid is not None:
                rss = _rss_mb(self.pid)
                if rss is None:  # JVM died/rebuilt — rediscover
                    self.pid = None
                elif rss > self.peak:
                    self.peak = rss

    def reset(self) -> None:
        self.peak = 0
        if self.pid is not None:
            rss = _rss_mb(self.pid)
            if rss:
                self.peak = rss

    def stop(self) -> None:
        self._stop.set()


def main(argv: list[str]) -> int:
    timeout = 300.0
    if "--timeout" in argv:
        i = argv.index("--timeout")
        timeout = float(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    heavy = "--heavy" in argv
    if heavy:
        argv.remove("--heavy")
    # --only q1,q2: targeted re-runs (e.g. verifying a density-guard fix
    # on the exact queries that timed out) without the 3h full sweep
    only = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2 :]
    resume = "--resume" in argv
    if resume:
        argv.remove("--resume")
    state_path = None
    if "--state" in argv:
        i = argv.index("--state")
        state_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else ".bench_sf1/sf10"
    if state_path is None:
        os.makedirs(".smoke_state", exist_ok=True)
        state_path = os.path.join(
            ".smoke_state", os.path.basename(os.path.normpath(sf_dir)) + ".jsonl"
        )
    done: dict[str, dict] = {}
    if resume and os.path.exists(state_path):
        with open(state_path) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a kill mid-write leaves a torn last line
                status = rec.get("status", "")
                if rec.get("query") and (
                    status == "ok" or status.startswith("skip")
                ):
                    done[rec["query"]] = rec
    elif not resume and os.path.exists(state_path):
        os.replace(state_path, state_path + ".prev")  # fresh sweep, keep one back
    state = open(state_path, "a", buffering=1)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    def fresh_session():
        s = get_spark(
            app_name="sf10-smoke", master=f"local[{cpus}]", shuffle_partitions=cpus
        )
        s.sparkContext.setLogLevel("ERROR")
        return s

    spark = fresh_session()
    reg = load_all_query_modules()
    sampler = _RssSampler()

    def emit(rec: dict) -> None:
        line = json.dumps(rec)
        print(line, flush=True)
        state.write(line + "\n")

    ok = errors = timeouts = skipped = 0
    t_all = time.perf_counter()
    for name, spec in reg.items():
        if only is not None and name not in only:
            continue
        if name in done:
            rec = dict(done[name], resumed=True)
            if rec["status"] == "ok":
                ok += 1
            else:
                skipped += 1
            print(json.dumps(rec), flush=True)  # already in the state file
            continue
        if spec.pinned_sf_dir:
            skipped += 1
            emit({"query": name, "status": "skip_pinned"})
            continue
        if name in KNOWN_HEAVY and not heavy:
            skipped += 1
            emit({"query": name, "status": "skip_heavy_evidenced"})
            continue
        if "baseline" in (spec.tags or ()) and spec.scale_twin and not heavy:
            # by-design quadratic correctness anchors (q42/q50): their
            # declared scale_twin IS the sf10 path; running the anchor at
            # sf10 just burns the timeout proving what the tag already says
            skipped += 1
            emit(
                {
                    "query": name,
                    "status": "skip_baseline_anchor",
                    "scale_twin": spec.scale_twin,
                }
            )
            continue
        group = f"smoke-{name}"
        cancelled = threading.Event()
        timer = None
        sampler.reset()
        t0 = time.perf_counter()
        rec: dict = {"query": name}
        try:
            # inside the try: a JVM killed by the PREVIOUS query's late GC
            # death surfaces here as a py4j error — it must record+rebuild,
            # not crash the sweep (r13: q41's 336M-pair run killed the
            # context after its own probe passed, and the next iteration's
            # setJobGroup was the first uncovered call — whole sweep died)
            sc = spark.sparkContext
            sc.setJobGroup(group, name, interruptOnCancel=True)

            def watchdog():
                cancelled.set()
                sc.cancelJobGroup(group)

            timer = threading.Timer(timeout, watchdog)
            timer.start()
            spec.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            rec["status"] = "ok"
            ok += 1
        except Exception as exc:  # noqa: BLE001
            if cancelled.is_set():
                rec["status"] = "timeout"
                timeouts += 1
            else:
                rec["status"] = "error"
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:160]}"
                errors += 1
        finally:
            if timer is not None:
                timer.cancel()
            try:
                spark.sparkContext.setJobGroup("", "")
            except Exception:  # noqa: BLE001
                pass
        rec["sec"] = round(time.perf_counter() - t0, 2)
        if sampler.peak:
            rec["jvm_peak_rss_mb"] = sampler.peak
        # between-queries lifecycle hygiene (VERDICT r11 item 3): release
        # localCheckpoint blocks, broadcast references and the plan cache
        # so a 196-query single session doesn't accumulate to heap death
        try:
            released = registry.release(spark)
            if released["rdds_unpersisted"]:
                rec["released_rdds"] = released["rdds_unpersisted"]
        except Exception:  # noqa: BLE001
            pass
        # an executor OOM in local mode can kill the shared JVM context;
        # without a rebuild every later query cascade-fails (seen on the
        # first r11 run: q115's heap death poisoned q116+)
        try:
            spark.sql("SELECT 1").collect()
        except Exception:  # noqa: BLE001
            rec["session_rebuilt"] = True
            try:
                spark.stop()
            except Exception:  # noqa: BLE001
                pass
            spark = fresh_session()
        emit(rec)

    print(
        json.dumps(
            {
                "metric": "sf10_smoke",
                "sf_dir": sf_dir,
                "queries": len(reg),
                "ok": ok,
                "errors": errors,
                "timeouts": timeouts,
                "skipped": skipped,
                "total_sec": round(time.perf_counter() - t_all, 1),
            }
        ),
        flush=True,
    )
    sampler.stop()
    state.close()
    spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
