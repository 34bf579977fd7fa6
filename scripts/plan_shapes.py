"""The plan-shape ledger: ``plans/shapes.json``, one line per registered
query, built at sf0.001 in tier-1's session shape (``local[8]``, 8
shuffle partitions). Each line holds a sha256 fingerprint of the
query's normalized formatted physical plan, its exchange, join and
Generate counts, its Python nodes, its generate-under-broadcast sites
and ``changed_round``: the round its fingerprint last changed, which
``__spark_entry__.queries()`` reads to order the driver's capped run.

    python scripts/plan_shapes.py [sf_dir]        # compare with the ledger
    python scripts/plan_shapes.py --write         # regenerate the ledger
    python scripts/plan_shapes.py --show NAME...  # print normalized plans

A plan change is reviewed as the ledger's diff. ``--write`` stamps a
query whose fingerprint changed with 1 + the newest
``CORRECTNESS_r*.json`` round in the repo; an unchanged query keeps its
stamp. The lints fail on a Python row UDF in any plan, and on an
Arrow/pandas node or a generate-under-broadcast site outside its
allowlist. At an sf_dir other than sf0.001 only the lints run. Exits 1
on any finding; ``tests/test_plans.py`` runs this check in tier-1.

Plans are built in a fresh process in registry order, which fixes the
numbering of expression ids. q117's distinct-aggregate Expand orders its
groups by a hash of those ids, so its fingerprint can move when a query
built before it changes: such a q117 line changes with equal counts.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules  # noqa: E402
from e2e_stock_data_pipeline_spark.session import get_spark  # noqa: E402

LEDGER = REPO / "plans" / "shapes.json"
LEDGER_SF = "/root/testdata/sf0.001"
WRITE_HINT = "python scripts/plan_shapes.py --write"

# Python evaluated row by row (or per vectorized scalar call): never allowed.
ROW_UDF_MARKERS = ("BatchEvalPython", "ArrowEvalPython", "PythonUDF")
# Whole-partition / whole-group Arrow boundaries: allowed where named below.
ARROW_NODE = re.compile(r"\w+In(?:Pandas|Arrow)\w*")

# query -> why its kernel crosses into Python (the sanctioned places in
# ARCHITECTURE.md, "Execution model"):
ARROW_ALLOWED: dict[str, str] = {
    "q93_heavy_hitter_users": "MapInPandas: per-partition Misra-Gries summaries, a sequential fold",
    "q125_ema_unbounded_twin": "FlatMapGroupsInPandas: per-key EMA recurrence, no closed form",
    "q128_ivf_rerank": "MapInArrow: numpy corpus x cells argmin of the IVF assignment",
}

# A Generate under a BroadcastExchange is the r16 q86 heap-flake class:
# Catalyst's size estimate through an explode undershoots, so a data-sized
# fan-out gets broadcast. query -> why its broadcast side stays bounded:
BROADCAST_GENERATE_ALLOWED: dict[str, str] = {
    "q123_pq_rerank": "posexplode bounded by n_seeds*m / |Q|*m constants",
    "q184_set_similarity_join": "rare-prefix probe frames, cap-bounded",
    # the (vector, band) bucket frame of the banded LSH self-join: no
    # hint, Catalyst broadcasts it only while the pre-explode estimate is
    # under the 64 MB threshold, and the explode adds at most
    # EMBED_R_MAX - EMBED_BASE_PLANES = 12 rows per vector
    "q50b_neardup_lsh_blocked": "auto-broadcast bucket frame, <= 12 bands per vector",
    "q87_multisignal_neardup": "auto-broadcast bucket frame, <= 12 bands per vector",
    "q130_incremental_embed_neardup": "auto-broadcast bucket frame, <= 12 bands per vector",
}

# Ids and paths that depend on the process or the machine, not on the
# query. Lambda variables are numbered by one JVM-wide counter, so without
# the second rule a lambda added to one query would renumber every query
# built after it.
_NORMALIZE = [
    (re.compile(r"#\d+L?"), ""),  # expression ids
    (re.compile(r"\b([xyz])_\d+\b"), r"\1"),  # lambda variables
    (re.compile(r",? ?plan_id=\d+"), ""),
    (re.compile(r"RDD\[\d*\]( at \w+) at [^,]*"), r"RDD[]\1"),  # RDD id, call site
    (re.compile(re.escape(str(REPO))), "<repo>"),
    (re.compile(r"/tmp/[^\s,\]]*"), "<tmp>"),
]
_NODE = re.compile(r"^\(\d+\) (\w+)", re.M)


def initial_plan(df):
    """A fresh QueryExecution of ``df``'s analyzed plan. Once ``df`` has
    run, its own one shows AQE's final plan instead of the initial one."""
    spark = df.sparkSession
    return spark._jsparkSession.sessionState().executePlan(
        df._jdf.queryExecution().analyzed(),
        spark._jvm.org.apache.spark.sql.execution.CommandExecutionMode.ALL(),
    )


def normalized_plan(df, qe=None) -> str:
    """The formatted physical plan of ``df`` (of ``qe`` when given), ids
    and machine paths stripped."""
    jvm = df.sparkSession._jvm
    plan = (qe or initial_plan(df)).explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    for pat, repl in _NORMALIZE:
        plan = pat.sub(repl, plan)
    return plan.rstrip() + "\n"


def _depth(line: str) -> int:
    """Tree depth of a Spark plan line (position of its node marker)."""
    m = re.search(r"[+:]-", line)
    return m.start() if m else -1


def broadcast_generate_sites(plan: str) -> list[tuple[str, str, str]]:
    """(broadcast line, generate line, scanned relations) triples where a
    Generate sits in the BroadcastExchange's subtree. The relations tell
    the reviewer whether the explode multiplies a FACT-table scan (the
    q86 hazard) or a dimension-bounded frame (benign)."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = _depth(line)
        gen = None
        rels: list[str] = []
        for j in range(i + 1, len(lines)):
            dj = _depth(lines[j])
            if dj != -1 and dj <= d:
                break  # left the subtree
            if gen is None and "Aggregate" in lines[j]:
                break  # agg-bounded: the broadcast holds group-count rows,
                # not the explode's fan-out — the q86 hazard needs the
                # Generate's raw output under the broadcast
            if gen is None and ("Generate" in lines[j] or "explode" in lines[j]):
                gen = lines[j].strip()[:110]
            m = re.search(r"FileScan parquet \[?([^\]]*)\]?|parquet [^ ]*/(\w+)\.parquet", lines[j])
            if "FileScan" in lines[j]:
                m2 = re.search(r"(\w+)\.parquet", lines[j])
                if m2:
                    rels.append(m2.group(1))
        if gen is not None:
            out.append((line.strip()[:90], gen, ",".join(sorted(set(rels))) or "?"))
    return out


def shape(df) -> dict:
    """One ledger line of ``df``'s plan, without its ``changed_round``."""
    qe = initial_plan(df)
    plan = normalized_plan(df, qe)
    nodes = _NODE.findall(plan)
    python = {n for n in nodes if ARROW_NODE.fullmatch(n)}
    python.update(m for m in ROW_UDF_MARKERS if m in plan)
    tree = qe.executedPlan().toString()
    return {
        "fingerprint": hashlib.sha256(plan.encode()).hexdigest(),
        "exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in nodes),
        "reused_exchanges": nodes.count("ReusedExchange"),
        "broadcast_hash_joins": nodes.count("BroadcastHashJoin"),
        "sort_merge_joins": nodes.count("SortMergeJoin"),
        "generates": nodes.count("Generate"),
        "python_nodes": sorted(python),
        "broadcast_generates": len(broadcast_generate_sites(tree)),
    }


def shapes(spark, sf_dir: str) -> dict[str, dict]:
    """``shape`` of every registered query at sf_dir; a query whose
    oracle pins its sf runs there."""
    registry = load_all_query_modules()
    out = {}
    for name in sorted(registry):
        spec = registry[name]
        out[name] = shape(spec.spark(spark, spec.pinned_sf_dir or sf_dir))
    return out


def lint(found: dict[str, dict]) -> list[str]:
    """Python row UDFs anywhere; Arrow/pandas nodes and generate-under-
    broadcast sites outside their allowlists, and allowlist entries whose
    query no longer has one."""
    problems = []
    for name, s in found.items():
        if udfs := [n for n in s["python_nodes"] if n in ROW_UDF_MARKERS]:
            problems.append(f"{name}: Python row UDF in the plan: {udfs}")
        elif s["python_nodes"] and name not in ARROW_ALLOWED:
            problems.append(f"{name}: Arrow/pandas node outside ARROW_ALLOWED: {s['python_nodes']}")
        if s["broadcast_generates"] and name not in BROADCAST_GENERATE_ALLOWED:
            problems.append(
                f"{name}: {s['broadcast_generates']} Generate(s) under a broadcast "
                "outside BROADCAST_GENERATE_ALLOWED"
            )
    for name in ARROW_ALLOWED.keys() & found.keys():
        if not found[name]["python_nodes"]:
            problems.append(f"{name}: in ARROW_ALLOWED but its plan has no Python node")
    for name in BROADCAST_GENERATE_ALLOWED.keys() & found.keys():
        if not found[name]["broadcast_generates"]:
            problems.append(f"{name}: in BROADCAST_GENERATE_ALLOWED but has no such site")
    return sorted(problems)


def drift(found: dict[str, dict], ledger: dict[str, dict]) -> list[str]:
    """Every registered query whose shape differs from its ledger line,
    is missing from the ledger, or is in the ledger but not registered."""
    problems = [
        f"{n}: registered but not in plans/shapes.json; run {WRITE_HINT}"
        for n in sorted(found.keys() - ledger.keys())
    ] + [
        f"{n}: in plans/shapes.json but not registered; run {WRITE_HINT}"
        for n in sorted(ledger.keys() - found.keys())
    ]
    for name in sorted(found.keys() & ledger.keys()):
        was = ledger[name]
        changed = [f"{k} {was.get(k)} -> {v}" for k, v in found[name].items() if was.get(k) != v]
        if changed:
            problems.append(
                f"{name}: plan shape changed ({'; '.join(changed)}); review it and run {WRITE_HINT}"
            )
    return problems


def load(path: Path = LEDGER) -> dict[str, dict]:
    return json.loads(path.read_text()) if path.exists() else {}


def write(found: dict[str, dict], path: Path = LEDGER, repo: Path = REPO) -> None:
    """Rewrite the ledger at ``path`` for ``found``, one line per query so
    a plan change reads as a one-line diff. A query keeps its
    ``changed_round`` while its fingerprint matches the old line;
    otherwise it gets 1 + the newest CORRECTNESS_r<N>.json round in
    ``repo``, the round whose driver run first sees the new plan."""
    rounds = [re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name) for p in repo.iterdir()]
    new_round = 1 + max((int(m.group(1)) for m in rounds if m), default=0)
    old = load(path)
    lines = []
    for name in sorted(found):
        was = old.get(name, {})
        same = was.get("fingerprint") == found[name]["fingerprint"]
        line = {**found[name], "changed_round": was["changed_round"] if same else new_round}
        lines.append(f"{json.dumps(name)}: {json.dumps(line)}")
    path.write_text("{\n" + ",\n".join(lines) + "\n}\n")


def main(argv: list[str]) -> int:
    show = argv[argv.index("--show") + 1 :] if "--show" in argv else None
    args = argv[: argv.index("--show")] if show is not None else argv
    rewrite = "--write" in args
    positional = [a for a in args if a != "--write"]
    sf_dir = positional[0] if positional else LEDGER_SF
    if rewrite and sf_dir != LEDGER_SF:
        print(f"--write builds the ledger at {LEDGER_SF} only", file=sys.stderr)
        return 2

    spark = get_spark(app_name="plan-shapes", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all_query_modules()
    if show is not None:
        for name in show:
            spec = registry[name]
            print(f"## {name}\n{normalized_plan(spec.spark(spark, spec.pinned_sf_dir or sf_dir))}")
        return 0

    found = shapes(spark, sf_dir)
    problems = lint(found)
    if rewrite:
        write(found)
        print(f"wrote {LEDGER.relative_to(REPO)}: {len(found)} queries")
    elif sf_dir == LEDGER_SF:
        problems += drift(found, load())
    for p in problems:
        print(p)
    print(json.dumps({"queries": len(found), "problems": len(problems)}))
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
