"""Driver-gate ordering: the ~50-row correctness budget must (a) spend
itself on never-green queries first and (b) once everything is green,
rotate by staleness so every query re-earns a fresh row every few
rounds (a silent regression cannot hide indefinitely behind an old
green row). Pure driver-side logic — no SparkSession needed.
"""

from __future__ import annotations

import json
from pathlib import Path

import __spark_entry__ as entrymod


def _write_round(tmp: Path, rnd: int, rows: dict) -> None:
    (tmp / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED = {"rows_match": False, "schema_match": True, "hash_match": False, "err": None}


def test_last_green_round_tracks_latest_green(tmp_path, monkeypatch):
    monkeypatch.setattr(entrymod, "_REPO", tmp_path)
    _write_round(tmp_path, 3, {"qa": GREEN, "qb": GREEN})
    _write_round(tmp_path, 7, {"qb": GREEN, "qc": RED})
    last = entrymod._last_green_round()
    assert last == {"qa": 3, "qb": 7}  # qc's red row never counts


def test_stale_green_sorts_before_fresh(tmp_path, monkeypatch):
    monkeypatch.setattr(entrymod, "_REPO", tmp_path)
    _write_round(tmp_path, 2, {"q_stale": GREEN})
    _write_round(tmp_path, 9, {"q_fresh": GREEN})
    last = entrymod._last_green_round()
    key = lambda n: (last.get(n, 0), 0.5, n)  # cost tie, as in queries()
    ordered = sorted(["q_fresh", "q_stale", "q_never"], key=key)
    assert ordered == ["q_never", "q_stale", "q_fresh"]


def test_hash_none_is_not_green(tmp_path, monkeypatch):
    monkeypatch.setattr(entrymod, "_REPO", tmp_path)
    _write_round(
        tmp_path,
        4,
        {
            "q_nohash": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": None,
                "err": None,
            },
            "q_oldfmt": {"rows_match": True, "schema_match": True, "err": None},
        },
    )
    last = entrymod._last_green_round()
    assert "q_nohash" not in last  # hash never computed: keep re-running
    assert last["q_oldfmt"] == 4  # pre-hash driver format: accepted


def _effective_rank(name: str, last: dict[str, int], changed: dict[str, int]) -> float:
    # mirror queries()'s rank(): changed-since-green queries sort right
    # after the never-seen group regardless of their stale green round
    lg = last.get(name, 0)
    if lg and lg < changed.get(name, 0):
        return 0.5
    return lg


def test_live_registry_ordering_rotates(monkeypatch):
    """Against the real repo artifacts: the head of queries() must be
    dominated by queries whose EFFECTIVE rank is minimal among the
    registry (never-seen, changed-since-green, or the stalest cohort)."""
    qs = entrymod.queries()
    last, changed = entrymod._last_green_round(), entrymod._changed_rounds()
    names = list(qs)
    ranks = [_effective_rank(n, last, changed) for n in names]
    # the first 50 (the driver's budget) must all be at most as fresh as
    # anything after them
    assert max(ranks[:50]) <= min(ranks[50:]), (
        "a fresher query precedes a staler one inside the driver budget"
    )


def test_changed_since_green_jumps_the_rotation():
    """A query with a green row older than the round its ledger line
    was stamped must land inside the driver's 50-row budget (its old
    evidence describes a plan that no longer runs); a query green since
    its stamp must NOT jump."""
    last = entrymod._last_green_round()
    names = list(entrymod.queries())
    for name, rnd in entrymod._changed_rounds().items():
        if last.get(name, 0) and last[name] < rnd:
            assert names.index(name) < 50, (name, names.index(name))


SHAPE = {
    "exchanges": 1,
    "reused_exchanges": 0,
    "broadcast_hash_joins": 0,
    "sort_merge_joins": 0,
    "generates": 0,
    "python_nodes": [],
    "broadcast_generates": 0,
}


def test_write_restamps_only_changed_fingerprints(tmp_path, load_script):
    """A query whose fingerprint changed (or that is new) is stamped
    1 + the newest CORRECTNESS round; an unchanged one keeps its stamp."""
    ps = load_script("plan_shapes")
    _write_round(tmp_path, 7, {})
    _write_round(tmp_path, 12, {})
    ledger = tmp_path / "shapes.json"
    old = {"q_same": {**SHAPE, "fingerprint": "a"}, "q_moved": {**SHAPE, "fingerprint": "b"}}
    ps.write(old, ledger, tmp_path)
    stamps = {n: e["changed_round"] for n, e in ps.load(ledger).items()}
    assert stamps == {"q_same": 13, "q_moved": 13}
    _write_round(tmp_path, 14, {})
    found = {
        "q_same": {**SHAPE, "fingerprint": "a"},
        "q_moved": {**SHAPE, "fingerprint": "c"},
        "q_new": {**SHAPE, "fingerprint": "d"},
    }
    ps.write(found, ledger, tmp_path)
    stamps = {n: e["changed_round"] for n, e in ps.load(ledger).items()}
    assert stamps == {"q_same": 13, "q_moved": 15, "q_new": 15}
    assert ps.drift(found, ps.load(ledger)) == []


def test_ledger_drift_fails_with_the_write_hint(tmp_path, load_script):
    """One altered fingerprint, a registered name missing from the
    ledger, or a ledger name nothing registers each fails the check,
    naming the query and the command that rewrites the ledger."""
    ps = load_script("plan_shapes")
    found = {"qa": {**SHAPE, "fingerprint": "a"}, "qb": {**SHAPE, "fingerprint": "b"}}
    ledger = tmp_path / "shapes.json"
    ps.write(found, ledger, tmp_path)
    good = ps.load(ledger)
    altered = {**good, "qb": {**good["qb"], "fingerprint": "x"}}
    missing = {"qa": good["qa"]}
    extra = {**good, "qz": {**good["qa"]}}
    for bad, name in [(altered, "qb"), (missing, "qb"), (extra, "qz")]:
        problems = ps.drift(found, bad)
        assert len(problems) == 1, problems
        assert problems[0].startswith(f"{name}: ") and ps.WRITE_HINT in problems[0]
