"""Smoke for the sweep, timing and cluster-verify scripts at the test sf
(sf0.001 by default), run in-process on the shared test session, so no
script may stop a session it did not build. The sweep and the timer
compare through plans/oracle.py, the comparison the parity suite uses;
q36 pins its oracle to sf0.01, which the sweep must honour."""

from __future__ import annotations

import __spark_entry__ as entrymod
from e2e_stock_data_pipeline_spark.plans import oracle
from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules

PAIR = ["q01_pricing_summary", "q36_file_lineage"]


class TestSweep:
    def test_oracle_sweep_writes_costs(self, spark, sf_dir, tmp_path, monkeypatch, load_script):
        costs = tmp_path / "scripts" / "query_costs.json"
        costs.parent.mkdir()
        argv = [sf_dir, "--oracle", "--only", ",".join(PAIR), "--json", str(costs)]
        argv += ["--state", str(tmp_path / "state.jsonl")]
        assert load_script("sweep").main(argv) == 0
        monkeypatch.setattr(entrymod, "_REPO", tmp_path)
        got = entrymod._costs()
        assert sorted(got) == PAIR
        assert all(sec > 0 for sec in got.values())

    def test_noop_sweep(self, spark, sf_dir, tmp_path, load_script):
        argv = [sf_dir, "--only", ",".join(PAIR), "--state", str(tmp_path / "state.jsonl")]
        assert load_script("sweep").main(argv) == 0


class TestTimeQueries:
    def test_oracle_pair_matches(self, spark, sf_dir, capsys, load_script):
        mod = load_script("time_queries")
        assert mod.main([sf_dir, "q01_pricing_summary", "--runs", "1", "--oracle"]) == 0
        out = capsys.readouterr().out
        assert "q01_pricing_summary: duckdb median=" in out
        assert "compare=full match=True" in out

    def test_big_output_compares_aggregates(
        self, spark, sf_dir, capsys, monkeypatch, load_script
    ):
        spec = load_all_query_modules()["q01_pricing_summary"]
        monkeypatch.setattr(oracle, "COLLECT_LIMIT", 1)
        assert load_script("time_queries").pair(spark, spec, sf_dir, 1, 600.0, 1.0)
        assert "compare=aggregate match=True" in capsys.readouterr().out


class TestClusterVerify:
    def test_invariants_hold_on_the_clustered_pairs(self, spark, sf_dir, capsys, load_script):
        assert load_script("sf10_cc_verify").main(sf_dir) == 0
        out = capsys.readouterr().out
        assert '"crossing_edges": 0' in out
        assert '"metric": "cc_invariants_summary"' in out
