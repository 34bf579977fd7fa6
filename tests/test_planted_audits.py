"""Tiny-sf smoke for the planted-truth audits of scripts/recall_audit.py
(r14): these are the acceptance instruments for the dedup tier at sf10
(exact-tier planted recovery; LSH recall + the r15 banding migration),
so they must not bit-rot between the big-sf runs that use them. At sf0.001 both must
PASS end-to-end: the exact tier recovers every planted pair with zero
unsound extras, and the LSH tier's recall at this density is 1.0 with
zero value drift (the cap cannot bind here — BENCH_NOTES r14)."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


class TestPlantedAudits:
    def test_exact_tier_planted_recovery(self, spark, capsys, load_script):
        assert load_script("recall_audit").main(["q184", SF, "20"]) == 0
        out = capsys.readouterr().out
        assert "PLANTED-PAIR AUDIT: PASS" in out
        assert "missing=0" in out and "unsound=0" in out

    def test_ann_tier_recall_and_calibration(self, spark, capsys, load_script):
        """Pin the embedding-ANN planted audit (r15, VERDICT item 4): at
        sf0.001 the registered q123/q128 must recover every planted
        near-identical source at rank 1 (recall losses at this density
        would be bugs, not shortlist/probe pruning), and q51's planted
        bucket-collision count must sit inside the (1-theta/pi)^8
        calibration band."""
        assert load_script("recall_audit").main(["ann", SF, "2", "50"]) == 0
        out = capsys.readouterr().out
        assert "ok=True" in out
        assert "CALIBRATION FAILURE" not in out

    def test_lsh_tier_recall_and_values(self, spark, capsys, load_script):
        """Post-r15-cutover bar: the registered q86 (v2 family, 6 bands
        x 2 rows) must clear the script's own exit bar (recall >= 0.98,
        zero value drift) at this sf — at sf0.001 density every planted
        pair should band-collide, so recall is 1.0 in practice."""
        import re

        assert load_script("recall_audit").main(["q86", SF, "20"]) == 0
        out = capsys.readouterr().out
        assert "value_drift=0" in out
        recall = float(re.search(r"recall=([\d.]+)", out).group(1))
        assert recall >= 0.98

    def test_lsh_incremental_recall(self, spark, capsys, load_script):
        """Same bar through the REGISTERED q126 (cross-boundary
        candidates): plants take new-batch ids (doc_id % 5 = 0),
        sources stay corpus-side."""
        import re

        assert load_script("recall_audit").main(["q126", SF, "20"]) == 0
        out = capsys.readouterr().out
        assert "value_drift=0" in out
        recall = float(re.search(r"recall=([\d.]+)", out).group(1))
        assert recall >= 0.98
