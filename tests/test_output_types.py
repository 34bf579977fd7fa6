"""Registry-wide output-type lint: no 128-bit numeric reaches a final
projection.

The driver's correctness gate hashes result values after fetching them
through two different clients (Spark collect vs a DuckDB cursor), and
128-bit numerics are the one type class those clients represent
divergently: DuckDB HUGEINT / DECIMAL(p>18) fetches as float64 down one
client path while Spark's decimal stays integral. q185 slipped through
in r13 exactly this way — rows and values identical, hash red purely
from the pairsum DECIMAL(38,0) wire type (fixed by emitting it as a
string; precedent: the q189/q192 HUGEINT->BIGINT casts).

This lint makes the fix structural: every registered oracle is
DESCRIBEd (no execution) and every registered Spark plan is analyzed
(schema only) at sf0.001, and any wide-decimal / HUGEINT output column
fails the suite. Intentional exceptions go in EXEMPT with a reason —
there are currently none: 128-bit arithmetic is fine INSIDE a query
(q185 still sums in DECIMAL(38,0)); it just may not be an output type.
"""

from __future__ import annotations

import re

import pytest

from e2e_stock_data_pipeline_spark.plans import oracle
from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules

REG = load_all_query_modules()
SF = "/root/testdata/sf0.001"

# name -> reason; columns listed here are allowed to be 128-bit
EXEMPT: dict[str, str] = {}

_WIDE_DUCK = re.compile(r"DECIMAL\((\d+)")


class TestNoWideNumericOutputs:
    def test_oracle_outputs(self):
        """DESCRIBE every oracle: no HUGEINT / DECIMAL(p>18) output."""
        con = oracle.connect(SF)
        bad = []
        for name, spec in REG.items():
            if name in EXEMPT:
                continue
            for col, typ, *_ in con.execute("DESCRIBE " + spec.oracle).fetchall():
                m = _WIDE_DUCK.match(typ)
                if typ in ("HUGEINT", "UHUGEINT", "INT128") or (
                    m and int(m.group(1)) > 18
                ):
                    bad.append((name, col, typ))
        assert bad == [], f"128-bit oracle output columns: {bad}"

    @pytest.mark.slow
    def test_spark_output_schemas(self, spark):
        """Analyze every registered plan: no DecimalType(p>18) output.

        Schema access only triggers analysis for lazy plans; the few
        eager (materializing) builders run at sf0.001 where they are
        sub-second. ~70 s total for 196 queries."""
        from pyspark.sql.types import DecimalType

        bad = []
        for name, spec in REG.items():
            if name in EXEMPT:
                continue
            df = spec.spark(spark, spec.pinned_sf_dir or SF)
            for f in df.schema.fields:
                if isinstance(f.dataType, DecimalType) and f.dataType.precision > 18:
                    bad.append((name, f.name, str(f.dataType)))
        assert bad == [], f"wide-decimal Spark output columns: {bad}"
