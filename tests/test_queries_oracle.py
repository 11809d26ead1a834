"""Golden-query tests: every registry entry vs its DuckDB oracle.

This replicates the driver's t2 correctness gate locally. Runs at sf0.001
by default (fast); set LDP_TEST_SF_DIR=/root/testdata/sf0.01 to run at
the driver's gate scale.

Default-lane scope: running all 268 oracles does not fit the verify
budget, so the default `pytest tests/` lane checks the 50 GATE queries
(the driver's own correctness surface) plus a fixed sample of 20 shadow
queries: every ceil(n/20)-th name of `sorted(SHADOW_REGISTRY)`. The
full sweep stays runnable explicitly:

    LDP_ORACLE_SWEEP=1 python -m pytest tests/test_queries_oracle.py

and is executed (and recorded in NOTES.md) before every gate rotation,
which is when shadow-oracle greenness actually gates anything.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from legendary_data_pipeline_spark.queries import (
    DRIVER_QUERY_CAP,
    GATE,
    REGISTRY,
    SHADOW_REGISTRY,
    SPECS,
)
from tests.oracle_utils import compare_to_oracle

#: Pinned registry sizes — the self-auditing counts NOTES/SURVEY cite.
#: Bump both when registering a new query; the gate is always exactly
#: DRIVER_QUERY_CAP (rotations swap 1-for-1).
EXPECTED_TOTAL = 268
EXPECTED_SHADOW = 218

#: Default-lane shadow sample: every ceil(n/20)-th shadow name in sorted
#: order — deterministic, and it moves with the shadow set on rotation.
_STEP = -(-len(SHADOW_REGISTRY) // 20)
SHADOW_SAMPLE = frozenset(sorted(SHADOW_REGISTRY)[::_STEP])


def test_registry_counts_pinned():
    """The driver's correctness gate records rows for the first
    DRIVER_QUERY_CAP entries only — a larger registry would silently
    lose correctness rows (observed round 1: 51 registered, 50
    recorded), and a smaller one wastes driver-oracle slots. The
    shadow count is pinned so documentation (NOTES/SURVEY query
    totals) can cite this test instead of drifting (round 9 drift:
    notes said 214 while the loaded registry was 212)."""
    import __spark_entry__

    assert len(GATE) == DRIVER_QUERY_CAP
    assert list(__spark_entry__.queries()) == list(GATE)
    assert set(__spark_entry__.oracle_sql()) == {
        n for n in GATE if SPECS[n].oracle
    }
    assert len(SPECS) == EXPECTED_TOTAL
    assert len(SHADOW_REGISTRY) == EXPECTED_SHADOW
    assert not set(REGISTRY) & set(SHADOW_REGISTRY)
    assert len(SHADOW_SAMPLE) == 20


@pytest.mark.parametrize(
    "submodule",
    ["queries_llm", "queries_curation", "queries_analytics",
     "queries_mleval", "queries_streaming"],
)
def test_submodule_first_import_fails_loudly(submodule):
    """Importing a queries_* submodule before `queries` re-enters the
    registry before that submodule registers anything; the gate check
    must turn that into an ImportError that names the fix."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c",
         f"import legendary_data_pipeline_spark.{submodule}"],
        cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "ImportError" in proc.stderr
    assert (
        "import legendary_data_pipeline_spark.queries FIRST" in proc.stderr
    )


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(spark, sf_dir, name):
    if (
        name not in REGISTRY
        and name not in SHADOW_SAMPLE
        and os.environ.get("LDP_ORACLE_SWEEP") != "1"
    ):
        pytest.skip(
            "full shadow-oracle sweep is opt-in (LDP_ORACLE_SWEEP=1) — "
            "the default lane checks the gate plus SHADOW_SAMPLE"
        )
    spec = SPECS[name]
    df = spec.spark_fn(spark, sf_dir)
    assert df.columns, f"{name}: empty schema"
    _assert_no_decimal_output(df, name)
    if spec.oracle is None:
        assert df.count() >= 0
        return
    compare_to_oracle(df, spec.oracle, sf_dir)


def _assert_no_decimal_output(df, name):
    """No registry query may EMIT a DecimalType column. Every driver
    hash-red cell in project history (r6 dq_table_checksum, r8/r9
    st_kendall_tau_qty_discount) had decimal(38,0) output columns,
    while no integer/string/double output has ever hash-failed — the
    external harness's DECIMAL canonicalization is the one output
    representation the engine cannot make engine-version-proof.
    Internal decimal(38,0) arithmetic is fine (and required for exact
    moments); emit the result as BIGINT within its documented range,
    or as a decimal STRING (the r6 dq_table_checksum fix) beyond it."""
    from pyspark.sql.types import DecimalType

    decs = [
        f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)
    ]
    assert not decs, (
        f"{name} emits DecimalType columns {decs}: cast to BIGINT "
        "(documenting the overflow envelope) or to a decimal string — "
        "DecimalType output is the only representation class that has "
        "ever produced a red driver hash cell."
    )
