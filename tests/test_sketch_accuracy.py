"""Quantitative error bounds for the sketch-based scale variant.

`a1_approx_scale_variant` is rows-only in the driver gate (sketch output
is engine-specific by design), so — like the IVF recall floor — this
test pins the property that matters: the sketches track the exact
answers within their documented error envelopes.

- percentile_approx with accuracy=10000 guarantees rank error
  <= n/10000; asserted against exact percentile ranks.
- approx_count_distinct (HLL) default rsd is 5%; asserted within 10%
  relative error (2x the target, deterministic for a fixed input).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.queries import SPECS

QUARTILES = (0.25, 0.5, 0.75)


@pytest.fixture(scope="module")
def frames(spark, sf_dir):
    approx = SPECS["a1_approx_scale_variant"].spark_fn(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr(
            "percentile(l_extendedprice, array(0.25, 0.5, 0.75))"
        ).alias("xq"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sort_array(F.collect_list("l_extendedprice")).alias("vals"),
    )
    rows = {
        (r["l_returnflag"], r["l_linestatus"]): r for r in exact.collect()
    }
    return approx.collect(), rows


def _rank_window(vals, q, max_rank_err):
    """Value range admissible for quantile q under rank error tolerance."""
    n = len(vals)
    target = q * (n - 1)
    lo = max(0, int(target - max_rank_err))
    hi = min(n - 1, int(target + max_rank_err) + 1)
    return vals[lo], vals[hi]


def test_quartile_sketch_within_rank_error(frames):
    approx_rows, exact = frames
    for r in approx_rows:
        key = (r["l_returnflag"], r["l_linestatus"])
        vals = exact[key]["vals"]
        max_rank_err = max(1.0, len(vals) / 10000) * 2  # 2x documented bound
        for q, col in zip(QUARTILES, ("q25", "q50", "q75")):
            lo, hi = _rank_window(vals, q, max_rank_err)
            assert lo <= r[col] <= hi, (
                f"{key} {col}={r[col]} outside rank-error window [{lo}, {hi}]"
            )


def test_hll_distinct_within_relative_error(frames):
    approx_rows, exact = frames
    for r in approx_rows:
        key = (r["l_returnflag"], r["l_linestatus"])
        true_n = exact[key]["exact_parts"]
        rel = abs(r["approx_parts"] - true_n) / true_n
        assert rel <= 0.10, f"{key}: HLL rel err {rel:.3f} > 0.10"
        assert r["n_rows"] == exact[key]["n_rows"]
