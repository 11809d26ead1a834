"""The benchmark workloads.

Each workload drives the engine's public entry points and reports its
work as operations (`Op`): one CLI job, or one named query. `warmup`
runs once, untimed, and carries the output checks that need a
reference; `iteration` is one timed closed-loop step; `check` runs the
per-iteration output checks after the timer stops.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass

import checks
import inputs
from spans import Tracer

DEFAULT_SEED = 0
PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool = True
    error: str = ""


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer

    def install_wrappers(self) -> None:
        """Wrap the layer functions this workload reaches (traced mode)."""

    def prepare(self) -> dict:
        raise NotImplementedError

    def warmup(self) -> list[Op]:
        raise NotImplementedError

    def iteration(self) -> list[Op]:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> None:
        """Mark ops whose outputs fail a per-iteration check."""


def _timed(fn, *args) -> tuple[float, str]:
    t0 = time.perf_counter()
    try:
        fn(*args)
        return time.perf_counter() - t0, ""
    except Exception as exc:  # counted as a failed operation
        return time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"[:500]


# ---------------------------------------------------------------------------
# pipeline_daily: the reference chain through the real CLI path
# ---------------------------------------------------------------------------

PIPELINE_SCALE = 0.01  # of FIXTURES.md §B row counts


class PipelineDaily(Workload):
    name = "pipeline_daily"

    def prepare(self) -> dict:
        self.root = os.path.join(self.work_dir, "pipeline")
        self.wh = os.path.join(self.root, "warehouse")
        self.feed = os.path.join(self.root, "feed")
        return inputs.write_pipeline_inputs(self.seed, self.root, PIPELINE_SCALE)

    def _argv(self, job: str) -> list[str]:
        argv = [job, "--warehouse", self.wh, "--date", inputs.RUN_DATE]
        if job == "import-pricecharting":
            argv += ["--file", os.path.join(self.root, "pricecharting.csv"),
                     "--game", "pokemon"]
        elif job == "export-feed":
            argv += ["--out", self.feed, "--format", "tsv"]
        return argv

    def install_wrappers(self) -> None:
        from legendary_data_pipeline_spark import cli
        from legendary_data_pipeline_spark.operators import upsert
        from legendary_data_pipeline_spark.plans import jobs

        t = self.tracer
        t.wrap(cli, "start_run", "sources.runlog")
        t.wrap(cli, "finish_run", "sources.runlog")
        t.wrap(cli, "write_feed", "sources.write_feed")
        t.wrap(cli, "read_csv_with_aliases", "sources.read_csv_with_aliases")
        for fn in ("import_pricecharting", "normalize_scryfall",
                   "build_market_price_daily", "rollup_market_values",
                   "export_google_merchant_feed", "resolve_prices",
                   "revalue_collection"):
            t.wrap(jobs, fn, f"plans.jobs.{fn}")
        t.wrap(upsert, "write_upsert_parquet", "operators.upsert.write_upsert_parquet")
        t.wrap(upsert, "write_upsert_partitioned",
               "operators.upsert.write_upsert_partitioned")

    def _run_job(self, job: str) -> Op:
        from legendary_data_pipeline_spark import cli

        def call():
            args = cli.build_parser().parse_args(self._argv(job))
            with self.tracer.span(f"cli.{job}"):
                rc = args.fn(self.spark, args)
            if rc != 0:
                raise RuntimeError(f"{job} returned {rc}")

        seconds, err = _timed(call)
        return Op(job, seconds, not err, err)

    def _chain(self) -> list[Op]:
        return [self._run_job(job) for job, _ in checks.CHAIN]

    def _mark(self, ops: list[Op], want: dict, got: dict, what: str) -> None:
        bad = checks.mismatches(want, got)
        for op in ops:
            if op.name in bad and op.ok:
                op.ok = False
                op.error = f"{what} mismatch: {', '.join(bad[op.name])}"

    def warmup(self) -> list[Op]:
        t0 = time.perf_counter()
        ops = self._chain()
        self.first_run_s = time.perf_counter() - t0
        self.baseline = checks.snapshot(self.wh, self.feed)
        if self.seed == DEFAULT_SEED:
            with open(PINS_PATH, encoding="utf-8") as fh:
                pinned = json.load(fh)["pipeline_daily"]
            self._mark(ops, pinned, self.baseline, "pinned checksum")
        return ops

    def iteration(self) -> list[Op]:
        return self._chain()

    def check(self, ops: list[Op]) -> None:
        self._mark(ops, self.baseline, checks.snapshot(self.wh, self.feed),
                   "re-run checksum")


# ---------------------------------------------------------------------------
# query_mix: named queries and streaming parities over a seeded warehouse
# ---------------------------------------------------------------------------

#: Named queries; the seed sets their order within a pass.
QUERY_BASKET = (
    # runs a Spark job (a sizing count over a pinned frame) while its
    # DataFrame is still being built
    "dq_equal_freq_bins_price",
    # an availableNow stream with a checkpoint and dropDuplicates state
    # carried across micro-batches
    "stream_dedup_parity",
)
QUERY_SF = 0.001


def layer_of(name: str) -> str:
    """The span and metric prefix of a basket entry."""
    return "streaming" if name.startswith("stream_") else "queries"


class QueryMix(Workload):
    name = "query_mix"

    def prepare(self) -> dict:
        from legendary_data_pipeline_spark import queries

        self.sf_dir = os.path.join(self.work_dir, "warehouse")
        self.stream_scratch = os.environ["LDP_STREAM_SCRATCH"]
        self.registry = {**queries.SHADOW_REGISTRY, **queries.REGISTRY}
        self.order = list(QUERY_BASKET)
        random.Random(self.seed).shuffle(self.order)
        return inputs.write_warehouse_tables(self.seed, self.sf_dir, QUERY_SF)

    def _run(self, name: str, check: bool) -> Op:
        spec = self.registry[name]
        kind = layer_of(name)
        built = {}

        def build():
            with self.tracer.span(f"{kind}.{name}.build"):
                built["df"] = spec.spark_fn(self.spark, self.sf_dir)

        def execute():
            with self.tracer.span(f"{kind}.{name}.exec"):
                built["df"].write.format("noop").mode("overwrite").save()

        build_s, err = _timed(build)
        exec_s = 0.0
        if not err:
            exec_s, err = _timed(execute)
        op = Op(name, build_s + exec_s, not err, err)
        if check and op.ok:
            _, err = _timed(self._check, name, built["df"])
            if err:
                op.ok, op.error = False, f"oracle check: {err}"
        self._clean_stream_scratch()
        return op

    def _check(self, name: str, df) -> None:
        from oracle_utils import compare_to_oracle

        compare_to_oracle(df, self.registry[name].oracle, self.sf_dir)

    def _clean_stream_scratch(self) -> None:
        for entry in os.listdir(self.stream_scratch):
            shutil.rmtree(os.path.join(self.stream_scratch, entry),
                          ignore_errors=True)

    def warmup(self) -> list[Op]:
        """A checked pass, then an unchecked one: the second execution of
        a query is still far from its steady time."""
        ops = [self._run(n, check=True) for n in self.order]
        return ops + self.iteration()

    def iteration(self) -> list[Op]:
        return [self._run(n, check=False) for n in self.order]


WORKLOADS = {w.name: w for w in (PipelineDaily, QueryMix)}
