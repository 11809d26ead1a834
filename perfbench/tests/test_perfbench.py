"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import inputs  # noqa: E402
import procstats  # noqa: E402
import run  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize(
    "write",
    [
        lambda seed, out: inputs.write_pipeline_inputs(seed, out, 0.002),
        lambda seed, out: inputs.write_warehouse_tables(seed, out, 0.001),
    ],
    ids=["pipeline", "warehouse"],
)
def test_generators_are_deterministic_per_seed(tmp_path, write):
    write(7, str(tmp_path / "a"))
    write(7, str(tmp_path / "b"))
    write(8, str(tmp_path / "c"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_pipeline_inputs_cover_fixture_edge_cases(tmp_path):
    inputs.write_pipeline_inputs(3, str(tmp_path), 0.01)
    text = (tmp_path / "pricecharting.csv").read_text()
    cells = set(text.replace("\r\n", ",").split(","))
    assert '""' in text or ',,' in text  # empty money cells
    assert any(c.startswith('"$') for c in cells)  # '$1,234.56' is quoted
    assert any(re.fullmatch(r"\d+\.\d\d", c) for c in cells)
    wh = tmp_path / "warehouse"
    payloads = pq.read_table(wh / "scryfall_cards_raw").column("payload").to_pylist()
    docs = [json.loads(p) for p in payloads]
    assert any("prices" not in d for d in docs)
    assert any("card_faces" in d and "image_uris" not in d for d in docs)
    prod = pq.read_table(wh / "products").to_pydict()
    pairs = [(p, c) for p, c in zip(prod["price_cents"], prod["compare_at_cents"])
             if c is not None]
    assert any(c > p for p, c in pairs) and any(c < p for p, c in pairs)
    dim = pq.read_table(wh / "tcg_card_prices_tcgplayer")
    assert dim.schema.field("normal").type == pa.string()
    assert {"N/A", "1.2.3"} & set(dim.column("normal").to_pylist())
    items = pq.read_table(wh / "user_collection_items")
    # an all-null column keeps its declared type
    assert items.schema.field("last_value_cents").type == pa.int64()
    assert items.column("last_value_cents").null_count == items.num_rows


def _table(path, rows):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(rows), os.path.join(path, "part-0.parquet"))


def test_tampered_warehouse_table_fails_the_check(tmp_path):
    wh, feed = str(tmp_path / "wh"), str(tmp_path / "feed")
    for _, tables in checks.CHAIN:
        for t in tables:
            if t != "feed":
                _table(os.path.join(wh, t), {"k": [1, 2, 3], "v": ["a", None, "c"]})
    os.makedirs(feed)
    with open(os.path.join(feed, "part-00000.csv"), "w") as fh:
        fh.write("id\tprice\r\n1\t1.00 USD\r\n")
    before = checks.snapshot(wh, feed)
    assert checks.mismatches(before, checks.snapshot(wh, feed)) == {}

    _table(os.path.join(wh, "market_price_daily"),
           {"k": [1, 2, 3], "v": ["a", None, "d"]})
    bad = checks.mismatches(before, checks.snapshot(wh, feed))
    assert bad == {"build-daily": ["market_price_daily"]}


def test_checksum_ignores_row_order_and_partition_layout(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _table(a, {"k": [1, 2, 3], "v": ["x", "y", None]})
    _table(os.path.join(b, "p=1"), {"k": [3, 1], "v": [None, "x"]})
    _table(os.path.join(b, "p=2"), {"k": [2], "v": ["y"]})
    assert checks.table_checksum(a) != checks.table_checksum(b)  # b has p
    c = str(tmp_path / "c")
    _table(c, {"v": [None, "y", "x"], "k": [3, 2, 1]})
    assert checks.table_checksum(a) == checks.table_checksum(c)


def test_metric_names_and_units_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME_RE.match(m["name"]), m["name"]
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    values = {n: 1.5 for n in names}
    for section in ("end_to_end", "per_layer"):
        printed = run.format_metrics(spec[section], values)
        assert list(printed) == [m["name"] for m in spec[section]]
        for name, cell in printed.items():
            assert set(cell) == {"value", "unit"} and cell["unit"]
    assert "setup_s" in [m["name"] for m in spec["end_to_end"]]


def test_format_metrics_refuses_a_missing_metric():
    with pytest.raises(KeyError):
        run.format_metrics([{"name": "wall_s", "unit": "s"}], {})


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0, 2.0, 3.0]) == 3.0
    values = [float(i) for i in range(1, 101)]
    assert run.tail(values) == 90.0


def test_memory_sample_skips_processes_seen_once():
    # pid 3 appeared since the previous sample (a child the JVM is
    # spawning reports the JVM's whole RSS until it execs); pid 2 is gone
    mb = procstats.steady_rss_mb({1: 256, 2: 256}, {1: 512, 3: 10_000})
    assert mb == 512 * procstats._PAGE_MB
    assert procstats.tree_rss_pages()[os.getpid()] > 0
