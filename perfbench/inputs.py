"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: each table draws from
its own `numpy.random.Generator(PCG64([seed, table]))`, every column has
an explicit Arrow type (an all-null column never falls back to an
inferred type) and the writer options are fixed, so one seed gives
byte-identical files and another seed gives different ones.

Two input sets:

- `write_pipeline_inputs` — the reference-domain tables of FIXTURES.md
  §B for the six CLI jobs: an aliased pricecharting CSV, scryfall
  payloads and market items, sales comps, products with image dims, the
  four price dimensions and user collections.
- `write_warehouse_tables` — the TPC-H-shaped star schema plus the
  `events`, `documents` and `embeddings` tables that the named queries
  and streaming parities read (FIXTURES.md §A shapes and value sets).
"""

from __future__ import annotations

import csv
import io
import json
import os
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RUN_DATE = "2026-08-13"

#: FIXTURES.md §B row counts; a workload scales them by one factor.
REFERENCE_ROWS = {
    "pricecharting_csv": 100_000,
    "scryfall_cards": 50_000,
    "sales_comps": 300_000,
    "products": 25_000,
    "price_dim": 50_000,
    "collection_items": 300_000,
    "users": 7_500,
}

_PRICE_HEADERS = (
    ("pricecharting_id", ("id", "pricecharting_id")),
    ("product_name", ("product-name", "product_name")),
    ("console_name", ("console-name", "console_name")),
    ("release_date", ("release-date", "release_date")),
    ("loose_price", ("loose-price", "loose_price")),
    ("cib_price", ("cib-price", "cib_price")),
    ("new_price", ("new-price", "new_price")),
    ("graded_price", ("graded-price", "graded_price")),
    ("box_only_price", ("box-only-price", "box_only_price")),
    ("manual_only_price", ("manual-only-price",)),
    ("bgs_10_price", ("bgs-10-price",)),
    ("cgc_10_price", ("cgc-10-price",)),
    ("psa_10_price", ("psa-10-price",)),
)
_NAME_WORDS = (
    "Charizard", "Blastoise", "Pikachu", "Dark Magician", "Black Lotus",
    "Mewtwo", "Blue-Eyes", "Shivan Dragon", "Exodia", "Gengar",
)
_GAMES = ("pokemon", "yugioh", "mtg")
_GRADES = ("PSA10", "PSA9", "BGS9.5", "CGC9", "RAW")


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per table, so adding a table never shifts
    the draws of another."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _cents_decimal(cents: np.ndarray, valid: np.ndarray | None = None):
    values = [Decimal(int(c)).scaleb(-2) for c in cents]
    if valid is not None:
        values = [v if ok else None for v, ok in zip(values, valid)]
    return pa.array(values, type=pa.decimal128(12, 2))


def _money_cell(rng: np.random.Generator, cents: int) -> str:
    """One of the reference's money spellings (01:78-90): '$1,234.56',
    '1234.56' or empty."""
    style = rng.integers(0, 10)
    if style < 2:
        return ""
    if style < 6:
        return f"${cents / 100:,.2f}"
    return f"{cents / 100:.2f}"


def _scaled(scale: float) -> dict[str, int]:
    return {k: max(10, int(round(v * scale))) for k, v in REFERENCE_ROWS.items()}


def write_pricecharting_csv(seed: int, path: str, rows: int) -> None:
    rng = _rng(seed, 1)
    headers = [variants[rng.integers(0, len(variants))]
               for _, variants in _PRICE_HEADERS]
    buf = io.StringIO(newline="")
    writer = csv.writer(buf, lineterminator="\r\n", quoting=csv.QUOTE_MINIMAL)
    writer.writerow(headers)
    ids = rng.permutation(rows * 3)[:rows] + 1
    for i in range(rows):
        name = f"{_NAME_WORDS[rng.integers(0, len(_NAME_WORDS))]} #{ids[i]}"
        if rng.random() < 0.2:
            name = f'{name}, "1st Edition"'
        pid = str(ids[i])
        if rng.random() < 0.01:
            pid = ""  # dropped by the P7 guard
        if rng.random() < 0.01:
            name = " "
        released = (
            (date(1996, 1, 1) + timedelta(days=int(rng.integers(0, 9000))))
            .isoformat()
            if rng.random() < 0.8
            else ""
        )
        row = [pid, name, _GAMES[i % 3].title(), released]
        row += [
            _money_cell(rng, int(rng.integers(1, 2_500_000)))
            for _ in _PRICE_HEADERS[4:]
        ]
        writer.writerow(row)
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(buf.getvalue())


def _scryfall_payload(rng: np.random.Generator, uid: str) -> str:
    doc: dict = {"id": uid}
    shape = rng.integers(0, 10)
    if shape != 0:  # shape 0: no `prices` object at all
        prices = {}
        for key in ("usd", "usd_foil", "usd_etched", "eur", "tix"):
            r = rng.random()
            if r < 0.25:
                prices[key] = None
            elif r < 0.3:
                prices[key] = "0.00"
            else:
                prices[key] = f"{rng.integers(1, 500_000) / 100:.2f}"
        doc["prices"] = prices
    uris = {s: f"https://img.example/{uid}/{s}.jpg"
            for s in ("small", "normal", "large")}
    if shape in (1, 2):  # image only under card_faces
        doc["card_faces"] = [{"name": "front"}, {"image_uris": uris}]
    elif shape != 3:  # shape 3: no image anywhere
        doc["image_uris"] = {k: v for k, v in uris.items()
                             if rng.random() < 0.8 or k == "small"}
    return json.dumps(doc, sort_keys=True)


def _uuid(rng: np.random.Generator) -> str:
    h = "".join(f"{b:02x}" for b in rng.integers(0, 256, 16))
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def write_pipeline_inputs(seed: int, root: str, scale: float) -> dict:
    """Write the FIXTURES.md §B inputs for the six CLI jobs under `root`:
    `pricecharting.csv` plus one parquet directory per warehouse input
    table under `root/warehouse`. Returns the row counts."""
    n = _scaled(scale)
    wh = os.path.join(root, "warehouse")
    os.makedirs(wh, exist_ok=True)
    write_pricecharting_csv(seed, os.path.join(root, "pricecharting.csv"),
                            n["pricecharting_csv"])

    def table(name: str, t: pa.Table) -> None:
        os.makedirs(os.path.join(wh, name), exist_ok=True)
        _write(t, os.path.join(wh, name, "part-0.parquet"))

    # scryfall payloads and the market items that point at them
    rng = _rng(seed, 2)
    n_cards = n["scryfall_cards"]
    scry_ids = [_uuid(rng) for _ in range(n_cards)]
    table("scryfall_cards_raw", pa.table({
        "id": pa.array(scry_ids, pa.string()),
        "payload": pa.array([_scryfall_payload(rng, u) for u in scry_ids],
                            pa.string()),
    }))
    game = rng.choice(["mtg"] * 8 + ["pokemon", "yugioh"], n_cards)
    source = np.where(rng.random(n_cards) < 0.9, "scryfall", "tcgplayer")
    canonical = [u if rng.random() < 0.95 else _uuid(rng) for u in scry_ids]
    table("market_items", pa.table({
        "id": pa.array(np.arange(1, n_cards + 1), pa.int64()),
        "game": pa.array(game, pa.string()),
        "canonical_source": pa.array(source, pa.string()),
        "canonical_id": pa.array(canonical, pa.string()),
    }))

    # sales comps: skewed popularity so groups of 1, 2, 5 and 10+ sales
    # all occur; 400 days so the 180-day window bites
    rng = _rng(seed, 3)
    n_sales = n["sales_comps"]
    n_keys = max(5, n_sales // 8)
    key_idx = np.minimum((rng.pareto(1.2, n_sales) * n_keys / 20).astype(int),
                         n_keys - 1)
    end = datetime.fromisoformat(RUN_DATE).replace(tzinfo=timezone.utc)
    secs = rng.integers(0, 400 * 86400, n_sales)
    table("market_sales_comps", pa.table({
        "card_key": pa.array([f"card-{k:06d}" for k in key_idx], pa.string()),
        "grade": pa.array(rng.choice(_GRADES, n_sales), pa.string()),
        "sold_price_usd": _cents_decimal(rng.integers(100, 2_000_000, n_sales)),
        "sold_at": pa.array(
            [end - timedelta(seconds=int(s)) for s in secs],
            pa.timestamp("us", tz="UTC"),
        ),
    }))

    # per-game card dims shared by products, image dims and price dims
    rng = _rng(seed, 4)
    n_dim = n["price_dim"]
    tcg_ids = [f"pk-{i:06d}" for i in rng.permutation(n_dim * 2)[:n_dim]]
    ygo_ids = [f"yg-{i:06d}" for i in rng.permutation(n_dim * 2)[:n_dim]]
    mtg_ids = scry_ids[: min(n_dim, n_cards)]

    def junk_or_number(r: np.random.Generator, size: int) -> pa.Array:
        out = []
        for _ in range(size):
            u = r.random()
            if u < 0.4:
                out.append(None)
            elif u < 0.5:
                out.append(("N/A", "", "  ", "1.2.3", "$4.00", "-1")[r.integers(0, 6)])
            else:
                out.append(f"{r.integers(1, 100_000) / 100:.2f}")
        return pa.array(out, pa.string())

    has_market = rng.random(n_dim) < 0.6
    has_mid = rng.random(n_dim) < 0.5
    table("tcg_card_prices_tcgplayer", pa.table({
        "card_id": pa.array(tcg_ids, pa.string()),
        "market_price": _cents_decimal(rng.integers(1, 100_000, n_dim), has_market),
        "mid_price": _cents_decimal(rng.integers(1, 100_000, n_dim), has_mid),
        "normal": junk_or_number(rng, n_dim),
        "reverse_holofoil": junk_or_number(rng, n_dim),
        "holofoil": junk_or_number(rng, n_dim),
        "first_edition_holofoil": junk_or_number(rng, n_dim),
        "first_edition_normal": junk_or_number(rng, n_dim),
    }))
    ebay_ids = tcg_ids[::3] + [f"pk-only-ebay-{i}" for i in range(n_dim // 10)]
    table("tcg_card_prices_ebay", pa.table({
        "card_id": pa.array(ebay_ids, pa.string()),
        "median": _cents_decimal(rng.integers(1, 100_000, len(ebay_ids))),
        "game": pa.array(["pokemon"] * len(ebay_ids), pa.string()),
    }))

    def padded(r: np.random.Generator, size: int) -> pa.Array:
        out = []
        for _ in range(size):
            u = r.random()
            if u < 0.3:
                out.append("")
            elif u < 0.4:
                out.append(None)
            elif u < 0.45:
                out.append("n/a")
            else:
                out.append(f" {r.integers(1, 100_000) / 100:.2f} ")
        return pa.array(out, pa.string())

    table("ygo_card_prices", pa.table({
        "card_id": pa.array(ygo_ids, pa.string()),
        **{c: padded(rng, n_dim) for c in (
            "tcgplayer_price", "cardmarket_price", "amazon_price",
            "coolstuffinc_price", "ebay_price")},
    }))
    table("mtg_prices_effective", pa.table({
        "scryfall_id": pa.array(mtg_ids, pa.string()),
        "effective_usd": _cents_decimal(rng.integers(1, 500_000, len(mtg_ids)),
                                        rng.random(len(mtg_ids)) < 0.9),
    }))
    n_img = n_dim // 2
    table("tcg_cards", pa.table({
        "id": pa.array(tcg_ids[:n_img], pa.string()),
        "large_image": pa.array(
            [f"https://img.example/pk/{c}/l.png" if rng.random() < 0.7 else None
             for c in tcg_ids[:n_img]], pa.string()),
        "small_image": pa.array(
            [f"https://img.example/pk/{c}/s.png" for c in tcg_ids[:n_img]],
            pa.string()),
    }))
    table("ygo_card_images", pa.table({
        "card_id": pa.array(ygo_ids[:n_img], pa.string()),
        "image_url": pa.array(
            [f"https://img.example/yg/{c}.jpg" if rng.random() < 0.8 else None
             for c in ygo_ids[:n_img]], pa.string()),
    }))

    # products: compare_at both above and below price; descriptions with
    # tabs, newlines and quotes; created_at nulls for NULLS LAST
    rng = _rng(seed, 5)
    n_prod = n["products"]
    games = rng.choice(_GAMES, n_prod)
    card_pool = {"pokemon": tcg_ids, "yugioh": ygo_ids, "mtg": mtg_ids}
    card_id = [
        card_pool[g][rng.integers(0, len(card_pool[g]))]
        if rng.random() < 0.85 else None
        for g in games
    ]
    price = rng.integers(50, 500_000, n_prod)
    cmp_kind = rng.integers(0, 3, n_prod)
    compare = np.where(cmp_kind == 0, price + rng.integers(1, 10_000, n_prod),
                       np.maximum(price - rng.integers(1, 10_000, n_prod), 1))
    graded = rng.random(n_prod) < 0.3
    fmt = rng.choice(["single", "sealed", "bundle", "accessory"], n_prod)
    created_ok = rng.random(n_prod) < 0.9
    created = [
        datetime(2024, 1, 1, tzinfo=timezone.utc)
        + timedelta(seconds=int(rng.integers(0, 86400 * 600)))
        if ok else None
        for ok in created_ok
    ]
    titles = [f"{_NAME_WORDS[i % len(_NAME_WORDS)]} lot {i:06d}"
              for i in rng.permutation(n_prod)]
    table("products", pa.table({
        "id": pa.array([f"prod-{i:06d}" for i in range(n_prod)], pa.string()),
        "title": pa.array(titles, pa.string()),
        "slug": pa.array([t.lower().replace(" ", "-") + ("!!" if i % 7 == 0 else "")
                          for i, t in enumerate(titles)], pa.string()),
        "game": pa.array(games, pa.string()),
        "format": pa.array(fmt, pa.string()),
        "sealed": pa.array(fmt == "sealed", pa.bool_()),
        "is_graded": pa.array(graded, pa.bool_()),
        "grader": pa.array([("psa", "bgs", "cgc")[i % 3] if g else None
                            for i, g in enumerate(graded)], pa.string()),
        "grade_x10": pa.array([int(rng.integers(60, 101)) if g and rng.random() < 0.9
                               else None for g in graded], pa.int32()),
        "condition": pa.array(rng.choice(["NM", "LP", "MP", "HP"], n_prod), pa.string()),
        "price_cents": pa.array(price, pa.int64()),
        "compare_at_cents": pa.array(compare, pa.int64(), mask=cmp_kind == 2),
        "inventory_type": pa.array(rng.choice(["single", "stock"], n_prod), pa.string()),
        "quantity": pa.array(rng.integers(0, 20, n_prod), pa.int32(),
                             mask=rng.random(n_prod) < 0.05),
        "status": pa.array(np.where(rng.random(n_prod) < 0.8, "active", "draft"),
                           pa.string()),
        "subtitle": pa.array([f"Set {i % 40}" if i % 4 else None
                              for i in range(n_prod)], pa.string()),
        "description": pa.array(
            [f'Line one\nLine\ttwo "quoted" #{i}' if i % 5 == 0 else f"Plain {i}"
             for i in range(n_prod)], pa.string()),
        "created_at": pa.array(created, pa.timestamp("us", tz="UTC")),
        "card_id": pa.array(card_id, pa.string()),
        "feed_image_url": pa.array(
            [("https://cdn.example/p.jpg", "   ", "")[i % 3] if i % 11 == 0 else None
             for i in range(n_prod)], pa.string()),
    }))

    # user collections
    rng = _rng(seed, 6)
    n_items = n["collection_items"]
    n_users = n["users"]
    item_game = rng.choice(["pokemon", "yugioh", "mtg", "ygo", "magic", "Pokemon"],
                           n_items, p=[0.3, 0.25, 0.3, 0.05, 0.05, 0.05])
    pools = {"pokemon": tcg_ids, "yugioh": ygo_ids, "mtg": mtg_ids}
    norm = {"ygo": "yugioh", "magic": "mtg", "Pokemon": "pokemon"}
    item_card = []
    for g in item_game:
        pool = pools[norm.get(g, g)]
        item_card.append(pool[rng.integers(0, len(pool))]
                         if rng.random() < 0.95 else None)
    table("user_collection_items", pa.table({
        "id": pa.array([f"item-{i:07d}" for i in range(n_items)], pa.string()),
        "user_id": pa.array([f"user-{u:05d}" for u in rng.integers(0, n_users, n_items)],
                            pa.string()),
        "game": pa.array(item_game, pa.string()),
        "card_id": pa.array(item_card, pa.string()),
        "quantity": pa.array(rng.integers(1, 5, n_items), pa.int32(),
                             mask=rng.random(n_items) < 0.03),
        "cost_cents": pa.array(rng.integers(10, 50_000, n_items), pa.int64(),
                               mask=rng.random(n_items) < 0.2),
        "last_value_cents": pa.array([None] * n_items, pa.int64()),
    }))
    return n


# ---------------------------------------------------------------------------
# TPC-H-shaped warehouse for the named queries and streaming parities
# ---------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "es", "fr", "zh")
_VOCAB = (
    "a the data row column table key value join group sort merge hash scan "
    "filter window part order line customer query batch stream spark vector "
    "agg big small fast slow dup"
).split()


def write_warehouse_tables(seed: int, out_dir: str, sf: float) -> dict:
    """Write the ten catalog tables (`<out_dir>/<name>.parquet`) at scale
    factor `sf` with the value sets of FIXTURES.md §A. Returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 10)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(64, int(200_000 * sf))
    n_orders = max(200, int(1_500_000 * sf))
    n_events = max(500, int(1_000_000 * sf))
    n_docs, n_emb = 500, 500
    counts = {}

    def put(name: str, t: pa.Table) -> None:
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows

    put("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
                           pa.string()),
    }))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                              pa.float64()),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), pa.string()),
    }))
    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
                              pa.float64()),
    }))
    put("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{_ADJ[rng.integers(0, 8)]} {_NOUN[rng.integers(0, 8)]}"
                            for _ in range(n_part)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                            pa.string()),
        "p_type": pa.array(rng.choice(_PTYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
                                  pa.float64()),
    }))
    base = datetime(1995, 1, 1)
    odays = rng.integers(0, 2404, n_orders)
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2),
                                 pa.float64()),
        "o_orderdate": pa.array([base + timedelta(days=int(d)) for d in odays],
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders), pa.string()),
    }))
    n_line = n_orders * 4
    okey = rng.integers(0, n_orders, n_line)  # (orderkey, linenumber) repeats by design
    flags = rng.integers(0, 3, n_line)
    put("lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_line), 2),
                                    pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags], pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
        "l_shipdate": pa.array(
            [base + timedelta(days=int(odays[o] + d))
             for o, d in zip(okey, rng.integers(1, 122, n_line))],
            pa.timestamp("us")),
    }))
    n_users = 150
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    put("events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array([datetime(2024, 1, 1) + timedelta(microseconds=int(u))
                        for u in ev_us], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events), pa.string()),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n_events), 2),
                          pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
                          pa.string()),
    }))
    texts = []
    for i in range(n_docs):
        if i % 10 == 9:  # exact duplicates for the dedup queries
            texts.append(texts[i - 5])
            continue
        texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 90)))))
    put("documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n_docs), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }))
    return counts
