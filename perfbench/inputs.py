"""Seeded inputs for the benchmark workloads.

Every generator takes the workload seed and writes its files under a
directory the caller owns; the same seed gives byte-identical files.
Where a workload's result can be predicted without the engine, the
generator also returns the expected result, computed in plain Python
from the same values it wrote.
"""

from __future__ import annotations

import csv
import random
from dataclasses import dataclass
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTHS = tuple(f"2024-{m:02d}-01" for m in range(1, 13))
REGIONS = ("North", "South", "East", "West", "Central")
PRODUCTS = ("widget", "gadget", "gizmo", "doohickey", "sprocket")

# Provider files: a title-row template sends every TITLED_EVERY-th file
# through the pandas-per-file reader; the rest take the CSV fast path.
TITLED_EVERY = 3
SKUS_PER_FILE = 400


def provider_template(provider: str, titled: bool) -> dict:
    """The template payload of one provider: wide months unpivoted,
    thousands separators stripped, summed per SKU/region/month, then
    coerced against a typed contract."""
    return {
        "source_type": "csv",
        "header_row": 1 if titled else 0,
        "columns": ["SKU", "Region", *MONTHS],
        "column_mappings": {"SKU": "sku", "Region": "region"},
        "provider_name": provider,
        "trim_strings": True,
        "strip_thousands": True,
        "unpivot": True,
        "id_columns": ["sku", "region"],
        "combine_on": ["sku", "region"],
        "required_fields": ["sku", "region", "report_date", "sales_amount"],
        "field_types": {"sales_amount": "float", "report_date": "date", "sku": "string"},
    }


def _sales_cell(rng: random.Random, force: bool) -> tuple[str, int]:
    """One monthly cell as written (with thousands separators, or
    blank) and the number the template semantics turn it into."""
    if not force and rng.random() < 0.08:
        return "", 0
    value = rng.randint(1000, 60000) if force else rng.randint(0, 60000)
    return f"{value:,}", value


def _sales_rows(rng: random.Random, n_rows: int, sku_pool: int):
    """Yield (written row, sku key, region key, monthly values). The
    first row never has a blank or separator-free month, so every month
    column reads as text on both reader paths."""
    for i in range(n_rows):
        sku = f"SKU-{rng.randrange(sku_pool):05d}"
        padded = " " * rng.randint(0, 2) + sku + " " * rng.randint(0, 2)
        region = rng.choice(REGIONS)
        cells = [_sales_cell(rng, force=i == 0) for _ in MONTHS]
        row = [padded, region, rng.choice(PRODUCTS), *(c for c, _ in cells)]
        yield row, sku, region, [v for _, v in cells]


@dataclass(frozen=True)
class ProviderFile:
    path: str
    template: dict
    rows: int
    in_bytes: int
    # (sku, region, month) -> summed sales of this provider
    expected: dict


def provider_files(out_dir: Path, seed: int, n_files: int, rows_per_file: int) -> list[ProviderFile]:
    """Write ``n_files`` provider CSVs of ``rows_per_file`` data rows."""
    out_dir.mkdir(parents=True, exist_ok=True)
    files = []
    for k in range(n_files):
        rng = random.Random(f"provider-{seed}-{k}")
        provider = f"provider_{k:03d}"
        titled = k % TITLED_EVERY == TITLED_EVERY - 1
        path = out_dir / f"{provider}.csv"
        expected: dict = {}
        with open(path, "w", newline="", encoding="utf-8") as fh:
            w = csv.writer(fh, quoting=csv.QUOTE_MINIMAL)
            if titled:
                w.writerow([f"{provider} monthly sales export", "", ""])
            w.writerow(["SKU", "Region", "Product", *MONTHS])
            for row, sku, region, values in _sales_rows(rng, rows_per_file, SKUS_PER_FILE):
                w.writerow(row)
                for month, v in zip(MONTHS, values):
                    key = (sku, region, month)
                    expected[key] = expected.get(key, 0) + v
        files.append(
            ProviderFile(
                path=str(path),
                template=provider_template(provider, titled),
                rows=rows_per_file,
                in_bytes=path.stat().st_size,
                expected=expected,
            )
        )
    return files


# --- request stream -----------------------------------------------------

QUERY_COLUMNS = (
    "l_orderkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_returnflag",
    "l_linestatus",
)
QUERY_LIMITS = (10, 50, 100, 200)
TRANSFORM_ROWS = 200
# One request in TRANSFORM_EVERY is a transform_endpoint request.
TRANSFORM_EVERY = 4


QUERY_ORDERS = ("l_extendedprice", "l_quantity", "l_discount")
# Query shapes repeat with this period, so every run sends the same mix
# of shapes; the seed picks the literals.
QUERY_SHAPES = 12


def query_request(rng: random.Random, j: int) -> dict:
    """Query-builder request ``j``: a BETWEEN range, an OR-group, a date
    floor on every other request, an IN list on every third, an ordering
    that is unique, and a limit. The shape and the selectivity of each
    filter follow ``j``; the values come from ``rng``."""
    lo = rng.randint(1, 40)
    filters = [
        {"column": "l_quantity", "operator": "between", "value": [float(lo), float(lo + 5)]},
        {
            "or": [
                {"column": "l_returnflag", "operator": "=", "value": rng.choice("ANR")},
                {"column": "l_linestatus", "operator": "=", "value": rng.choice("FO")},
            ]
        },
    ]
    if j % 2 == 0:
        year = 1995 + (j // 2) % 6
        filters.append({"column": "l_shipdate", "operator": ">=", "value": f"{year}-0{rng.randint(1, 9)}-01"})
    if j % 3 == 0:
        filters.append({"column": "l_discount", "operator": "in", "value": sorted(rng.sample([0.0, 0.02, 0.04, 0.06, 0.08, 0.1], 3))})
    return {
        "columns": list(QUERY_COLUMNS),
        "filters": filters,
        "order_by": [QUERY_ORDERS[(j // 4) % 3], "l_orderkey", "l_linenumber"],
        "limit": QUERY_LIMITS[j % len(QUERY_LIMITS)],
    }


def transform_request(rng: random.Random, k: int) -> tuple[dict, int]:
    """A transform_endpoint payload of TRANSFORM_ROWS wide rows and the
    row count its template leaves: one per distinct SKU/region/month."""
    rows = []
    groups = set()
    for row, sku, region, _ in _sales_rows(rng, TRANSFORM_ROWS, 60):
        rows.append(dict(zip(("SKU", "Region", "Product", *MONTHS), row)))
        groups.add((sku, region))
    for r in rows:
        # An API client sends no value for a blank cell.
        for m in MONTHS:
            if r[m] == "":
                r[m] = None
    payload = {
        "template": provider_template(f"api_client_{k:04d}", titled=False),
        "rows": rows,
        "validation_level": "coerce",
    }
    return payload, len(groups) * len(MONTHS)


def request_stream(seed: int, n: int) -> list[tuple[str, dict, int | None]]:
    """``n`` requests as (kind, payload, expected row count or None).
    Every TRANSFORM_EVERY-th request is a transform, and query shapes
    cycle (``query_request``); every payload's values come from the
    seed."""
    rng = random.Random(f"requests-{seed}")
    out: list[tuple[str, dict, int | None]] = []
    queries = 0
    for k in range(n):
        if k % TRANSFORM_EVERY == TRANSFORM_EVERY - 1:
            payload, expected = transform_request(rng, k)
            out.append(("transform", payload, expected))
        else:
            out.append(("query", query_request(rng, queries % QUERY_SHAPES), None))
            queries += 1
    return out


# --- documents corpus -----------------------------------------------------

_SYLLABLES = ("ka", "lo", "mi", "nu", "pe", "ra", "si", "tu", "ve", "zo", "ba", "de", "fi", "go", "hu", "ja")
_VOCAB = (
    "data table row column query join filter sort group hash merge scan key value "
    "stream batch window spark agg order line part customer vector fast slow big small"
).split() + [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES][::10]
_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")
_DE = ("der", "die", "und", "das", "ist")
_ES = ("el", "los", "las", "y", "que")


def _pii(rng: random.Random) -> str:
    kind = rng.randrange(4)
    if kind == 0:
        return f"user{rng.randrange(10000)}@example.com"
    if kind == 1:
        return f"+1 555-{rng.randrange(1000):03d}-{rng.randrange(10000):04d}"
    if kind == 2:
        return f"{rng.randrange(1000):03d}-{rng.randrange(100):02d}-{rng.randrange(10000):04d}"
    return ".".join(str(rng.randrange(256)) for _ in range(4))


def _document(rng: random.Random) -> tuple[str, str]:
    lang = rng.choices(("en", "de", "es"), weights=(85, 10, 5))[0]
    markers = {"en": _EN, "de": _DE, "es": _ES}[lang]
    stop_share = rng.uniform(0.02, 0.4)
    n_words = rng.randint(4, 90)
    words = [rng.choice(markers) if rng.random() < stop_share else rng.choice(_VOCAB) for _ in range(n_words)]
    if rng.random() < 0.1:
        words.insert(rng.randrange(len(words) + 1), _pii(rng))
    if rng.random() < 0.05:
        words.append("!!!")
    return " ".join(words), lang


def documents_table(seed: int, n_base: int) -> tuple[pa.Table, float]:
    """``n_base`` distinct documents plus a seed-chosen share of exact
    copies and one-word near copies, rows in a seeded order."""
    rng = random.Random(f"documents-{seed}")
    dup_share = rng.uniform(0.15, 0.3)
    texts: list[tuple[str, str]] = [_document(rng) for _ in range(n_base)]
    for _ in range(int(n_base * dup_share)):
        text, lang = texts[rng.randrange(n_base)]
        if rng.random() < 0.5:
            words = text.split(" ")
            words[rng.randrange(len(words))] = rng.choice(_VOCAB)
            text = " ".join(words)
        texts.append((text, lang))
    order = list(range(len(texts)))
    rng.shuffle(order)
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    rows = [texts[i] for i in order]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([t for t, _ in rows], pa.string()),
            "lang": pa.array([lang for _, lang in rows], pa.string()),
            "source": pa.array([f"src{rng.randrange(20)}" for _ in rows], pa.string()),
            "n_chars": pa.array([len(t) for t, _ in rows], pa.int64()),
        }
    )
    return table, dup_share


# --- star schema -----------------------------------------------------------

_EPOCH = datetime(1970, 1, 1)


def _days(rng: np.random.Generator, n: int, start: datetime, end: datetime) -> np.ndarray:
    lo, hi = (start - _EPOCH).days, (end - _EPOCH).days
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def star_tables(seed: int, sf: float, only: tuple[str, ...] | None = None) -> dict[str, pa.Table]:
    """The catalog's tables (same names, columns and types as the
    engine's star schema) at scale factor ``sf``: 6,000,000 × sf line
    items. ``(l_orderkey, l_linenumber)`` is unique."""
    rng = np.random.default_rng([seed, 7])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_orders, n_events, n_vecs = int(1_500_000 * sf), int(1_000_000 * sf), int(20_000 * sf)
    want = set(only or ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "embeddings"))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    if "customer" in want:
        t["customer"] = pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                    rng.integers(0, 5, n_cust)
                ],
            }
        )
    if "supplier" in want:
        t["supplier"] = pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        )
    if "part" in want:
        names = np.array([f"{a} {b}" for a in ("small", "red", "large", "blue", "steel", "tin", "green", "dark")
                          for b in ("ring", "widget", "bolt", "gear", "pipe", "valve", "plate", "spring")])
        t["part"] = pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": names[rng.integers(0, len(names), n_part)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                    rng.integers(0, 6, n_part)
                ],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        )
    if want & {"orders", "lineitem"}:
        t["orders"] = pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, max(n_cust, 1), n_orders), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
                "o_totalprice": _money(rng, 1000, 500000, n_orders),
                "o_orderdate": _days(rng, n_orders, datetime(1995, 1, 1), datetime(2001, 8, 1)),
                "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_orders)
                ],
            }
        )
        lines = rng.integers(1, 8, n_orders)
        n_li = int(lines.sum())
        orderkey = np.repeat(np.arange(n_orders), lines)
        starts = np.repeat(np.cumsum(lines) - lines, lines)
        t["lineitem"] = pa.table(
            {
                "l_orderkey": pa.array(orderkey, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, max(n_part, 1), n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": _money(rng, 900, 105000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _days(rng, n_li, datetime(1995, 1, 2), datetime(2001, 11, 4)),
            }
        )
    if "events" in want:
        start = np.datetime64("2024-01-01T00:00:00", "us")
        offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
        t["events"] = pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": start + offsets.astype("timedelta64[us]"),
                "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n_events), pa.int64()),
                "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                    rng.integers(0, 5, n_events)
                ],
                "value": np.round(rng.exponential(40.0, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        )
    if "embeddings" in want:
        centers = rng.normal(0, 1, (10, 64))
        labels = rng.integers(0, 10, n_vecs)
        vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, 64))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
        t["embeddings"] = pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        )
    return {k: v for k, v in t.items() if k in want}


def star_schema(out_dir: Path, seed: int, sf: float, n_docs: int) -> tuple[dict[str, int], float]:
    """Write every catalog table as ``<name>.parquet``; returns the row
    counts and the corpus's duplicate share."""
    out_dir.mkdir(parents=True, exist_ok=True)
    tables = star_tables(seed, sf)
    tables["documents"], dup_share = documents_table(seed, n_docs)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return {name: table.num_rows for name, table in tables.items()}, dup_share


def lineitem(out_dir: Path, seed: int, sf: float) -> tuple[str, int]:
    out_dir.mkdir(parents=True, exist_ok=True)
    table = star_tables(seed, sf, only=("lineitem",))["lineitem"]
    path = out_dir / "lineitem.parquet"
    pq.write_table(table, path)
    return str(path), table.num_rows
