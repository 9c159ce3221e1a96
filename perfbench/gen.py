"""Seeded input generators for the benchmark workloads.

Two input sets, both a pure function of the seed:

- :func:`write_testdata` writes the ten testdata-shaped parquet tables
  (region .. embeddings, see TESTDATA.md / FIXTURES.md §B) that the
  registry keys read. Value distributions follow the TESTDATA.md tables;
  only the scale is fixed by :data:`TESTDATA_ROWS`.
- :func:`write_medallion_csvs` writes the four raw rental-marketplace
  CSVs with the FIXTURES.md §A schemas and every case its
  fixture-generation guidance lists: exact duplicate rows in every
  table, malformed ``dd/MM/yyyy`` dates, an unknown ``GBP`` currency,
  repeat customers on both sides of the 30-day boundary (exactly 30
  days included), 0-night stays and bookings of apartments that do
  not exist.

Row counts are fixed per workload, so only values change with the seed
and run-to-run work stays comparable.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per testdata-shaped table (lineitem is ~4 lines per order)
TESTDATA_ROWS = {
    "customer": 600,
    "supplier": 40,
    "part": 800,
    "orders": 6000,
    "events": 6000,
    "event_users": 120,
    "documents": 500,
    "embeddings": 500,
}

#: raw rows per medallion table before duplicate injection
MEDALLION_ROWS = {
    "apartment_attributes": 1500,
    "apartments": 1500,
    "bookings": 15000,
    "user_viewing": 15000,
}

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]


def _days(start: dt.date, n: np.ndarray) -> list[dt.datetime]:
    base = dt.datetime(start.year, start.month, start.day)
    return [base + dt.timedelta(days=int(d)) for d in n]


def write_testdata(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten testdata-shaped tables under ``out_dir``; returns
    their row counts."""
    rng = np.random.default_rng(seed)
    n = TESTDATA_ROWS
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [
            f"{adj[a]} {noun[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
        ),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(npart)],
    })

    no = n["orders"]
    order_days = rng.integers(0, (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(_days(dt.date(1995, 1, 1), order_days), pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })

    # (l_orderkey, l_linenumber) is unique: 1..7 lines per order
    lines = rng.integers(1, 8, no)
    l_order = np.repeat(np.arange(no), lines)
    l_line = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(l_order)
    ship = order_days[l_order] + rng.integers(1, 122, nl)
    perm = rng.permutation(nl)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(l_line[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_days(dt.date(1995, 1, 1), ship[perm]), pa.timestamp("us")),
    })

    ne = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.choice(month_us, ne, replace=False))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(start + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["event_users"], ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier doc, as the TESTDATA.md corpus has
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _ddmmyyyy(d: dt.date) -> str:
    return d.strftime("%d/%m/%Y")


_MALFORMED = ["31/02/2024", "n/a", "2024-03-05"]


def _date_str(rng: np.random.Generator, d: dt.date, p_bad: float = 0.01) -> str:
    if rng.random() < p_bad:
        return _MALFORMED[int(rng.integers(0, len(_MALFORMED)))]
    return _ddmmyyyy(d)


def _with_dups(rng: np.random.Generator, rows: list[list], share: float = 0.02) -> list[list]:
    """Append exact copies of a random ``share`` of rows, then shuffle."""
    picks = rng.choice(len(rows), max(1, int(len(rows) * share)), replace=False)
    out = rows + [list(rows[int(i)]) for i in picks]
    order = rng.permutation(len(out))
    return [out[int(i)] for i in order]


def write_medallion_csvs(out_dir: str, seed: int) -> dict[str, int]:
    """Write the four raw CSVs (with header) under ``out_dir``; returns
    their row counts including injected duplicates."""
    rng = np.random.default_rng(seed)
    n = MEDALLION_ROWS
    os.makedirs(out_dir, exist_ok=True)
    base = dt.date(2024, 1, 1)
    cities = [("Austin", "TX"), ("Boston", "MA"), ("Denver", "CO"), ("Miami", "FL"),
              ("Seattle", "WA"), ("Chicago", "IL"), ("Phoenix", "AZ"), ("Portland", "OR")]
    words = "bright quiet cozy modern spacious central renovated sunny".split()

    attrs = []
    for i in range(n["apartment_attributes"]):
        city, state = cities[int(rng.integers(0, len(cities)))]
        attrs.append([
            i,
            ["Studio", "1BHK", "2BHK", "3BHK"][int(rng.integers(0, 4))],
            " ".join(rng.choice(words, 6)),
            ";".join(rng.choice(["Wifi", "Parking", "Gym", "Pool", "AC"], 2, replace=False)),
            int(rng.integers(1, 4)),
            int(rng.integers(0, 5)),
            f"{rng.uniform(0, 999):.2f}",
            str(bool(rng.integers(0, 2))).lower(),
            str(bool(rng.integers(0, 2))).lower(),
            f"${int(rng.integers(500, 5000))}",
            "Monthly",
            int(rng.integers(200, 3000)),
            f"{int(rng.integers(1, 9999))} Main St",
            city,
            state,
            f"{rng.uniform(25, 48):.6f}",
            f"{rng.uniform(-122, -71):.6f}",
        ])

    apts = []
    for i in range(n["apartments"]):
        created = base + dt.timedelta(days=int(rng.integers(0, 120)))
        apts.append([
            i,
            f"Apartment {i}",
            ["Airbnb", "Zillow", "Booking"][int(rng.integers(0, 3))],
            f"{rng.uniform(50, 9999):.2f}",
            ["USD", "USD", "EUR", "INR", "GBP"][int(rng.integers(0, 5))],
            _date_str(rng, created),
            str(bool(rng.integers(0, 2))).lower(),
            _date_str(rng, created + dt.timedelta(days=int(rng.integers(0, 30)))),
        ])

    bookings = []
    n_users = n["bookings"] // 5
    for i in range(n["bookings"]):
        if i % 50 == 1:
            # repeat customer: same user as the previous booking, exactly
            # 30 / 31 / 5 days later (both sides of the M7 boundary)
            user = bookings[-1][1]
            prev = dt.datetime.strptime(bookings[-1][3], "%d/%m/%Y").date() \
                if bookings[-1][3] not in _MALFORMED else base
            booked = prev + dt.timedelta(days=[30, 31, 5][i % 3])
        else:
            user = int(rng.integers(0, n_users))
            booked = base + dt.timedelta(days=int(rng.integers(0, 150)))
        checkin = booked + dt.timedelta(days=int(rng.integers(0, 30)))
        nights = 0 if i % 40 == 0 else int(rng.integers(1, 15))
        # ~1% of bookings point at an apartment id that does not exist
        apt = int(rng.integers(0, n["apartments"])) if i % 97 else n["apartments"] + i
        bookings.append([
            i,
            user,
            apt,
            _date_str(rng, booked),
            _date_str(rng, checkin),
            _date_str(rng, checkin + dt.timedelta(days=nights)),
            f"{rng.uniform(20, 99999):.2f}",
            ["USD", "USD", "EUR", "INR", "GBP"][int(rng.integers(0, 5))],
            ["confirmed", "confirmed", "canceled", "pending"][int(rng.integers(0, 4))],
        ])

    viewing = []
    for _ in range(n["user_viewing"]):
        viewing.append([
            int(rng.integers(0, n_users)),
            int(rng.integers(0, n["apartments"])),
            _date_str(rng, base + dt.timedelta(days=int(rng.integers(0, 150)))),
            str(bool(rng.integers(0, 2))).lower(),
            ["Contact", "Book Now", "Save for Later"][int(rng.integers(0, 3))],
        ])

    headers = {
        "apartment_attributes": [
            "id", "category", "body", "amenities", "bathrooms", "bedrooms", "fee",
            "has_photo", "pets_allowed", "price_display", "price_type",
            "square_feet", "address", "cityname", "state", "latitude", "longitude",
        ],
        "apartments": [
            "id", "title", "source", "price", "currency", "listing_created_on",
            "is_active", "last_modified_timestamp",
        ],
        "bookings": [
            "booking_id", "user_id", "apartment_id", "booking_date", "checkin_date",
            "checkout_date", "total_price", "currency", "booking_status",
        ],
        "user_viewing": [
            "user_id", "apartment_id", "viewed_at", "is_wishlisted", "call_to_action",
        ],
    }
    counts = {}
    for name, rows in (
        ("apartment_attributes", attrs), ("apartments", apts),
        ("bookings", bookings), ("user_viewing", viewing),
    ):
        rows = _with_dups(rng, rows)
        with open(os.path.join(out_dir, f"{name}.csv"), "w", newline="") as fh:
            writer = csv.writer(fh)
            writer.writerow(headers[name])
            writer.writerows(rows)
        counts[name] = len(rows)
    return counts
