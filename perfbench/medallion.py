"""medallion_etl: the ``run.py`` pipeline and its DuckDB twin.

One pass is exactly what ``python -m <package>.run`` does for one input
directory: ``read_csv`` of the four raw tables, ``curate``, a parquet
write per curated table, ``present`` and a parquet write per metric
table. Each of those calls is one timed operation.

The twin recomputes every written table from the same CSVs in DuckDB,
following the Spark semantics the pipeline relies on: ``dropDuplicates``
on all columns, ``try_to_date`` (malformed -> NULL), a left join on the
3-row rates dimension (unknown currency -> NULL amount), ascending sort
with NULLs first inside the M7 ``LAG`` window, and ROUND half-up on the
decimal form of a double.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq

from lab_etl_batch_data_processing_pipeline__spark import schemas
from lab_etl_batch_data_processing_pipeline__spark.plans.pipeline import curate, present
from lab_etl_batch_data_processing_pipeline__spark.sources.readers import read_csv
from lab_etl_batch_data_processing_pipeline__spark.sources.writers import write_parquet
from tools.oracle_check import normalize

TABLES = ("apartment_attributes", "apartments", "bookings", "user_viewing")


def run_pass(spark, tracer, raw_dir: str, out_dir: str) -> None:
    """One pipeline run; every package call is a span named after it,
    and its Spark jobs carry that name as their job group."""
    raw = {}
    for t in TABLES:
        with tracer.span(f"read_csv:{t}", f"read_csv:{t}"):
            raw[t] = read_csv(
                spark, os.path.join(raw_dir, f"{t}.csv"), schemas.RAW_TABLES[t], True
            )
    with tracer.span("curate", "curate"):
        curated = curate(
            spark, raw["apartment_attributes"], raw["apartments"], raw["bookings"],
            raw["user_viewing"],
        )
    for name, df in curated.items():
        with tracer.span(f"write:curated/{name}", f"write:curated/{name}"):
            write_parquet(df, os.path.join(out_dir, "curated", name))
    with tracer.span("present", "present"):
        metric_tables = present(curated["curated_apartment_bookings"], curated["apartments"])
    for name, df in metric_tables.items():
        with tracer.span(f"write:presentation/{name}", f"write:presentation/{name}"):
            write_parquet(df, os.path.join(out_dir, "presentation", name))


def _csv_columns(table: str) -> str:
    duck = {
        "IntegerType()": "INTEGER", "StringType()": "VARCHAR",
        "BooleanType()": "BOOLEAN",
    }
    cols = []
    for f in schemas.RAW_TABLES[table].fields:
        t = repr(f.dataType)
        dtype = duck.get(t) or t.replace("DecimalType", "DECIMAL")
        cols.append(f"'{f.name}': '{dtype}'")
    return "{" + ", ".join(cols) + "}"


def _date(col: str) -> str:
    return f"CAST(try_strptime({col}, '%d/%m/%Y') AS DATE)"


def _round2(expr: str) -> str:
    """Spark ROUND(double, 2): HALF_UP on the shortest decimal string."""
    return f"CAST(ROUND(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE)"


def _week(col: str) -> str:
    return f"CAST(date_trunc('week', {col}) AS DATE)"


def _month(col: str) -> str:
    return f"CAST(date_trunc('month', {col}) AS DATE)"


def oracle_tables(raw_dir: str) -> dict[str, tuple[list[str], list[dict]]]:
    """Every table the pipeline writes, recomputed in DuckDB:
    name -> (columns, rows)."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(raw_dir, f"{t}.csv")
        con.execute(
            f"CREATE VIEW raw_{t} AS SELECT * FROM read_csv('{path}', header=true, "
            f"auto_detect=false, columns={_csv_columns(t)})"
        )
    con.execute(
        "CREATE VIEW rates AS SELECT * FROM (VALUES ('USD', 1.0::DOUBLE), "
        "('EUR', 1.1::DOUBLE), ('INR', 0.012::DOUBLE)) r(currency, usd_rate)"
    )
    con.execute("CREATE VIEW attrs AS SELECT DISTINCT * FROM raw_apartment_attributes")
    con.execute(
        "CREATE VIEW apts AS SELECT id, title, source, price, currency, "
        f"{_date('listing_created_on')} AS listing_created_on, is_active, "
        f"{_date('last_modified_timestamp')} AS last_modified_timestamp "
        "FROM (SELECT DISTINCT * FROM raw_apartments)"
    )
    con.execute(
        "CREATE VIEW bookings AS SELECT booking_id, user_id, apartment_id, "
        f"{_date('booking_date')} AS booking_date, {_date('checkin_date')} AS checkin_date, "
        f"{_date('checkout_date')} AS checkout_date, total_price, currency, booking_status "
        "FROM (SELECT DISTINCT * FROM raw_bookings)"
    )
    con.execute(
        "CREATE VIEW user_viewing AS SELECT user_id, apartment_id, "
        f"{_date('viewed_at')} AS viewed_at, is_wishlisted, call_to_action "
        "FROM (SELECT DISTINCT * FROM raw_user_viewing)"
    )
    con.execute(
        "CREATE VIEW apts_usd AS SELECT a.*, CAST(a.price AS DOUBLE) * r.usd_rate AS price_usd "
        "FROM apts a LEFT JOIN rates r USING (currency)"
    )
    con.execute(
        "CREATE VIEW curated AS SELECT b.booking_id, b.apartment_id, b.user_id, "
        "attr.category, attr.body, attr.cityname, attr.state, a.title, a.source, "
        "a.listing_created_on, a.is_active, b.booking_date, b.checkin_date, "
        "b.checkout_date, b.booking_status, "
        "CAST(b.total_price AS DOUBLE) * r.usd_rate AS total_price_usd "
        "FROM bookings b LEFT JOIN apts a ON b.apartment_id = a.id "
        "LEFT JOIN attrs attr ON a.id = attr.id "
        "LEFT JOIN rates r ON b.currency = r.currency"
    )
    con.execute(
        "CREATE VIEW confirmed AS SELECT * FROM curated WHERE booking_status = 'confirmed'"
    )
    nights = "date_diff('day', checkin_date, checkout_date)"
    avail = "COUNT(DISTINCT apartment_id) * day(last_day(any_value(checkin_date)))"
    sql = {
        "curated/user_viewing": "SELECT * FROM user_viewing",
        "curated/apartment_attributes": "SELECT * FROM attrs",
        "curated/apartments": "SELECT * FROM apts_usd",
        "curated/bookings": "SELECT * FROM bookings",
        "curated/curated_apartment_bookings": "SELECT * FROM curated",
        "presentation/average_listing_price": (
            f"SELECT {_week('listing_created_on')} AS week_start, "
            "CAST(SUM(CAST(price_usd AS DECIMAL(18,4))) AS DOUBLE) / COUNT(price_usd) "
            "AS avg_price FROM apts_usd GROUP BY 1"
        ),
        "presentation/occupancy_rate_per_month": (
            f"SELECT {_month('checkin_date')} AS month, "
            "CAST(COUNT(*) AS BIGINT) AS total_bookings, "
            f"CAST(SUM({nights}) AS BIGINT) AS booked_nights, "
            f"CAST({avail} AS BIGINT) AS available_nights, "
            f"{_round2(f'100.0 * SUM({nights}) / ({avail})')} AS occupancy_rate "
            "FROM confirmed GROUP BY 1"
        ),
        "presentation/popular_cities_per_week": (
            f"SELECT {_week('booking_date')} AS week_start, cityname AS location, "
            "CAST(COUNT(*) AS BIGINT) AS total_bookings FROM confirmed GROUP BY 1, 2"
        ),
        "presentation/top_listings_weekly_revenue": (
            f"SELECT {_week('booking_date')} AS week_start, apartment_id AS listing_id, "
            "CAST(ROUND(SUM(CAST(total_price_usd AS DECIMAL(18,4))), 2) AS DOUBLE) "
            "AS total_revenue FROM confirmed GROUP BY 1, 2"
        ),
        "presentation/total_bookings_per_user": (
            "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS total_bookings "
            "FROM confirmed GROUP BY 1"
        ),
        "presentation/avg_booking_duration_per_month": (
            f"SELECT {_month('checkin_date')} AS month, "
            f"{_round2(f'AVG({nights})')} AS avg_duration_days FROM confirmed GROUP BY 1"
        ),
        "presentation/repeat_customer_rate_per_month": (
            "WITH seq AS (SELECT user_id, booking_date, LAG(booking_date) OVER ("
            "PARTITION BY user_id ORDER BY booking_date ASC NULLS FIRST, "
            "booking_id ASC NULLS FIRST) AS prev FROM confirmed), "
            "flagged AS (SELECT *, CASE WHEN prev IS NOT NULL AND "
            "date_diff('day', prev, booking_date) <= 30 THEN 1 ELSE 0 END AS is_repeat "
            "FROM seq) "
            f"SELECT {_month('booking_date')} AS month, "
            "CAST(COUNT(DISTINCT CASE WHEN is_repeat = 1 THEN user_id END) AS BIGINT) "
            "AS repeat_customers, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS total_customers, "
            + _round2(
                "100.0 * COUNT(DISTINCT CASE WHEN is_repeat = 1 THEN user_id END) "
                "/ COUNT(DISTINCT user_id)"
            )
            + " AS repeat_rate_pct FROM flagged GROUP BY 1"
        ),
    }
    out = {}
    for name, query in sql.items():
        table = con.execute(query).fetch_arrow_table()
        out[name] = (table.column_names, table.to_pylist())
    con.close()
    return out


def check_output(out_dir: str, expected: dict) -> list[str]:
    """Compare every written table with its twin, order-insensitively.
    Returns one line per mismatching table."""
    problems = []
    for name, (cols, rows) in expected.items():
        path = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(path, "*.parquet"))
        if not files:
            problems.append(f"{name}: no parquet written")
            continue
        got = pq.read_table(path)
        if sorted(got.column_names) != sorted(cols):
            problems.append(f"{name}: columns {sorted(got.column_names)} != {sorted(cols)}")
            continue
        if normalize(got.to_pylist(), cols) != normalize(rows, cols):
            problems.append(f"{name}: values differ ({got.num_rows} vs {len(rows)} rows)")
    return problems


def output_files(out_dir: str) -> tuple[int, int]:
    """(parquet files, bytes) under the pipeline's output directory."""
    files = glob.glob(os.path.join(out_dir, "*", "*", "*.parquet"))
    return len(files), sum(os.path.getsize(f) for f in files)
