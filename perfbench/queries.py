"""query_mix: registry keys run the way ``bench.py`` runs them, checked
against their ``oracle_sql()`` DuckDB twins.

Every key is one operation: ``fn(spark, data_dir)`` (build) and its noop
write (execute), timed as two child spans. The per-layer rollup needs to
know each key's operator family and the input tables it reads (for
``rows_per_s``), so both are declared here.
"""

from __future__ import annotations

import gc

import duckdb

from tools.oracle_check import normalize

#: key -> (operator family, input tables). One key per family;
#: the OLAP half is dominated by fixed per-query cost, the LLM half by
#: executor CPU and the artifacts built in set-up.
KEYS: dict[str, tuple[str, tuple[str, ...]]] = {
    "repeat_rate_monthly": ("metrics", ("orders",)),
    "events_interpolated": ("windows", ("events",)),
    "sessionization": ("sessions", ("events",)),
    "price_equidepth": ("profiling", ("lineitem",)),
    "copurchase_kcore": ("graph", ("lineitem",)),
    "streaming_user_totals": ("streaming", ("events",)),
    "near_dup_jaccard": ("dedup_fuzzy", ("documents",)),
    "word_bigrams": ("text", ("documents",)),
    "quality_classifier": ("quality", ("documents",)),
    "ann_cosine_lsh": ("similarity", ("embeddings",)),
    "corpus_prep": ("corpus", ("documents",)),
}

FAMILIES = tuple(family for family, _ in KEYS.values())


def run_key(spark, tracer, fn, key: str, data_dir: str):
    """Build then execute one key; returns the built DataFrame."""
    gc.collect()  # outside the spans: a gen-2 sweep is not query work
    with tracer.span(f"query:{key}", key):
        with tracer.span(f"build:{key}"):
            df = fn(spark, data_dir)
        with tracer.span(f"exec:{key}"):
            df.write.format("noop").mode("overwrite").save()
    return df


class Oracle:
    """DuckDB over the generated parquet tables."""

    def __init__(self, data_dir: str, tables: list[str], sql: dict[str, str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.sql = sql

    def check(self, key: str, df) -> str | None:
        """None when the Spark result matches the twin, else why not."""
        rows = [r.asDict() for r in df.collect()]
        cols = df.columns
        table = self.con.execute(self.sql[key]).fetch_arrow_table()
        if sorted(cols) != sorted(table.column_names):
            return f"columns {sorted(cols)} != {sorted(table.column_names)}"
        want = table.to_pylist()
        if len(rows) != len(want):
            return f"rows {len(rows)} != {len(want)}"
        if normalize(rows, cols) != normalize(want, cols):
            return "values differ"
        return None

    def close(self) -> None:
        self.con.close()
