"""DuckDB oracles for the benchmark's correctness checks.

Registry queries are compared the way the repository's correctness checks
compare them (``bq_nvd_spark.oracle_compare``): row count, sorted column names,
canonical dtypes and an order-insensitive value hash. The NVD mirror's
results are compared with DuckDB's reading of the same gz feed bytes.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

from bq_nvd_spark.oracle_compare import (
    canon_duck_type,
    canon_spark_type,
    rowset,
)


def signature(cols: list[str], types: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, hash of sorted columns + canonical dtypes + row set)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    head = repr([(cols[i], types[i]) for i in order])
    digest = hashlib.sha1(head.encode())
    for row in rowset(cols, rows):
        digest.update(repr(row).encode())
    return len(rows), digest.hexdigest()


def spark_signature(df, rows) -> tuple[int, str]:
    cols = list(df.columns)
    types = [canon_spark_type(f.dataType.simpleString()) for f in df.schema.fields]
    return signature(cols, types, [tuple(r) for r in rows])


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET preserve_insertion_order = false")
    con.execute("SET enable_progress_bar = false")
    return con


def registry_signatures(sf_dir: str, oracles: dict[str, str], names: list[str]) -> dict:
    """Oracle signature of every named registry query over the parquet
    tables in ``sf_dir``."""
    con = connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            table = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
        out = {}
        for name in names:
            rel = con.sql(oracles[name])
            cols = list(rel.columns)
            types = [canon_duck_type(t) for t in rel.types]
            out[name] = signature(cols, types, rel.fetchall())
        return out
    finally:
        con.close()


# Only the fields the checks read, parsed from each feed document's raw
# JSON: DuckDB never materializes the rest of a multi-MB document.
_CPE = '[{"cpe23Uri": "VARCHAR"}]'
_ITEM_SPEC = (
    '[{"cve": {"CVE_data_meta": {"ID": "VARCHAR"}, '
    '"description": {"description_data": [{"value": "VARCHAR"}]}}, '
    f'"configurations": {{"nodes": [{{"cpe_match": {_CPE}, "children": [{{"cpe_match": {_CPE}}}]}}]}}, '
    '"publishedDate": "VARCHAR", "lastModifiedDate": "VARCHAR"}]'
)


def _items(feed_paths: list[str]) -> str:
    return " UNION ALL ".join(
        f"""SELECT {i} AS ord, UNNEST(from_json(json->'CVE_Items', '{_ITEM_SPEC}')) AS item
            FROM read_json_objects('{p}', format='unstructured', maximum_object_size=33554432)"""
        for i, p in enumerate(feed_paths)
    )


_HAS_LINUX = """
len(list_filter(item.configurations.nodes,
    n -> len(list_filter(n.cpe_match, m -> m.cpe23Uri LIKE '%linux%')) > 0
      OR len(list_filter(n.children,
             c -> len(list_filter(c.cpe_match, m -> m.cpe23Uri LIKE '%linux%')) > 0)) > 0
)) > 0
"""


def mirror_expectations(feed_paths: list[str]) -> dict:
    """What the store must hold after ingesting ``feed_paths`` in order
    under first-write-wins: the earliest feed wins, and within a feed the
    smallest (publishedDate, lastModifiedDate)."""
    con = connect()
    try:
        con.execute(f"""
            CREATE TEMP TABLE kept AS
            SELECT item FROM (
              SELECT item, row_number() OVER (
                PARTITION BY item.cve.CVE_data_meta.ID
                ORDER BY ord, item.publishedDate, item.lastModifiedDate) AS rn
              FROM ({_items(feed_paths)})
            ) WHERE rn = 1
        """)
        count = con.sql("SELECT COUNT(item.cve.CVE_data_meta.ID) FROM kept").fetchone()[0]
        linux = {
            r[0] for r in con.sql(
                f"SELECT item.cve.CVE_data_meta.ID FROM kept WHERE {_HAS_LINUX}"
            ).fetchall()
        }
        revised = con.sql(
            "SELECT COUNT(*) FROM kept "
            "WHERE item.cve.description.description_data[1].value LIKE '%(REVISED)%'"
        ).fetchone()[0]
        return {"count": count, "linux_ids": linux, "revised_kept": revised}
    finally:
        con.close()
