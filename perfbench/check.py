"""Correctness checks: Spark outputs against DuckDB.

Frames are compared with the oracle selfcheck's canonicalizer
(``tools/selfcheck.py``): columns sorted by name, rows compared as a
multiset of normalized cells, values exactly. The ELT expectations are
computed by DuckDB straight from the generated input files.
"""

from __future__ import annotations

from tools.selfcheck import canon_frame

_UPSERT_COLS = "columns={'id': 'VARCHAR', 'val': 'VARCHAR', 'updated_at': 'VARCHAR'}"

MART_SQL = """
{{ config(materialized='table') }}
SELECT b.city, b.state, COUNT(*) AS n_reviews,
       CAST(CAST(SUM(CAST(r.stars AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS stars_total
FROM {{ ref('bronze_yelp_review') }} r
JOIN {{ ref('bronze_yelp_business') }} b ON r.business_id = b.business_id
GROUP BY b.city, b.state
"""


def frames_match(got, want) -> str | None:
    """None if the two pandas frames hold the same rows, else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = canon_frame(got, "spark"), canon_frame(want, "oracle")
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)} expected"
    for a, b in zip(g, w):
        if a != b:
            return f"row {a} != expected {b}"
    return None


def expected_mart(con, business_json: str, review_ndjson: str):
    """The join mart of ``MART_SQL``, computed from the raw input files."""
    return con.execute(f"""
        SELECT b.city, b.state, COUNT(*) AS n_reviews,
               CAST(CAST(SUM(CAST(r.stars AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS stars_total
        FROM read_json('{review_ndjson}', format='newline_delimited',
                       columns={{'business_id': 'VARCHAR', 'stars': 'DOUBLE'}}) r
        JOIN read_json('{business_json}', format='array',
                       columns={{'business_id': 'VARCHAR', 'city': 'VARCHAR', 'state': 'VARCHAR'}}) b
          ON r.business_id = b.business_id
        GROUP BY b.city, b.state""").df()


def expected_target(con, target: str, batches: list[str]):
    """The upsert target after a Create load of ``target`` and one MERGE per
    batch: matched keys take the batch row, unmatched batch rows insert."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE expected_t AS SELECT * FROM "
                f"read_json('{target}', format='newline_delimited', {_UPSERT_COLS})")
    for b in batches:
        s = f"read_json('{b}', format='newline_delimited', {_UPSERT_COLS})"
        con.execute(f"""CREATE OR REPLACE TEMP TABLE expected_t AS
            SELECT * FROM expected_t WHERE id NOT IN (SELECT id FROM {s})
            UNION ALL SELECT * FROM {s}""")
    return con.execute("SELECT * FROM expected_t").df()
