"""Independent expected results (DuckDB over the generated inputs) and
the comparator every job's output goes through.

The SQL is the package's own oracle text, imported read-only:
``jvst_spark.queries.oracle_sql()`` entries and the ``SPANS_SQL`` /
``FLAGSHIP_VALID_SQL`` twins in ``jvst_spark.io.spans``. Each oracle
runs against views named after the tables that SQL expects
(``documents``, ``events``) over this run's generated parquet files.
"""

from __future__ import annotations

from typing import List

import duckdb

EPS = 1e-6  # jvst_spark.table_checks.drift smoothing mass
PSI_LIMIT = 0.1  # the typed_batch suite's drift threshold
FLOAT_TOL = 1e-6  # both engines round drift metrics to 6 places


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and abs(a - b) <= FLOAT_TOL
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(name: str, expected, got) -> List[str]:
    """Mismatch descriptions between an expected and an observed result
    (dicts compare key by key, sequences element by element, floats
    within FLOAT_TOL, everything else by equality); empty when they
    agree."""
    if isinstance(expected, dict) and isinstance(got, dict):
        out = []
        for k in sorted(set(expected) | set(got), key=str):
            out += compare(f"{name}[{k}]", expected.get(k), got.get(k))
        return out
    if not _same(expected, got):
        return [f"{name}: expected {expected!r}, got {got!r}"]
    return []


def _con(**views: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for view, path in views.items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
    return con


def typed_batch(documents: str, dup_mod: int, dup_rem: int) -> dict:
    """Flagship totals and per-bucket metrics, plus the table-check
    suite's expected rows, over the documents the spans table derives
    from."""
    from jvst_spark.io.spans import SPANS_SQL
    from jvst_spark.queries import oracle_sql

    sql = oracle_sql()
    con = _con(documents=documents)
    n, n_valid, n_vio = con.execute(sql["val_flagship_metrics"]).fetchone()
    buckets = {
        str(b): [nd, nv, nx]
        for b, nd, nv, nx in con.execute(sql["val_flagship_metrics_by_bucket"]).fetchall()
    }
    con.execute(f"CREATE TABLE spans_tbl AS {SPANS_SQL}")
    ids = "TRY_CAST(substr(doc_id, 5) AS BIGINT)"
    n_dup_keys = con.execute(
        f"SELECT count(*) FROM spans_tbl WHERE {ids} % {dup_mod} = {dup_rem}"
    ).fetchone()[0]
    n_dangling = con.execute(
        "SELECT count(*) FROM spans_tbl, UNNEST(spans) AS t(s) "
        "WHERE s.media_ref IS NOT NULL AND s.media_ref NOT IN "
        "(SELECT 'media-' || CAST(range AS VARCHAR) FROM range(0, 6))"
    ).fetchone()[0]
    psi = con.execute(
        f"""
        WITH h AS (SELECT {ids} % 2 AS half, CAST(floor(len(spans) / 10.0) AS INT) AS bin,
                          count(*) AS n
                   FROM spans_tbl GROUP BY 1, 2),
        m AS (SELECT half, bin, n / sum(n) OVER (PARTITION BY half) AS p FROM h),
        j AS (SELECT coalesce(a.p, 0.0) + {EPS} AS p, coalesce(b.p, 0.0) + {EPS} AS q
              FROM (SELECT * FROM m WHERE half = 0) a
              FULL OUTER JOIN (SELECT * FROM m WHERE half = 1) b ON a.bin = b.bin)
        SELECT round(sum((p - q) * ln(p / q)), 6) FROM j
        """
    ).fetchone()[0]
    return {
        "totals": [n, n_valid, n_vio],
        "buckets": buckets,
        "suite": {
            "dup_keys": [n_dup_keys, n_dup_keys == 0],
            "dangling_media": [n_dangling, n_dangling == 0],
            "psi_halves": [psi, psi <= PSI_LIMIT],
        },
    }


def dedup(documents: str, arrivals: str) -> dict:
    """Component labels (dedup_components oracle) over the documents'
    dup corpus, and the stream-dedup emission multiset
    (_STREAM_DEDUP_SQL) over the arrival ids."""
    from jvst_spark.queries import _STREAM_DEDUP_SQL, oracle_sql

    con = _con(documents=documents)
    comps = {
        str(d): c for d, c in con.execute(oracle_sql()["dedup_components"]).fetchall()
    }
    con.execute(
        "CREATE VIEW events AS SELECT DISTINCT CAST(doc_id AS BIGINT) AS event_id "
        f"FROM read_parquet('{arrivals}/*.parquet')"
    )
    dups = sorted(
        f"{d}:{k}" for d, k in con.execute(_STREAM_DEDUP_SQL).fetchall()
    )
    return {"components": comps, "stream_dups": dups}
