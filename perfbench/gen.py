"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (seed, workload sizes): the same seed
gives the same tables. Inputs are written once per seed into the
benchmark's own cache directory, outside any timed region.

Shapes follow the tables the package's queries read: ``documents``
(doc_id bigint, text string) holds 10-100 words per document drawn
from the 30-word vocabulary of the sf tables; the stream-dedup arrival
log holds string ids.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()

# bumped whenever a generator below changes, so stale caches are ignored
GEN_VERSION = 1


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, input stream)."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


def id_offset(seed: int, span: int) -> int:
    """Seed-derived id base, a multiple of 1000 below 500,000 - span.

    Keeps every id below 1,000,000 so the near/exact-copy id shifts of
    the dedup corpus (+1,000,000 / +2,000,000) never collide."""
    return int(rng_for(seed, "offset").integers(0, (500_000 - span) // 1000)) * 1000


def documents(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents with consecutive ids from ``id_offset``."""
    rng = rng_for(seed, "documents")
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + n]))
        pos += n
    base = id_offset(seed, n_docs)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(base, base + n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )


def arrivals(seed: int, ids: np.ndarray, n_files: int) -> list[pa.Table]:
    """The stream-dedup arrival log, with re-arrivals as
    _STREAM_DEDUP_SQL counts them (every id once, one extra copy for
    id % 17 == 0, another for id % 51 == 0), shuffled by the seed and
    cut into ``n_files`` files."""
    log = np.concatenate([ids, ids[ids % 17 == 0], ids[ids % 51 == 0]])
    rng_for(seed, "arrivals").shuffle(log)
    return [
        pa.table({"doc_id": pa.array([str(i) for i in part], pa.string())})
        for part in np.array_split(log, n_files)
    ]


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def spans_files(documents_path: str, out_dir: str, n_files: int) -> None:
    """The flagship (doc_id, spans) table derived from ``documents`` by
    SPANS_SQL (the package's DuckDB twin of ``derive_spans``), written
    as ``n_files`` parquet files of contiguous doc ranges."""
    import duckdb

    from jvst_spark.io.spans import SPANS_SQL

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')"
    )
    con.execute(
        "CREATE TABLE spans AS SELECT row_number() OVER "
        f"(ORDER BY substr(doc_id, 5)) AS _r, * FROM ({SPANS_SQL})"
    )
    n = con.execute("SELECT count(*) FROM spans").fetchone()[0]
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        con.execute(
            f"COPY (SELECT doc_id, spans FROM spans WHERE _r > {bounds[i]} "
            f"AND _r <= {bounds[i + 1]} ORDER BY _r) "
            f"TO '{out_dir}/part-{i:03d}.parquet' (FORMAT PARQUET)"
        )
