"""Correctness checks against the DuckDB oracles in ``kg/oracles.py``.

The emitted edges are compared with ``oracles.edges_sql()`` on the same
documents as a multiset of ``(subj_id, pred, obj_id, doc_id, offset)``.
A fingerprint (row count plus an order-independent sum of row hashes) is
compared first; the full multiset precision/recall is computed only when
the fingerprints differ. Oracle fingerprints are cached per corpus.
"""

from __future__ import annotations

import json
import os

import duckdb

EDGE_COLS = (
    'CAST(subj_id AS BIGINT), pred, CAST(obj_id AS BIGINT), doc_id, '
    'CAST("offset" AS INTEGER)'
)


def _connect(doc_files: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    files = ", ".join(f"'{p}'" for p in doc_files)
    con.execute(f"CREATE VIEW documents AS SELECT doc_id, text FROM read_parquet([{files}])")
    return con


def _fingerprint(con, relation_sql: str, cols: str) -> list:
    n, h = con.sql(
        f"SELECT count(*), coalesce(sum(hash({cols})), 0) FROM ({relation_sql})"
    ).fetchone()
    return [int(n), str(h)]


def oracle_fingerprint(doc_files: list[str], cache_path: str) -> list:
    """[count, hashsum] of the oracle edges on ``doc_files``, cached at
    ``cache_path``."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    from kg import oracles

    con = _connect(doc_files)
    try:
        out = _fingerprint(con, oracles.edges_sql(), EDGE_COLS)
    finally:
        con.close()
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, cache_path)
    return out


def output_fingerprint(files_glob: str, cols: str) -> list:
    con = duckdb.connect()
    try:
        return _fingerprint(con, f"SELECT * FROM read_parquet('{files_glob}')", cols)
    finally:
        con.close()


def precision_recall(doc_files: list[str], edges_glob: str) -> tuple[float, float]:
    """Full multiset P/R of the emitted edges against the oracle."""
    from kg import oracles

    con = _connect(doc_files)
    try:
        out = f"SELECT {EDGE_COLS} FROM read_parquet('{edges_glob}')"
        ref = f"SELECT {EDGE_COLS} FROM ({oracles.edges_sql()})"
        n_out = con.sql(f"SELECT count(*) FROM ({out})").fetchone()[0]
        n_ref = con.sql(f"SELECT count(*) FROM ({ref})").fetchone()[0]
        hit = con.sql(f"SELECT count(*) FROM ({out} INTERSECT ALL {ref})").fetchone()[0]
    finally:
        con.close()
    return (hit / n_out if n_out else 0.0, hit / n_ref if n_ref else 0.0)


def check_edges(doc_files: list[str], edges_glob: str, expected: list) -> dict:
    """P/R of the emitted edges: 1.0/1.0 straight from the fingerprints
    when they match, otherwise from the full multiset comparison."""
    got = output_fingerprint(edges_glob, EDGE_COLS)
    if got == expected:
        return {"fingerprint_match": True, "precision": 1.0, "recall": 1.0}
    p, r = precision_recall(doc_files, edges_glob)
    return {"fingerprint_match": False, "precision": p, "recall": r}


def check_query(doc_files: list[str], oracle_sql: str, rows: list[list]) -> bool:
    """Order-independent equality of a query's collected rows with the
    DuckDB oracle on the same documents."""
    con = _connect(doc_files)
    try:
        ref = con.sql(oracle_sql).fetchall()
    finally:
        con.close()
    return sorted(map(tuple, ref)) == sorted(map(tuple, rows))
