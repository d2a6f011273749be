"""Correctness gate: system outputs against DuckDB replays of the oracle SQL
registered in the package's query catalog.

Comparisons are order-insensitive hashes of canonicalized rows (columns
sorted by name, floats by ``repr``), the same canonical form the package's
own oracle tests use.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

#: the reco_assembly oracle restricts its query users with this predicate;
#: the serving checks need every user, so they drop it
_RECO_USER_FILTER = "WHERE a.c_custkey % 10 = 0"


def connect(tables_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def table_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted(
        tuple(repr(float(v)) if isinstance(v, float) else str(v) for v in r)
        for r in df.itertuples(index=False, name=None)
    )
    return hashlib.sha256(repr((list(df.columns), rows)).encode()).hexdigest()


def oracle_sql(name: str) -> str:
    from hainan_big_data_recommend_system_spark.qcatalog import REGISTRY, EXTRA_REGISTRY

    spec = REGISTRY.get(name) or EXTRA_REGISTRY[name]
    return spec.oracle


#: the nightly outputs the gate checks, one operation each
NIGHTLY_CHECKS = ("reco", "similarity", "clusters")


def check_nightly(con, out_dir: str, k: int, n_docs: int) -> dict[str, str]:
    """Returns {output: error} for each failing output of ``NIGHTLY_CHECKS``
    (empty = all pass)."""
    errors = {}
    got = con.execute(
        f"SELECT * FROM '{out_dir}/reco/*.parquet' WHERE uid % 10 = 0").df()
    want = con.execute(oracle_sql("reco_assembly")).df()
    if table_hash(got) != table_hash(want):
        errors["reco"] = f"recs: {len(got)} rows vs oracle {len(want)}, hash mismatch"
    got = con.execute(
        f"SELECT * FROM '{out_dir}/similarity/*.parquet' "
        "WHERE query_id % 10 = 0 AND rn <= 10").df()
    want = con.execute(oracle_sql("doc_similarity_topk")).df()
    if table_hash(got) != table_hash(want):
        errors["similarity"] = (
            f"similarity: {len(got)} rows vs oracle {len(want)}, hash mismatch")
    n, n_ids, bad = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id), "
        f"count(*) FILTER (WHERE cluster IS NULL OR cluster < 0 OR cluster >= {k}) "
        f"FROM '{out_dir}/clusters/*.parquet'").fetchone()
    if n != n_docs or n_ids != n_docs or bad:
        errors["clusters"] = (
            f"kmeans: {n} rows / {n_ids} docs / {bad} bad labels for {n_docs} docs")
    return errors


def expected_payloads(con) -> tuple[dict[int, str], str]:
    """(uid → recs CSV in rank order, hot-list CSV) from the oracle SQL."""
    sql = oracle_sql("reco_assembly")
    if _RECO_USER_FILTER not in sql:
        raise RuntimeError("reco_assembly oracle no longer has its user filter")
    recs = con.execute(
        "SELECT uid, string_agg(CAST(pid AS VARCHAR), ',' ORDER BY rk) AS csv "
        f"FROM ({sql.replace(_RECO_USER_FILTER, '')}) GROUP BY uid").fetchall()
    (hot,) = con.execute(
        "SELECT string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY cnt DESC, l_partkey) "
        "FROM (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1 "
        "ORDER BY cnt DESC, l_partkey LIMIT 30)").fetchone()
    return {int(u): c for u, c in recs}, hot
