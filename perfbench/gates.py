"""Correctness gates, run outside the timed phase.

Each gate compares what the program produced against a reference computed
without Spark: the program's own DuckDB oracle SQL (``oracle_sql()`` and
``oracles``), over the same generated files. Rows compare as multisets
with doubles rounded to 6 places, as the repository's oracle harness does.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import duckdb

SF_TABLES = ("events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def multiset(cols, rows) -> Counter:
    """Order-insensitive row multiset, columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in SF_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def query(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def read_parquet_dir(path: str) -> tuple[list[str], list[tuple]]:
    """All rows of a parquet directory written by Spark."""
    con = duckdb.connect()
    try:
        return query(
            con, f"SELECT * FROM read_parquet('{path}/**/*.parquet')"
        )
    finally:
        con.close()


class BatchOracle:
    """Expected batch-layer models for one review table: top products
    (``TOP_PRODUCTS_SQL``) and user recommendations
    (``USER_RECOMMENDATIONS_SQL``), plus the graph sizes the traced run
    reports."""

    def __init__(self, sf_dir: str):
        from flink_recommendation_system_spark import oracles

        con = connect(sf_dir)
        try:
            self.top_cols, self.top_rows = query(con, oracles.TOP_PRODUCTS_SQL)
            self.recs_cols, self.recs_rows = query(
                con, oracles.USER_RECOMMENDATIONS_SQL)
            self.top = multiset(self.top_cols, self.top_rows)
            self.recs = multiset(self.recs_cols, self.recs_rows)
            self.pairs = query(
                con, f"SELECT count(*) FROM ({oracles.CO_REVIEW_EDGES_SQL})"
            )[1][0][0]
            self.communities = query(
                con, f"SELECT count(*) FROM ({oracles.COMMUNITY_SIZES_SQL})"
            )[1][0][0]
        finally:
            con.close()

    def check(self, top_path: str, recs_path: str) -> list[str]:
        """Mismatch descriptions for one published pair of model tables;
        empty when both equal the oracle."""
        bad = []
        if multiset(*read_parquet_dir(top_path)) != self.top:
            bad.append(f"top_products at {top_path} differs from TOP_PRODUCTS_SQL")
        if multiset(*read_parquet_dir(recs_path)) != self.recs:
            bad.append(
                f"user_recommendations at {recs_path} differs from "
                "USER_RECOMMENDATIONS_SQL"
            )
        return bad


def _components(ids, pairs) -> dict[int, int]:
    """Min-id connected component of every id over undirected ``pairs``."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


CORPUS_QUERIES = (
    "minhash_near_dups",
    "near_dup_clusters_lsh",
    "deduped_corpus",
    "semantic_dedup_ann",
    "dsir_selected",
)


class CorpusOracle:
    """Expected rows of the five corpus queries.

    ``minhash_near_dups``, ``semantic_dedup_ann`` and ``dsir_selected`` run
    their ``oracle_sql()`` text. The two cluster queries' oracles close the
    MinHash pair graph with a recursive CTE that takes tens of seconds per
    corpus, so their expected rows are derived here from the
    ``minhash_near_dups`` oracle pairs instead: the clusters are the
    min-id connected components of that pair graph, and ``deduped_corpus``
    keeps, among exact-text survivors (min doc_id per text), those that
    are their cluster's minimum over the pairs between survivors. A
    banded, verified MinHash pair depends only on the two documents, so
    restricting the pair set to survivors equals recomputing it on them.
    """

    def __init__(self, sf_dir: str):
        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = connect(sf_dir)
        try:
            self.expected: dict[str, Counter] = {}
            for name in ("minhash_near_dups", "semantic_dedup_ann", "dsir_selected"):
                cols, rows = query(con, sql[name])
                self.expected[name] = multiset(cols, rows)
                if name == "minhash_near_dups":
                    ia, ib = cols.index("a_id"), cols.index("b_id")
                    pair_rows = [(r[ia], r[ib]) for r in rows]
            _, docs = query(
                con, "SELECT doc_id, text, lang, source, n_chars FROM documents"
            )
        finally:
            con.close()
        ids = [d[0] for d in docs]
        comp = _components(ids, pair_rows)
        self.expected["near_dup_clusters_lsh"] = multiset(
            ["doc_id", "cluster_id"], [(i, comp[i]) for i in ids]
        )
        first_of_text: dict[str, int] = {}
        for d in docs:
            t = d[1]
            first_of_text[t] = min(d[0], first_of_text.get(t, d[0]))
        survivors = set(first_of_text.values())
        comp_s = _components(
            sorted(survivors),
            [(a, b) for a, b in pair_rows if a in survivors and b in survivors],
        )
        self.expected["deduped_corpus"] = multiset(
            ["doc_id", "lang", "source", "n_chars"],
            [(d[0], d[2], d[3], d[4]) for d in docs
             if d[0] in survivors and comp_s[d[0]] == d[0]],
        )

    def check(self, name: str, cols, rows) -> bool:
        return multiset(cols, rows) == self.expected[name]


def output_mismatches(served: list[tuple[int, list[str]]],
                      expected: dict[int, list[str]]) -> set[int]:
    """Users whose emitted recommendation lists differ from ``expected``
    (the static enrichment of the served users), plus expected users never
    emitted."""
    bad = {u for u, recs in served if expected.get(u) != list(recs)}
    return bad | (set(expected) - {u for u, _ in served})


def parse_output_values(values) -> list[tuple[int, list[str]]]:
    """Speed-layer output JSON (``{"userId", "recommendedProducts"}``)."""
    out = []
    for v in values:
        d = json.loads(v)
        out.append((int(d["userId"]), list(d.get("recommendedProducts") or [])))
    return out


def store_ok(store_rows, seed_rows, stream_rows) -> bool:
    """SADD idempotence: the store holds each distinct rating exactly once,
    and exactly the union of the seed and the served stream ratings."""
    store = [tuple(r) for r in store_rows]
    return (len(store) == len(set(store))
            and set(store) == set(map(tuple, seed_rows)) | set(map(tuple, stream_rows)))
