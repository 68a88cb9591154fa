"""DuckDB oracle answers for the served queries and the built store.

The answers come from the engine's own oracle SQL (``duck_search``,
``duck_wildcard``, ``duck_postings_flat``, ``duck_term_stats``,
``duck_chargram_flat``) run against a DuckDB view of the generated
``documents.parquet``. That SQL tokenizes the whole corpus in every
query, about 1.5 s here, so the oracle tokenizes once: the postings
relation is materialized, and each query's SQL reads it in place of its
inline postings CTE. The substitution is checked, so a change in the
oracle SQL's shape fails loudly instead of answering something else.
"""

from __future__ import annotations

import math

import duckdb

from simple_mapreduce_search_engine_information_retrieval__spark.plans.indexing import (
    duck_chargram_flat,
    duck_doc_terms,
    duck_postings_flat,
    duck_term_stats,
)
from simple_mapreduce_search_engine_information_retrieval__spark.plans.index_store import (
    CHARGRAM_K,
)
from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
    duck_search,
    duck_wildcard,
)

SCORE_TOL = 1e-6


def _swap(sql: str, inline: str, relation: str) -> str:
    if inline not in sql:
        raise RuntimeError(f"oracle SQL no longer inlines what {relation!r} replaces")
    return sql.replace(inline, relation)


class Oracle:
    def __init__(self, documents_parquet: str):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_parquet}')"
        )
        self.con.execute(f"CREATE TABLE oracle_post AS {duck_postings_flat(1)}")
        self.con.execute(
            "CREATE TABLE oracle_stats AS "
            + _swap(duck_term_stats(1), duck_postings_flat(1), "SELECT * FROM oracle_post")
        )
        self.con.execute(
            "CREATE TABLE oracle_cg AS "
            + _swap(
                duck_chargram_flat(CHARGRAM_K),
                duck_doc_terms(1),
                "SELECT docno, term FROM oracle_post",
            )
        )

    def close(self) -> None:
        self.con.close()

    def search(self, terms: list[str]) -> list[tuple]:
        sql = duck_search(" ".join(terms))
        sql = _swap(sql, duck_term_stats(1), "SELECT * FROM oracle_stats")
        sql = _swap(sql, duck_postings_flat(1), "SELECT * FROM oracle_post")
        return [tuple(r) for r in self.con.execute(sql + " ORDER BY rank").fetchall()]

    def wildcard(self, pattern: str) -> list[str]:
        sql = _swap(
            duck_wildcard(pattern, k=CHARGRAM_K),
            duck_chargram_flat(CHARGRAM_K),
            "SELECT * FROM oracle_cg",
        )
        return sorted(r[0] for r in self.con.execute(sql).fetchall())

    def store_problems(self, store_dir: str, n_docs: int) -> list[str]:
        """Differences between a built store's postings, stats and meta
        parts and the oracle's; empty when the store is right."""
        problems = []
        parts = {
            "postings": ("term, docno, tf", "oracle_post"),
            "stats": ("term, df, cf", "oracle_stats"),
        }
        for part, (cols, table) in parts.items():
            got = f"SELECT {cols} FROM read_parquet('{store_dir}/{part}/*.parquet')"
            want = f"SELECT {cols} FROM {table}"
            for a, b, side in ((got, want, "extra"), (want, got, "missing")):
                n = self.con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
                if n:
                    problems.append(f"{part}: {n} {side} rows")
        meta = self.con.execute(
            f"SELECT n_docs FROM read_parquet('{store_dir}/meta/*.parquet')"
        ).fetchall()
        if meta != [(n_docs,)]:
            problems.append(f"meta: {meta} != {n_docs} docs")
        return problems


def same_ranking(got: list[tuple], want: list[tuple]) -> bool:
    """Top-k rows ``(docno, score, rank)`` agree: same docs at the same
    ranks, scores within ``SCORE_TOL``."""
    if len(got) != len(want):
        return False
    for (gd, gs, gr), (wd, ws, wr) in zip(sorted(got, key=lambda r: r[2]), want):
        if gd != wd or gr != wr or not math.isclose(gs, ws, abs_tol=SCORE_TOL):
            return False
    return True
