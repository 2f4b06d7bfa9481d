"""Independent answers the benchmark checks the engine's outputs against.

The crawl oracle is plain Python over the corpus's arithmetic outlink rule
(``fs_crawler_spark/sources/corpus.py``: doc d links to 2d+1, 2d+2 and
(7d+3) mod N). They share no code with the engine beyond the url spelling.
The operator oracles are the repo's own DuckDB SQL (``oracle_sql()``), run on
the same generated tables.
"""

from __future__ import annotations

import math
from collections import defaultdict

HUB = "hub.example.com"


def doc_host(d: int, n_hosts: int = 7) -> str:
    return HUB if d % 3 == 0 else f"src{d % n_hosts}.example.com"


def doc_url(d: int, n_hosts: int = 7) -> str:
    return f"https://{doc_host(d, n_hosts)}/doc/{d}"


def children(d: int, n: int) -> list[int]:
    out = [c for c in (2 * d + 1, 2 * d + 2) if c < n]
    x = (7 * d + 3) % n
    if x != d:
        out.append(x)
    return out


def polite_oracle(
    n: int, seeds: list[int], budget: int, rounds: int, n_hosts: int
) -> tuple[list[set[str]], set[str]]:
    """Budgeted crawl for a fixed number of rounds: each round fetches, per
    host, the ``budget`` smallest urls of the frontier (every url has the
    same priority, so (priority, url) order is url order). Returns the
    fetched url set of every round and the frontier left after the last."""
    url_of = {}

    def u(d: int) -> str:
        s = url_of.get(d)
        if s is None:
            s = url_of[d] = doc_url(d, n_hosts)
        return s

    frontier = set(seeds)
    seen: set[int] = set()
    per_round = []
    for _ in range(rounds):
        by_host = defaultdict(list)
        for d in frontier:
            by_host[doc_host(d, n_hosts)].append(d)
        batch = set()
        for ds in by_host.values():
            ds.sort(key=u)
            batch.update(ds[:budget])
        seen |= batch
        frontier -= batch
        for d in batch:
            for c in children(d, n):
                if c not in seen:
                    frontier.add(c)
        per_round.append({u(d) for d in batch})
    return per_round, {u(d) for d in frontier}


# -- operator leaves -----------------------------------------------------------

TABLES = ("nation", "customer", "supplier", "orders", "lineitem", "documents", "embeddings")


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if isinstance(v, bool):
        return int(v)
    return v


def canonical(columns: list[str], rows) -> list[tuple]:
    """Order-insensitive row multiset over name-sorted columns."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def leaf_oracles(data_dir: str, leaves: list[str], sql: dict[str, str]) -> dict:
    """DuckDB answer of every leaf: (sorted column names, canonical rows)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for leaf in leaves:
        res = con.execute(sql[leaf])
        cols = [d[0] for d in res.description]
        out[leaf] = (sorted(cols), canonical(cols, res.fetchall()))
    con.close()
    return out
