"""Output checks.  Each returns a list of failure messages (empty when
the output is right) and runs outside every timed region."""

from __future__ import annotations

import os
import sys
from collections import defaultdict

from perfbench.gen import Page

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import check_oracle  # noqa: E402  (tools/ is not a package)


def _table_no(table_id: str) -> int:
    return int(table_id.rsplit("table_no=", 1)[1])


def check_tables(rows: list[tuple[str, str, int, int]],
                 pages: list[Page]) -> list[str]:
    """rows: (url, id, n_rows, n_cols) per extracted table.  Every page
    must yield its known tables, in order, with their post-span shapes."""
    got: dict[str, list[tuple[int, tuple[int, int]]]] = defaultdict(list)
    for url, tid, n_rows, n_cols in rows:
        got[url].append((_table_no(tid), (n_rows, n_cols)))
    bad = []
    for p in pages:
        shapes = [shape for _, shape in sorted(got.pop(p.url, []))]
        if shapes != p.shapes:
            bad.append(f"tables {p.url}: {shapes} != {p.shapes}")
    bad.extend(f"tables for unknown page {u}" for u in got)
    return bad


def check_links(pairs: list[tuple[str, str]], pages: list[Page]) -> list[str]:
    """pairs: (src_url, canonical url).  Every page must yield exactly its
    known canonical link set."""
    got: dict[str, set[str]] = defaultdict(set)
    for src, url in pairs:
        got[src].add(url)
    bad = []
    for p in pages:
        links = got.pop(p.url, set())
        if links != p.links:
            bad.append(f"links {p.url}: {len(links ^ p.links)} differ")
    bad.extend(f"links for unknown page {u}" for u in got)
    return bad


def check_same(kind: str, spark_out: dict[str, object],
               local_out: dict[str, object]) -> list[str]:
    """Spark output per page equals the pure-Python functions' output."""
    return [f"{kind} {url}: Spark output differs from the functions'"
            for url in sorted(set(spark_out) | set(local_out))
            if spark_out.get(url) != local_out.get(url)]


def check_crawl(order, seen, want_order, want_seen) -> list[str]:
    bad = []
    if order != want_order:
        first = next((i for i, (a, b) in enumerate(zip(order, want_order))
                      if a != b), min(len(order), len(want_order)))
        bad.append(f"crawl order differs from the oracle at entry {first} "
                   f"({len(order)} vs {len(want_order)} entries)")
    if seen != want_seen:
        bad.append(f"seen set differs from the oracle: "
                   f"{len(seen - want_seen)} extra, "
                   f"{len(want_seen - seen)} missing")
    return bad


def oracle_connection(sf_dir: str):
    con = check_oracle.duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    """(column names, rows) of an oracle query."""
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def check_query(name: str, cols: list[str], rows: list[tuple],
                oracle: tuple[list[str], list[tuple]] | None) -> list[str]:
    """The query's rows against its oracle's ``oracle_rows``, compared as
    tools/check_oracle.py compares them; a query without an oracle must
    return rows."""
    if oracle is None:
        return [] if rows else [f"{name}: no rows"]
    ocols, orows = oracle
    if sorted(cols) != sorted(ocols):
        return [f"{name}: columns {cols} != {ocols}"]
    if len(rows) != len(orows):
        return [f"{name}: {len(rows)} rows, oracle {len(orows)}"]
    if check_oracle.value_hash(rows, cols) != check_oracle.value_hash(orows, ocols):
        return [f"{name}: values differ from the oracle"]
    return []
