"""Self-tests of the benchmark (no Spark): seeded generators are
deterministic, every output check rejects a corrupted output, and
BENCHMARK.json lists exactly the metrics the runs report.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _corpus_key(pages):
    return [(p.url, p.html, p.shapes, sorted(p.links)) for p in pages]


def test_extract_corpus_is_seeded():
    a, b, c = (gen.extract_corpus(s) for s in (5, 5, 6))
    assert _corpus_key(a) == _corpus_key(b)
    assert _corpus_key(a) != _corpus_key(c)
    # same sizes for every seed: the workload's work does not drift
    assert len(a) == len(c)
    assert sum(p.large for p in a) == len(gen.LARGE_CLASSES)


def test_crawl_inputs_are_seeded():
    p = gen.CrawlParams(n_hosts=6, base_pages=5, hot_factor=2)
    assert gen.crawl_graph(1, p) == gen.crawl_graph(1, p)
    assert gen.crawl_graph(1, p) != gen.crawl_graph(2, p)
    urls = sorted(gen.crawl_graph(1, p))
    assert gen.crawl_victims(1, urls, 4) == gen.crawl_victims(1, urls, 4)
    assert gen.crawl_victims(1, urls, 4) != gen.crawl_victims(2, urls, 4)


def test_ops_tables_are_seeded():
    a, b, c = (gen.ops_tables(s) for s in (7, 7, 8))
    assert set(a) == set(checks.check_oracle.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    docs = a["documents"].to_pandas()
    assert (docs.text.str.len() == docs.n_chars).all()
    assert not docs.text.str.contains("[<>&]").any()
    # near-duplicates as sf0.1 plants them: an earlier document + " dup"
    dups = docs[docs.text.str.endswith(" dup")]
    assert len(dups) > 100
    assert all(docs.text[:i].eq(t[:-4]).any() for i, t in dups.text.items())


# -- checks --------------------------------------------------------------------

def _extract_outputs(pages):
    """What the Spark operators return, computed with the functions."""
    from rsoup_spark.functions.table import TableExtractor
    from rsoup_spark.functions.urlnorm import canonicalize_url
    from rsoup_spark.operators.extract import spans_from_html

    tables, links = [], []
    for p in pages:
        for t in TableExtractor().extract(p.url, p.html):
            tables.append((p.url, t.id, *t.shape()))
        for s in spans_from_html(p.url, p.html):
            if s["kind"] == "a" and s["media_ref"]:
                u = canonicalize_url(s["media_ref"], p.url)
                if u:
                    links.append((p.url, u))
    return tables, links


def test_extract_checks_reject_corruption():
    from rsoup_spark.operators.extract import spans_from_html

    pages = gen.extract_corpus(3)
    pages = pages[:30] + [p for p in pages if p.large][:2]
    tables, links = _extract_outputs(pages)
    assert checks.check_tables(tables, pages) == []
    assert checks.check_links(links, pages) == []

    url, tid, r, c = tables[-1]
    assert checks.check_tables(tables[:-1] + [(url, tid, r - 1, c)], pages)
    assert checks.check_tables(tables[:-1], pages)
    assert checks.check_links(links[1:], pages)
    assert checks.check_links(links + [(pages[0].url, "https://x.test/")],
                              pages)

    spans = {p.url: spans_from_html(p.url, p.html) for p in pages[:3]}
    assert checks.check_same("spans", spans, dict(spans)) == []
    bad = {u: [dict(s) for s in v] for u, v in spans.items()}
    bad[pages[0].url][0]["text"] += "x"
    assert checks.check_same("spans", bad, spans)


def test_crawl_check_rejects_corruption():
    from rsoup_spark.crawl.fixtures import robots_rows
    from rsoup_spark.crawl.oracle import simulate

    p = gen.CrawlParams(n_hosts=6, base_pages=5, hot_factor=2)
    graph = gen.crawl_graph(4, p)
    seeds = [(u, 1.0, 0) for u in sorted(graph) if u.endswith("/page/0")]
    order, seen = simulate(graph, seeds, robots_rows(p.n_hosts),
                           batch_size=8, max_rounds=2)
    victims = gen.crawl_victims(4, [u for *_, u in order], 2)
    order, seen = simulate(graph, seeds, robots_rows(p.n_hosts),
                           batch_size=8, max_rounds=2,
                           expire_events=[victims])
    assert checks.check_crawl(order, seen, order, seen) == []
    swapped = [order[1], order[0]] + order[2:]
    assert checks.check_crawl(swapped, seen, order, seen)
    assert checks.check_crawl(order, seen - {victims[0]}, order, seen)


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf")
    for name, table in gen.ops_tables(9).items():
        pq.write_table(table, str(d / f"{name}.parquet"))
    return str(d)


def test_ops_check_rejects_corruption(sf_dir):
    import __spark_entry__

    from perfbench.workloads import QUERY_MODULE

    con = checks.oracle_connection(sf_dir)
    for q in QUERY_MODULE:
        sql = __spark_entry__.oracle_sql()[q]
        cols, rows = checks.oracle_rows(con, sql)
        assert rows, q  # the generated data gives every timed query rows
        oracle = checks.oracle_rows(con, sql)
        assert checks.check_query(q, cols, rows, oracle) == []
        changed = [tuple(v + 1 if isinstance(v, (int, float)) else v
                         for v in rows[0])] + rows[1:]
        assert checks.check_query(q, cols, changed, oracle)
        assert checks.check_query(q, cols, rows[1:], oracle)
    assert checks.check_query("no_oracle", ["x"], [], None)
    con.close()


def test_failed_ops_counts_each_call_of_a_failed_operation():
    from perfbench.run import failed_ops

    passes = [[("spans", 1.0), ("round", 2.0), ("round", 2.0),
               ("expire", 1.0)]] * 2
    assert failed_ops(passes, {"spans": [], "round": []}) == 0
    assert failed_ops(passes, {"round": ["x"], "expire": ["x"]}) == 6


def test_op_medians_take_each_operation_call_apart():
    from perfbench.workloads import op_medians

    passes = [[("q", 5.0), ("round", 2.0), ("round", 9.0)],
              [("q", 1.0), ("round", 3.0), ("round", 8.0)],
              [("q", 2.0), ("round", 4.0), ("round", 7.0)]]
    assert op_medians(passes) == [2.0, 3.0, 8.0]


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert e2e == END_TO_END
    assert layers == PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
