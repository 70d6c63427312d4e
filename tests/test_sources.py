"""Source readers + fused-link-path equivalence."""

import json
import tempfile
from pathlib import Path

import pytest


@pytest.mark.spark
def test_load_html_dir(spark):
    from rsoup_spark.operators.extract import extract_tables
    from rsoup_spark.sources.readers import load_html_dir

    d = tempfile.mkdtemp(prefix="htmldir_")
    for i in range(3):
        Path(d, f"p{i}.html").write_text(
            f"<html><body><h1>T{i}</h1><table><tbody>"
            f"<tr><td>v{i}</td></tr></tbody></table></body></html>"
        )
    docs = load_html_dir(spark, d)
    assert docs.count() == 3
    tables = extract_tables(docs)
    assert tables.count() == 3
    assert {r["n_rows"] for r in tables.collect()} == {1}


@pytest.mark.spark
def test_load_jsonl_docs(spark):
    from rsoup_spark.sources.readers import load_jsonl_docs

    d = tempfile.mkdtemp(prefix="jsonl_")
    p = Path(d, "articles.jsonl")
    with p.open("w") as f:
        for i in range(4):
            f.write(json.dumps({"url": f"https://a.test/{i}",
                                "html": f"<p>doc {i}</p>",
                                "extra": i}) + "\n")
    docs = load_jsonl_docs(spark, str(p))
    assert docs.columns == ["url", "html"]
    assert docs.count() == 4


def test_fetch_tables_injectable():
    from rsoup_spark.sources.readers import fetch_tables

    html = ("<html><body><table><tbody><tr><th>k</th><th>v</th></tr>"
            "<tr><td>a</td><td>1</td></tr></tbody></table></body></html>")
    tables = fetch_tables("https://x.test/p", fetch=lambda u: html)
    assert len(tables) == 1
    assert tables[0].to_list() == [["k", "v"], ["a", "1"]]
    assert tables[0].id == "https://x.test/p?table_no=0"


@pytest.mark.spark
def test_fused_links_equal_out_links(spark):
    """harvest_canonical_links (harvest + canonicalize in one Python
    crossing) must produce, for every page of the corpus, exactly the
    generator's canonical out_links."""
    from rsoup_spark.crawl.fixtures import gen_pages
    from rsoup_spark.operators.extract import harvest_canonical_links

    pages = gen_pages(spark, n_hosts=3, base_pages=5, hot_factor=2,
                      links_per_page=4)
    fused: dict = {}
    for r in harvest_canonical_links(pages, "url", "html").collect():
        fused.setdefault(r["src_url"], set()).add(r["url"])
    want = {
        r["url"]: set(r["out_links"])
        for r in pages.select("url", "out_links").collect()
    }
    assert any(want.values())
    assert set(fused) <= set(want)
    for url, links in want.items():
        assert fused.get(url, set()) == links, url
