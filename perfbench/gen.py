"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, another seed gives different content with the
same sizes, so run-to-run spread measures the program and not the
input mix.  The program only ever receives what these functions return.

* ``extract_corpus`` -- crawl-style small pages (``crawl.fixtures``
  ``render_page``, ~650 B) plus a fixed set of large table-heavy pages
  with rowspan/colspan, a heading hierarchy, inline-in-block nesting and
  relative hrefs.  Each page carries its known answers: table grid
  shapes after span/pad and its canonical link set.
* ``CrawlParams`` / ``crawl_graph`` / ``crawl_victims`` -- the
  synthetic-web sizing handed to ``crawl.fixtures.gen_pages(seed=...)``,
  the link graph it renders (the oracle's ground truth) and the seeded
  expiry set.
* ``ops_tables`` -- the ten sf tables the analytics queries read, with
  sf0.1's schemas, row counts and value domains, near-duplicate
  documents planted the way sf0.1 plants them.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)

# -- extract corpus -----------------------------------------------------------

SMALL_PAGES = 800
SMALL_HOSTS = 40
# large pages by size class: (tables, rows per table, columns) -- fixed
# across seeds so every seed does the same amount of kernel work
LARGE_CLASSES = [
    (3, 24, 4), (4, 40, 6), (5, 60, 7), (6, 80, 8), (4, 60, 6), (8, 150, 9),
]
WORDS = (
    "alpha beta gamma delta peak ridge summit valley river glacier "
    "north south east west range height metre first ascent year"
).split()


@dataclass
class Page:
    url: str
    html: str
    # (n_rows, n_cols) of every table extract_tables keeps, in page order
    shapes: list[tuple[int, int]]
    # canonical http(s) targets of every <a href> on the page
    links: set[str] = field(default_factory=set)
    large: bool = False


def _large_page(rng: random.Random, i: int, n_tables: int, rows: int,
                cols: int) -> Page:
    host = f"wiki{i % 5}.test"
    here = rng.choice(["a", "b", "c"])
    url = f"https://{host}/w/{here}/page{i}.html"
    links: set[str] = set()

    def words(n: int) -> str:
        return " ".join(rng.choice(WORDS) for _ in range(n))

    def anchor() -> str:
        # pick a canonical target, then a surface form that resolves to it
        n = rng.randrange(10_000)
        form = rng.randrange(8)
        other = rng.choice(["a", "b", "c"])
        if form == 0:
            target = href = f"https://{host}/w/{other}/t{n}.html"
        elif form == 1:
            target = f"https://{host}/w/{other}/t{n}.html"
            href = f"https://{host.upper()}/w/{other}/t{n}.html"
        elif form == 2:
            target = f"https://{host}/w/{other}/t{n}.html"
            href = f"/w/{other}/t{n}.html"
        elif form == 3:
            target = f"https://{host}/w/{here}/t{n}.html"
            href = f"t{n}.html"
        elif form == 4:
            target = f"https://{host}/w/{other}/t{n}.html"
            href = f"../{other}/t{n}.html"
        elif form == 5:
            target = f"https://ext{n % 7}.test/p/t{n}.html"
            href = f"//ext{n % 7}.test/p/t{n}.html"
        elif form == 6:
            target = f"https://{host}/w/{here}/t{n}.html"
            href = f"./t{n}.html#s{n % 9}"
        else:
            target = f"https://{host}/w/{other}/t{n}.html"
            href = f"https://{host}:443/w/{other}/./t{n}.html"
        links.add(target)
        return f'<a href="{href}">{words(2)}</a>'

    def inline_in_block() -> str:
        # inline elements wrapping block elements: the DOM/text layers'
        # fix-up paths, with a link inside the nested block
        form = rng.randrange(3)
        if form == 0:
            return (f"<span>{words(4)} <div>{words(6)} {anchor()}</div> "
                    f"{words(3)}</span>")
        if form == 1:
            return f"<b><p>{words(8)}</p></b>"
        return (f"<i>{words(3)}<ul><li>{words(4)} {anchor()}</li>"
                f"<li>{words(3)}</li></ul></i>")

    parts = [f"<html><head><title>Page {i}</title></head><body>",
             f"<h1>{words(3)}</h1><p>{words(30)} {anchor()}</p>"]
    for t in range(n_tables):
        parts.append(f"<h2>Section {t} {words(2)}</h2>")
        for s in range(2):
            parts.append(f"<h3>Part {t}.{s}</h3><p>{words(20)} {anchor()} "
                         f"{words(10)}</p>{inline_in_block()}")
        parts.append(_table_html(rng, rows, cols, words, anchor))
    parts.append("</body></html>")
    return Page(url, "".join(parts), [(rows, cols)] * n_tables, links, True)


def _table_html(rng: random.Random, rows: int, cols: int, words,
                anchor) -> str:
    """A rows x cols grid: the header row merges cell pairs (colspan),
    body cells merge downwards (rowspan); merges never overlap, so
    span() + pad() restore exactly rows x cols."""
    owner: dict[tuple[int, int], tuple[int, int]] = {}
    spans: dict[tuple[int, int], tuple[int, int]] = {}
    for c in range(0, cols - 1, 2):
        if rng.random() < 0.4:
            spans[(0, c)] = (1, 2)
    for _ in range(rows // 3):
        r, c = rng.randrange(1, rows - 1), rng.randrange(cols)
        rs = rng.randint(2, 3)
        cs = 2 if c < cols - 1 and rng.random() < 0.3 else 1
        cells = [(r + dr, c + dc) for dr in range(rs) for dc in range(cs)]
        if all(rr < rows and (rr, cc) not in owner and (rr, cc) not in spans
               for rr, cc in cells):
            spans[(r, c)] = (rs, cs)
            for cell in cells:
                owner[cell] = (r, c)
    for (r, c), (rs, cs) in spans.items():
        for dr in range(rs):
            for dc in range(cs):
                owner[(r + dr, c + dc)] = (r, c)

    out = ["<table>"]
    for r in range(rows):
        out.append("<tr>")
        for c in range(cols):
            if owner.get((r, c), (r, c)) != (r, c):
                continue  # covered by a merge
            rs, cs = spans.get((r, c), (1, 1))
            tag = "th" if r == 0 else "td"
            attrs = (f' rowspan="{rs}"' if rs > 1 else "") + (
                f' colspan="{cs}"' if cs > 1 else "")
            roll = rng.random()
            if r > 0 and roll < 0.08:
                body = anchor()
            elif roll < 0.16:
                body = f"<b>{words(1)}</b> {words(1)}"
            else:
                body = words(rng.randint(1, 3))
            out.append(f"<{tag}{attrs}>{body}</{tag}>")
        out.append("</tr>")
    out.append("</table>")
    return "".join(out)


def extract_corpus(seed: int) -> list[Page]:
    """SMALL_PAGES crawl-style pages and len(LARGE_CLASSES) large pages,
    the large ones spread evenly through the list."""
    from rsoup_spark.crawl.fixtures import render_page

    base_pages = SMALL_PAGES // SMALL_HOSTS
    small = []
    for k in range(SMALL_PAGES):
        url, _host, html, canon = render_page(
            k % SMALL_HOSTS, k // SMALL_HOSTS, SMALL_HOSTS, base_pages, 1, 6,
            seed,
        )
        small.append(Page(url, html, [(2, 2)], set(canon)))
    rng = random.Random(seed)
    large = [_large_page(rng, i, *cls) for i, cls in enumerate(LARGE_CLASSES)]
    stride = len(small) // len(large)
    pages = []
    for k, page in enumerate(small):
        pages.append(page)
        if k % stride == stride // 2 and large:
            pages.append(large.pop(0))
    return pages + large


# -- crawl ---------------------------------------------------------------------

@dataclass(frozen=True)
class CrawlParams:
    n_hosts: int = 64
    base_pages: int = 20
    hot_factor: int = 10
    links_per_page: int = 6
    n_victims: int = 24


def crawl_graph(seed: int, p: CrawlParams) -> dict[str, list[str]]:
    """url -> canonical out-links of every page ``gen_pages`` renders."""
    from rsoup_spark.crawl.fixtures import pages_per_host, render_page

    graph = {}
    for h in range(p.n_hosts):
        for j in range(pages_per_host(h, p.base_pages, p.hot_factor)):
            url, _host, _html, out = render_page(
                h, j, p.n_hosts, p.base_pages, p.hot_factor,
                p.links_per_page, seed,
            )
            graph[url] = out
    return graph


def crawl_victims(seed: int, crawled: list[str], n: int) -> list[str]:
    """The seeded expiry set: n URLs the fresh crawl scheduled."""
    return sorted(random.Random(seed).sample(sorted(set(crawled)), n))


# -- ops tables ---------------------------------------------------------------

# sf0.1's vocabulary, language mix and source count for `documents`
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
N_SOURCES = 20
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "blue", "old"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# sf0.1's row counts (documents: 5,000, embeddings: 2,000 x 64)
N_DOCS = 5000
N_EMBEDDINGS = 2000
EMB_DIM = 64
# sf0.1 plants near-duplicates one way: 250 of its 5,000 documents are an
# earlier document with " dup" appended (a copy of a copy now and then).
# Measured there, every document pair sharing word trigrams at Jaccard
# >= 0.3 is such a pair, at Jaccard 0.8 or above (249 of 256 at 0.9+).
DUP_SHARE = 0.05


def _documents(rng: np.random.Generator) -> pa.Table:
    """sf0.1-like documents: 10-100 words drawn from DOC_VOCAB, and about
    one in twenty an earlier document plus " dup", as sf0.1 makes them."""
    texts: list[str] = []
    while len(texts) < N_DOCS:
        if texts and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(len(texts)))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(DOC_VOCAB[i] for i in
                                  rng.integers(len(DOC_VOCAB), size=k)))
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((N_EMBEDDINGS, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(10, size=N_EMBEDDINGS).astype(np.int32),
    })


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    """n draws from ``values`` as a string column."""
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(n_days, size=n).astype("timedelta64[D]")


def ops_tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables of an sf dir with sf0.1's schemas and row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_ev = 15000, 1000, 20000, 150000, 100000
    n_line = 4 * n_ord
    i32, i64 = np.int32, np.int64
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": np.arange(5, dtype=i32),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(25, size=n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(25, size=n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=i64),
        "p_name": pa.compute.binary_join_element_wise(
            _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part), " "),
        "p_brand": _pick(rng, [f"Brand#{k}" for k in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, size=n_part).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=i64),
        "o_custkey": rng.integers(n_cust, size=n_ord).astype(i64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(n_ord, size=n_line).astype(i64),
        "l_partkey": rng.integers(n_part, size=n_line).astype(i64),
        "l_suppkey": rng.integers(n_supp, size=n_line).astype(i64),
        "l_linenumber": rng.integers(1, 8, size=n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
        "l_returnflag": _pick(rng, ["N", "R", "A"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_line),
                               pa.timestamp("us")),
    })
    ts = np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
        30 * 86400 * 10**6, size=n_ev).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(1500, size=n_ev).astype(i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": _pick(rng, [f'{{"k": {k}}}' for k in range(100)], n_ev),
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t
