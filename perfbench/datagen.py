"""Seeded input generators for the benchmark.

* :func:`write_tables` writes the ten fixture tables the query registry
  reads (``region`` … ``embeddings``) as parquet, with the schemas and
  value domains of the repository's test fixtures (FIXTURES.md), scaled by ``sf``.
  The same ``(seed, sf)`` always gives byte-identical values.
* :class:`SyntheticWiki` is the page universe the ``crawl_ingest``
  workload fetches from: categories, Zipf out-degrees, Zipf link
  popularity and a share of redirect pages, all derived from a seed.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, n_days + 1, n).astype("timedelta64[D]")
    return pa.array((base + offs).astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables (nothing written)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_evt = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", 2498, rng, n_line),
    })
    # Strictly increasing microsecond stamps spread over 30 days.
    gaps = rng.exponential(1.0, n_evt)
    span_us = 30 * 86_400 * 1_000_000 - 1
    ts_us = np.floor(np.cumsum(gaps) / gaps.sum() * span_us).astype(np.int64)
    ts_us = np.maximum.accumulate(ts_us + np.arange(n_evt))  # break ties
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(np.minimum(rng.exponential(40.0, n_evt), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    for i in range(n_docs):
        words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: shared prefix
            src = texts[int(rng.integers(0, i))].split(" ")
            keep = max(1, len(src) // 2)
            words = src[:keep] + words[keep:]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] * 0.6 + rng.normal(0.0, 1.0, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# Synthetic wiki for the crawl workload
# ---------------------------------------------------------------------------

WIKI_CATEGORIES = ["Main", "Film", "Anime", "Series", "Literature", "VideoGame"]
WIKI_CATEGORY_P = [0.55, 0.12, 0.1, 0.1, 0.08, 0.05]


class SyntheticWiki:
    """A seeded page universe served by an injected fetcher.

    ``pages`` wiki pages; page ``i`` lives at ``Category/PageI``.  Out-
    degrees follow a truncated Zipf law (exponent ``degree_a``, mean
    near ``mean_degree``) and link targets are drawn by Zipf popularity,
    so a few tropes collect most in-links.  A ``redirect_share`` of the
    pages answer with another page's canonical ``og:url``.
    """

    def __init__(
        self,
        seed: int,
        pages: int = 20_000,
        mean_degree: int = 12,
        degree_a: float = 2.0,
        redirect_share: float = 0.02,
    ) -> None:
        rng = np.random.default_rng(seed)
        self.n = pages
        cats = rng.choice(len(WIKI_CATEGORIES), pages, p=WIKI_CATEGORY_P)
        self.codes = [f"{WIKI_CATEGORIES[c]}/Page{i}" for i, c in enumerate(cats)]
        deg = np.minimum(rng.zipf(degree_a, pages) * (mean_degree // 2), 10 * mean_degree)
        popularity = 1.0 / np.arange(1, pages + 1) ** 0.8
        popularity = rng.permutation(popularity / popularity.sum())
        targets = rng.choice(pages, int(deg.sum()), p=popularity)
        bounds = np.concatenate(([0], np.cumsum(deg)))
        self.links: list[list[int]] = [
            sorted(set(targets[bounds[i]:bounds[i + 1]].tolist()) - {i})
            for i in range(pages)
        ]
        redirect = rng.random(pages) < redirect_share
        self.canonical = [
            int(rng.integers(0, pages)) if redirect[i] else i for i in range(pages)
        ]
        self.seeds = [i for i in rng.permutation(pages)[:10].tolist() if not redirect[i]]

    @staticmethod
    def url_of(code: str) -> str:
        return f"http://tvtropes.org/pmwiki/pmwiki.php/{code}"

    def index_of(self, code: str) -> int:
        """Page index of a lowercased ``category/pagei`` code."""
        return int(code.rsplit("/page", 1)[1])

    def fetch(self, code: str) -> tuple[str, str]:
        """The injected fetcher: ``(url, html)`` for one lowercased code."""
        i = self.index_of(code)
        canon = self.codes[self.canonical[i]]
        anchors = "".join(
            f'<a href="/pmwiki/pmwiki.php/{self.codes[j]}">{j}</a>' for j in self.links[i]
        )
        html = (
            f"<html><head><title>Page {i}</title>"
            f'<meta property="og:url" content="{self.url_of(canon)}"/>'
            f"</head><body>{anchors}</body></html>"
        )
        return self.url_of(self.codes[i]), html

    def parsed(self, code: str) -> tuple[str, bool, list[str]]:
        """Ground truth for one fetch: (page code, is_redirect, out-links),
        as the crawl parser must read them."""
        i = self.index_of(code)
        canon = self.codes[self.canonical[i]].lower()
        links = sorted({self.codes[j].lower() for j in self.links[i]} - {canon})
        return canon, canon != self.codes[i].lower(), links


def crawl_clock(round_no: int) -> str:
    """The ``now`` of crawl round ``round_no``: one hour apart."""
    ts = datetime(2026, 1, 1) + timedelta(hours=round_no)
    return ts.strftime("%Y-%m-%d %H:%M:%S")
