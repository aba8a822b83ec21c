"""The four closed-loop workloads.

Query workloads walk their fixed operation pool (``pools.json``) in its
frozen order, cycling, and start operations until ``--seconds`` have
elapsed: every run measures the same mix, JVM warm-up lands on the same
operations, and a faster program only adds operations at the end.
``--seed`` drives the data.  An operation is timed from its first call
into the program to its result; checking the result happens after the
timed loop.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext
from datetime import datetime, timedelta

from datagen import SyntheticWiki, crawl_clock, write_tables

POOLS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pools.json")

#: Session views pre-built during ``concurrent_graph`` warm-up:
#: (module, helper) pairs taking ``(spark, sf_dir)``.
GRAPH_VIEWS = [
    ("tropology_spark.sources.tables", "edges_materialized"),
    ("tropology_spark.operators.graph", "bi_materialized"),
    ("tropology_spark.operators.graph", "copair_counts_materialized"),
]

FLAGSHIP = "flagship_revenue_by_region"


def module_of(fn) -> str:
    """Short name of the module that registered a query
    (``graph``, ``functions.scalar``, ``streaming.jobs`` …)."""
    mod = getattr(fn, "__wrapped__", fn).__module__
    mod = mod.removeprefix("tropology_spark.")
    return mod.removeprefix("operators.")


class Run:
    """State one benchmark run shares with its workload."""

    def __init__(self, seed: int, sf: float, work: str, cpu, tracer=None) -> None:
        self.seed = seed
        self.sf = sf
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.data_dir = os.path.join(work, "data")
        self.cpu = cpu
        self.busy_s = 0.0
        self.cpu_s = 0.0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def set_op(self, op_id) -> None:
        if self.tracer:
            self.tracer.set_op(op_id)

    @contextmanager
    def timed(self):
        """Accumulate wall and process-tree CPU of a timed region."""
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            yield
        finally:
            self.busy_s += time.perf_counter() - t0
            self.cpu_s += self.cpu() - c0

    def job_count(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))


class QueryWorkload:
    """Registered queries from a fixed pool, ``clients`` closed-loop
    clients on one session.  Each operation builds the query's DataFrame
    (job group ``op<N>:build``) and collects its rows (``op<N>:exec``)."""

    clients = 1
    pool_name = ""
    cold = False  # drop every session view before each operation

    def __init__(self) -> None:
        with open(POOLS) as fh:
            self.pool: list[str] = json.load(fh)["pools"][self.pool_name]
        # Latency percentiles cover each pool operation once, so every
        # run's sample has the same mix however many operations fit.
        self.sample_size = len(self.pool)

    # -- set-up ------------------------------------------------------------

    def prepare(self, run: Run) -> dict:
        return {"tables": write_tables(run.data_dir, run.seed, run.sf)}

    def warmup(self, run: Run) -> None:
        from tropology_spark import QUERIES

        QUERIES[FLAGSHIP](run.spark, run.data_dir).collect()

    def teardown(self, run: Run) -> None:
        from tropology_spark.sources.tables import clear_session_caches

        clear_session_caches()

    # -- operations --------------------------------------------------------

    def op(self, run: Run, op_id: int, name: str) -> dict:
        from tropology_spark import QUERIES

        sc = run.spark.sparkContext
        rec: dict = {"op": op_id, "name": name}
        run.set_op(op_id)
        t0 = time.perf_counter()
        try:
            fn = QUERIES[name]
            mod = module_of(fn)
            sc.setJobGroup(f"op{op_id}:build", name)
            with run.span(f"operators.{mod}.build"):
                df = fn(run.spark, run.data_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"op{op_id}:exec", name)
            with run.span(f"operators.{mod}.exec"):
                rows = df.collect()
            t2 = time.perf_counter()
            rec.update(module=mod, build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
            rec["result"] = (df.columns, rows)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            rec.update(wall_s=time.perf_counter() - t0, error=f"{type(exc).__name__}: {exc}"[:300])
        finally:
            run.set_op(None)
            sc.setJobGroup("bench", "between operations")
        rec["build_jobs"] = run.job_count(f"op{op_id}:build")
        rec["exec_jobs"] = run.job_count(f"op{op_id}:exec")
        return rec

    def prep(self, run: Run) -> None:
        """Untimed work before each operation (cold workloads only)."""
        if self.cold:
            from tropology_spark.sources.tables import clear_session_caches

            clear_session_caches()
            gc.collect()
            run.spark.sparkContext._jvm.System.gc()

    def loop(self, run: Run, seconds: float) -> list[dict]:
        """Operations start, in pool order and cycling, until ``seconds``
        have elapsed; returns their records."""
        deadline = time.perf_counter() + seconds
        todo = zip(itertools.count(), itertools.cycle(self.pool))
        if self.clients == 1:
            records = []
            while not records or time.perf_counter() < deadline:
                self.prep(run)
                op_id, name = next(todo)
                with run.timed():
                    records.append(self.op(run, op_id, name))
            return records
        with run.timed():
            return self._clients(run, todo, deadline)

    def _clients(self, run: Run, todo, deadline: float) -> list[dict]:
        """``self.clients`` closed-loop threads sharing one queue."""
        lock = threading.Lock()
        started: list[int] = []
        out: list[dict] = []

        def client() -> None:
            while True:
                with lock:
                    if started and time.perf_counter() >= deadline:
                        return
                    op_id, name = next(todo)
                    started.append(op_id)
                rec = self.op(run, op_id, name)
                with lock:
                    out.append(rec)

        with ThreadPoolExecutor(self.clients, thread_name_prefix="client") as pool:
            for fut in [pool.submit(client) for _ in range(self.clients)]:
                fut.result()
        return out


class SerialLight(QueryWorkload):
    pool_name = "serial_light"


class IterativeCold(QueryWorkload):
    pool_name = "iterative_cold"
    cold = True


class ConcurrentGraph(QueryWorkload):
    pool_name = "concurrent_graph"
    clients = 4

    def warmup(self, run: Run) -> None:
        import importlib

        super().warmup(run)
        for modname, helper in GRAPH_VIEWS:
            getattr(importlib.import_module(modname), helper)(run.spark, run.data_dir)


# ---------------------------------------------------------------------------
# crawl_ingest
# ---------------------------------------------------------------------------


class CrawlModel:
    """Python ground truth of the crawl store: what the page and link
    stores must hold after each round, and each round's frontier."""

    BACKOFF = timedelta(days=30)

    def __init__(self, wiki: SyntheticWiki) -> None:
        self.wiki = wiki
        self.pages: dict[str, tuple[datetime, bool]] = {}  # code -> (next_update, is_redirect)
        self.links: dict[str, set[str]] = {}

    def frontier(self, now: str, limit: int) -> set[str]:
        t = datetime.fromisoformat(now)
        due = sorted((nu, c) for c, (nu, red) in self.pages.items() if nu <= t and not red)
        targets = set().union(*self.links.values()) - self.pages.keys() if self.links else set()
        return {c for _, c in due[:limit]} | set(sorted(targets)[:limit])

    def crawl(self, codes: list[str], now: str) -> None:
        t = datetime.fromisoformat(now)
        parsed = sorted(
            (self.wiki.url_of(self.wiki.codes[self.wiki.index_of(c)]), *self.wiki.parsed(c))
            for c in codes
        )
        best: dict[str, bool] = {}
        for _, code, redirect, _ in parsed:  # first URL per page code wins
            best.setdefault(code, redirect)
        for code, redirect in best.items():
            self.pages[code] = (t + self.BACKOFF, redirect)
            self.links.pop(code, None)
        for _, code, _, out in parsed:
            self.links.setdefault(code, set()).update(out)

    def page_rows(self) -> list[tuple]:
        incoming: dict[str, int] = {}
        for outs in self.links.values():
            for to in outs:
                incoming[to] = incoming.get(to, 0) + 1
        return [
            (code, red, incoming.get(code, 0), len(self.links.get(code, ())))
            for code, (_, red) in self.pages.items()
        ]

    def link_rows(self) -> list[tuple]:
        return [(f, t) for f, outs in self.links.items() for t in outs]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


class CrawlIngest:
    """One crawl round per operation: ``frontier`` → injected fetch from
    the synthetic wiki → ``crawl_batch`` → ``tx_write`` append of the
    fetch log, with ``tx_compact`` every ``COMPACT_EVERY`` rounds."""

    clients = 1
    BATCH = 150
    COMPACT_EVERY = 5
    # Latency percentiles cover the first rounds only: later rounds run
    # on a larger store, and how many fit depends on speed.
    sample_size = 10

    def prepare(self, run: Run) -> dict:
        self.wiki = SyntheticWiki(run.seed)
        self.setups = 0
        return {"wiki_pages": self.wiki.n}

    def warmup(self, run: Run) -> None:
        """Fresh store, seeded by round 0 (the wiki's seed pages)."""
        self.setups += 1
        self.store = os.path.join(run.work, f"store-{self.setups}")
        self.txpath = os.path.join(self.store, "fetch_log")
        self.model = CrawlModel(self.wiki)
        self.log_counts: list[int] = []
        self.round = 0
        self.rewritten = 0
        seeds = sorted(self.wiki.codes[i].lower() for i in self.wiki.seeds)
        self._round(run, seeds, crawl_clock(0))
        self.model.crawl(seeds, crawl_clock(0))

    def teardown(self, run: Run) -> None:
        pass

    def _round(self, run: Run, codes: list[str], now: str) -> None:
        from tropology_spark.pipeline import crawl
        from tropology_spark.sources import txlog

        spark = run.spark
        fetched = spark.createDataFrame([self.wiki.fetch(c) for c in codes], "url string, html string")
        crawl.crawl_batch(spark, self.store, fetched, now)
        log = spark.createDataFrame([(self.round, c) for c in codes], "round int, code string")
        txlog.tx_write(spark, log, self.txpath, mode="append")
        self.log_counts.append((self.log_counts[-1] if self.log_counts else 0) + len(codes))
        if self.round and self.round % self.COMPACT_EVERY == 0:
            txlog.tx_compact(spark, self.txpath)
            self.log_counts.append(self.log_counts[-1])

    def op(self, run: Run, op_id: int) -> dict:
        from tropology_spark.pipeline import crawl

        sc = run.spark.sparkContext
        self.round += 1
        now = crawl_clock(self.round)
        rec: dict = {"op": op_id, "name": "crawl_round", "module": "pipeline.crawl"}
        run.set_op(op_id)
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"op{op_id}:build", "frontier")
            codes = sorted(r.code for r in crawl.frontier(run.spark, self.store, now, self.BATCH).collect())
            t1 = time.perf_counter()
            sc.setJobGroup(f"op{op_id}:exec", "ingest")
            self._round(run, codes, now)
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0, pages=len(codes))
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            rec.update(wall_s=time.perf_counter() - t0, error=f"{type(exc).__name__}: {exc}"[:300])
            codes = None
        finally:
            run.set_op(None)
            sc.setJobGroup("bench", "between operations")
        rec["build_jobs"] = run.job_count(f"op{op_id}:build")
        rec["exec_jobs"] = run.job_count(f"op{op_id}:exec")
        # Untimed: the frontier must match the model's, then the model
        # advances by the same fetches.
        if codes is not None:
            expected = self.model.frontier(now, self.BATCH)
            if set(codes) != expected:
                rec["error"] = f"frontier mismatch: {len(set(codes) ^ expected)} codes differ"
            self.model.crawl(codes, now)
            rec["rewritten_bytes"] = 2 * dir_bytes(os.path.join(self.store, "pages")) + dir_bytes(
                os.path.join(self.store, "links"))
        return rec

    def loop(self, run: Run, seconds: float) -> list[dict]:
        records: list[dict] = []
        deadline = time.perf_counter() + seconds
        while not records or time.perf_counter() < deadline:
            with run.timed():
                records.append(self.op(run, len(records)))
        return records

    def final_check(self, run: Run) -> tuple[list[str], dict]:
        """Untimed end-of-run checks against the model: pages with their
        degrees, links, and the fetch log's row count at every version."""
        from verify import digest

        from tropology_spark.pipeline import crawl
        from tropology_spark.sources import txlog

        spark = run.spark
        errors = []
        cols = ["code", "is_redirect", "incoming", "outgoing"]
        got = crawl.read_pages(spark, self.store).select(*cols).collect()
        if digest(cols, got) != digest(cols, self.model.page_rows()):
            errors.append("pages/degrees differ from the model")
        got = crawl.read_links(spark, self.store).collect()
        if digest(["from_code", "to_code"], got) != digest(["from_code", "to_code"], self.model.link_rows()):
            errors.append("links differ from the model")
        versions = txlog.tx_versions(self.txpath)
        counts = [txlog.tx_read(spark, self.txpath, version=v).count() for v in versions]
        if counts != self.log_counts:
            errors.append(f"tx_read counts {counts} != expected {self.log_counts}")
        n_pages = len(self.model.pages)
        store_bytes = dir_bytes(self.store)
        info = {
            "pages": n_pages,
            "links": sum(len(v) for v in self.model.links.values()),
            "store_bytes": store_bytes,
            "store_bytes_per_page": store_bytes / max(n_pages, 1),
            "txlog_commits": len(versions),
            "txlog_snapshot_files": len(txlog.tx_read(spark, self.txpath).inputFiles()),
        }
        return errors, info


WORKLOADS = {
    "serial_light": SerialLight,
    "iterative_cold": IterativeCold,
    "concurrent_graph": ConcurrentGraph,
    "crawl_ingest": CrawlIngest,
}
