"""The benchmark's workloads: seeded inputs, one pass of calls into
graphscope_spark, and the checks of every output against its oracle.

A workload declares which layers its pass must exercise (``layers``);
the traced run's self-check compares that with what it measured.
"""

from __future__ import annotations

import json
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from graphscope_spark.algorithms import cdlp, pagerank, wcc
from graphscope_spark.algorithms.triangles import triangle_count
from graphscope_spark.graph import DST, SRC, Graph
from graphscope_spark.skew import auto_adjacency, packed_adjacency
from graphscope_spark.sources.extract import links_from_pages
from graphscope_spark.sources.linkgraph import graph_from_pages
from graphscope_spark.sources.pages import write_pages
from graphscope_spark.sources.synthetic import powerlaw_edges

from perfbench import oracles
from perfbench.trace import Tracer, storage_mb

CRAWL_PAGES = 10_000
POWERLAW_VERTICES = 20_000
PR_ROUNDS = 6  # fixed-round (LDBC) PageRank on the power-law graph
PR_LEG1_ROUNDS = 2  # supersteps before the checkpointed run is stopped
CDLP_ROUNDS = 2
RANK_TOL = 1e-6


@dataclass
class Ctx:
    spark: SparkSession
    tracer: Tracer
    work: Path
    seed: int
    partitions: int


@dataclass
class PassOut:
    """What one pass returns for checking and for ``superstep.eps``."""

    results: dict = field(default_factory=dict)
    supersteps: int = 0  # steady supersteps of the pass's PageRank and CDLP runs
    iter_s: float = 0.0  # their seconds, as their runners timed them
    problems: list = field(default_factory=list)  # checks made during the pass


def _steady(*runs: list[dict]) -> tuple[int, float]:
    """(supersteps, their seconds) over ``SuperstepRunner.metrics`` record
    lists, leaving out each run's first superstep: it carries the one-time
    plan compilation, which would make the rate depend on how many
    supersteps a run takes to converge."""
    steps = [r for run in runs for r in run[1:]]
    return len(steps), sum(r["seconds"] for r in steps)


def _ranks(df) -> dict:
    pdf = df.toPandas()
    return dict(zip(pdf["vid"].tolist(), pdf.iloc[:, 1].tolist()))


def _dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


def _column_mb(path: Path, columns: set[str]) -> float:
    """Compressed bytes of ``columns`` in a parquet directory, from the
    footers: what a column-pruned scan reads.  (Spark's task input
    metric under-counts local parquet scans.)"""
    total = 0
    for f in path.glob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            for c in range(rg.num_columns):
                if rg.column(c).path_in_schema in columns:
                    total += rg.column(c).total_compressed_size
    return total / 1e6


class CrawlRank:
    """Pages parquet → links → url→vid edge table → PageRank to 1e-6
    (library defaults) → ranks parquet."""

    name = "crawl_rank"
    layers = {"extract": True, "adjacency": False, "checkpoint": False}
    adjacency = None  # the library picks the gather plan by graph size
    calls_per_pass = 1  # outputs checked per pass

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.pages = ctx.work / "pages"
        self.out = ctx.work / "ranks"

    def setup(self) -> None:
        write_pages(
            self.ctx.spark, CRAWL_PAGES, str(self.pages), seed=self.ctx.seed,
            partitions=self.ctx.partitions,
        )

    def cache_inputs(self) -> None:
        """Nothing is cached: every pass reads the pages from parquet."""

    def expect(self) -> None:
        vertices, edges, self.hrefs = oracles.crawl_graph(self.pages)
        self.n_vertices, self.n_edges = len(vertices), len(edges)
        self.want = oracles.reference().pagerank_oracle(edges, vertices)

    def _graph(self):
        pages = self.ctx.spark.read.parquet(str(self.pages))
        return graph_from_pages(pages, num_partitions=self.ctx.partitions)[0]

    def run_pass(self) -> PassOut:
        t = self.ctx.tracer
        with t.span("linkgraph", counters=True):
            g = self._graph()
        runner = t.runner(self.ctx.spark, "pagerank", resume=False)
        with t.span("pagerank", counters=True):
            ranks = pagerank(g, runner=runner)
        with t.span("output"):
            ranks.write.mode("overwrite").parquet(str(self.out))
        steps, secs = _steady(runner.metrics)
        return PassOut(supersteps=steps, iter_s=secs)

    def check(self, out: PassOut) -> list[str]:
        got = pq.read_table(self.out).to_pydict()
        return oracles.compare("pagerank", dict(zip(got["vid"], got["rank"])), self.want, RANK_TOL)

    def edges_to_pack(self):
        return self._graph().edges.select(SRC, DST)

    def isolated(self) -> dict:
        """Inner entry points by themselves, on the pass's input."""
        t = self.ctx.tracer
        pages = self.ctx.spark.read.parquet(str(self.pages))
        with t.span("extract", counters=True, isolated="links_from_pages"):
            links = links_from_pages(pages).count()
        with t.span("linkgraph", counters=True, isolated="graph_from_pages"):
            edges = self._graph().num_edges()
        return {
            "extract.links": links,
            "extract.input_mb": _column_mb(self.pages, {"url", "html"}),
            "linkgraph.dedup_ratio": edges / self.hrefs,
        }


class PowerlawResume:
    """A cached power-law graph on the packed-adjacency plan: PageRank
    with a checkpoint dir stopped after a few supersteps and resumed by a
    fresh runner, then WCC, triangle count and checkpointed CDLP."""

    name = "powerlaw_resume"
    layers = {"extract": False, "adjacency": True, "checkpoint": True}
    adjacency = True  # below the library's 1M-vertex threshold for it
    calls_per_pass = 4

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.edges = ctx.work / "edges"
        self.ckpt = ctx.work / "ckpt"
        self.g = None

    def setup(self) -> None:
        c = self.ctx
        powerlaw_edges(
            c.spark, POWERLAW_VERTICES, seed=c.seed, partitions=c.partitions
        ).write.mode("overwrite").parquet(str(self.edges))
        self.cache_inputs()

    def cache_inputs(self) -> None:
        c = self.ctx
        self.g = Graph.from_edges(
            c.spark.read.parquet(str(self.edges)), num_partitions=c.partitions
        ).cache()
        self.n_edges = self.g.num_edges()
        self.n_vertices = self.g.num_vertices()

    def expect(self) -> None:
        ref = oracles.reference()
        vertices, edges = oracles.edge_list(self.edges)
        self.want = {
            "pagerank": ref.pagerank_oracle(edges, vertices, tol=None, max_iter=PR_ROUNDS),
            "wcc": ref.wcc_oracle(edges, vertices),
            "cdlp": ref.cdlp_oracle(edges, vertices, max_round=CDLP_ROUNDS),
            "triangles": oracles.triangle_count(self.edges),
        }

    def run_pass(self) -> PassOut:
        c, t, g = self.ctx, self.ctx.tracer, self.g
        shutil.rmtree(self.ckpt, ignore_errors=True)
        out = PassOut()
        pr_dir = str(self.ckpt / "pagerank")
        leg1 = t.runner(c.spark, "pagerank", checkpoint_dir=pr_dir, resume=False)
        with t.span("pagerank", counters=True, leg=1):
            pagerank(g, tol=None, max_iter=PR_LEG1_ROUNDS, adjacency=self.adjacency, runner=leg1)
        last = self.ckpt / "pagerank" / f"iter_{PR_LEG1_ROUNDS - 1:05d}"
        leg2 = t.runner(c.spark, "pagerank", checkpoint_dir=pr_dir, resume=True)
        with t.span("pagerank", counters=True, leg=2, resume_read_mb=_dir_mb(last)):
            out.results["pagerank"] = _ranks(
                pagerank(g, tol=None, max_iter=PR_ROUNDS, adjacency=self.adjacency, runner=leg2)
            )
        if not leg2.metrics or leg2.metrics[0]["iteration"] != PR_LEG1_ROUNDS:
            out.problems.append("pagerank: second leg did not resume from the checkpoint")
        with t.span("wcc", counters=True):
            out.results["wcc"] = _ranks(wcc(g))
        with t.span("triangles", counters=True):
            out.results["triangles"] = triangle_count(g)
        cdlp_dir = self.ckpt / "cdlp"
        with t.span("cdlp", counters=True):
            out.results["cdlp"] = _ranks(
                cdlp(
                    g, max_round=CDLP_ROUNDS, checkpoint_dir=str(cdlp_dir),
                    adjacency=self.adjacency,
                )
            )
        # cdlp builds its own runner; with a checkpoint dir it logs there
        with open(cdlp_dir / "metrics.jsonl") as fh:
            cdlp_rounds = [json.loads(line) for line in fh]
        out.supersteps, out.iter_s = _steady(leg1.metrics, leg2.metrics, cdlp_rounds)
        shutil.rmtree(self.ckpt, ignore_errors=True)
        return out

    def check(self, out: PassOut) -> list[str]:
        got, want = out.results, self.want
        problems = list(out.problems)
        problems += oracles.compare("pagerank", got["pagerank"], want["pagerank"], RANK_TOL)
        problems += oracles.compare("wcc", got["wcc"], want["wcc"])
        problems += oracles.compare("cdlp", got["cdlp"], want["cdlp"])
        if got["triangles"] != want["triangles"]:
            problems.append(f"triangles: {got['triangles']}, expected {want['triangles']}")
        return problems

    def edges_to_pack(self):
        return self.g.edges.select(SRC, DST)

    def isolated(self) -> dict:
        return {}


def isolated_adjacency(wl) -> dict:
    """``pagerank`` builds ``packed_adjacency`` inside its call; build it
    by itself on the same edges, when the workload's plan packs them."""
    if not auto_adjacency(wl.n_vertices, wl.adjacency):
        return {}
    sc = wl.ctx.spark.sparkContext
    before = storage_mb(sc)
    with wl.ctx.tracer.span("adjacency", counters=True, isolated="packed_adjacency"):
        adj, rest = packed_adjacency(wl.edges_to_pack(), SRC, DST)
        adj, rest = adj.cache(), rest.cache()
        packed, hub = adj.count(), rest.count()
    cached = storage_mb(sc) - before
    adj.unpersist(True)
    rest.unpersist(True)
    return {"adjacency.packed_rows": packed, "adjacency.rest_rows": hub, "adjacency.cached_mb": cached}


WORKLOADS = {w.name: w for w in (CrawlRank, PowerlawResume)}
