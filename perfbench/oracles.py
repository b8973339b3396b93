"""Expected outputs, computed once per run without Spark.

Link extraction is re-done with the standard library's HTML parser
(independent of the engine's regex UDF); PageRank, WCC and CDLP come
from the repository's pure-Python oracles in ``tests/oracle.py``; the
triangle count from DuckDB.
"""

from __future__ import annotations

import importlib.util
from html.parser import HTMLParser
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent


def reference():
    """The repository's ``tests/oracle.py`` module."""
    spec = importlib.util.spec_from_file_location("reference_oracle", ROOT / "tests" / "oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Hrefs(HTMLParser):
    def __init__(self) -> None:
        super().__init__()
        self.hrefs: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self.hrefs.extend(v for k, v in attrs if k == "href" and v)


def crawl_graph(pages_dir: Path) -> tuple[list[int], list[tuple[int, int]], int]:
    """(vertices, distinct edges, hrefs extracted) of a pages parquet.

    Vertex ids follow ``build_vertex_ids``: the rank of the url in sorted
    order over crawled urls and link targets."""
    t = pq.read_table(pages_dir, columns=["url", "html"]).to_pydict()
    links = []
    for url, html in zip(t["url"], t["html"]):
        p = _Hrefs()
        p.feed(html.decode("utf-8", errors="replace"))
        links.extend((url, h) for h in p.hrefs)
    urls = sorted(set(t["url"]).union(d for _, d in links))
    vid = {u: i for i, u in enumerate(urls)}
    edges = sorted({(vid[s], vid[d]) for s, d in links})
    return list(range(len(urls))), edges, len(links)


def edge_list(edges_dir: Path) -> tuple[list[int], list[tuple[int, int]]]:
    t = pq.read_table(edges_dir, columns=["src", "dst"]).to_pydict()
    edges = list(zip(t["src"], t["dst"]))
    vertices = sorted({v for e in edges for v in e})
    return vertices, edges


def triangle_count(edges_dir: Path) -> int:
    """Triangles of the undirected simple graph under the edge table."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            WITH e AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM read_parquet('{edges_dir}/*.parquet') WHERE src <> dst)
            SELECT count(*) FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            """
        ).fetchone()[0]
    finally:
        con.close()


def compare(name: str, got: dict, want: dict, tol: float = 0.0) -> list[str]:
    """Mismatch messages (empty when ``got`` matches ``want``)."""
    if got.keys() != want.keys():
        return [f"{name}: {len(got)} vertices, expected {len(want)}"]
    bad = [v for v, x in want.items() if abs(got[v] - x) > tol]
    if bad:
        v = bad[0]
        return [f"{name}: {len(bad)} vertices off, e.g. vid {v}: {got[v]} vs {want[v]}"]
    return []
