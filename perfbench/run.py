#!/usr/bin/env python3
"""Layered link-graph benchmark: one workload per run.

    python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 1 --trace 0

Runs on ``local[nproc]`` from this one driver process: set-up, repeated
``SETUP_REPS`` times; oracles; then passes until ``--seconds`` have been
measured, at least one.  The first pass runs right after set-up, as in a
batch job, so it pays JIT, codegen and Python worker start-up; later passes
do not, so compare runs only at equal ``--seconds``.  Every output of every
pass is checked against its oracle.
The last line of stdout is the JSON result, the line before it the run's
provenance.  With ``--trace 1`` the measured passes are traced, the inner
entry points are also called by themselves, the metrics are the per-layer
ones, and spans go to ``.perfbench-run/``.  See GLOSSARY.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import asdict, dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))  # the checkout: graphscope_spark and perfbench

from perfbench.eventlog import read_dir, uncovered_s  # noqa: E402

RUN_DIR = ROOT / ".perfbench-run"
SETUP_REPS = 3
PARTITIONS = 8
DEADLINE_S = 140  # start no pass after this many seconds of the run
WORKLOAD_NAMES = ("crawl_rank", "powerlaw_resume")
ALGOS = ("pagerank", "wcc", "cdlp", "triangles")
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "shuffle_mb": "MB",
    "cached_mb": "MB",
}
PER_LAYER = {
    "extract.s": "s", "extract.cpu_s": "s", "extract.input_mb": "MB", "extract.links": "count",
    "linkgraph.s": "s", "linkgraph.jobs": "count", "linkgraph.shuffle_mb": "MB",
    "linkgraph.dedup_ratio": "ratio",
    "adjacency.s": "s", "adjacency.cached_mb": "MB", "adjacency.packed_rows": "count",
    "adjacency.rest_rows": "count",
    "superstep.count": "count", "superstep.jobs": "count", "superstep.stages": "count",
    "superstep.tasks": "count", "superstep.s_per_step": "s", "superstep.idle_s": "s",
    "superstep.gc_s": "s", "superstep.spill_mb": "MB", "superstep.tasks_failed": "count",
    "superstep.eps": "1/s",
    "checkpoint.write_mb": "MB", "checkpoint.write_s": "s", "resume.read_mb": "MB", "resume.s": "s",
    **{
        f"{a}.{m}": u
        for a in ALGOS
        for m, u in (
            ("s", "s"), ("jobs", "count"), ("shuffle_mb", "MB"), ("shuffle_records", "count"),
            ("cpu_s", "s"), ("gc_s", "s"), ("spill_mb", "MB"), ("idle_s", "s"),
            ("leaked_rdds", "count"),
        )
    },
    "output.s": "s", "output.mb": "MB",
    "trace.wall_s": "s",
    "trace.self_s": "s",
}


@dataclass
class PassRecord:
    tag: str
    traced: bool
    wall: float
    cpu_s: float
    cached_mb: float
    supersteps: int
    eps: float
    tracer_s: float
    ok: bool


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "graphscope_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def with_self_times(spans: list[dict]) -> list[dict]:
    """Each span plus ``self_s``: its duration minus the part of it that
    its child spans cover."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start"], s["end"]))
    return [{**s, "self_s": uncovered_s(s["start"], s["end"], kids[s["id"]])} for s in spans]


def per_layer(spans: list[dict], roll, iso: dict, passes: list[PassRecord]) -> dict:
    """Per-layer metrics: medians over the traced passes, plus the
    isolated calls of the ``iso`` pass."""

    def idle(s):
        return uncovered_s(s["start"], s["end"], roll.total(s["group"]).job_intervals)

    def counters(group_spans):
        return [roll.total(g) for g in {s["group"] for s in group_spans}]

    samples = []
    for p in passes:
        ps = [s for s in spans if s["pass"] == p.tag]
        m = defaultdict(float)
        calls = [s for s in ps if s["name"] in ALGOS]
        for a in ALGOS:
            mine = [s for s in calls if s["name"] == a]
            m[f"{a}.s"] = sum(map(_dur, mine))
            m[f"{a}.cpu_s"] = sum(s["cpu_s"] for s in mine)
            m[f"{a}.leaked_rdds"] = sum(s["leaked_rdds"] for s in mine)
            m[f"{a}.idle_s"] = sum(map(idle, mine))
            for c in counters(mine):
                m[f"{a}.jobs"] += c.jobs
                m[f"{a}.shuffle_mb"] += c.shuffle_write_bytes / 1e6
                m[f"{a}.shuffle_records"] += c.shuffle_write_records
                m[f"{a}.gc_s"] += c.gc_ms / 1e3
                m[f"{a}.spill_mb"] += c.spill_bytes / 1e6
        for c in counters(calls):
            m["checkpoint.write_mb"] += c.output_bytes / 1e6
            m["checkpoint.write_s"] += c.write_stage_ms / 1e3
        steps = [s for s in ps if s.get("step") and not s.get("tail")]
        m["superstep.count"] = len(steps)
        m["superstep.eps"] = p.eps
        if steps:
            m["superstep.s_per_step"] = sum(map(_dur, steps)) / len(steps)
        m["superstep.idle_s"] = sum(map(idle, steps))
        for c in counters(steps):
            m["superstep.jobs"] += c.jobs
            m["superstep.stages"] += c.stages
            m["superstep.tasks"] += c.tasks
            m["superstep.gc_s"] += c.gc_ms / 1e3
            m["superstep.spill_mb"] += c.spill_bytes / 1e6
            m["superstep.tasks_failed"] += c.tasks_failed
        for leg in (s for s in ps if "resume_read_mb" in s):
            m["resume.read_mb"] += leg["resume_read_mb"]
            leg_steps = [s for s in steps if s["parent"] == leg["id"]]
            if leg_steps:
                m["resume.s"] += _dur(min(leg_steps, key=lambda s: s["start"]))
        outs = [s for s in ps if s["name"] == "output"]
        m["output.s"] = sum(map(_dur, outs))
        m["output.mb"] = sum(c.output_bytes for c in counters(outs)) / 1e6
        samples.append(m)
    out = {k: _median(m[k] for m in samples) for k in PER_LAYER}
    for s in spans:
        if s["pass"] != "iso" or s["parent"] is None:
            continue
        c = roll.total(s["group"])
        layer = s["name"]
        out[f"{layer}.s"] = _dur(s)
        if layer == "extract":
            out["extract.cpu_s"] = s["cpu_s"]
        elif layer == "linkgraph":
            out["linkgraph.jobs"] = c.jobs
            out["linkgraph.shuffle_mb"] = c.shuffle_write_bytes / 1e6
    out.update(iso)
    out["trace.wall_s"] = _median(p.wall for p in passes)
    out["trace.self_s"] = _median(p.tracer_s for p in passes)
    return out


def self_check(layers: dict, m: dict) -> list[str]:
    """Each workload exercises exactly the layers it declares."""
    seen = {
        "extract": m["extract.s"] > 0 or m["extract.links"] > 0,
        "adjacency": m["adjacency.s"] > 0 or m["adjacency.packed_rows"] > 0,
        "checkpoint": m["checkpoint.write_mb"] > 0 or m["resume.read_mb"] > 0,
    }
    return [
        f"layer self-check: {layer} {'absent' if want else 'present'}, expected the opposite"
        for layer, want in layers.items()
        if seen[layer] != want
    ]


class Bench:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.passes: list[PassRecord] = []

    def _session(self):
        from graphscope_spark.session import get_spark

        tmp = self.work / "tmp"
        return get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            shuffle_partitions=PARTITIONS,
            extra_conf={
                "spark.driver.memory": "2g",
                # no hsperfdata file in the system /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.local.dir": str(self.work / "local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "events"),
                "spark.eventLog.compress": "false",
            },
        )

    def one_pass(self, tag: str, traced: bool) -> PassRecord:
        from perfbench.trace import drop_caches, storage_mb, tree_cpu_s

        spark, wl, tracer = self.spark, self.wl, self.tracer
        drop_caches(spark)  # no pass reads what an earlier one cached
        wl.cache_inputs()
        tracer.detail = traced
        own0, cpu0 = tracer.own_s, tree_cpu_s()
        out = None
        with tracer.span(tag) as ps:
            try:
                out = wl.run_pass()
            except Exception:  # a failed call is counted, the run goes on
                traceback.print_exc()
        cpu = tree_cpu_s() - cpu0
        cached = storage_mb(spark.sparkContext)
        tracer.detail = False
        problems = wl.check(out) if out is not None else ["pass raised"]
        for p in problems:
            print(f"# {tag}: {p}", file=sys.stderr)
        self.attempted += wl.calls_per_pass
        self.failed += wl.calls_per_pass if out is None else min(len(problems), wl.calls_per_pass)
        steps = out.supersteps if out is not None else 0
        eps = wl.n_edges * steps / out.iter_s if steps else 0.0
        rec = PassRecord(
            tag, traced, _dur(ps), cpu, cached, steps, eps, tracer.own_s - own0, not problems
        )
        print(f"# {json.dumps(asdict(rec))}", file=sys.stderr)
        return rec

    def run(self) -> dict:
        from perfbench.trace import Tracer, drop_caches, stop_spark
        from perfbench.workloads import WORKLOADS, Ctx, isolated_adjacency

        args, t_run = self.args, time.time()
        load0 = os.getloadavg()
        self.spark = spark = self._session()
        spark_start_s = time.time() - t_run
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        self.tracer = Tracer(sc)
        self.wl = wl = WORKLOADS[args.workload](
            Ctx(spark, self.tracer, self.work, args.seed, PARTITIONS)
        )
        iso: dict = {}
        try:
            setup_s = []
            for _ in range(SETUP_REPS):
                drop_caches(spark)
                t = time.time()
                wl.setup()
                setup_s.append(time.time() - t)
            wl.expect()
            t_meas = time.time()
            while True:
                rec = self.one_pass(f"p{len(self.passes) + 1}", bool(args.trace))
                self.passes.append(rec)
                elapsed = time.time() - t_meas
                if elapsed + rec.wall > args.seconds or time.time() - t_run > DEADLINE_S:
                    break
            if args.trace:
                drop_caches(spark)
                wl.cache_inputs()
                self.tracer.detail = True
                with self.tracer.span("iso"):
                    iso = {**wl.isolated(), **isolated_adjacency(wl)}
                self.tracer.detail = False
            sizes = {"vertices": wl.n_vertices, "edges": wl.n_edges}
            versions = {
                "spark": spark.version,
                "java": sc._jvm.System.getProperty("java.version"),
                "python": platform.python_version(),
            }
        finally:
            stop_spark(spark)
        roll = read_dir(str(self.work / "events"))
        task_failures = sum(c.tasks_failed for c in roll.by_group.values())
        self.failed += task_failures

        passes = self.passes
        if args.trace:
            metrics = per_layer(self.tracer.spans, roll, iso, passes)
            problems = self_check(wl.layers, metrics)
            for p in problems:
                print(f"# {p}", file=sys.stderr)
            self.attempted += 1
            self.failed += bool(problems)
            units = PER_LAYER
            spans_path = RUN_DIR / f"spans-{args.workload}-s{args.seed}.jsonl"
            with open(spans_path, "w") as fh:
                for s in with_self_times(self.tracer.spans):
                    fh.write(json.dumps(s) + "\n")
        else:
            metrics = {
                "setup_s": _median(setup_s),
                "wall_s": _median(p.wall for p in passes),
                "cpu_s": _median(p.cpu_s for p in passes),
                "shuffle_mb": _median(
                    roll.total(p.tag).shuffle_write_bytes / 1e6 for p in passes
                ),
                "cached_mb": _median(p.cached_mb for p in passes),
            }
            units = END_TO_END
        provenance = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_before": load0,
            "loadavg_after": os.getloadavg(),
            **versions,
            "git_commit": _git_commit(),
            "source_sha256": _source_digest(),
            **sizes,
            "spark_start_s": spark_start_s,
            "setup_runs_s": setup_s,
            "passes": [asdict(p) for p in self.passes],
            "wall_s_max": max(p.wall for p in passes),
            "task_failures": task_failures,
            "failed_frac": self.failed / max(self.attempted, 1),
            "run_s": time.time() - t_run,
        }
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        with open(RUN_DIR / "results.jsonl", "a") as fh:
            fh.write(json.dumps({"provenance": provenance, **result}) + "\n")
        return {"provenance": provenance, "result": result}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = RUN_DIR / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "events"):
        (work / sub).mkdir(parents=True)
    # Python workers import graphscope_spark, so they need the checkout
    # on their path whatever directory the benchmark is started from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    try:
        out = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"provenance": out["provenance"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
