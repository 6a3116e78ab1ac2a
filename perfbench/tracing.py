"""Span tracing of one crawl, recorded from outside the program.

``Tracer.install()`` replaces the engine's layer entry points with timing
wrappers exactly where ``plans.crawler`` looks them up (module globals for
the politeness functions, class attributes for ``StateStore`` and
``CrawlEngine``), so the program's files are never edited. Each call becomes
a ``Span`` keyed by (workload, run, wave) with its parent, held in memory and
dumped as JSON at the end.

Wall time of a wrapper is NOT the work of the layer: ``select_wave_batch``,
``probe_shards`` and ``merge_into_shards`` return lazy DataFrames whose work
runs inside later actions. Executor time is therefore attributed from the
Spark event log (``EventLog``): each completed stage is assigned to the wave
open at its submission time and classified by the SQL plan nodes it executed
(the fetch and decode kernels, the Bloom probe and merge, the ``host_shard``
ranking window, the in-wave dedup shuffle).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import time
from dataclasses import asdict, dataclass, field

#: (owner, attribute) pairs wrapped by ``Tracer.install``; the owner is the
#: object ``plans.crawler`` resolves the name on at call time.
def _targets():
    from amazonwebcrawler_spark.plans import crawler
    from amazonwebcrawler_spark.sources.state_store import StateStore

    return [
        (crawler.CrawlEngine, "run"),
        (crawler.CrawlEngine, "_run_wave"),
        (crawler.CrawlEngine, "_load_frontier"),
        (crawler, "select_wave_batch"),
        (crawler, "assign_discovery_seq"),
        (StateStore, "commit_wave"),
        (StateStore, "load_snapshot"),
        (StateStore, "load_deltas"),
        (StateStore, "load_shard_state"),
    ]


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    workload: str
    run: int
    wave: int | None
    t0: float
    t1: float = 0.0
    jobs: int = 0
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.run = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []
        self._tracker = spark.sparkContext.statusTracker()
        self.bookkeeping_s = 0.0

    def _max_job_id(self) -> int:
        # count jobs by MAX id, not list length: the status tracker's
        # retained-job window evicts old entries mid-run
        ids = self._tracker.getJobIdsForGroup(None) or []
        return max(ids) if ids else -1

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            b0 = time.perf_counter()
            parent = tracer._stack[-1] if tracer._stack else None
            wave = parent.wave if parent is not None else None
            if name == "_run_wave":
                wave = args[1] if len(args) > 1 else kwargs["wave"]
            span = Span(
                id=len(tracer.spans), parent=parent.id if parent else None,
                name=name, workload=tracer.workload, run=tracer.run, wave=wave,
                t0=0.0,
            )
            jobs0 = tracer._max_job_id()
            tracer.spans.append(span)
            tracer._stack.append(span)
            tracer.bookkeeping_s += time.perf_counter() - b0
            span.t0 = time.time()
            try:
                result = fn(*args, **kwargs)
            finally:
                span.t1 = time.time()
                b1 = time.perf_counter()
                tracer._stack.pop()
                span.jobs = tracer._max_job_id() - jobs0
                tracer.bookkeeping_s += time.perf_counter() - b1
            if name == "load_deltas" and result is not None:
                b2 = time.perf_counter()
                tracer._record_chain(span, args[1] if len(args) > 1 else kwargs["name"], result)
                tracer.bookkeeping_s += time.perf_counter() - b2
            return result

        return wrapper

    def _record_chain(self, span: Span, table: str, df) -> None:
        """Delta-chain length and rows behind a ``load_deltas`` result, from
        the listed files' parquet footers (no Spark job)."""
        import pyarrow.parquet as pq

        files = [f[len("file:"):] if f.startswith("file:") else f for f in df.inputFiles()]
        waves = {os.path.dirname(f) for f in files}
        span.info = {
            "table": table,
            "chain_len": len(waves),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        }

    def install(self) -> "Tracer":
        for owner, attr in _targets():
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(attr, fn))
        return self

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

    # ------------------------------------------------------------ queries
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def waves(self, run: int) -> list[Span]:
        return [s for s in self.spans if s.name == "_run_wave" and s.run == run]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its direct children cover."""
        return span.dur - covered(span.t0, span.t1, [(c.t0, c.t1) for c in self.children(span)])


def covered(t0: float, t1: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [t0, t1] covered by the union of ``intervals``."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


# ---------------------------------------------------------------- event log
#: stage kinds, first match wins, by the plan nodes a stage executed (see
#: ``EventLog``): the Python kernels, the politeness ranking window, and the
#: in-wave dedup shuffle (partitioned by canonical_url) that the parse,
#: expansion, canonicalize and robots projections of the fetched pages write
#: and the dedup aggregate reads
KINDS = (
    ("probe", re.compile(r"^FlatMapCoGroupsInPandas .*\bprobe\(")),
    ("merge", re.compile(r"^FlatMapCoGroupsInPandas .*\bmerge\(")),
    ("decode", re.compile(r"^MapInPandas _decode_image_batches\(")),
    ("fetch", re.compile(r"^MapInPandas _fetch_batches\(")),
    ("rank", re.compile(r"^Window .*windowspecdefinition\(host_shard\b")),
    ("expand", re.compile(r"^Exchange hashpartitioning\(canonical_url\b")),
)


@dataclass
class Stage:
    id: int
    submitted: float
    nodes: list[str]
    task_s: list[float] = field(default_factory=list)
    shuffle_write: int = 0
    shuffle_read: int = 0

    @property
    def kind(self) -> str:
        """The stage's layer; a stage running a Python kernel is attributed
        to that kernel, since it dominates the stage's time."""
        for kind, pat in KINDS:
            if any(pat.match(n) for n in self.nodes):
                return kind
        return "other"


@dataclass
class Job:
    id: int
    submitted: float
    completed: float


class EventLog:
    """Stages, tasks and jobs of one application's Spark event log.

    A stage's plan nodes are the SQL plan nodes (from the execution-start
    and adaptive-update events) whose metric accumulators the stage's tasks
    updated: exactly the operators the stage executed, not the cached
    ancestors it only read."""

    def __init__(self, log_dir: str, app_id: str):
        matches = glob.glob(os.path.join(log_dir, app_id + "*"))
        if not matches:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        self.stages: dict[int, Stage] = {}
        self.jobs: dict[int, Job] = {}
        tasks: list[dict] = []
        node_of: dict[int, str] = {}  # accumulator id -> plan node
        accums: dict[int, list[int]] = {}
        with open(matches[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if "sparkPlanInfo" in ev:
                    _index_plan(ev["sparkPlanInfo"], node_of)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    self.stages[info["Stage ID"]] = Stage(
                        id=info["Stage ID"],
                        submitted=info.get("Submission Time", 0) / 1000.0,
                        nodes=[],
                    )
                    accums[info["Stage ID"]] = [a["ID"] for a in info.get("Accumulables", [])]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1000.0
        for sid, ids in accums.items():
            self.stages[sid].nodes = sorted({node_of[i] for i in ids if i in node_of})
        for ev in tasks:
            st = self.stages.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if st is None or not m:
                continue
            st.task_s.append(m.get("Executor Run Time", 0) / 1000.0)
            st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            r = m.get("Shuffle Read Metrics", {})
            st.shuffle_read += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)


def _index_plan(node: dict, node_of: dict[int, str]) -> None:
    """Map each metric accumulator of a SQL plan tree to its node's one-line
    description, expression ids stripped (``host_shard#12`` -> ``host_shard``)."""
    text = re.sub(r"#\d+L?", "", node["simpleString"])
    for m in node.get("metrics", []):
        node_of[m["accumulatorId"]] = text
    for child in node.get("children", []):
        _index_plan(child, node_of)


def skew(task_s: list[float]) -> float | None:
    """max / median task time of one stage (None below two timed tasks)."""
    if len(task_s) < 2:
        return None
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else None
