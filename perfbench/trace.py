"""Layer spans recorded from outside the engine.

`Tracer.install()` rebinds the public functions of each layer module
(`merge.dedupe_nodes`, `lineage.checkpoint`, ...) to wrappers that open a
span. A span has an id, a parent id and a run id, and sets a Spark job
group while it is open, so every job is attributed to the innermost call
that started it. Spans stay in memory; `collect()` turns one traced run
into per-layer metrics after the listener bus has drained, and `dump()`
writes every span out at the end.

Counters come from `SparkContext.statusTracker()` (jobs per group, stages
per job) and the JVM status store (`statusStore().lastStageAttempt`):
shuffle write bytes, spilled bytes, failed tasks and executor run time.
PySpark worker CPU and RSS are read from /proc.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from osmix_spark.operators import dedupe, extract, merge, similarity, skew, spatial, tiles
from osmix_spark.plans import lineage
from osmix_spark.sources import geotag, pbf

# layer name -> (module, public functions wrapped). operators.pipeline
# (merge_datasets) and operators.intersect are not among them: no workload
# calls them (see METRICS.md, "Layers not measured").
LAYERS = {
    "sources.geotag": (geotag, ["geotag_pages"]),
    "operators.skew": (skew, ["with_adaptive_cell", "detect_hot_cells", "cell_histogram"]),
    "operators.spatial": (spatial, ["point_in_polygon", "knn_join"]),
    "operators.tiles": (tiles, ["encode_way_mvt_vertices", "merge_way_frames",
                                "shortbread_point_tiles", "point_tile_px", "ring_tile_px",
                                "encode_polygon_mvt", "composite_raster_inputs",
                                "render_composite_raster"]),
    "operators.merge": (merge, ["dedupe_nodes", "dedupe_ways", "flatten_replacements",
                                "rewrite_way_refs", "direct_merge"]),
    "plans.lineage": (lineage, ["resume_or_run", "checkpoint", "verify", "lineage_of"]),
    "operators.extract": (extract, ["extract"]),
    "sources.pbf": (pbf, ["write_pbf", "read_pbf"]),
    "operators.dedupe": (dedupe, ["shingle_set", "minhash_signatures", "lsh_candidate_pairs",
                                  "jaccard_verify", "connected_components", "dedupe_clusters"]),
    "operators.similarity": (similarity, ["ann_topk", "lsh_signature"]),
    "sink": (None, []),  # opened by the workload around each terminal action
}
COMMON = ["self_s", "call_s", "jobs", "shuffle_bytes", "spill_bytes", "failed_tasks",
          "python_cpu_s", "core_idle_s"]
COMMON_UNITS = {"self_s": "s", "call_s": "s", "jobs": "count", "shuffle_bytes": "B",
                "spill_bytes": "B", "failed_tasks": "count", "python_cpu_s": "s",
                "core_idle_s": "s"}
# self times of one traced run must cover its wall to within this share
# (the traced run is a session's first: the benchmark's own glue between
# layer calls, mostly opening the input tables, runs on a cold JVM and
# took 9-12% of the wall)
COVERAGE_TOLERANCE = 0.15

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# /proc: the JVM and PySpark workers are descendants of this process
# ---------------------------------------------------------------------------

def _stat(pid: str):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    comm = s[s.index("(") + 1 : s.rindex(")")]
    rest = s[s.rindex(")") + 2 :].split()
    # fields from index 3 (state); ppid=4, utime..cstime=14..17, rss=24
    return comm, int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21])


def descendants(root: int) -> list[tuple[str, int, int]]:
    """(comm, cpu_ticks incl. reaped children, rss_pages) below root, the
    root's children first."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                procs[int(pid)] = _stat(pid)
            except (OSError, ValueError, IndexError):
                continue  # exited while listing
    children: dict[int, list[int]] = {}
    for pid, (_c, ppid, _t, _r) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop(0)
        comm, _p, ticks, rss = procs[pid]
        out.append((comm, ticks, rss))
        todo += children.get(pid, [])
    return out


def engine_rss_pages(procs: list[tuple[str, int, int]]) -> list[int]:
    """RSS of the JVM (the first java child) and the PySpark processes. A
    process the JVM forks shares its pages until it execs, so counting it
    would double the JVM for that instant."""
    jvm = next((r for c, _t, r in procs if c == "java"), 0)
    return [jvm] + [r for c, _t, r in procs if c.startswith("python")]


def python_worker_cpu_s(root: int) -> float:
    return sum(t for c, t, _r in descendants(root) if c.startswith("python")) / _CLK


class RssSampler:
    """Peak summed RSS of the driver JVM and its PySpark workers."""

    INTERVAL_S = 0.05

    def __init__(self):
        self.peak_mb = 0.0
        self.peak_at: list[int] = []  # per-process RSS (MB) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            pages = engine_rss_pages(descendants(root))
            mb = sum(pages) * _PAGE / 2**20
            if mb > self.peak_mb:
                self.peak_mb = mb
                self.peak_at = [round(r * _PAGE / 2**20) for r in pages]
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    id: str
    parent: str | None
    run: int
    layer: str
    name: str
    t0: float
    cpu0: float
    t1: float = 0.0
    cpu1: float = 0.0
    children: list[str] = field(default_factory=list)
    stage_metrics: dict = field(default_factory=dict)
    jobs: int = 0


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.active = False
        self.run = 0
        self.spans: dict[str, Span] = {}
        self._stack: list[Span] = []
        self._seq = 0
        self._originals: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()
        self.overhead_s = 0.0  # time the current traced run spent opening and closing spans

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        for layer, (module, names) in LAYERS.items():
            for name in names:
                fn = getattr(module, name)
                self._originals.append((module, name, fn))
                setattr(module, name, self._wrap(layer, name, fn))

    def uninstall(self) -> None:
        for module, name, fn in reversed(self._originals):
            setattr(module, name, fn)
        self._originals.clear()

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.active:
            yield
            return
        t_in = time.perf_counter()
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"r{self.run}.s{self._seq}", parent.id if parent else None, self.run,
                  layer, name, time.perf_counter(), python_worker_cpu_s(os.getpid()))
        if parent:
            parent.children.append(sp.id)
        self.spans[sp.id] = sp
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, f"{layer}.{name}")
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield
        finally:
            t_out = time.perf_counter()
            sp.cpu1 = python_worker_cpu_s(os.getpid())
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.id, f"{parent.layer}.{parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t_out

    def sink(self):
        return self.span("sink", "final_action")

    @contextlib.contextmanager
    def paused(self):
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    @contextlib.contextmanager
    def traced_run(self):
        self.run += 1
        self.overhead_s = 0.0
        self.active = True
        try:
            yield
        finally:
            self.active = False

    # -- counters ------------------------------------------------------------
    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _job_metrics(self, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        m = {"run_ms": 0, "shuffle": 0, "spill": 0, "failed": 0}
        jobs = tracker.getJobIdsForGroup(sp.id)
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in (info.stageIds if info else []):
                if stage in self._seen_stages:
                    continue  # a shared map stage counts once, for its first job
                try:
                    data = store.lastStageAttempt(stage)
                except Exception:  # noqa: BLE001 — stage evicted or never run
                    continue
                if data.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: ran (and was counted) in an earlier job
                self._seen_stages.add(stage)
                m["run_ms"] += data.executorRunTime()
                m["shuffle"] += data.shuffleWriteBytes()
                m["spill"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
                m["failed"] += data.numFailedTasks()
        sp.jobs = len(jobs)
        sp.stage_metrics = m

    def collect(self, wall_s: float) -> dict:
        """Per-layer metrics of the current run, its span coverage and the
        time its spans' own bookkeeping took."""
        self._drain()
        spans = [s for s in self.spans.values() if s.run == self.run]
        for sp in spans:
            self._job_metrics(sp)
        by_id = {s.id: s for s in spans}
        out = {layer: dict.fromkeys(COMMON, 0.0) for layer in LAYERS}
        self_total = 0.0
        for sp in spans:
            kids = [by_id[c] for c in sp.children]
            dur = sp.t1 - sp.t0
            self_s = dur - sum(k.t1 - k.t0 for k in kids)
            self_cpu = (sp.cpu1 - sp.cpu0) - sum(k.cpu1 - k.cpu0 for k in kids)
            self_total += self_s
            m = out[sp.layer]
            m["self_s"] += self_s
            parent = by_id.get(sp.parent)
            if parent is None or parent.layer != sp.layer:
                m["call_s"] += dur  # outermost call of this layer on the stack
            m["jobs"] += sp.jobs
            m["shuffle_bytes"] += sp.stage_metrics["shuffle"]
            m["spill_bytes"] += sp.stage_metrics["spill"]
            m["failed_tasks"] += sp.stage_metrics["failed"]
            m["python_cpu_s"] += self_cpu
            m["core_idle_s"] += self_s * self.cores - sp.stage_metrics["run_ms"] / 1000.0
        return {"layers": out, "coverage": self_total / wall_s if wall_s else 0.0,
                "overhead_s": self.overhead_s}

    def resume_hits(self) -> int:
        """resume_or_run calls of this run that served a checkpoint instead
        of writing one (no `checkpoint` child span)."""
        spans = [s for s in self.spans.values() if s.run == self.run]
        by_id = {s.id: s for s in spans}
        return sum(
            1 for s in spans if s.name == "resume_or_run"
            and not any(by_id[c].name == "checkpoint" for c in s.children)
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans.values():
                rec = {k: getattr(sp, k) for k in ("id", "parent", "run", "layer", "name",
                                                   "t0", "t1", "jobs", "stage_metrics")}
                rec["python_cpu_s"] = sp.cpu1 - sp.cpu0
                f.write(json.dumps(rec) + "\n")


def median_layers(per_run: list[dict]) -> dict:
    """Per-layer metrics: median over the traced runs of each value."""
    layers = per_run[0].keys()
    return {
        layer: {m: statistics.median(r[layer][m] for r in per_run) for m in COMMON}
        for layer in layers
    }
