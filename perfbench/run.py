#!/usr/bin/env python3
"""Seeded benchmark of the osmix_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Inputs are generated from
(workload, seed) and written as parquet under perfbench/.work/ before
Spark starts; the engine runs on one `local[<cores>]` session built with
`osmix_spark.session.get_spark`, one workload run at a time (a single
closed-loop client). Every run checks its output. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0  end-to-end metrics: set-up (session start), then timed runs
           from that fresh session for --seconds (at least MIN_TIMED);
           a run starts the workload's two parts on two driver threads.
--trace 1  per-layer metrics: traced runs from the fresh session for
           --seconds (at least one), each running the parts one after the
           other; spans go to perfbench/.work/spans/.

See perfbench/METRICS.md for what each metric measures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DIGESTS = os.path.join(HERE, "digests.json")
WORKLOAD_NAMES = ("pages", "osm")
MIN_TIMED = 1

END_TO_END = {
    "rows_per_s": "1/s",
    "setup_s": "s",
    "bytes_written_per_row": "B",
    "success_rate": "ratio",
}
LAYER_SPECIFIC = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.geotag.drop_share": "ratio",
    "operators.skew.hot_cells": "count",
    "operators.skew.max_cell_share": "ratio",
    "operators.spatial.pairs_out": "count",
    "operators.tiles.tiles_out": "count",
    "operators.tiles.tile_bytes": "B",
    "plans.lineage.bytes_written": "B",
    "plans.lineage.resume_hits": "count",
    "sources.pbf.bytes": "B",
    "operators.dedupe.candidate_pairs": "count",
    "operators.dedupe.pair_yield": "ratio",
    "operators.similarity.candidates_per_query": "count",
    "trace.overhead_ratio": "ratio",
}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument("--record", action="store_true",
                   help="store this seed's output digest in perfbench/digests.json")
    return p.parse_args(argv)


@dataclass
class Outcome:
    ok: bool
    wall_s: float  # whole run, checks included
    run_s: float  # summed over the parts, each up to its last terminal action
    bytes_written: int
    digest: str | None
    facts: dict


class DigestBook:
    """Expected output digest per (workload, scale, seed): the committed
    perfbench/digests.json for the seeds recorded there; for any other
    seed, the first run of this process."""

    def __init__(self, key: str, record: bool):
        self.key = key
        with open(DIGESTS) as f:
            self.committed = json.load(f)
        # recording takes the digest this process computes
        self.expected = None if record else self.committed.get(key)

    def check(self, digest: str) -> list[str]:
        if self.expected is None:
            self.expected = digest
        if digest != self.expected:
            return [f"output digest {digest} != expected {self.expected} for {self.key}"]
        return []

    def record(self) -> None:
        self.committed[self.key] = self.expected
        with open(DIGESTS + ".tmp", "w") as f:
            json.dump(self.committed, f, indent=1, sort_keys=True)
        os.replace(DIGESTS + ".tmp", DIGESTS)


class Bench:
    def __init__(self, args, work: str):
        from . import gen, workloads

        self.args = args
        self.work = work
        self.workloads = workloads
        self.cores = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        self.truth = gen.generate(args.workload, args.seed, args.scale, os.path.join(work, "input"))
        log(f"generated {self.truth['rows']} rows in {time.perf_counter() - t:.2f}s")
        self.book = DigestBook(f"{args.workload}/{args.scale}/{args.seed}", args.record)
        self.runs = 0
        self.failed = 0
        self.spark = None

    # -- session -------------------------------------------------------------
    def start(self) -> float:
        """get_spark() with every file the engine writes kept in the work dir."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        from osmix_spark.session import get_spark

        t = time.perf_counter()
        # engine defaults, except that the JVM keeps its files in the work
        # dir (no hsperfdata under /tmp)
        self.spark = get_spark("perfbench", cores=self.cores, extra={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        from .trace import descendants

        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)

    # -- runs ----------------------------------------------------------------
    def _part(self, part: str, out: str, tracer):
        ctx = self.workloads.Context(
            os.path.join(self.work, "input", part), os.path.join(out, part),
            self.truth[part], traced=tracer is not None,
            sink=tracer.sink if tracer else contextlib.nullcontext,
            checking=tracer.paused if tracer else contextlib.nullcontext,
        )
        return ctx, self.workloads.WORKLOADS[self.args.workload][part](self.spark, ctx)

    def run(self, tracer=None, concurrent: bool = False) -> Outcome:
        """One run of the workload: its parts, each checked. Concurrent:
        the parts start together on one driver thread each; otherwise
        (always when traced: spans form one stack) one after the other."""
        self.runs += 1
        out = os.path.join(self.work, "runs", str(self.runs))
        parts = list(self.workloads.WORKLOADS[self.args.workload])
        t0, errors = time.perf_counter(), []
        try:
            if concurrent:
                pool = ThreadPoolExecutor(len(parts))
                try:
                    futures = [pool.submit(self._part, p, out, None) for p in parts]
                    wait(futures)  # a failed part leaves the other to finish first
                    done = [f.result() for f in futures]
                finally:  # on SIGTERM, stop Spark without waiting for the parts
                    pool.shutdown(wait=False, cancel_futures=True)
            else:
                done = [self._part(p, out, tracer) for p in parts]
            wall = time.perf_counter() - t0
            facts = {}
            for part, (_ctx, res) in zip(parts, done):
                facts.update(res.facts)
                errors += [f"{part}: {e}" for e in res.errors]
            digest = self.workloads.combine([res.digest for _ctx, res in done])
            errors += self.book.check(digest)
            outcome = Outcome(not errors, wall, sum(ctx.run_s for ctx, _res in done),
                              sum(res.bytes_written for _ctx, res in done), digest, facts)
        except Exception:  # noqa: BLE001 — a failed run is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            errors.append("raised")
            outcome = Outcome(False, time.perf_counter() - t0, 0.0, 0, None, {})
        finally:
            shutil.rmtree(out, ignore_errors=True)
        for e in errors:
            log(f"run {self.runs} FAILED: {e}")
        self.failed += not outcome.ok
        log(f"run {self.runs}: {outcome.wall_s:.3f}s ok={outcome.ok}")
        return outcome

    def timed(self) -> dict:
        setup_s = self.start()
        timed, deadline = [], time.perf_counter() + self.args.seconds
        while len(timed) < MIN_TIMED or time.perf_counter() < deadline:
            timed.append(self.run(concurrent=True))
        rows = self.truth["rows"]
        walls = [o.wall_s for o in timed]
        return {
            "rows_per_s": rows / statistics.median(walls),
            "setup_s": setup_s,
            "bytes_written_per_row": statistics.median(o.bytes_written for o in timed) / rows,
            "success_rate": (self.runs - self.failed) / self.runs,
        }

    def traced(self) -> dict:
        from . import trace

        with trace.RssSampler() as rss:
            start_s = self.start()
            tracer = trace.Tracer(self.spark, self.cores)
            tracer.install()
            traced, layers, facts, hits, overhead = [], [], [], [], []
            deadline = time.perf_counter() + self.args.seconds
            while not traced or time.perf_counter() < deadline:
                with tracer.traced_run():
                    o = self.run(tracer)
                traced.append(o)
                m = tracer.collect(o.run_s)
                log(f"run {self.runs}: span self times cover {m['coverage']:.3f} of its wall, "
                    f"span bookkeeping took {m['overhead_s']:.3f}s")
                if m["coverage"] < 1 - trace.COVERAGE_TOLERANCE:
                    log(f"run {self.runs} FAILED: span self times cover {m['coverage']:.3f} "
                        f"of the traced wall (tolerance {trace.COVERAGE_TOLERANCE})")
                    self.failed += o.ok
                layers.append(m["layers"])
                facts.append(o.facts)
                hits.append(tracer.resume_hits())
                if o.ok:
                    overhead.append(o.run_s / (o.run_s - m["overhead_s"]))
        log(f"peak RSS {rss.peak_mb:.0f} MB: per process {rss.peak_at}")
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{self.args.workload}-seed{self.args.seed}.jsonl"))
        tracer.uninstall()

        out = {}
        for layer, vals in trace.median_layers(layers).items():
            out.update({f"{layer}.{m}": v for m, v in vals.items()})
        for name in LAYER_SPECIFIC:
            got = [f[name] for f in facts if name in f]
            out[name] = statistics.median(got) if got else 0
        out["session.start_s"] = start_s
        out["session.peak_rss_mb"] = rss.peak_mb
        out["plans.lineage.resume_hits"] = max(hits)
        out["trace.overhead_ratio"] = statistics.median(overhead) if overhead else 0.0
        return out


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def units(trace_mode: bool) -> dict:
    if not trace_mode:
        return END_TO_END
    from .trace import COMMON_UNITS, LAYERS

    u = {f"{layer}.{m}": unit for layer in LAYERS for m, unit in COMMON_UNITS.items()}
    u.update(LAYER_SPECIFIC)
    return u


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import osmix_spark.session  # noqa: F401 — the engine under test
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    work = os.path.join(WORK, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    bench = None
    try:
        bench = Bench(args, work)
        values = bench.traced() if args.trace else bench.timed()
    finally:
        try:
            if bench is not None:
                bench.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if args.record and bench.failed == 0:
        bench.book.record()
    u = units(bool(args.trace))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.runs,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": u[k]} for k in u},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main  # run as a package so relative imports resolve

    sys.exit(_main())
