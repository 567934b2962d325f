#!/usr/bin/env python3
"""Closed-loop benchmark of the polygon-cut engine (one client: each op
starts when the previous one has ended), one workload per process, in
``local[N]`` with N the usable cores.

    python3 perfbench/run.py --workload cut_small --seed 1 --seconds 15 --trace 0

After untimed warm-up ops (JIT, code generation, Python workers; one for
``cut_small``, two for ``dedup``), ops are timed back to back until their
summed wall reaches ``--seconds`` and at least three have run.
``--trace 0`` prints the end-to-end metrics: ``op_s`` (median op wall),
``items_per_s`` (input docs per second over the timed ops) and ``setup_s``
(session start plus the median of three openings of the input).  ``--trace 1`` runs the same untraced ops, then
drives the op as consecutive public calls under one Spark job group per
layer and prints the per-layer metrics; spans go to
``.perfbench_cache/trace-<workload>-s<seed>.json``.

Inputs are generated from ``--seed`` once into ``.perfbench_cache`` at the
checkout root (not timed).  Every op's output is checked; a wrong answer
counts as a failed op.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  Unit tests of the
helpers: ``python3 -m pytest perfbench -q -p no:cacheprovider``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

T_START = time.monotonic()
ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
SETUP_REPS = 3
# op_s is a median: at least three timed ops, so one slow op cannot move it
MIN_TIMED_OPS = 3
TRACED_OPS = 1
# every run ends well inside the 180 s a run may take
RUN_BUDGET_S = 165.0


def parse_args(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="summed wall of the timed ops")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _env(work_dir: Path, cpus: int) -> None:
    """Python UDF workers import the engine, so they need the checkout on
    their path; all scratch output stays inside the checkout."""
    tmp = work_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, str(ROOT))


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


class Runner:
    """Runs ops one after another and does the housekeeping between them,
    outside the timer: the output check, session readings, unpersisting
    what the op left cached, and a JVM and Python garbage collection."""

    def __init__(self, args, wl, ctx, reader, tracer):
        self.args, self.wl, self.ctx, self.reader, self.tracer = args, wl, ctx, reader, tracer
        self.failed = 0
        self.attempted = 0
        self.reference_fp = None
        self.heap_mb: list[float] = []
        self.leaked: list[int] = []
        self.op_stats: list[dict] = []
        self.fingerprints: list[tuple[bool, tuple]] = []
        self.n = 0

    def op(self, traced: bool, warmup: bool = False) -> float:
        """Run one op and its housekeeping; returns the op's wall."""
        from perfbench.sparkstats import Span, set_job_group
        from perfbench.workloads import Check

        ctx, wl, i = self.ctx, self.wl, self.n
        self.n += 1
        wl.before(ctx, i)
        sc = ctx.spark.sparkContext
        ctx.tracer = self.tracer if traced else None
        gc0 = self.reader.gc_seconds() if self.args.trace else 0.0
        set_job_group(sc, f"pb.op{i}")
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            out = wl.run_traced(ctx, i) if traced else wl.run(ctx, i)
        except Exception:  # an op that raises is a failed op; keep measuring
            traceback.print_exc()
            out = None
        wall = time.perf_counter() - t0
        w1 = time.time()
        set_job_group(sc, None)
        ctx.tracer = None
        if traced:
            self.tracer.spans.append(Span("op", f"op{i}", None, f"pb.op{i}", w0, w1))
        gc_s = self.reader.gc_seconds() - gc0 if self.args.trace else 0.0

        check = wl.check(ctx, i, out) if out is not None else Check(False, (), "op raised")
        if check.ok:
            if self.reference_fp is None:
                self.reference_fp = check.fingerprint
            elif check.fingerprint != self.reference_fp:
                check = Check(False, check.fingerprint, f"fingerprint drifted: {check.detail}")
        self.attempted += 1
        self.failed += not check.ok
        self.fingerprints.append((traced, check.fingerprint))
        kind = "traced" if traced else "warm-up" if warmup else "timed"
        log(f"{self.args.workload} op{i} {kind} {wall:.3f} s ok={check.ok} {check.detail}")
        self.leaked.append(self.reader.persisted_count())
        self.reader.release_all(ctx.spark)
        self.heap_mb.append(self.reader.heap_after_gc_mb())
        if self.args.trace:
            self.op_stats.append(self._op_window(w0, w1, wall, gc_s, kind))
        return wall

    def _op_window(self, w0, w1, wall, gc_s, kind) -> dict:
        """Op-level figures: every job submitted inside the op's wall-clock
        window counts, also jobs of threads that escape the op's group."""
        from perfbench.stats import driver_gap_s

        self.reader.sync()
        jobs = self.reader.jobs(w0, w1)
        tot = self.reader.stages(jobs)
        return {
            "kind": kind,
            "jobs": len(jobs),
            "tasks": tot.tasks,
            "jobs_ungrouped": sum(1 for j in jobs if j.group is None),
            "driver_gap_s": driver_gap_s(w0, w1, [(j.start, j.end) for j in jobs]),
            "core_util": tot.run_s / (wall * self.ctx.cpus),
            "shuffle_mb": tot.shuffle_mb,
            "gc_s": gc_s,
        }

    def timed_loop(self, seconds: float, deadline: float) -> list[float]:
        """Ops back to back until their summed wall reaches ``seconds`` and
        at least ``MIN_TIMED_OPS`` have run."""
        walls: list[float] = []
        while sum(walls) < seconds or len(walls) < MIN_TIMED_OPS:
            if walls and time.monotonic() + max(walls) * 1.5 > deadline:
                log("run budget reached; stopping early")
                break
            walls.append(self.op(traced=False))
        return walls


def layer_metrics(reader, tracer) -> dict:
    """Per-layer figures from the traced spans, jobs attributed by the
    span's job group; the median over the traced ops."""
    from perfbench.stats import median

    if not tracer.spans:
        return {}
    reader.sync()
    jobs = reader.jobs(min(s.start for s in tracer.spans), max(s.end for s in tracer.spans))
    samples: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if s.name == "op":
            continue
        mine = [j for j in jobs if s.owns(j)]
        tot = reader.stages(mine, task_max=s.name == "extract.output")
        wall = s.end - s.start
        v = {
            "wall_s": wall,
            "jobs": len(mine),
            "tasks": tot.tasks,
            "task_cpu_s": tot.cpu_s,
            "shuffle_mb": tot.shuffle_mb,
            "collect_jobs": sum(1 for j in mine if j.name.startswith("collect")),
            "max_task_share": tot.max_task_s / wall if wall > 0 else 0.0,
            **s.values,
        }
        samples.setdefault(s.name, []).append(v)
    return {
        layer: {k: median(x[k] for x in rows) for k in rows[0]}
        for layer, rows in samples.items()
    }


def main(argv=None) -> int:
    deadline = T_START + RUN_BUDGET_S
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not (ROOT / "osm_cut_spark" / "__init__.py").is_file():
        print(f"perfbench: the engine package osm_cut_spark is missing under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work_dir = CACHE / f"work-{os.getpid()}"
    _env(work_dir, cpus)

    from perfbench.sparkstats import StatusReader, Tracer, start_session, stop_session
    from perfbench.stats import median
    from perfbench.workloads import LAYER_METRICS, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()

    t0 = time.perf_counter()
    spark = start_session(str(work_dir), cpus)
    session_s = time.perf_counter() - t0
    log(f"session {session_s:.3f} s, local[{cpus}]")
    try:
        reader = StatusReader(spark)
        ctx = Ctx(spark, str(CACHE), str(work_dir), args.seed, cpus)
        wl.prepare(ctx)  # one-time input generation, keyed by seed and size
        log("inputs ready")
        setup_walls = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(ctx)
            setup_walls.append(time.perf_counter() - t0)
        tracer = Tracer(spark.sparkContext)
        run = Runner(args, wl, ctx, reader, tracer)
        for _ in range(wl.warmup_ops):  # JIT, codegen cache, Python workers
            run.op(traced=False, warmup=True)
        walls = run.timed_loop(args.seconds, deadline)
        if args.trace:
            traced_walls = [run.op(traced=True) for _ in range(TRACED_OPS)]
            metrics = _trace_metrics(run, reader, tracer, walls, traced_walls, LAYER_METRICS)
            _write_spans(args, tracer)
        else:
            metrics = {
                "op_s": {"value": median(walls), "unit": "s"},
                "items_per_s": {"value": wl.items * len(walls) / sum(walls), "unit": "1/s"},
                "setup_s": {"value": session_s + median(setup_walls), "unit": "s"},
            }
    finally:
        stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def _trace_metrics(run, reader, tracer, walls, traced_walls, layer_table) -> dict:
    from perfbench.stats import median

    layers = layer_metrics(reader, tracer)
    timed = [w for w in run.op_stats if w["kind"] == "timed"]
    layers["op"] = {
        k: median(w[k] for w in timed)
        for k in ("jobs", "tasks", "jobs_ungrouped", "driver_gap_s", "core_util", "shuffle_mb", "gc_s")
    }
    heap = run.heap_mb
    layers["session"] = {
        "leaked_persists": max(run.leaked),
        "heap_mb_per_op": (heap[-1] - heap[0]) / (len(heap) - 1) if len(heap) > 1 else 0.0,
        "jvm_threads": reader.jvm_threads(),
    }
    layers["trace"] = {
        "overhead_s": median(traced_walls) - median(walls),
        # drift guard: the staged public-call drive must reproduce the
        # untraced op's output exactly (a mismatch also fails that op)
        "fingerprint_match": int(
            all(fp == run.reference_fp for traced, fp in run.fingerprints if traced)
        ),
    }
    return {
        f"{layer}.{name}": {"value": layers.get(layer, {}).get(name, 0), "unit": unit}
        for layer, name, unit, _ in layer_table
    }


def _write_spans(args, tracer) -> None:
    path = CACHE / f"trace-{args.workload}-s{args.seed}.json"
    rows = [
        {"name": s.name, "op": s.op, "parent": s.parent, "start": s.start, "end": s.end, **s.values}
        for s in tracer.spans
    ]
    path.write_text(json.dumps(rows, indent=1))
    log(f"spans written to {path}")


if __name__ == "__main__":
    sys.exit(main())
