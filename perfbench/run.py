"""Layered benchmark of the rdf_spark KG engine at local[nproc].

Run from the root of a checkout:

    python3 perfbench/run.py --workload construct|convert|serve \\
        --seed N --seconds S --trace 0|1 [--smoke]

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``.  Every metric
is also printed on its own line before it, by name and unit.  ``--smoke``
shrinks every input so that a run takes seconds (for the benchmark's own
test); its figures are not comparable with full runs.

Each run works in a fresh directory under ``.perfbench_runs/`` and
leaves ``run.json`` and ``spans.json`` there.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, metrics  # noqa: E402

FULL = {
    "construct_pages": 2000,
    "convert_lines": 60_000,
    "serve_pages": 1000,
    "serve_min_cycles": 2,
    "min_iters": 2,
}

SMOKE = {
    "construct_pages": 300,
    "convert_lines": 4000,
    "serve_pages": 300,
    "serve_min_cycles": 2,
    "min_iters": 1,
}


class Context:
    """What a workload needs and what it reports back."""

    def __init__(self, args, run, cfg, tracer):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.run, self.cfg, self.tracer = run, cfg, tracer
        self.spark = None
        self.t0 = time.perf_counter()
        self.setup_s = None
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict = {}
        self.reported: dict = {}
        self.layer: dict = {}
        self.layer_fns: list = []
        self.main_spans: list = []
        self.overhead_s = 0.0
        self.info: dict = {}

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t0
        self.mark("set-up done")

    def mark(self, what: str) -> None:
        harness.log(f"{time.perf_counter() - self.t0:7.2f}s {what}")

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        harness.log("FAILED: " + msg[:500])

    def window(self, plain, traced):
        """Run ``plain`` for the measured window (at least ``min_iters``
        times); in a traced run, run ``plain`` once and then ``traced``
        until the window ends (at least once).
        Returns the walls of the successful plain and traced calls."""
        walls, traced_walls = [], []
        t_end = time.perf_counter() + self.seconds

        def step(fn, sink):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                fn()
            except Exception as e:  # counted in failed_share, never hidden
                self.fail(f"{fn.__name__} raised: {e!r}")
                return
            sink.append(time.perf_counter() - t0)

        n, n_plain = 0, 1 if self.trace else self.cfg["min_iters"]
        while n < n_plain or (not self.trace and time.perf_counter() < t_end):
            step(plain, walls)
            n += 1
        if self.trace:
            n = 0
            while n < 1 or time.perf_counter() < t_end:
                step(traced, traced_walls)
                n += 1
        return walls, traced_walls


def _workload(name: str):
    if name == "construct":
        from perfbench import construct as mod
    elif name == "convert":
        from perfbench import convert as mod
    else:
        from perfbench import serve as mod
    return mod


def _emit(result: dict, extra: dict) -> None:
    for name, m in {**result["metrics"], **extra}.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join("rdf_spark", "pipeline.py")):
        harness.log("no rdf_spark package in the working directory: "
                    "run from the root of a checkout of the repository")
        return 2

    load_before = harness.loadavg()
    probe = harness.cpu_probe()
    cfg = SMOKE if args.smoke else FULL
    run = harness.RunDir(args.workload, args.seed, bool(args.trace))
    event_dir = os.path.join(run.root, "eventlog") if args.trace else None
    harness.configure_env(run, event_dir)
    tracer = harness.Tracer(bool(args.trace))
    ctx = Context(args, run, cfg, tracer)
    harness.log(f"{args.workload} seed={args.seed} trace={args.trace} "
                f"loadavg={load_before} dir={run.root}")

    with harness.RssSampler() as rss:
        with tracer.span("session.start"):
            t = time.perf_counter()
            ctx.spark = harness.start_session()
            session_start_s = time.perf_counter() - t
        try:
            _workload(args.workload).run(ctx)
        finally:
            harness.stop_session(ctx.spark)
    probe += harness.cpu_probe()

    failed = len(ctx.failures)
    attempted = max(ctx.attempted, 1)
    e2e = {"setup_s": ctx.setup_s, "peak_rss_mb": rss.peak / 2**20, **ctx.e2e}
    result_metrics = {}
    for name, (unit, _) in metrics.END_TO_END.items():
        v = e2e.get(name)
        if v is None or not math.isfinite(v) or v <= 0:
            raise RuntimeError(f"metric {name} was not measured: {v}")
        result_metrics[name] = {"value": float(v), "unit": unit}
    ctx.reported["failed_share"] = failed / attempted
    extra = {name: {"value": float(ctx.reported[name]), "unit": unit}
             for name, unit in metrics.REPORTED[args.workload].items()}

    if args.trace:
        from perfbench.eventlog import EventLog

        ev = EventLog(event_dir)
        layer = dict(ctx.layer)
        for fn in ctx.layer_fns:
            layer.update(fn(ev))
        ops = max(len(ctx.main_spans), 1)
        for k, v in ev.spark_totals(ev.jobs_in(ctx.main_spans)).items():
            layer[k] = v / ops
        # Python workers start once per session, mostly during set-up
        layer["spark.python_boot_s"] = ev.spark_totals(list(ev.jobs))["spark.python_boot_s"]
        layer["session.start_s"] = session_start_s
        layer["trace.overhead_s"] = ctx.overhead_s
        layer["host.loadavg_1m"] = load_before[0]
        layer["host.cpu_probe_s"] = harness.median(probe)
        result_metrics = metrics.layer_metrics(layer)
        extra = {}

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": result_metrics}
    run.write_json("spans.json", tracer.spans)
    run.write_json("run.json", {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "loadavg_before": load_before,
        "loadavg_after": harness.loadavg(), "cpu_probe_s": probe,
        "session_start_s": session_start_s,
        "failures": ctx.failures, "info": ctx.info, "result": result, "extra": extra,
    })
    run.cleanup()
    _emit(result, extra)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
