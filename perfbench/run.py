#!/usr/bin/env python3
"""Layered benchmark of sed-spark.

    python3 perfbench/run.py --workload bin4d_uniform --seed 1 --seconds 8 --trace 0

One run generates the workload's inputs from ``--seed`` (in a child
process that ends before anything is timed), sets up once from a cold
start (driver JVM launch, input load or persist, the workload's
``warmup_ops`` warm-up ops), derives the expected outputs, then runs ops
in a closed loop, one at a time, for ``--seconds`` seconds, checking
every op's output, the warm-up ops' too.

With ``--trace 0`` it prints the end-to-end metrics listed in
``BENCHMARK.json``: median op time, input rows per second, the cold
set-up time, the driver's peak RSS and the share of ops that succeeded.
With ``--trace 1`` every other op is traced and it prints the per-layer
metrics listed there, including the tracing overhead (the traced ops'
median time against the untraced ones').

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The full record (with host
``cpus``, seed, input size and commit) and, when traced, the spans go to
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of the host's RAM, between 1 and 8 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return max(1024, min(8192, total // 4))


class Context:
    """What a workload's calls need: the session, the tracer, the seed and
    a working directory inside the checkout."""

    def __init__(self, seed: int, work: str):
        from perfbench.spans import Tracer

        self.seed = seed
        self.work = work
        self.spark = None
        self.tracer = Tracer(False)


def start_session(cpus: int, mem_mb: int):
    from sed_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": f"{mem_mb}m",
            "spark.driver.maxResultSize": f"{mem_mb // 2}m",
            "spark.log.level": "ERROR",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session and the driver JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@contextmanager
def traced_calls(tracer, calls: dict):
    """Wrap module-level functions the program calls internally so a traced
    op sees them as spans; restored when the op ends."""
    saved = []
    for (mod_name, attr), name in calls.items():
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)

        def wrapper(*a, _fn=fn, _name=name, **k):
            with tracer.span(_name):
                return _fn(*a, **k)

        saved.append((mod, attr, fn))
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def generate_inputs(wl, seed: int, out: str) -> dict:
    """Write the workload's inputs from a child process, so the generator's
    arrays never count toward this process's peak RSS; returns once the
    child has ended, before anything is timed."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--kind", wl.kind,
         "--seed", str(seed), "--size", json.dumps(wl.size), "--out", out],
        check=True, timeout=170,
    )
    with open(os.path.join(out, "manifest.json")) as fh:
        return json.load(fh)


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics listed in
    ``BENCHMARK.json``, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def run(wl, args, ctx, cpus: int) -> tuple[dict, list, dict]:
    """Set up, measure and check one workload; returns the result line,
    the traced spans and the raw set-up and per-op times."""
    from perfbench import layers, spans
    from perfbench.workloads import CheckFailed

    t0 = time.perf_counter()
    manifest = generate_inputs(wl, args.seed, os.path.join(ctx.work, "inputs"))
    gen_s = time.perf_counter() - t0

    # set-up, from a cold start: JVM launch, input load, warm-up ops
    t0 = time.perf_counter()
    ctx.spark = start_session(cpus, driver_memory_mb())
    start_s = time.perf_counter() - t0
    beans = spans.Harvester(ctx.spark)
    jit0 = beans.jvm_ms()[0]
    state = wl.prepare(ctx, manifest)
    warm, warm_s = [], []
    for _ in range(wl.warmup_ops):
        t1 = time.perf_counter()
        warm.append(wl.op(ctx, state))
        warm_s.append(time.perf_counter() - t1)
    setup_s = time.perf_counter() - t0
    jit_setup = (beans.jvm_ms()[0] - jit0) / 1000.0

    attempted, failed = len(warm), 0
    t1 = time.perf_counter()
    wl.expect(ctx, state, warm[0])
    expect_s = time.perf_counter() - t1
    for out in warm:
        try:
            wl.check(ctx, state, out)
        except CheckFailed as exc:
            failed += 1
            print(f"perfbench: warm-up output wrong: {exc}", file=sys.stderr)
    del warm

    harvester = beans if args.trace else None
    stream = spans.StreamCounter(ctx.spark) if args.trace and wl.streams else None
    plain: list[float] = []
    per_op: list[dict] = []
    all_spans: list = []
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    op = 0
    while op == 0 or time.perf_counter() < deadline:
        traced = bool(args.trace) and op % 2 == 1
        tracer = spans.Tracer(traced, harvester.mark if traced else None)
        tracer.op = op
        ctx.tracer = tracer
        before = stream.snapshot() if stream and traced else None
        attempted += 1
        try:
            with traced_calls(tracer, wl.calls) if traced else nullcontext():
                t1 = time.perf_counter()
                with tracer.span("bench.op"):
                    out = wl.op(ctx, state)
                dt = time.perf_counter() - t1
            wl.check(ctx, state, out)
        except Exception:  # a failed op is counted, reported and skipped
            failed += 1
            traceback.print_exc(file=sys.stderr)
            op += 1
            continue
        if traced:
            op_spans = tracer.op_spans(op)
            harvester.attach(op_spans, nodes=not wl.streams)
            m = layers.op_metrics(op_spans, wl.input_rows, state.get("in_range", 0))
            if stream:
                m.update(layers.stream_metrics(before, stream.snapshot()))
            m["io.save_mb"] = wl.save_mb(state)
            per_op.append(m)
            all_spans.extend(op_spans)
        else:
            plain.append(dt)
        op += 1
    if stream:
        stream.close()
    ctx.tracer = spans.Tracer(False)

    op_s = statistics.median(plain) if plain else (time.perf_counter() - t_start) / op
    if args.trace:
        units = metric_units("per_layer")
        metrics = {
            name: statistics.median(m.get(name, 0.0) for m in per_op) if per_op else 0.0
            for name in units
        }
        metrics["session.start_s"] = start_s
        metrics["jvm.setup_jit_s"] = jit_setup
        metrics["trace.untraced_op_s"] = op_s
        metrics["trace.overhead_frac"] = metrics["trace.op_s"] / op_s - 1.0 if per_op else 0.0
    else:
        units = metric_units("end_to_end")
        metrics = {
            "op_s": op_s,
            "rows_per_s": wl.input_rows / op_s,
            "setup_s": setup_s,
            "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "ok_frac": 1.0 - failed / attempted,
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    extra = {"gen_s": gen_s, "session_start_s": start_s, "warmup_op_s": warm_s,
             "expect_s": expect_s, "op_s_all": plain}
    return result, all_spans, extra


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="layered sed-spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sed_spark", "__init__.py")):
        print(f"perfbench: no sed_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = host_cpus()
    # the library sizes its defaults (shuffle partitions) from this
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    from perfbench import record
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    out_dir = os.path.join(HERE, "out")
    ctx = Context(args.seed, os.path.join(out_dir, f"work-{os.getpid()}"))
    os.makedirs(ctx.work)
    try:
        result, span_list, extra = run(wl, args, ctx, cpus)
    finally:
        if ctx.spark is not None:
            stop_jvm(ctx.spark)
        shutil.rmtree(ctx.work, ignore_errors=True)

    stem = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    rec = record.make_record(
        {**result, **extra}, workload=wl.name, seed=args.seed, trace=args.trace,
        cpus=cpus, size=wl.size, seconds=args.seconds, commit=record.git_commit(ROOT),
    )
    with open(os.path.join(out_dir, f"record-{stem}.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    if span_list:
        from perfbench.spans import dump_spans

        dump_spans(span_list, os.path.join(out_dir, f"spans-{stem}.jsonl"))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
