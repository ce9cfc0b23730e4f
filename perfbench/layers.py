"""Per-layer metrics of one traced op, derived from its spans and the Spark
executions attached to them.

Stage-level figures (task time, shuffle, spill, result bytes) come from the
app status store as raw numbers; operator figures (aggregate build time and
peak memory, partial-aggregate rows, scan and broadcast sizes, UDF rows)
come from the SQL metrics of each plan node.

Which end-to-end metric each layer's metrics should move, and where they
should stay flat:

============================  ===========================================  =================
layer metrics                 moves                                        flat on
============================  ===========================================  =================
session.*, jvm.*              setup_s everywhere; jit/gc also op_s on      -
                              suite_pipeline and bin4d_uniform
loader.*                      op_s on session_files                        bin4d_uniform
calibrator.*, map.task_s,     op_s on session_files                        bin4d_uniform
estimation.*
binning.*                     op_s and driver_rss_mb on bin4d_uniform;     suite_pipeline
                              exchange_useful_frac: op_s on session_files
processor.*, io.*             op_s on session_files                        the others
suite.*, streaming.*          op_s on suite_pipeline                       the others
============================  ===========================================  =================
"""

from __future__ import annotations

import statistics

from perfbench.spans import Span, layer_self_times

MB = 2.0**20

#: layers a span can belong to, in the order the metrics are reported
LAYERS = ("bench", "loader", "dfops", "calibrator", "estimation", "binning",
          "processor", "io", "suite", "streaming")

def _stages(execs):
    return [st for ex in execs for st in ex["stages"]]


def _nodes(execs, prefix):
    return [n for ex in execs for n in ex["nodes"] if n["name"].startswith(prefix)]


def _node_sum(execs, prefix, metric, desc=None) -> float:
    return sum(
        n["metrics"].get(metric, 0.0) for n in _nodes(execs, prefix)
        if desc is None or desc in n["desc"]
    )


def _task_s(stages) -> float:
    return sum(st["executorRunTime"] for st in stages) / 1000.0


def _is_map(st) -> bool:
    return st["shuffleWriteRecords"] > 0 and st["shuffleReadRecords"] == 0


def op_metrics(spans: list[Span], input_rows: int, in_range: int) -> dict[str, float]:
    """Per-layer metrics of one op. ``spans`` are the op's spans with their
    executions attached; ``input_rows`` and ``in_range`` are the rows the
    op bins and the rows that fall inside its bin ranges."""
    root = next(s for s in spans if s.parent is None)
    by_layer: dict[str, list[Span]] = {}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)
    execs = [ex for s in spans for ex in s.executions]
    m: dict[str, float] = {}

    def dur(layer: str, name: str | None = None) -> float:
        return sum(s.duration for s in by_layer.get(layer, ())
                   if name is None or s.name == name)

    m["jvm.jit_s"] = (root.finish.jit_ms - root.begin.jit_ms) / 1000.0
    m["jvm.gc_s"] = (root.finish.gc_ms - root.begin.gc_ms) / 1000.0

    m["loader.read_dataframe_s"] = dur("loader")
    m["loader.scan_rows"] = _node_sum(execs, "Scan ", "number of output rows")
    m["loader.scan_mb"] = _node_sum(execs, "Scan ", "size of files read") / MB
    m["loader.scan_task_s"] = _node_sum(execs, "Scan ", "scan time")

    m["calibrator.plan_s"] = dur("calibrator") + dur("dfops")
    m["calibrator.broadcast_mb"] = _node_sum(execs, "BroadcastExchange", "data size") / MB
    m["calibrator.udf_rows"] = sum(
        _node_sum(execs, name, "number of output rows")
        for name in ("ArrowEvalPython", "BatchEvalPython")
    )
    m["map.task_s"] = _task_s([st for st in _stages(execs) if _is_map(st)])
    m["estimation.inv_dfield_s"] = dur("estimation")

    binning = by_layer.get("binning", [])
    bexecs = [ex for s in binning for ex in s.executions]
    bstages = _stages(bexecs)
    plan = job = tail = 0.0
    for s in binning:
        jobs = [j for ex in s.executions for j in ex["jobs"]]
        if not jobs:
            continue
        first = min(j["submitted"] for j in jobs)
        last = max(j["completed"] for j in jobs)
        plan += first - s.begin.wall
        job += last - first
        tail += s.finish.wall - last
    m["binning.plan_s"] = plan
    m["binning.job_s"] = job
    m["binning.driver_tail_s"] = tail
    m["binning.executions"] = float(len(bexecs))
    records = sum(st["shuffleWriteRecords"] for st in bstages)
    m["binning.exchange_records"] = float(records)
    m["binning.exchange_mb"] = sum(st["shuffleWriteBytes"] for st in bstages) / MB
    m["binning.fetch_wait_s"] = sum(st["shuffleFetchWaitTime"] for st in bstages) / 1000.0
    m["binning.exchange_useful_frac"] = in_range / records if records else 0.0
    m["binning.partial_agg_out_frac"] = (
        _node_sum(bexecs, "HashAggregate", "number of output rows", desc="partial_")
        / input_rows if binning else 0.0
    )
    m["binning.agg_build_s"] = _node_sum(bexecs, "HashAggregate", "time in aggregation build")
    m["binning.agg_peak_mb"] = _node_sum(bexecs, "HashAggregate", "peak memory") / MB
    m["binning.spill_mb"] = sum(st["memoryBytesSpilled"] for st in bstages) / MB
    m["binning.reduce_task_s"] = _task_s([st for st in bstages if st["shuffleReadRecords"] > 0])
    m["binning.collect_mb"] = sum(
        st["resultSize"] for st in bstages if st["shuffleWriteRecords"] == 0
    ) / MB

    m["processor.norm_hist_s"] = dur("processor", "processor.norm_hist")
    m["io.save_s"] = dur("io")

    for s in by_layer.get("suite", []) + by_layer.get("streaming", []):
        key = f"{s.name}.s"
        m[key] = m.get(key, 0.0) + s.duration
    sexecs = [ex for s in by_layer.get("suite", []) for ex in s.executions]
    m["suite.executions"] = float(len(sexecs))
    m["suite.task_s"] = _task_s(_stages(sexecs))
    m["suite.exchange_mb"] = sum(st["shuffleWriteBytes"] for st in _stages(sexecs)) / MB
    m["suite.spill_mb"] = sum(st["memoryBytesSpilled"] for st in _stages(sexecs)) / MB

    selfs = layer_self_times(spans)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    m["trace.op_s"] = root.duration
    m["trace.accounted_frac"] = 1.0 - selfs.get("bench", 0.0) / root.duration
    return m


def stream_metrics(before, after) -> dict[str, float]:
    """Micro-batch counts between two :meth:`StreamCounter.snapshot` calls."""
    b0, rows0 = before
    b1, rows1 = after
    new = b1[len(b0):]
    return {
        "streaming.batches": float(len(new)),
        "streaming.batch_s_p50": statistics.median(new) if new else 0.0,
        "streaming.state_rows": float(
            sum(v for k, v in rows1.items() if k not in rows0),
        ),
    }
