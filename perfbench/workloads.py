"""The benchmark's workloads.

Each workload names the inputs it generates (``kind`` and ``size``), loads
them in :meth:`prepare`, runs one op in :meth:`op` through the program's
public functions, and checks an op's output in :meth:`check`. Every call
into a layer sits in a span named ``<layer>.<function>``; with tracing off
the spans record nothing.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench import gen

DETECTOR = ((0.0, 2048.0), (0.0, 2048.0))


class CheckFailed(Exception):
    """An op's output differs from what the benchmark expects."""


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _load_cached(ctx, files):
    from sed_spark.loader.generic import GenericLoader

    with ctx.tracer.span("loader.read_dataframe"):
        df, _ = GenericLoader(ctx.spark).read_dataframe(files=files)
    df = df.persist()
    df.count()
    return df


def _in_range_count(df, axes, ranges, nbins) -> int:
    """Rows whose every axis value lies inside the edge range; a plain
    filter and count, independent of the binning layer."""
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for a, (lo, hi), nb in zip(axes, ranges, nbins):
        elo, ehi = gen.shifted_range(lo, hi, nb)
        cond = cond & (F.col(a) >= elo) & (F.col(a) <= ehi)
    return int(df.filter(cond).count())


class Workload:
    name = ""
    kind = ""
    size: dict = {}
    #: program-internal calls a traced op records as spans:
    #: (module, function) -> span name
    calls: dict = {}
    #: whether ops run streaming queries (read through a listener)
    streams = False
    #: ops run inside the set-up, after the input load, before anything is
    #: timed; HotSpot is still compiling the op's code during the first few
    warmup_ops = 4

    @property
    def input_rows(self) -> int:
        return int(self.size["rows"])

    def prepare(self, ctx, manifest: dict) -> dict:
        raise NotImplementedError

    def op(self, ctx, state: dict):
        raise NotImplementedError

    def expect(self, ctx, state: dict, first) -> None:
        """Untimed, after set-up: derive what every later op must return."""

    def check(self, ctx, state: dict, out) -> None:
        raise NotImplementedError

    def save_mb(self, state: dict) -> float:
        """Size of the file an op exports, if it exports one."""
        return 0.0


class Bin4dUniform(Workload):
    """Uniform events, cached once, binned into a 4-D cube with about as
    many cells as rows."""

    name = "bin4d_uniform"
    kind = "uniform"
    size = {"rows": 1_000_000, "nbins": 32, "files": 8}
    axes = list(gen.UNIFORM_RANGES)
    ranges = list(gen.UNIFORM_RANGES.values())
    #: its short ops keep getting faster for about a dozen ops
    warmup_ops = 12

    def prepare(self, ctx, manifest):
        return {
            "df": _load_cached(ctx, manifest["files"]),
            "reference": np.load(manifest["reference"]),
        }

    def op(self, ctx, state):
        from sed_spark.binning import bin_dataframe

        with ctx.tracer.span("binning.bin_dataframe"):
            return bin_dataframe(
                state["df"], [self.size["nbins"]] * 4, self.axes, self.ranges,
            )

    def expect(self, ctx, state, first):
        state["in_range"] = int(state["reference"].sum())

    def check(self, ctx, state, out):
        _require(out.data.dtype == np.float32, f"dtype {out.data.dtype}")
        _require(np.array_equal(out.data, state["reference"]),
                 "cube differs from the numpy reference")


class SessionFiles(Workload):
    """A fresh SedProcessor per op over peaked events read from parquet:
    load with a timed table, jitter, invert a deformation field with more
    nodes than the broadcast-join lookup takes (so the UDF path runs),
    calibrate, a normalized 4-D compute, and an ``.npz`` export."""

    name = "session_files"
    kind = "peaked"
    size = {"rows": 500_000, "files": 4, "seconds": 50.0, "dfield": 1448}
    axes = ["kx", "ky", "energy", "delay"]
    bins = [40, 40, 40, 20]
    ranges = [(-1.3, 1.3), (-1.3, 1.3), (-9.0, 3.0), (-450.0, 1450.0)]
    calls = {
        ("sed_spark.processor", "bin_dataframe"): "binning.bin_dataframe",
        ("sed_spark.processor", "normalization_histogram_from_timed_dataframe"):
            "processor.norm_hist",
    }

    def prepare(self, ctx, manifest):
        return {
            "files": manifest["files"],
            "timed": manifest["timed"],
            "rdef": np.load(manifest["rdef"]),
            "cdef": np.load(manifest["cdef"]),
            "npz": os.path.join(ctx.work, "binned.npz"),
        }

    def op(self, ctx, state):
        from sed_spark.calibrator.momentum_estimation import generate_inverse_dfield
        from sed_spark.loader.generic import GenericLoader
        from sed_spark.processor import SedProcessor

        span = ctx.tracer.span
        with span("processor.init"):
            sp = SedProcessor(spark=ctx.spark, config={"core": {"loader": "generic"}})
        with span("loader.read_dataframe"):
            timed, _ = GenericLoader(ctx.spark).read_dataframe(
                files=[state["timed"]], with_file_id=False,
            )
        with span("loader.load"):
            sp.load(files=state["files"], timed_dataframe=timed)
        with span("dfops.add_jitter"):
            sp.add_jitter(cols=["X", "Y", "t"], seed=ctx.seed)
        with span("estimation.generate_inverse_dfield"):
            inv = generate_inverse_dfield(
                state["rdef"], state["cdef"],
                bin_ranges=list(DETECTOR), detector_ranges=list(DETECTOR),
            )
        with span("calibrator.apply_momentum_correction"):
            sp.apply_momentum_correction(
                inv, new_x_column="Xm", new_y_column="Ym", detector_ranges=DETECTOR,
            )
        with span("calibrator.apply_momentum_calibration"):
            sp.apply_momentum_calibration(
                x_column="Xm", y_column="Ym", r_start=0.0, c_start=0.0,
                r_center=1024.0, c_center=1024.0, r_conversion=0.00195,
                c_conversion=0.00195, r_step=1.0, c_step=1.0,
            )
        with span("calibrator.apply_energy_correction"):
            sp.apply_energy_correction(
                correction_type="spherical", center=(1024.0, 1024.0),
                amplitude=2.0, diameter=3000.0,
            )
        with span("calibrator.append_energy_axis"):
            sp.append_energy_axis(calibration_type="poly", coeffs=[1.0 / 3000.0], E0=-30.0)
        with span("calibrator.calibrate_delay_axis"):
            sp.calibrate_delay_axis(adc_range=(2000.0, 20000.0), delay_range=(-500.0, 1500.0))
        with span("processor.compute"):
            res = sp.compute(
                bins=self.bins, axes=self.axes, ranges=self.ranges,
                normalize_to_acquisition_time="delay",
            )
        with span("io.save"):
            sp.save(res, state["npz"])
        state["processor"] = sp
        return res

    def expect(self, ctx, state, first):
        sp = state["processor"]
        state["in_range"] = _in_range_count(sp.dataframe, self.axes, self.ranges, self.bins)
        norm = sp.normalization_histogram.data
        _require(bool(np.all(norm > 0)), "a delay bin has no acquisition time")
        state["norm"] = norm.reshape(1, 1, 1, -1)
        state["first"] = first.data.copy()

    def check(self, ctx, state, out):
        from sed_spark.io import load_npz

        counts = np.rint(out.data.astype(np.float64) * state["norm"])
        _require(int(counts.sum()) == state["in_range"],
                 "cube total differs from the in-range row count")
        _require(np.array_equal(out.data, state["first"]),
                 "cube differs from the run's first cube")
        saved = load_npz(state["npz"])
        _require(saved.dims == out.dims, "saved dims differ")
        _require(np.array_equal(saved.data, out.data), "saved cube differs")
        _require(all(np.array_equal(saved.coords[d], out.coords[d]) for d in out.dims),
                 "saved coordinates differ")

    def save_mb(self, state) -> float:
        return os.path.getsize(state["npz"]) / 2**20


class SuitePipeline(Workload):
    """A suite row from ``ext/`` and ``suite/`` plus a streaming drain over
    generated documents; one op runs both, in a seeded order, and collects
    their results."""

    name = "suite_pipeline"
    kind = "documents"
    #: 0.4 of the suite's sf0.1 table (5000 rows): the DuckDB oracle's
    #: edit-distance verify grows with the candidate pairs, about as the
    #: square of the rows (7 s at 2000 rows, 38 s at 5000 on 4 cores)
    size = {"docs": 2000}
    query = "lsh_pairs"
    streams = True

    @property
    def input_rows(self) -> int:
        return 2 * int(self.size["docs"])

    def prepare(self, ctx, manifest):
        order = [self.query, "exact_dedup"]
        gen.rng_for(ctx.seed, "order").shuffle(order)
        return {"dir": manifest["dir"], "order": order,
                "distinct_texts": manifest["distinct_texts"]}

    def _drain(self, ctx, state):
        from sed_spark.streaming import (
            run_available_now,
            state_store_partitions,
            streaming_exact_dedup,
        )

        spark = ctx.spark
        schema = spark.read.parquet(f"{state['dir']}/documents.parquet").schema
        stream = spark.readStream.schema(schema).parquet(f"{state['dir']}/documents*.parquet")
        name = "perfbench_dedup"
        old = spark.conf.get("spark.sql.shuffle.partitions")
        # one state store per shuffle partition: short drains use few
        spark.conf.set("spark.sql.shuffle.partitions", str(state_store_partitions(spark)))
        try:
            run_available_now(streaming_exact_dedup(stream), name, "append")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        out = spark.table(name).toPandas()
        spark.catalog.dropTempView(name)
        return out

    def op(self, ctx, state):
        from sed_spark import suite

        out = {}
        for step in state["order"]:
            if step == "exact_dedup":
                with ctx.tracer.span("streaming.exact_dedup"):
                    out[step] = self._drain(ctx, state)
            else:
                with ctx.tracer.span(f"suite.{step}"):
                    out[step] = suite.REGISTRY[step]["spark"](ctx.spark, state["dir"]).toPandas()
        return out

    def expect(self, ctx, state, first):
        import duckdb

        from sed_spark import suite

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{state['dir']}/documents.parquet'",
            )
            state["oracle"] = con.execute(suite.REGISTRY[self.query]["sql"]).fetchdf()
        finally:
            con.close()

    def check(self, ctx, state, out):
        from tools.check_oracle import compare

        problems = compare(self.query, out[self.query], state["oracle"])
        _require(not problems, f"{self.query}: {problems}")
        kept = out["exact_dedup"]["text"]
        _require(len(kept) == state["distinct_texts"] == kept.nunique(),
                 "streaming dedup did not keep exactly one row per distinct text")


WORKLOADS = {w.name: w for w in (Bin4dUniform(), SessionFiles(), SuitePipeline())}
