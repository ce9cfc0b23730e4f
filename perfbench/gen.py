"""Seeded numpy input generators for the benchmark.

Every input the program sees is a pure function of ``(kind, seed)``: the
same seed writes byte-identical parquet files. Run as a script it writes
one workload's inputs into a directory; the benchmark runs it in a child
process so that the generator's arrays never count toward the driver's
peak RSS.

    python3 perfbench/gen.py --kind uniform --seed 3 \
        --size '{"rows": 1000000, "nbins": 32, "files": 8}' --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np

#: physical detector ranges of the reference benchmark (X, Y, t, ADC)
UNIFORM_RANGES = {
    "X": (0.0, 2048.0),
    "Y": (0.0, 2048.0),
    "t": (60000.0, 120000.0),
    "ADC": (2000.0, 20000.0),
}
#: width of the reference's bin-edge snapping band in scaled-index units;
#: a value closer than this to a bin edge has two defensible bin indices
SNAP_BAND = 1e-9


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, named stream), so adding a stream
    never shifts the draws of another."""
    key = [int(seed)] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


# ---------------------------------------------------------------------------
# bin semantics, re-derived from the reference kernel
# ---------------------------------------------------------------------------

def shifted_range(lo: float, hi: float, nbins: int) -> tuple[float, float]:
    """Edge range for an integer bin count: the given range names the first
    and last bin CENTERS, so edges sit half a bin lower."""
    half = (hi - lo) / nbins / 2
    return lo - half, hi - half


def scaled_index(values: np.ndarray, lo: float, hi: float, nbins: int) -> np.ndarray:
    elo, ehi = shifted_range(lo, hi, nbins)
    return (values - elo) * (1.0 / ((ehi - elo) / nbins))


def reference_histogram(
    columns: list[np.ndarray],
    ranges: list[tuple[float, float]],
    nbins: list[int],
) -> np.ndarray:
    """N-D count histogram with the reference kernel's rules: index is
    ``floor(round(j, 11))``, the last edge is inclusive and values outside
    the edge range are dropped. Returned as float32, the engine's dtype."""
    valid = np.ones(len(columns[0]), dtype=bool)
    flat = np.zeros(len(columns[0]), dtype=np.int64)
    for v, (lo, hi), nb in zip(columns, ranges, nbins):
        j = np.around(scaled_index(v, lo, hi, nb), 11)
        valid &= (j >= 0) & (j <= nb + 1e-11) & ~np.isnan(v)
        idx = np.minimum(np.floor(np.nan_to_num(j)).astype(np.int64), nb - 1)
        flat = flat * nb + idx
    counts = np.bincount(flat[valid], minlength=int(np.prod(nbins)))
    return counts.astype(np.float32).reshape(nbins)


def off_edges(
    values: np.ndarray, lo: float, hi: float, nbins: int,
) -> np.ndarray:
    """Move values that fall inside the edge-snapping band to their bin's
    center, so the reference histogram is unambiguous."""
    elo, ehi = shifted_range(lo, hi, nbins)
    width = (ehi - elo) / nbins
    j = scaled_index(values, lo, hi, nbins)
    near = np.abs(j - np.rint(j)) < SNAP_BAND
    if near.any():
        values = values.copy()
        values[near] = elo + (np.floor(j[near]) + 0.5) * width
    return values


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------

def uniform_events(seed: int, rows: int) -> dict[str, np.ndarray]:
    """Uniform X, Y, t, ADC over the detector ranges (reference
    ``benchmarks/benchmark_sed.py``)."""
    rng = rng_for(seed, "uniform")
    return {
        c: rng.uniform(lo, hi, rows) for c, (lo, hi) in UNIFORM_RANGES.items()
    }


#: time-of-flight peak centers and widths of the photoemission-like table
TOF_PEAKS = ((70000.0, 1500.0), (82000.0, 900.0), (95000.0, 2500.0))
#: delay-stage scan: one triangle sweep of the ADC range per period
STAGE_PERIOD_S = 40.0


def stage_adc(ts: np.ndarray) -> np.ndarray:
    """Delay-stage ADC reading at time ``ts`` (seconds): a triangle sweep."""
    lo, hi = UNIFORM_RANGES["ADC"]
    phase = np.mod(ts, STAGE_PERIOD_S) / STAGE_PERIOD_S
    return lo + (hi - lo) * (1.0 - np.abs(2.0 * phase - 1.0))


def peaked_events(seed: int, rows: int, seconds: float) -> dict[str, np.ndarray]:
    """Photoemission-like events: a ring in X/Y, Gaussian peaks in t over a
    flat background, monotone ``timeStamp`` in seconds and the delay
    stage's ADC at that time."""
    rng = rng_for(seed, "peaked")
    ang = rng.uniform(0.0, 2 * np.pi, rows)
    rad = rng.normal(600.0, 60.0, rows)
    x = 1024.0 + rad * np.cos(ang)
    y = 1024.0 + rad * np.sin(ang)
    peak = rng.integers(0, len(TOF_PEAKS) + 1, rows)  # last = background
    t = rng.uniform(*UNIFORM_RANGES["t"], rows)
    for k, (mu, sd) in enumerate(TOF_PEAKS):
        sel = peak == k
        t[sel] = rng.normal(mu, sd, int(sel.sum()))
    ts = np.sort(rng.uniform(0.0, seconds, rows))
    return {
        "X": x, "Y": y, "t": t, "ADC": stage_adc(ts), "timeStamp": ts,
    }


def timed_table(seconds: float) -> dict[str, np.ndarray]:
    """One row per millisecond of acquisition: time stamp and stage ADC."""
    ts = np.arange(int(round(seconds * 1000))) / 1000.0
    return {"timeStamp": ts, "ADC": stage_adc(ts)}


def deformation_field(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Smooth forward deformation field (identity plus a seeded ripple) on an
    ``n x n`` grid, in grid-index units."""
    rng = rng_for(seed, "dfield")
    amp = rng.uniform(3.0, 6.0, 2)
    per = rng.uniform(250.0, 400.0, 2) * n / 2048.0
    g = np.arange(n, dtype=np.float64)
    gr, gc = np.meshgrid(g, g, indexing="ij")
    return gr + amp[0] * np.sin(gc / per[0]), gc + amp[1] * np.sin(gr / per[1])


#: the suite's vocabulary: 30 words, drawn uniformly
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def documents(seed: int, docs: int) -> dict:
    """The suite's ``documents`` table, drawn with the shape measured on its
    sf0.1 instance (5000 rows): 10-100 words per text, uniform, from the
    30-word vocabulary (median 54 words, 295 characters); ``lang`` en 41%,
    the other four 14-15% each; ``source`` ``src{doc_id % 20}``; 5% of the
    texts replaced, in turn, by another row's text plus `` dup`` (250 rows,
    4 of them chained twice or more). Exact copies are not planted: they
    arise where two near duplicates share a base (8 in the measured table,
    about ``(docs/20)^2 / (2 docs)`` expected)."""
    rng = rng_for(seed, "documents")
    texts = [" ".join(rng.choice(_WORDS, k)) for k in rng.integers(10, 101, docs)]
    for i in rng.choice(docs, docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, docs))] + " dup"
    return {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(_LANGS, docs, p=_LANG_P)),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


# ---------------------------------------------------------------------------
# writers
# ---------------------------------------------------------------------------

def write_parquet(columns: dict, path: str, parts: int = 1) -> list[str]:
    """Write ``columns`` as ``parts`` row-contiguous parquet files (one file
    when ``parts == 1`` and ``path`` ends in ``.parquet``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(columns)
    if parts == 1 and path.endswith(".parquet"):
        pq.write_table(table, path)
        return [path]
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    files = []
    for p in range(parts):
        f = os.path.join(path, f"part_{p:03d}.parquet")
        pq.write_table(table.slice(n * p // parts, n * (p + 1) // parts - n * p // parts), f)
        files.append(f)
    return files


def generate(kind: str, seed: int, out: str, size: dict) -> dict:
    """Write one workload's inputs under ``out``; returns a manifest of the
    files and any reference arrays written beside them."""
    os.makedirs(out, exist_ok=True)
    manifest: dict = {"kind": kind, "seed": seed, "size": size}
    if kind == "uniform":
        cols = uniform_events(seed, size["rows"])
        nb = size["nbins"]
        for c, (lo, hi) in UNIFORM_RANGES.items():
            cols[c] = off_edges(cols[c], lo, hi, nb)
        ref = reference_histogram(
            list(cols.values()), list(UNIFORM_RANGES.values()), [nb] * 4,
        )
        np.save(os.path.join(out, "reference.npy"), ref)
        manifest["reference"] = os.path.join(out, "reference.npy")
        manifest["files"] = write_parquet(cols, os.path.join(out, "events"), size["files"])
    elif kind == "peaked":
        cols = peaked_events(seed, size["rows"], size["seconds"])
        manifest["files"] = write_parquet(cols, os.path.join(out, "events"), size["files"])
        manifest["timed"] = write_parquet(
            timed_table(size["seconds"]), os.path.join(out, "timed.parquet"),
        )[0]
        rdef, cdef = deformation_field(seed, size["dfield"])
        np.save(os.path.join(out, "rdef.npy"), rdef)
        np.save(os.path.join(out, "cdef.npy"), cdef)
        manifest["rdef"] = os.path.join(out, "rdef.npy")
        manifest["cdef"] = os.path.join(out, "cdef.npy")
    elif kind == "documents":
        cols = documents(seed, size["docs"])
        write_parquet(cols, os.path.join(out, "documents.parquet"))
        manifest["dir"] = out
        manifest["distinct_texts"] = len(set(cols["text"]))
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", required=True, choices=("uniform", "peaked", "documents"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", required=True, help="JSON object of size parameters")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.kind, args.seed, args.out, json.loads(args.size))


if __name__ == "__main__":
    main()
