"""Benchmark records: what one run measured and under which conditions.

Each run writes a record carrying the host's ``cpus``, the seed, the
workload's input ``size`` and the git commit beside its metrics. Records
are only merged or compared when they agree on workload, ``cpus``, ``size``
and trace mode; anything else raises :class:`RecordMismatch`, so figures
from different core counts or input sizes are never spliced together.

    python3 perfbench/record.py merge RECORD...
    python3 perfbench/record.py compare --base RECORD... --new RECORD...
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

#: fields two records must share before their metrics may be combined
GUARDED = ("workload", "cpus", "size", "trace")


class RecordMismatch(ValueError):
    """Records measured under different conditions."""


def git_commit(root: str) -> str:
    """HEAD commit of the git checkout at ``root``; ``unknown`` when ``root``
    is not one (the search stops at ``root``'s parent) or git is missing."""
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(os.path.abspath(root))}
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, env=env, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def make_record(result: dict, *, workload: str, seed: int, trace: int,
                cpus: int, size: dict, seconds: int, commit: str) -> dict:
    return {
        "workload": workload, "seed": seed, "trace": trace, "cpus": cpus,
        "size": size, "seconds": seconds, "commit": commit, **result,
    }


def check_comparable(records: list[dict]) -> None:
    """Raise :class:`RecordMismatch` unless every record shares the
    :data:`GUARDED` fields of the first."""
    if not records:
        raise RecordMismatch("no records")
    first = records[0]
    for r in records[1:]:
        for key in GUARDED:
            if r.get(key) != first.get(key):
                raise RecordMismatch(
                    f"{key} differs: {first.get(key)!r} vs {r.get(key)!r} "
                    f"(seeds {first.get('seed')} and {r.get('seed')}); "
                    "records from different conditions cannot be combined",
                )


def merge(records: list[dict]) -> dict:
    """Median and quartiles of every metric over runs of one condition."""
    check_comparable(records)
    names = sorted(set().union(*(r["metrics"] for r in records)))
    metrics = {}
    for name in names:
        vals = [r["metrics"][name]["value"] for r in records if name in r["metrics"]]
        q1, q2, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                      else (vals[0],) * 3)
        metrics[name] = {
            "median": statistics.median(vals), "q1": q1, "q3": q3,
            "n": len(vals), "unit": records[0]["metrics"].get(name, {}).get("unit"),
        }
    return {
        **{k: records[0].get(k) for k in GUARDED},
        "seeds": [r.get("seed") for r in records],
        "commits": sorted({r.get("commit") for r in records}),
        "correct": all(r.get("correct") for r in records),
        "metrics": metrics,
    }


def compare(base: list[dict], new: list[dict]) -> dict:
    """Per-metric median ratio new/base, for records of one condition."""
    check_comparable(base + new)
    a, b = merge(base), merge(new)
    return {
        name: {
            "base": a["metrics"][name]["median"],
            "new": b["metrics"][name]["median"],
            "ratio": (b["metrics"][name]["median"] / a["metrics"][name]["median"]
                      if a["metrics"][name]["median"] else None),
        }
        for name in a["metrics"] if name in b["metrics"]
    }


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="merge or compare benchmark records")
    sub = ap.add_subparsers(dest="cmd", required=True)
    m = sub.add_parser("merge")
    m.add_argument("records", nargs="+")
    c = sub.add_parser("compare")
    c.add_argument("--base", nargs="+", required=True)
    c.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    try:
        if args.cmd == "merge":
            out = merge(_load(args.records))
        else:
            out = compare(_load(args.base), _load(args.new))
    except RecordMismatch as exc:
        print(f"refused: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
