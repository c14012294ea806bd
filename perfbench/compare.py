"""Compare two sets of run records by metric medians.

    python3 perfbench/compare.py base1.json base2.json -- new1.json new2.json
    python3 perfbench/compare.py base.json new.json

Records are the files a run writes to ``.perfbench/records/``. Records
taken on another machine shape are refused: the two sides must agree on
workload, nproc, default parallelism and the Spark and Java versions.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

#: record fields that must match for a comparison to mean anything
SAME = ("workload", "nproc", "default_parallelism", "spark_version",
        "java_version", "trace")


def load(paths: list[str]) -> list[dict]:
    return [json.loads(Path(p).read_text()) for p in paths]


def figures(record: dict) -> dict[str, float]:
    """Every number a record carries: gated, reported and per-layer."""
    out = {**record["info"], **record["metrics"], **record["layers"]}
    return {k: v for k, v in out.items() if isinstance(v, (int, float))}


def medians(records: list[dict]) -> dict[str, float]:
    per = [figures(r) for r in records]
    keys = {k for f in per for k in f}
    return {k: statistics.median(f[k] for f in per if k in f)
            for k in sorted(keys)}


def main(argv: list[str]) -> int:
    if "--" in argv:
        i = argv.index("--")
        base, new = load(argv[:i]), load(argv[i + 1:])
    elif len(argv) == 2:
        base, new = load(argv[:1]), load(argv[1:])
    else:
        print(__doc__, file=sys.stderr)
        return 2
    for field in SAME:
        seen = {json.dumps(r.get(field)) for r in base + new}
        if len(seen) > 1:
            print(f"refused: records differ in {field}: {sorted(seen)}",
                  file=sys.stderr)
            return 3
    mb, mn = medians(base), medians(new)
    for k in sorted(set(mb) & set(mn)):
        ratio = mn[k] / mb[k] if mb[k] else float("nan")
        print(f"{k:24s} {mb[k]:12.4f} -> {mn[k]:12.4f}  x{ratio:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
