"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at ``--size tiny`` and
checks that each run emits every named metric. Two of the untraced runs
carry a planted wrong output, a corrupted query result and a duplicated
warehouse key; each must be counted in ``failed_ops``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

from run import (  # noqa: E402
    END_TO_END, PER_LAYER, SQL_ANALYTICS, TEXT_DEDUP, WORKLOADS,
)

_ETL_REPORTED = ("migrate_s", "daily_update_s", "docs_per_s", "datagen_s",
                 "peak_rss_mb")
_ETL_TRACED = ("mongoql.apply_pipeline_s", "pipeline.warehouse.write_s",
               "pipeline.migrate.users_s", "pipeline.daily.mlscore_s")
#: printed besides the result line's metrics
REPORTED = {"etl_pipeline": _ETL_REPORTED, "etl_unique_keys": _ETL_REPORTED,
            "sql_analytics": ("peak_rss_mb", "check_s"),
            "text_dedup": ("peak_rss_mb", "check_s")}
TRACED = {
    "etl_pipeline": _ETL_TRACED, "etl_unique_keys": _ETL_TRACED,
    "sql_analytics": tuple(f"q.{q}.{k}_s" for q in SQL_ANALYTICS
                           for k in ("build", "exec")),
    "text_dedup": tuple(f"q.{q}.{k}_s" for q in TEXT_DEDUP
                        for k in ("build", "exec")),
}
INJECT = {"sql_analytics": "corrupt-query", "etl_pipeline": "dup-key"}


def run(workload: str, trace: int, inject: str | None
        ) -> tuple[dict, set, set]:
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, cwd=BENCH.parent, capture_output=True,
                       text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}:\n"
                             f"{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    printed = {ln.split()[1] for ln in lines if ln.startswith("metric ")}
    failed = {ln.split()[1].rstrip(":") for ln in lines
              if ln.startswith("failed ")}
    return result, printed, failed


def spec_problems() -> list[str]:
    """BENCHMARK.json must name exactly the metrics run.py reports."""
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    out = []
    for key, names in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in spec[key]}
        if listed != names:
            out.append(f"BENCHMARK.json {key} differs from run.py: "
                       f"{sorted(set(listed.items()) ^ set(names.items()))}")
    return out


def main() -> int:
    problems = spec_problems()
    for workload in WORKLOADS:
        for trace in (0, 1):
            inject = INJECT.get(workload) if trace == 0 else None
            result, printed, failed = run(workload, trace, inject)
            names = PER_LAYER if trace else END_TO_END
            want = set(names) | set(REPORTED.get(workload, ()))
            if trace:
                want |= set(TRACED[workload])
            missing = sorted(set(names) - set(result["metrics"]))
            missing += sorted(want - printed)
            if missing:
                problems.append(f"{workload} trace={trace}: missing "
                                f"{missing}")
            for k, v in result["metrics"].items():
                if v["unit"] != names[k]:
                    problems.append(f"{workload}: {k} unit {v['unit']}")
            if "failed_ops" not in printed:
                problems.append(f"{workload}: failed_ops not printed")
            # loanapplications' duplicate merge key may fail on its own;
            # etl_unique_keys leaves that entity out and must pass whole
            allowed = {"loanapplications"} if workload == "etl_pipeline" \
                else set()
            if inject == "dup-key" and "users" not in failed:
                problems.append("planted duplicate key not counted")
            if inject == "corrupt-query" and len(failed) != 1:
                problems.append("corrupted query result not counted")
            if not inject and not failed <= allowed:
                problems.append(f"{workload} trace={trace}: failed "
                                f"{sorted(failed)}")
            if result["failed"] != len(failed):
                problems.append(f"{workload}: failed={result['failed']} "
                                f"but {len(failed)} ops listed")
            print(f"{workload} trace={trace} inject={inject}: "
                  f"failed {result['failed']}/{result['attempted']}",
                  flush=True)
    for p in problems:
        print("PROBLEM", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
