"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. The checker accepts a reordered copy of a pinned table and float noise
   inside the tolerance, and rejects planted wrong results: a changed value,
   a dropped row, a renamed column.
2. ``BENCHMARK.json`` lists exactly the metrics ``run.py`` reports.
3. Every workload runs at sf0.001, untraced and traced, and prints every
   metric by name with its unit, all outputs correct.

Exits 0 when every check passes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import mismatch  # noqa: E402
from run import END_TO_END, PER_LAYER, ROOT  # noqa: E402
from workloads import WORKLOADS, reference  # noqa: E402


def check_checker() -> list[str]:
    errors = []
    cols, rows = reference("sf0.1")["dashboard.top_suppliers"]
    want = (cols, rows)
    q = cols.index("qty_sum")

    def planted(i, v):
        bad = list(rows)
        bad[i] = bad[i][:q] + (v,) + bad[i][q + 1:]
        return (cols, bad)

    accepted = {
        "reordered rows": (cols, list(reversed(rows))),
        "float noise": planted(3, rows[3][q] * (1 + 1e-12)),
    }
    rejected = {
        "changed value": planted(3, rows[3][q] + 1.0),
        "dropped row": (cols, rows[1:]),
        "renamed column": (tuple("x" if c == "qty_sum" else c for c in cols), rows),
    }
    for name, got in accepted.items():
        if mismatch(got, want) is not None:
            errors.append(f"checker rejected a correct result ({name})")
    for name, got in rejected.items():
        if mismatch(got, want) is None:
            errors.append(f"checker accepted a planted wrong result ({name})")
    return errors


def check_benchmark_json() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    if {w["name"] for w in bench["workloads"]} != set(WORKLOADS):
        errors.append("BENCHMARK.json workloads differ from workloads.WORKLOADS")
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = [(m["name"], m["unit"], m["better"]) for m in bench[key]]
        if listed != list(ours):
            errors.append(f"BENCHMARK.json {key} differs from run.py")
    return errors


def check_runs() -> list[str]:
    errors = []
    for wl in WORKLOADS:
        for trace, metrics in ((0, END_TO_END), (1, PER_LAYER)):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "7", "--seconds", "3", "--trace", str(trace), "--scale", "sf0.001"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            tag = f"{wl} trace={trace}"
            before = len(errors)
            if p.returncode != 0:
                errors.append(f"{tag}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                errors.append(f"{tag}: correct={result['correct']} attempted={result['attempted']} "
                              f"failed={result['failed']}")
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            if got != {n: u for n, u, _ in metrics}:
                errors.append(f"{tag}: metrics {got}")
            printed = {f[0]: f[2] for f in map(str.split, lines[:-1]) if len(f) == 3}
            for n, u, _ in metrics:
                if printed.get(n) != u:
                    errors.append(f"{tag}: no line '{n} <value> {u}'")
            if len(errors) == before:
                print(f"ok {tag}: {result['attempted']} ops", flush=True)
    return errors


def main() -> int:
    errors = check_checker() + check_benchmark_json()
    if not errors:
        errors = check_runs()
    for e in errors:
        print(f"FAIL {e}")
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
