"""Self-check of the benchmark itself.

    python3 perfbench/selfcheck.py

Runs every workload in BENCHMARK.json once untraced and once traced, fast
(tables at sf0.001, one-second runs), and checks that:

- the last stdout line has exactly the keys ``correct``, ``attempted``,
  ``failed`` and ``metrics``, with every output verified correct;
- the untraced run emits every end-to-end metric and the traced run every
  per-layer metric of BENCHMARK.json, each with its unit and a finite
  value (end-to-end values also above zero);
- the traced and untraced runs measure the same end-to-end metric names;
- without the package next to it, the benchmark exits non-zero and prints
  no result.

Exits 1 and lists the problems if any check fails.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _check_metrics(where: str, metrics: dict, want: dict[str, str], positive: bool) -> list[str]:
    problems = []
    if set(metrics) != set(want):
        problems.append(f"{where}: metrics {sorted(set(metrics) ^ set(want))} differ from BENCHMARK.json")
    for name, unit in want.items():
        got = metrics.get(name)
        if got is None:
            continue
        if got.get("unit") != unit:
            problems.append(f"{where}: {name} unit {got.get('unit')!r}, want {unit!r}")
        value = got.get("value")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            problems.append(f"{where}: {name} value {value!r} is not a finite number")
        elif positive and value <= 0:
            problems.append(f"{where}: {name} value {value!r} is not above zero")
    return problems


def check_workload(workload: str, e2e: dict[str, str], layers: dict[str, str]) -> list[str]:
    problems = []
    details = {}
    for trace, want in ((0, e2e), (1, layers)):
        where = f"{workload} --trace {trace}"
        proc = _run(ROOT, workload, trace)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            return problems + [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
        result = json.loads(lines[-1])
        if set(result) != RESULT_KEYS:
            problems.append(f"{where}: result keys {sorted(result)}")
        if not result.get("correct") or result.get("failed") != 0 or result.get("attempted", 0) < 1:
            problems.append(f"{where}: correct={result.get('correct')} failed={result.get('failed')} "
                            f"attempted={result.get('attempted')}")
        problems += _check_metrics(where, result.get("metrics", {}), want, positive=trace == 0)
        detail = [ln for ln in lines if ln.startswith("perfbench-detail ")]
        details[trace] = json.loads(detail[-1].split(" ", 1)[1]) if detail else {}
    names = [set(details[t].get("end_to_end", {})) for t in (0, 1)]
    if names[0] != names[1] or names[0] != set(e2e):
        problems.append(f"{workload}: end-to-end names differ between traced and untraced runs")
    return problems


def check_bare_checkout() -> list[str]:
    """A directory with only BENCHMARK.json and the benchmark must fail."""
    bare = ROOT / ".perfbench_work" / "selfcheck-bare"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(BENCH_DIR, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        proc = _run(bare, "python_seam", 0)
        if proc.returncode == 0 or proc.stdout.strip():
            return [f"bare checkout: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}"]
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            bare.parent.rmdir()
        except OSError:
            pass


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = check_bare_checkout()
    for w in spec["workloads"]:
        found = check_workload(w["name"], e2e, layers)
        print(f"{w['name']}: {'ok' if not found else f'{len(found)} problem(s)'}", flush=True)
        problems += found
    for p in problems:
        print(p, file=sys.stderr)
    print("selfcheck: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
