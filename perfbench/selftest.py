"""Self-test of the benchmark at tiny scale. From the root of a checkout:

    python3 perfbench/selftest.py

It passes when every workload runs once at tiny scale with all its checks
passing, every metric the workload names prints with its unit, a traced run
prints every per-layer metric, a deliberately wrong pinned digest is reported
as a failure, and the command fails without printing a result in a directory
that holds only the benchmark. Exits 0 on success, 1 otherwise.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import workloads  # noqa: E402


def _run(cwd: Path, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--scale", "tiny", "--seconds", "1", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.splitlines()


def _check_metrics(result: dict, units: dict[str, str]) -> list[str]:
    errors = []
    for name, unit in units.items():
        m = result["metrics"].get(name)
        if m is None:
            errors.append(f"metric {name} missing")
        elif m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            errors.append(f"metric {name} printed as {m}, want a number in {unit}")
    return errors


def main() -> int:
    root = Path.cwd()
    errors: list[str] = []

    for workload in workloads.WORKLOADS:
        rc, lines = _run(root, "--workload", workload, "--trace", "0")
        result = json.loads(lines[-1]) if rc == 0 and lines else None
        if result is None:
            errors.append(f"{workload}: exit {rc}, no result")
            continue
        units = run.LOUVAIN_UNITS if workload in workloads.LOUVAIN_WORKLOADS else run.ANALYTICS_UNITS
        errors += [f"{workload}: {e}" for e in _check_metrics(result, units)]
        if not result["correct"] or result["failed"] or result["attempted"] < 1:
            errors.append(f"{workload}: checks failed: {lines[-2]}")

    # A traced run with one pinned digest made wrong: every per-layer metric
    # prints, and the wrong pin is counted as a failed call.
    pins = json.loads((HERE / "pins.json").read_text())
    target = pins["planted-louvain"]["tiny"]["digests"]
    target["louvain.louvain"] += 1
    work = HERE / ".work" / "selftest"
    work.mkdir(parents=True, exist_ok=True)
    wrong = work / "wrong-pins.json"
    wrong.write_text(json.dumps(pins))
    rc, lines = _run(root, "--workload", "planted-louvain", "--trace", "1", "--pins", str(wrong))
    result = json.loads(lines[-1]) if rc == 0 and lines else None
    if result is None:
        errors.append(f"traced run: exit {rc}, no result")
    else:
        errors += [f"traced run: {e}" for e in _check_metrics(result, run.per_layer_units())]
        if result["correct"] or result["failed"] < 1:
            errors.append("traced run: a wrong pinned digest was not reported as a failure")

    # Only BENCHMARK.json and the benchmark's files: no program to measure.
    bare = work / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir()
    shutil.copy(root / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns(".work", ".cache"))
    proc = subprocess.run(
        [sys.executable, f"{HERE.name}/run.py", "--workload", "supplier-louvain", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=180,
    )
    if proc.returncode == 0 or proc.stdout.strip():
        errors.append(f"bare directory: exit {proc.returncode}, stdout {proc.stdout!r}")
    shutil.rmtree(bare, ignore_errors=True)

    for e in errors:
        print(f"FAIL {e}")
    print("selftest:", "FAIL" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
