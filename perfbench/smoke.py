"""Smoke test of the benchmark (sf0.001 base, one-second runs).

    python3 perfbench/smoke.py

Checks that

* two seeds generate different inputs;
* an untraced run of each workload passes its output checks and
  prints every end-to-end metric of ``BENCHMARK.json`` with its unit;
* a traced run of each workload, on the other seed, passes its output
  checks and prints every per-layer metric with its unit, with the plan
  memo cold on ``churn_daily`` and warm on ``analyst_session``;
* in a directory holding only ``BENCHMARK.json`` and the benchmark, the
  command fails without printing a result.

Exits 0 when every check holds. Not collected by pytest (it starts
several Spark processes); run it by hand after changing the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS = (1, 2)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        command = json.load(fh)["command"]
    return subprocess.run(
        [*command, *args], cwd=cwd, capture_output=True, text=True,
        timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import inputs

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    state = os.path.join(ROOT, ".perfbench")
    os.makedirs(state, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="smoke-", dir=state)
    failures: list[str] = []
    try:
        prints = [
            inputs.fingerprint(
                inputs.make_snapshot(os.path.join(scratch, f"s{seed}"), seed)
            )
            for seed in SEEDS
        ]
        if prints[0] == prints[1]:
            failures.append("two seeds generated identical inputs")

        for w in spec["workloads"]:
            for seed, trace, names in (
                (SEEDS[0], "0", spec["end_to_end"]),
                (SEEDS[1], "1", spec["per_layer"]),
            ):
                label = f"{w['name']} seed {seed} trace {trace}"
                try:
                    res = _result(_run(
                        ROOT, "--workload", w["name"], "--seed", str(seed),
                        "--seconds", "1", "--trace", trace,
                    ))
                except (AssertionError, ValueError) as exc:
                    failures.append(f"{label}: {exc}")
                    continue
                if not res["correct"] or res["failed"]:
                    failures.append(f"{label}: output checks failed")
                for m in names:
                    got = res["metrics"].get(m["name"])
                    if got is None or got.get("unit") != m["unit"]:
                        failures.append(f"{label}: {m['name']} missing")
                if trace == "1":
                    hits = res["metrics"]["plans.memo_hits"]["value"]
                    warm = w["name"] == "analyst_session"
                    if (hits > 0) != warm:
                        failures.append(f"{label}: plans.memo_hits {hits}")

        bare = os.path.join(scratch, "bare")
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, "--workload", spec["workloads"][0]["name"],
                    "--seed", "1", "--seconds", "1", "--trace", "0")
        if proc.returncode == 0 or proc.stdout.strip():
            failures.append("ran without the engine")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    print("smoke:", "ok" if not failures else f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
