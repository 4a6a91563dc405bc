"""Fast self-test of the benchmark on the sf0.001 fixtures, one key per workload.

    python3 perfbench/selftest.py

It runs one traced set-up and the timed passes of three keys and checks
that:

1. every metric name in BENCHMARK.json is emitted with its unit;
2. the per-key job ids of each pass add up to the jobs the pass
   launched, with none missing from the status store;
3. a deliberately wrong expected digest is counted as a failure;
4. in a directory holding only BENCHMARK.json and the benchmark, run.py
   exits non-zero without printing a result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

KEYS = {"warehouse": "tpch_q6", "curation": "udf_grouped_map", "maintenance": "sink_parquet"}
WRONG = "sink_parquet"


def _check_names(emitted: dict, declared: list[dict], kind: str) -> list[str]:
    problems = []
    for m in declared:
        got = emitted.get(m["name"])
        if got is None:
            problems.append(f"{kind} metric {m['name']} not emitted")
        elif got[1] != m["unit"]:
            problems.append(f"{kind} metric {m['name']} unit {got[1]} != {m['unit']}")
    extra = set(emitted) - {m["name"] for m in declared}
    if extra:
        problems.append(f"{kind} metrics not in BENCHMARK.json: {sorted(extra)}")
    return problems


def _check_jobs(bench: run.Bench) -> list[str]:
    problems = []
    for p in bench.passes:
        (j0, _), (j1, _) = p["mark"]
        ids = sorted(i for k in p["keys"] for i in k["spark"].job_ids)
        missing = [i for k in p["keys"] for i in k["spark"].missing_jobs]
        if ids != list(range(j0, j1)) or missing:
            problems.append(f"pass jobs {j0}..{j1} attributed {ids}, missing {missing}")
    return problems


def _check_bare_dir() -> list[str]:
    bare = os.path.join(run.RUN_DIR, f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(".run", "__pycache__"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "warehouse", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare,
            capture_output=True,
            text=True,
            timeout=170,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory run exited {proc.returncode} with stdout {proc.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    os.makedirs(run.RUN_DIR, exist_ok=True)
    problems = _check_bare_dir()

    keys = list(KEYS.values())
    bench = run.Bench(
        "warehouse",
        seed=0,
        seconds=0,
        trace=True,
        fixture="sf0.001",
        keys=keys,
        expected_override={WRONG: (0, "0" * 64)},
    )
    bench.run()

    reached = {bench.layers[k] for k in keys}
    problems += _check_names(bench.end_to_end(), declared["end_to_end"], "end-to-end")
    problems += _check_names(bench.per_layer(), declared["per_layer"], "per-layer")
    problems += _check_jobs(bench)
    layer = bench.per_layer()
    problems += [f"layer {lay} reached but has no jobs" for lay in reached if not layer[f"{lay}.jobs"][0]]

    attempted, failed, bad = bench.attempted_failed()
    want_failed = len(bench.passes)
    if attempted != len(keys) * len(bench.passes) or failed != want_failed:
        problems.append(f"attempted {attempted}, failed {failed}; expected {want_failed} failures: {bad}")
    if not all(b.startswith(f"{WRONG}:") for b in bad):
        problems.append(f"unexpected failures: {bad}")

    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
