"""Self-test of the benchmark at the tiny input size.

    python3 perfbench/selftest.py [workload ...]

For every workload of BENCHMARK.json it checks that
* every metric named in BENCHMARK.json is printed, with its unit, both
  in the ``metric`` lines and in the final JSON (end-to-end metrics with
  ``--trace 0``, per-layer metrics with ``--trace 1``), and that all
  correctness checks pass;
* counts repeat exactly across two processes with the same seed:
  ``write_amp`` untraced, and the per-layer row/byte counts and
  ``spark.tasks`` traced (both traced processes make the same fixed
  number of runs);
* another seed changes the committed inputs but not the metric names.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT_COUNTS = [
    "tables.bytes_written", "tables.files_written", "upsert.rows_in", "upsert.rows_out",
    "spatial_join.candidate_pairs", "spatial_join.hits", "validator.rows_in",
    "validator.errors", "tiles.rows", "images_ops.rows", "spark.tasks",
]


def bench(workload: str, seed: int, trace: int) -> tuple[dict, dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--size", "tiny", "--runs", "4"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    printed = {}
    inputs = ""
    for line in lines[:-1]:
        parts = line.split()
        if parts[:1] == ["metric"]:
            assert len(parts) >= 4, f"metric line without a unit: {line!r}"
            printed[parts[1]] = parts[3]
        elif parts[:2] == ["#", "inputs"]:
            inputs = line
    return result, printed, inputs


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for wl in argv or [w["name"] for w in spec["workloads"]]:
        runs = {}
        for seed, trace in ((1, 0), (1, 0), (2, 0), (1, 1), (1, 1)):
            runs.setdefault((seed, trace), []).append(bench(wl, seed, trace))
        for (seed, trace), results in runs.items():
            for result, printed, _ in results:
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                if got != declared[trace]:
                    problems.append(f"{wl} trace={trace}: JSON metrics {got} != {declared[trace]}")
                missing = {k for k in declared[trace] if printed.get(k) != declared[trace][k]}
                if missing:
                    problems.append(f"{wl} trace={trace}: metric lines missing {sorted(missing)}")
                if not result["correct"] or result["failed"]:
                    problems.append(f"{wl} seed={seed} trace={trace}: {result}")
        (a, _, in_a), (b, _, in_b) = runs[(1, 0)]
        (c, _, in_c), = runs[(2, 0)]
        if a["metrics"]["write_amp"] != b["metrics"]["write_amp"]:
            problems.append(f"{wl}: write_amp differs for the same seed")
        if not in_a or in_a != in_b:
            problems.append(f"{wl}: same seed gave other inputs: {in_a!r} {in_b!r}")
        if in_c == in_a:
            problems.append(f"{wl}: another seed gave the same inputs")
        if set(c["metrics"]) != set(a["metrics"]):
            problems.append(f"{wl}: another seed changed the metric names")
        (t1, _, _), (t2, _, _) = runs[(1, 1)]
        for k in EXACT_COUNTS:
            v1, v2 = t1["metrics"][k]["value"], t2["metrics"][k]["value"]
            if v1 != v2:
                problems.append(f"{wl}: {k} differs for the same seed: {v1} != {v2}")
        print(f"{wl}: {'ok' if not problems else 'problems so far: ' + str(len(problems))}",
              flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
