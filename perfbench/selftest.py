"""Proves the benchmark's checks are not vacuous.

    python3 perfbench/selftest.py

Run from the root of a checkout. For every workload, at the small size and
each of SEEDS, one fresh `run.py` process runs one timed group; its outputs
must pass their checks and every negative case (checks.NEGATIVE_CASES: a
dropped graph row, a bumped support, a dropped response, a dropped dedup
pair) must fail them. One traced run per workload must report every
per-layer metric, and must have computed, not defaulted to 0, each field of
every layer the workload exercises and each of its counts, with work
recorded for each of those layers. Last, run.py must fail without a result
in a directory holding only the benchmark's files. Exits non-zero on any
failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
RUN = os.path.join("perfbench", "run.py")
# the default seed and one other
SEEDS = (1, 7)
EXERCISED = {
    "kg_job": [
        "materialize.run_extraction_resumable",
        "linking.mention_state",
        "linking.link_entities",
        "linking.verify_cc",
        "linking.canonicalize",
        "materialize.write_triple_table",
        "graph.graph_stats",
        "incremental.fold_batch_into_kg",
        "linking.link_entities_increment",
    ],
    "serve_requests": ["serving.score_requests"],
    "near_dup": [
        "dedup.ngram_jaccard_pairs",
        "dedup.winnow_near_dup_pairs",
        "dedup.minhash_verified_pairs",
    ],
}
# per-layer counts each workload must compute, besides its layers' fields
COUNTS = {
    "kg_job": [
        "linking.cc_jobs",
        "linking.mentions",
        "linking.components",
        "linking.largest_component_share",
        "incremental.changed_mentions",
        "incremental.changed_share",
    ],
    "serve_requests": ["serving.jobs_per_call", "serving.tasks_per_call", "serving.create_df_ms"],
    "near_dup": [
        f"dedup.{op}.{f}"
        for op in ("ngram_jaccard_pairs", "winnow_near_dup_pairs", "minhash_verified_pairs")
        for f in ("pairs_out", "pairs_per_shuffle_record")
    ],
}
BENCH_COUNTS = ["bench.verify_s", "bench.trace_overhead_s", "bench.peak_rss_mb"]


def run(workload: str, seed: int, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", "0"]
    proc = subprocess.run(
        cmd + ["--size", "small", *extra], cwd=cwd, capture_output=True, text=True, timeout=900
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc.returncode, None


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.trace import FIELDS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = {m["name"] for m in json.load(f)["per_layer"]}
    failures = []

    for workload, layers in EXERCISED.items():
        for seed in SEEDS:
            rc, res = run(workload, seed, "--trace", "0", "--selftest")
            ok = rc == 0 and res is not None and res["correct"] and res["failed"] == 0
            negatives = (res or {}).get("negative", {})
            caught = bool(negatives) and all(negatives.values())
            print(f"{workload} seed={seed}: correct={ok} negative cases caught={negatives}")
            if not ok or not caught:
                failures.append(f"{workload} seed={seed}")
        rc, res = run(workload, SEEDS[0], "--trace", "1", "--selftest")
        metrics = (res or {}).get("metrics", {})
        missing = per_layer - set(metrics)
        expected = {f"{name}.{f}" for name in layers for f, _unit in FIELDS}
        expected |= set(COUNTS[workload] + BENCH_COUNTS)
        defaulted = sorted(expected & set((res or {}).get("defaulted", expected)))
        idle = [name for name in layers if not metrics.get(f"{name}.tasks", {}).get("value")]
        print(
            f"{workload} traced: {len(metrics)} metrics, missing={sorted(missing)},"
            f" not computed={defaulted}, idle layers={idle}"
        )
        if rc != 0 or missing or defaulted or idle or not res["correct"]:
            failures.append(f"{workload} traced")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        os.path.join(bare, "perfbench"),
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res = run("kg_job", SEEDS[0], "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    print(f"benchmark files alone: exit={rc} result={res}")
    if rc == 0 or res is not None:
        failures.append("bare directory")

    print("FAILED: " + ", ".join(failures) if failures else "ALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
