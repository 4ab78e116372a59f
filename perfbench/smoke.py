#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json untraced and traced on tiny inputs
(a 1-year Garmin export, a 400-document skew corpus) and
asserts that the last stdout line is a result whose metrics are exactly
the BENCHMARK.json metrics, each with its declared unit, that every
operation passed its output check, and that a traced run measured the
layers its workload reaches. Exits 1 if any run fails.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# Per-layer metrics that must be non-zero in a traced run of the workload
# whose layers they measure.
REACHED = {
    "etl_garmin": ["sources.scan_s", "sources.files", "sources.input_records",
                   "datasets.build_s", "datasets.eager_jobs", "datasets.run_s",
                   "cli.write_s", "cli.verify_s", "cli.bytes_written",
                   "sinks.jdbc_load_s", "sinks.jdbc_rows", "sinks.jdbc_verify_s",
                   "plan.exchanges", "plan.scans", "exec.jobs", "exec.tasks"],
    "neardup_skew": ["operators.shingle_s", "operators.minhash_s",
                     "operators.candidates_s", "operators.verify_s",
                     "operators.components_s", "operators.candidate_pairs",
                     "operators.verified_pairs", "operators.max_bucket_ids",
                     "operators.components_jobs", "plan.build_s", "plan.exchanges",
                     "exec.s", "exec.shuffle_write_bytes", "cache.leftover_mb"],
}


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failures = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7",
                                     "--seconds", "1", "--trace", str(trace),
                                     "--size", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=300)
            lines = p.stdout.strip().splitlines()
            problems = []
            if p.returncode != 0 or not lines:
                problems.append(f"exit {p.returncode}: {p.stderr.strip()[-300:]}")
            else:
                r = json.loads(lines[-1])
                if set(r) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(r)}")
                if not r.get("correct") or r.get("failed") != 0 or r.get("attempted", 0) < 1:
                    problems.append("not every operation passed: "
                                    + "; ".join(lines[:-1])[-500:])
                got = {k: v.get("unit") for k, v in r.get("metrics", {}).items()}
                if got != want[trace]:
                    problems.append(f"metrics/units differ: missing "
                                    f"{sorted(set(want[trace]) - set(got))}, extra "
                                    f"{sorted(set(got) - set(want[trace]))}, units "
                                    f"{ {k: (got[k], u) for k, u in want[trace].items() if k in got and got[k] != u} }")
                bad = [k for k, v in r.get("metrics", {}).items()
                       if not isinstance(v.get("value"), (int, float))]
                if bad:
                    problems.append(f"non-numeric values {bad}")
                zero = [k for k in (REACHED.get(w["name"], []) if trace else [])
                        if not r["metrics"].get(k, {}).get("value")]
                if zero:
                    problems.append(f"layers not measured: {zero}")
            status = "FAIL" if problems else "ok"
            print(f"{status} {w['name']} trace={trace}" +
                  "".join(f"\n  {m}" for m in problems), flush=True)
            failures += bool(problems)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
