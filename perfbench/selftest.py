#!/usr/bin/env python3
"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

Run from the repository root. For every workload it runs the benchmark
at toy size (tables at scale 0.001, 2 CTE visits per target), untraced
and traced, and checks that the result line has exactly the contract's
keys, that every end-to-end (untraced) or per-layer (traced) metric of
BENCHMARK.json is printed with its unit, that every output check passed,
and that the report names the workload's own metrics. It then checks that
the benchmark fails cleanly, without a result line, in a directory that
holds only BENCHMARK.json and the benchmark's files.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# Report lines each workload must print (metrics that exist on it only).
REPORT = {
    "query_mix": {0: ["fail_frac="],
                  1: ["layer Statistical.busy_s", "layer GraphQueries.gr6_bfs_fixpoint_s",
                      "layer Dedup.busy_s", "layer Similarity.v12_pq_codes_s",
                      "self time by span kind", "overhead="]},
    "cte_lifecycle": {0: ["fail_frac=", "ingest_visit_p50_s=", "refresh_s=", "write_amp=",
                          "space_amp="],
                      1: ["layer CtePipeline.ingest.busy_s", "layer MergeWriter.upsert_s",
                          "layer CteAnalytics.slopes_s", "ingest_visit_growth=",
                          "layer CteAnalytics.coeffs_s", "layer CtePipeline.publish_s",
                          "layer PlotSink.plots_s", "self time by span kind", "overhead="]},
}


def run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "toy"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            p = run(ROOT, w, trace)
            lines = p.stdout.strip().splitlines()
            tag = f"{w} --trace {trace}"
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                problems.append(f"{tag}: correct={res.get('correct')} failed={res.get('failed')}")
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            if got != wanted[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(wanted[trace].items()))}")
            for k, v in res.get("metrics", {}).items():
                if not isinstance(v.get("value"), (int, float)):
                    problems.append(f"{tag}: {k} has no numeric value")
            report = "\n".join(lines[:-1])
            problems += [f"{tag}: report lacks '{s}'" for s in REPORT[w][trace] if s not in report]
            print(f"selftest: {tag}: {len(got)} metrics, attempted={res.get('attempted')}")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    p = run(bare, "query_mix", 0)
    if p.returncode == 0 or p.stdout.strip():
        problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    shutil.rmtree(bare, ignore_errors=True)

    for x in problems:
        print("selftest FAIL:", x)
    print("selftest:", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
