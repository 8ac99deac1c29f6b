#!/usr/bin/env python3
"""Rebuild the per-layer table of each workload from its traced side file
and report the tracing overhead.

    python3 perfbench/report.py            # every workload with a traced side file
    python3 perfbench/report.py dwh_batch  # one workload

Reads the newest `.bench_build/traces/<workload>-seed<n>-trace1.json` of
each workload (written by a `--trace 1` run) and the untraced results in
`.bench_build/results.jsonl`.
The overhead is the traced op median minus the median `op_s` of the
untraced runs of the same workload, seed and build (the digest of the
compiled sources), so runs of other code or inputs do not count.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
from run import CURATION_QUERIES  # noqa: E402

BUILD = os.path.join(os.getcwd(), ".bench_build")


def untraced_op_s(workload, seed, build):
    path = os.path.join(BUILD, "results.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r["metrics"]["op_s"]["value"] for r in rows
            if r["workload"] == workload and r["trace"] == 0 and r["correct"]
            and r.get("seed") == seed and r.get("build") == build]


def table(side_file):
    with open(side_file) as f:
        raw = json.load(f)
    attempted, failed = metrics.counts(raw, raw.get("extra_checks", []))
    values = metrics.per_layer(raw, CURATION_QUERIES, raw.get("log_error_lines", 0),
                               attempted, failed)
    return raw, values


def latest_side_files():
    """The newest traced side file of each workload."""
    newest = {}
    for side in sorted(glob.glob(os.path.join(BUILD, "traces", "*-trace1.json")),
                       key=os.path.getmtime):
        newest[os.path.basename(side).split("-seed")[0]] = side
    return newest


def main(argv):
    for workload, side in sorted(latest_side_files().items()):
        if argv and workload not in argv:
            continue
        raw, values = table(side)
        print(f"### {workload} ({os.path.basename(side)}, {raw['cores']} cores)\n")
        print("| metric | value | unit |\n|---|---|---|")
        for name, v in values.items():
            if v["value"]:
                print(f"| `{name}` | {v['value']:.4g} | {v['unit']} |")
        zero = [name for name, v in values.items() if not v["value"]]
        print(f"\nzero on this workload: {', '.join(zero)}")
        plain = untraced_op_s(workload, raw.get("seed"), raw.get("build"))
        if plain:
            base = statistics.median(plain)
            over = values["trace.op_s"]["value"] - base
            print(f"\ntracing overhead: traced op median {values['trace.op_s']['value']:.3f} s "
                  f"- untraced op_s median {base:.3f} s over {len(plain)} runs = {over:+.3f} s "
                  f"({over / base:+.1%})\n")
        else:
            print("\ntracing overhead: no untraced run of the same seed and build recorded yet\n")


if __name__ == "__main__":
    main(sys.argv[1:])
