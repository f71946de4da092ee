#!/usr/bin/env python3
"""Per-pipeline job chains of a traced perfbench run.

Usage: python3 tools/trace_jobs.py perfbench/out/<workload>-seed<N>-trace1/trace.json

For every traced round (a round span with op spans under it) prints, per
op (pipeline or query), the op's end time and its jobs in start order:
start and wall seconds from the round's start, tasks, input rows and
shuffle MB (read + write). The last line of each round names the op that
ended last. Standard library only.
"""
import json
import sys


def main(path):
    trace = json.load(open(path))
    spans = trace["spans"]
    rounds = [s for s in spans if s["name"] == "round"]
    # an op's outer span is named "op" with no parent; its id is "<round>-<op>"
    ops = [s for s in spans if s["name"] == "op" and not s["parent"]]
    for rnd in rounds:
        t0 = rnd["start_ms"]
        mine = [o for o in ops if o["id"].startswith(rnd["id"] + "-")]
        if not mine:
            continue
        print(f"round {rnd['id']}: {(rnd['end_ms'] - t0) / 1000:.2f} s")
        for op in sorted(mine, key=lambda o: o["end_ms"]):
            name = op["id"][len(rnd["id"]) + 1:]
            groups = (f"graft-pipeline-{name}", f"perfbench-{op['id']}")
            jobs = sorted((j for j in trace["jobs"] if j["group"] in groups
                           and t0 <= j["start_ms"] <= rnd["end_ms"]),
                          key=lambda j: (j["start_ms"], j["job"]))
            print(f"  {name}: ends {(op['end_ms'] - t0) / 1000:.2f} s, {len(jobs)} jobs")
            print("    job    start   wall  tasks  input_rows  shuffle_mb")
            for j in jobs:
                mb = (j["shuffle_read_bytes"] + j["shuffle_write_bytes"]) / 2**20
                print(f"    {j['job']:>4} {(j['start_ms'] - t0) / 1000:7.2f}"
                      f" {(j['end_ms'] - j['start_ms']) / 1000:6.2f} {j['tasks']:6d}"
                      f" {j['input_rows']:11d} {mb:11.2f}")
        last = max(mine, key=lambda o: o["end_ms"])
        print(f"  ended last: {last['id'][len(rnd['id']) + 1:]}"
              f" at {(last['end_ms'] - t0) / 1000:.2f} s")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    main(sys.argv[1])
