#!/usr/bin/env python3
"""The visibility path of a traced ingest_live run, flush by flush.

    python3 scripts/flush_path.py .bench_build/traces/ingest_live-seed<n>.json

Reads the span artifact that `perfbench/run.py --workload ingest_live
--trace 1` writes. For every `serving.flush` span, in start order, it
prints the rows the flush landed, its duration and Spark jobs, then the
duration, Spark jobs and `fs.read_ops` of the first `sources.follow_poll`
span that starts after the flush ends: the poll that makes the flushed
rows visible. `fs.read_ops` is a process-wide counter, so a poll's figure
also counts what other threads did meanwhile. Output is a markdown table.
"""
import json
import sys


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    with open(sys.argv[1]) as f:
        spans = json.load(f)["spans"]

    def named(name):
        return sorted((s for s in spans if s["name"] == name), key=lambda s: s["start_s"])

    polls = named("sources.follow_poll")
    print("| flush | rows | flush s | flush jobs | poll s | poll jobs | poll fs.read_ops |")
    print("|---:|---:|---:|---:|---:|---:|---:|")
    for i, fl in enumerate(named("serving.flush"), 1):
        c = fl.get("counters", {})
        row = [str(i), "%d" % c.get("rows", 0), "%.3f" % (fl["end_s"] - fl["start_s"]),
               "%d" % c.get("spark.jobs", 0)]
        poll = next((p for p in polls if p["start_s"] >= fl["end_s"]), None)
        if poll is None:
            row += ["-", "-", "-"]
        else:
            pc = poll.get("counters", {})
            row += ["%.3f" % (poll["end_s"] - poll["start_s"]), "%d" % pc.get("spark.jobs", 0),
                    "%d" % pc.get("fs.read_ops", 0)]
        print("| " + " | ".join(row) + " |")


if __name__ == "__main__":
    main()
