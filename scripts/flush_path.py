#!/usr/bin/env python3
"""The visibility path of a traced ingest_live run, flush by flush.

    python3 scripts/flush_path.py TRACE [CHANGE_TRACE]

Reads the span artifact that `perfbench/run.py --workload ingest_live
--trace 1` writes (.bench_build/traces/ingest_live-seed<n>.json). For every
`serving.flush` span, in start order, it prints the rows the flush landed,
its duration and Spark jobs, then the duration, Spark jobs and
`fs.read_ops` of the first `sources.follow_poll` span that starts after the
flush ends: the poll that makes the flushed rows visible. `fs.read_ops` is
a process-wide counter, so a poll's figure also counts what other threads
did meanwhile.

With a second artifact the first is read as the parent run and the second
as the change; each gets its table. Either way a last table gives one
median row per run: flush s, flush jobs, poll s, poll jobs, and the growth
of the first polls' `fs.read_ops` from one flush to the next. Output is
markdown.
"""
import json
import statistics
import sys


def flushes(path):
    """(rows, flush s, flush jobs, poll s, poll jobs, poll read_ops) per
    flush; the poll fields are None when no poll followed the flush."""
    with open(path) as f:
        spans = json.load(f)["spans"]

    def named(name):
        return sorted((s for s in spans if s["name"] == name), key=lambda s: s["start_s"])

    polls = named("sources.follow_poll")
    out = []
    for fl in named("serving.flush"):
        c = fl.get("counters", {})
        poll = next((p for p in polls if p["start_s"] >= fl["end_s"]), None)
        pc = poll.get("counters", {}) if poll else {}
        out.append((c.get("rows", 0), fl["end_s"] - fl["start_s"], c.get("spark.jobs", 0),
                    poll and poll["end_s"] - poll["start_s"],
                    poll and pc.get("spark.jobs", 0), poll and pc.get("fs.read_ops", 0)))
    return out


def table(rows):
    print("| flush | rows | flush s | flush jobs | poll s | poll jobs | poll fs.read_ops |")
    print("|---:|---:|---:|---:|---:|---:|---:|")
    for i, (n, fs, fj, ps, pj, pr) in enumerate(rows, 1):
        cells = [str(i), "%d" % n, "%.3f" % fs, "%d" % fj]
        cells += ["-"] * 3 if ps is None else ["%.3f" % ps, "%d" % pj, "%d" % pr]
        print("| " + " | ".join(cells) + " |")


def medians(label, rows):
    def med(vals, fmt):
        vals = [v for v in vals if v is not None]
        return fmt % statistics.median(vals) if vals else "-"
    reads = [r[5] for r in rows if r[5] is not None]
    growth = [b - a for a, b in zip(reads, reads[1:])]
    cells = [label, med([r[1] for r in rows], "%.3f"), med([r[2] for r in rows], "%g"),
             med([r[3] for r in rows], "%.3f"), med([r[4] for r in rows], "%g"),
             med(growth, "%g")]
    print("| " + " | ".join(cells) + " |")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[2].strip())
    runs = [("parent", sys.argv[1]), ("change", sys.argv[2])] if len(sys.argv) == 3 \
        else [("run", sys.argv[1])]
    parsed = [(label, path, flushes(path)) for label, path in runs]
    for label, path, rows in parsed:
        if len(parsed) > 1:
            print("### %s: %s\n" % (label, path))
        table(rows)
        print()
    print("| median | flush s | flush jobs | poll s | poll jobs | poll fs.read_ops growth per flush |")
    print("|---|---:|---:|---:|---:|---:|")
    for label, _, rows in parsed:
        medians(label, rows)


if __name__ == "__main__":
    main()
