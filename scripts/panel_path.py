#!/usr/bin/env python3
"""The dashboard panels of a traced ingest_live run, panel by panel.

    python3 scripts/panel_path.py TRACE [CHANGE_TRACE]

Reads the span artifact that `perfbench/run.py --workload ingest_live
--trace 1` writes (.bench_build/traces/ingest_live-seed<n>.json). Every
panel request is an `operators.<panel>` span with two children:
`operators.<panel>.construct` (building the DataFrame) and
`operators.<panel>.exec` (materialising it). For each panel it prints the
median, over that panel's requests, of construct seconds and Spark jobs,
exec seconds and Spark jobs, and the files the request's scans read
(`spark.files_read`, the scans' `numFiles` metric, construct and exec
together).

With a second artifact the first is read as the parent run and the second
as the change, and each panel gets one median row per side. Output is
markdown.
"""
import json
import statistics
import sys


def requests(path):
    """panel -> [(construct s, construct jobs, exec s, exec jobs, files read)]."""
    with open(path) as f:
        spans = json.load(f)["spans"]
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        parts = s["name"].split(".")
        if len(parts) != 2 or parts[0] != "operators":
            continue
        kids = {k["name"].rsplit(".", 1)[-1]: k for k in by_parent.get(s["id"], [])}
        if "construct" not in kids or "exec" not in kids:
            continue
        c, e = kids["construct"], kids["exec"]
        cc, ec = c.get("counters", {}), e.get("counters", {})
        out.setdefault(parts[1], []).append((
            c["end_s"] - c["start_s"], cc.get("spark.jobs", 0),
            e["end_s"] - e["start_s"], ec.get("spark.jobs", 0),
            cc.get("spark.files_read", 0) + ec.get("spark.files_read", 0)))
    return out


def row(panel, label, reqs):
    def med(i, fmt):
        return fmt % statistics.median(r[i] for r in reqs)
    cells = [panel, label, str(len(reqs)), med(0, "%.3f"), med(1, "%g"), med(2, "%.3f"),
             med(3, "%g"), med(4, "%g")]
    print("| " + " | ".join(cells) + " |")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[2].strip())
    runs = [("parent", sys.argv[1]), ("change", sys.argv[2])] if len(sys.argv) == 3 \
        else [("run", sys.argv[1])]
    parsed = [(label, requests(path)) for label, path in runs]
    panels = sorted({p for _, reqs in parsed for p in reqs})
    print("| panel | run | requests | construct s | construct jobs | exec s | exec jobs "
          "| files read |")
    print("|---|---|---:|---:|---:|---:|---:|---:|")
    for p in panels:
        for label, reqs in parsed:
            if p in reqs:
                row(p, label, reqs[p])


if __name__ == "__main__":
    main()
