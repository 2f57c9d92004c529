#!/usr/bin/env python3
"""Print per-suite wall seconds from sbt's JUnit XML test reports.

Usage: python3 scripts/suite_times.py [REPORT_DIR] [--markdown]

REPORT_DIR defaults to target/test-reports. Suites are listed slowest
first with their test and failure counts, then a total line.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    rows = []
    for path in glob.glob(os.path.join(report_dir, "*.xml")):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            rows.append((s.get("name"), float(s.get("time", 0)),
                         int(s.get("tests", 0)),
                         int(s.get("failures", 0)) + int(s.get("errors", 0))))
    return sorted(rows, key=lambda r: (-r[1], r[0]))


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    markdown = "--markdown" in argv
    report_dir = args[0] if args else "target/test-reports"
    rows = suites(report_dir)
    if not rows:
        sys.exit(f"no test reports under {report_dir}")
    total = ("TOTAL", sum(r[1] for r in rows), sum(r[2] for r in rows),
             sum(r[3] for r in rows))
    if markdown:
        print("| suite | seconds | tests | failed |")
        print("|---|---:|---:|---:|")
        for name, secs, tests, failed in rows + [total]:
            print(f"| {name} | {secs:.1f} | {tests} | {failed} |")
    else:
        width = max(len(r[0]) for r in rows)
        for name, secs, tests, failed in rows + [total]:
            print(f"{name:<{width}}  {secs:8.1f} s  {tests:4d} tests  {failed:3d} failed")


if __name__ == "__main__":
    main(sys.argv[1:])
