#!/usr/bin/env python3
"""Per-suite wall time of the last `sbt test` run.

Usage: suite_times.py [reportDir]   (default: target/test-reports)

Reads the JUnit XML files sbt writes (TEST-*.xml), one per suite, and
prints each suite's seconds, slowest first, then the total seconds and
test count. Suites run one after another in the forked test JVM, so the
total is close to the run's test time.
"""
import sys
import xml.etree.ElementTree as ET
from pathlib import Path


def main() -> int:
    reports = Path(sys.argv[1] if len(sys.argv) > 1 else "target/test-reports")
    suites = []
    for f in sorted(reports.glob("TEST-*.xml")):
        s = ET.parse(f).getroot()
        suites.append((float(s.get("time", 0)), int(s.get("tests", 0)),
                       s.get("name", f.stem[len("TEST-"):])))
    if not suites:
        print(f"no TEST-*.xml under {reports}", file=sys.stderr)
        return 1
    for secs, tests, name in sorted(suites, key=lambda s: -s[0]):
        print(f"{secs:9.1f} s  {tests:4d} tests  {name}")
    print(f"{sum(s[0] for s in suites):9.1f} s  "
          f"{sum(s[1] for s in suites):4d} tests  total ({len(suites)} suites)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
