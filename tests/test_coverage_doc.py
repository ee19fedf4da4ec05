"""COVERAGE.md's per-query physical-path table names exactly the driver
queries `__spark_entry__.queries()` registers — no query goes
undocumented, and no row outlives its query."""

import os
import re

import __spark_entry__ as entry

COVERAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
SECTION = "## Physical path per driver query"


def _documented_queries() -> set[str]:
    with open(COVERAGE) as f:
        text = f.read()
    assert SECTION in text
    names = set()
    for line in text.split(SECTION, 1)[1].splitlines():
        if line.startswith("## "):
            break
        if line.startswith("| `"):
            names.update(re.findall(r"`([^`]+)`", line.split("|")[1]))
    return names


def test_coverage_lists_every_driver_query():
    documented, registered = _documented_queries(), set(entry.queries())
    assert sorted(registered - documented) == [], "queries missing from COVERAGE.md"
    assert sorted(documented - registered) == [], "COVERAGE.md rows for unknown queries"
