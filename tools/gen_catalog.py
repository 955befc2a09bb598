"""Regenerate CATALOG.md from the query registry.

Run: python tools/gen_catalog.py
The catalog is the user-facing index of every registered query — name,
tags, one-line summary and oracle status, in registration order. It is
a pure function of the registry, kept in lockstep with the code by
regenerating instead of hand-editing (tests/test_catalog.py asserts it
is current).
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from gmall2021_flink_dw_spark.registry import load_all

CATALOG = os.path.join(_REPO, "CATALOG.md")


def render() -> str:
    reg = load_all()
    lines = [
        "# CATALOG — every registered query",
        "",
        f"{len(reg)} queries; each pairs a Spark callable "
        "`(spark, sf_dir) -> DataFrame` with a DuckDB oracle "
        "(tests/test_oracle_parity.py = the driver's gate). "
        "Generated by tools/gen_catalog.py — do not hand-edit.",
        "",
        "| # | Query | Tags | Oracle | Summary |",
        "|---|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(reg.items(), 1):
        doc = " ".join((spec.doc or "").split())
        head = doc.split(". ")[0][:140] if doc else ""
        tags = " ".join(spec.tags)
        oracle = "yes" if spec.oracle else "rows-only"
        lines.append(f"| {i} | `{name}` | {tags} | {oracle} | {head} |")
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    with open(CATALOG, "w") as f:
        f.write(render())
    print(f"wrote {CATALOG}")
