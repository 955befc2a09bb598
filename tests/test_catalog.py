"""CATALOG.md lockstep: the committed catalog equals what
tools/gen_catalog.py renders from the registry."""

from __future__ import annotations

import tools.gen_catalog as g


def test_catalog_is_current():
    with open(g.CATALOG) as f:
        on_disk = f.read()
    assert on_disk == g.render(), (
        "CATALOG.md is stale — run: python tools/gen_catalog.py"
    )
