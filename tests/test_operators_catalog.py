"""``docs/OPERATORS.md`` is generated from the registry by
``scripts/gen_catalog.py``; the committed file must equal what the
generator renders now, so a docstring edit that skips regeneration
fails here. Imports the registry only; starts no Spark session."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_operators_catalog_matches_the_registry():
    spec = importlib.util.spec_from_file_location(
        "gen_catalog", os.path.join(ROOT, "scripts", "gen_catalog.py")
    )
    gen_catalog = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_catalog)
    with open(gen_catalog.CATALOG) as f:
        committed = f.read().splitlines()
    rendered = gen_catalog.render().splitlines()
    stale = sorted(set(committed) ^ set(rendered))
    assert committed == rendered, (
        "docs/OPERATORS.md is stale; run scripts/gen_catalog.py. "
        "Lines that differ:\n" + "\n".join(stale[:20])
    )
