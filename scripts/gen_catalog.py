#!/usr/bin/env python
"""Generate docs/OPERATORS.md — the query-corpus index — from the
live registry: one row per registered query with its defining module,
oracle status, and the first sentence of its docstring. Run after
adding a tier; commit the result."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_ecommerce_etl_pipeline_spark.plans import REGISTRY  # noqa: E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text[:160]


CATALOG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "docs",
    "OPERATORS.md",
)


def render() -> str:
    """The text of docs/OPERATORS.md for the current registry."""
    rows = []
    for name, spec in sorted(REGISTRY.items()):
        module = spec.fn.__module__.rsplit(".", 1)[-1]
        oracle = "value-oracle" if spec.oracle else "rows-only"
        rows.append((name, module, oracle, first_sentence(spec.fn.__doc__)))

    n_oracle = sum(1 for r in rows if r[2] == "value-oracle")
    out = [
        "# OPERATORS — registered query corpus",
        "",
        "Generated by `scripts/gen_catalog.py` — do not edit by hand.",
        "",
        f"{len(rows)} queries: {n_oracle} DuckDB value-oracled, "
        f"{len(rows) - n_oracle} rows-only (side effects, engine-specific "
        "hashes/sketches, wall-clock, streaming state).",
        "",
        "| query | module | check | what it does |",
        "|---|---|---|---|",
    ]
    for name, module, oracle, desc in rows:
        desc = desc.replace("|", "\\|")
        out.append(f"| `{name}` | {module} | {oracle} | {desc} |")
    return "\n".join(out) + "\n"


def main() -> int:
    with open(CATALOG, "w") as f:
        f.write(render())
    print(f"wrote {CATALOG}: {len(REGISTRY)} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
