#!/usr/bin/env python
"""Measured shuffle audit: run each headline query and report ACTUAL
shuffle read/write bytes, spill, and input bytes from the Spark REST
API (not plan inspection — the bytes that really moved).

The plan text (check_oracle.py --plans) shows the *shapes*; this shows the
*costs*: a query whose shuffle write is a large multiple of its final
output usually has a missing partial aggregation or an unnecessary
exchange, and spill > 0 at bench scale means partitions are sized
wrong. Writes docs/SHUFFLE_AUDIT.txt.

Usage: python scripts/shuffle_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_ecommerce_etl_pipeline_spark import plans
from lakehouse_ecommerce_etl_pipeline_spark.session import get_spark


def _stage_totals(ui: str) -> dict[str, int]:
    apps = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=10)
    )
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=10,
        )
    )
    tot = {
        "shuffle_read": 0,
        "shuffle_write": 0,
        "spill_disk": 0,
        "spill_mem": 0,
        "input_bytes": 0,
        "tasks": 0,
    }
    for st in stages:
        tot["shuffle_read"] += st.get("shuffleReadBytes", 0)
        tot["shuffle_write"] += st.get("shuffleWriteBytes", 0)
        tot["spill_disk"] += st.get("diskBytesSpilled", 0)
        tot["spill_mem"] += st.get("memoryBytesSpilled", 0)
        tot["input_bytes"] += st.get("inputBytes", 0)
        tot["tasks"] += st.get("numCompleteTasks", 0)
    return tot


def _fmt(n: int) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if abs(n) < 1024 or unit == "GB":
            return f"{n:.1f}{unit}" if unit != "B" else f"{n}B"
        n /= 1024
    return str(n)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    spark = get_spark("shuffle_audit")
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        print("no Spark UI available; enable spark.ui.enabled", file=sys.stderr)
        return 1
    qs = plans.queries()
    names = sys.argv[2:] or __import__("bench").HEADLINE

    lines = [
        f"Measured shuffle audit @ {sf_dir} (REST /stages deltas per query)",
        f"{'query':36} {'shuf_write':>10} {'shuf_read':>10} {'spill_disk':>10} "
        f"{'input':>10} {'tasks':>6}",
    ]
    for name in names:
        before = _stage_totals(ui)
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        after = _stage_totals(ui)
        d = {k: after[k] - before[k] for k in before}
        lines.append(
            f"{name:36} {_fmt(d['shuffle_write']):>10} "
            f"{_fmt(d['shuffle_read']):>10} {_fmt(d['spill_disk']):>10} "
            f"{_fmt(d['input_bytes']):>10} {d['tasks']:>6}"
        )
        print(lines[-1], flush=True)

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "SHUFFLE_AUDIT.txt",
    )
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
