#!/usr/bin/env python
"""The registry walker: one walk over the registered queries feeds
every registry-wide check.  ``walk`` builds each query once and reports
what its function left in the session.  The CLI executes each frame
once (``toPandas``), compares the rows with the ``oracle_sql()`` twin
on DuckDB over the same parquet tables (row count, column names,
order-insensitive values — a local replica of the driver's gate), runs
the three plan detectors on the final adaptive plan, and prints one
line per query, then the totals.

Usage: python scripts/check_oracle.py [sf_dir] [query ...] [--window]
           [--json PATH] [--plans DIR]

--window      run exactly the driver's 50-entry gate
--json PATH   also write the sweep artifact (docs/SWEEP_*.json): per
              query its status (pass|rows_only|fail), rows, secs,
              build_s, why, plan flags and what it left in the
              session, plus the totals
--plans DIR   also write each query's final plan text to DIR/<query>.txt

Importing this module starts no Spark session.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import json
import math
import os
import re
import sys
import time
from collections import defaultdict
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda x: pd.Timestamp(x)
                if isinstance(x, (_dt.date, _dt.datetime))
                else (tuple(x) if isinstance(x, (list, tuple)) else x)
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _canon(v):
    """Canonical (family, value) pair replicating the driver's
    dtype-aware value hash: an int64 Spark column vs a float64 oracle
    column (e.g. DuckDB HUGEINT window sums → pandas float64) must
    FAIL even when the numeric values compare equal, because the
    driver hashes the dtype-canonicalized representation.  Decimal and
    float are one family (DuckDB lowers DECIMAL to float64 in
    fetchdf; the driver's round-1 rows prove it hashes them alike)."""
    import decimal

    import numpy as np

    if v is None:
        return ("null", None)
    if isinstance(v, (bool, np.bool_)):
        return ("bool", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("int", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return ("null", None) if math.isnan(f) else ("float", f)
    if isinstance(v, decimal.Decimal):
        return ("float", float(v))
    if isinstance(v, pd.Timestamp):
        return ("ts", v.to_pydatetime().replace(tzinfo=None))
    if isinstance(v, _dt.datetime):
        return ("ts", v.replace(tzinfo=None))
    if isinstance(v, _dt.date):
        return ("date", v)
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v))
    if isinstance(v, (list, tuple)) or (
        hasattr(v, "__len__") and type(v).__name__ == "ndarray"
    ):
        return ("seq", tuple(_canon(x) for x in v))
    try:
        if pd.isna(v):
            return ("null", None)
    except (TypeError, ValueError):
        pass
    return ("str", str(v)) if isinstance(v, str) else ("other", v)


def values_equal(a, b) -> bool:
    if a is b:
        return True
    return _canon(a) == _canon(b)


def frames_equal(sp: pd.DataFrame, du: pd.DataFrame) -> tuple[bool, str]:
    if sorted(sp.columns) != sorted(du.columns):
        return False, f"columns spark={sorted(sp.columns)} duck={sorted(du.columns)}"
    if len(sp) != len(du):
        return False, f"rowcount spark={len(sp)} duck={len(du)}"
    a, b = normalize(sp), normalize(du)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if not values_equal(x, y):
                return False, f"col {c} row {i}: spark={x!r} duck={y!r}"
    return True, ""


# ------------------------------------------------------------ plan detectors


def _node_depth(ln: str) -> int:
    """Tree depth of a plan line = column where the operator name
    starts (every level adds 3 chars of '+- ' / ':- ' / ':  ' / '   '
    markers)."""
    for i, ch in enumerate(ln):
        if ch not in " :+-":
            return i
    return len(ln)


def window_over_single_partition(plan: str) -> bool:
    """True iff some Window operator's data-path child chain moves
    unbounded data through an Exchange SinglePartition — the one
    window shape that cannot scale.  Walks only the unary chain below
    each Window, so a 1-row scalar merge inside a broadcast branch
    does not flag; a limit-bounding operator (TakeOrderedAndProject,
    WindowGroupLimit) or a partitioned Exchange ends the chain, and
    after an Exchange SinglePartition only a WindowGroupLimit(Partial)
    directly below rescues it."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window [" not in ln or "WindowGroupLimit" in ln:
            continue
        depth = _node_depth(ln)
        expected = depth + 3
        seen_single = False
        for sub in lines[i + 1:]:
            d = _node_depth(sub)
            if d <= depth:
                break  # subtree ended
            if d != expected:
                continue  # deeper detail of a prior chain node
            # `sub` is the next node on the data-path chain
            if seen_single:
                # only a partial group-limit directly below the
                # single-partition exchange bounds the move
                if "WindowGroupLimit" not in sub:
                    return True
                seen_single = False
                break
            if "WindowGroupLimit" in sub or "TakeOrderedAndProject" in sub:
                break  # limit-bounded input
            if "Join" in sub or "CartesianProduct" in sub or "Union" in sub:
                # binary/n-ary node: the unary data path ends here (any
                # exchange the Window needs sits ABOVE the join; walking
                # on would enter a broadcast build branch).  BLIND SPOT:
                # a join whose BOTH inputs are SinglePartition passes
                # (pinned by the inherited_through_join fixture).
                break
            if "Exchange SinglePartition" in sub:
                seen_single = True
            elif "ShuffleQueryStage" in sub:
                pass  # AQE stage wrappers are transparent
            elif "Exchange" in sub and "BroadcastExchange" not in sub:
                break  # partitioned shuffle — balanced window
            expected = d + 3
        if seen_single:
            return True
    return False


def cartesian_product(plan: str) -> bool:
    """True iff the plan contains a CartesianProduct: the non-broadcast
    cross join, |A|×|B| row evaluation.  (BroadcastNestedLoopJoin is not
    flagged: every registry use crosses a broadcast 1-row aggregate.)"""
    return "CartesianProduct" in plan


_JOIN_RE = re.compile(r"\b(\w*HashJoin|SortMergeJoin|\w*NestedLoopJoin)\b")
_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_BCAST_ROOTS = ("BroadcastQueryStage", "BroadcastExchange", "ReusedExchange")


def _node_name(ln: str) -> str:
    d = _node_depth(ln)
    rest = re.sub(r"^\*\(\d+\) ", "", ln[d:])  # whole-stage-codegen tag
    m = re.match(r"[A-Za-z][\w.]*", rest)
    return m.group(0) if m else ""


def duplicated_join_subtrees(plan: str) -> list[tuple[str, int]]:
    """[(fingerprint, count)] for every join subtree shape appearing
    more than once in the plan, outermost only: Spark re-executes a
    join that a self-union / self-join references twice
    (docs/SCALE_STRESS_SF1.md §r9).  Fingerprint = the subtree's
    operator-name skeleton + the join's keys, expr-ids stripped.  Read
    the FINAL adaptive plan (AQE folds exchange reuse at runtime);
    reused subtrees print childless, and lineage beneath an
    InMemoryRelation is masked (it reads the cache)."""
    lines = plan.splitlines()
    depths = [_node_depth(ln) for ln in lines]
    # mask lineage printed beneath InMemoryRelation
    masked = [False] * len(lines)
    for i, ln in enumerate(lines):
        if "InMemoryRelation" not in ln or masked[i]:
            continue
        j = i + 1
        while j < len(lines) and depths[j] > depths[i]:
            masked[j] = True
            j += 1
    # broadcast BUILD sides become one token (AQE may reuse one copy's
    # build but not the other's; the probe and join still run twice);
    # a reused SHUFFLE stays discriminating
    bcast_token = [False] * len(lines)
    bcast_sub = [False] * len(lines)
    for i, ln in enumerate(lines):
        if masked[i] or bcast_sub[i]:
            continue
        if _node_name(ln) in _BCAST_ROOTS:
            bcast_token[i] = True
            j = i + 1
            while j < len(lines) and depths[j] > depths[i]:
                bcast_sub[j] = True
                j += 1
    # subtree line-ranges per join node (joins inside a build count)
    spans: list[tuple[int, int]] = []
    for i, ln in enumerate(lines):
        if masked[i] or not _JOIN_RE.search(ln) or "Reused" in ln:
            continue
        j = i + 1
        while j < len(lines) and depths[j] > depths[i]:
            j += 1
        spans.append((i, j))
    by_fp: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for i, j in spans:
        base = depths[i]
        skeleton = []
        skip_below = -1  # depth of an inner broadcast root being masked
        for k in range(i, j):
            if masked[k]:
                continue
            if skip_below >= 0:
                if depths[k] > skip_below:
                    continue
                skip_below = -1
            if bcast_token[k] and k > i:
                skeleton.append(f"{depths[k] - base}:BcastSide")
                skip_below = depths[k]
                continue
            name = _node_name(lines[k])
            if not name:
                continue  # detail/continuation line, not a node
            skeleton.append(f"{depths[k] - base}:{name}")
        keys = _PLAN_ID.sub("", _EXPR_ID.sub("#", lines[i][depths[i]:]))
        keys = re.sub(r"^\*\(\d+\) ", "", keys)
        by_fp["|".join(skeleton) + "||" + keys.strip()].append((i, j))
    dups = {fp: sp for fp, sp in by_fp.items() if len(sp) > 1}
    # outermost only: drop a fingerprint nested in another's instances
    out: list[tuple[str, int]] = []
    for fp, sp in dups.items():
        nested = all(
            any(
                (oi < i and j <= oj)
                for ofp, osp in dups.items()
                if ofp != fp
                for oi, oj in osp
            )
            for i, j in sp
        )
        if not nested:
            out.append((fp, len(sp)))
    return sorted(out)


def executed_plan(df) -> str:
    """The executed plan text of ``df``: after an action, the final
    adaptive plan, cut before its ``== Initial Plan ==`` echo."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _session_state(spark):
    """Temp views, active stream ids, conf and the number of cached
    Datasets. (Persisted RDDs are not counted: localCheckpoint blocks
    stay listed until a GC lets the ContextCleaner free them.)"""
    return (
        {t.name for t in spark.catalog.listTables() if t.isTemporary},
        {str(q.id) for q in spark.streams.active},
        spark.conf.getAll,
        spark._jsparkSession.sharedState().cacheManager().numCachedEntries(),
    )


class Walked(NamedTuple):
    name: str
    df: object  # the built DataFrame, or the exception the query raised
    build_s: float
    left: dict  # new temp views, streams, changed conf keys, new cached Datasets


def walk(spark, sf_dir: str, names=None):
    """Build each registered query (``names``, default all in name
    order) once on ``sf_dir`` and yield a ``Walked`` per query."""
    from lakehouse_ecommerce_etl_pipeline_spark.plans import queries

    qs = queries()
    for name in names or sorted(qs):
        views, streams, conf, cached = _session_state(spark)
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — each consumer reports it
            df = exc
        build_s = time.time() - t0
        views2, streams2, conf2, cached2 = _session_state(spark)
        yield Walked(name, df, build_s, {
            "views": sorted(views2 - views),
            "streams": sorted(streams2 - streams),
            "conf": sorted(
                k for k in conf.keys() | conf2.keys() if conf.get(k) != conf2.get(k)
            ),
            "cached": cached2 - cached,
        })


def _check(w: Walked, con, oracles: dict, plans_dir: str | None) -> dict:
    """Execute one walked frame and run every check on it."""
    res: dict = {"build_s": round(w.build_s, 2), "left": w.left}
    t0 = time.time()
    try:
        if isinstance(w.df, Exception):
            raise w.df
        sp_df = w.df.toPandas()
    except Exception as e:  # noqa: BLE001
        why = f"spark error {type(e).__name__}: {e}"
        return {**res, "status": "fail", "why": why[:500]}
    res["rows"], res["secs"] = len(sp_df), round(w.build_s + time.time() - t0, 2)
    plan = executed_plan(w.df)
    if plans_dir:
        with open(os.path.join(plans_dir, f"{w.name}.txt"), "w") as fh:
            fh.write(plan)
    res["window"] = window_over_single_partition(plan)
    res["cartesian"] = cartesian_product(plan)
    res["dup_subplans"] = [
        [fp.split("||")[1][:120], n] for fp, n in duplicated_join_subtrees(plan)
    ]
    if w.name not in oracles:
        return {**res, "status": "rows_only"}
    try:
        du_df = con.execute(oracles[w.name]).fetchdf()
    except Exception as e:  # noqa: BLE001
        why = f"duckdb error {type(e).__name__}: {e}"
        return {**res, "status": "fail", "why": why[:500]}
    ok, why = frames_equal(sp_df, du_df)
    return {**res, "status": "pass"} if ok else {**res, "status": "fail", "why": why[:500]}


def _line(name: str, r: dict) -> str:
    if r["status"] == "fail":
        out = f"FAIL  {name}: {r['why']}"
    else:
        tag = "PASS " if r["status"] == "pass" else "rows "
        out = f"{tag} {name}: {r['rows']} rows ({r['secs']:.1f}s)"
        out += " [window]" if r["window"] else ""
        out += " [cartesian]" if r["cartesian"] else ""
        out += "".join(f" [dup x{n}: {j}]" for j, n in r["dup_subplans"])
    left = {k: v for k, v in r["left"].items() if v}
    return out + (f" left={left}" if left else "")


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("query", nargs="*")
    ap.add_argument("--window", action="store_true")
    ap.add_argument("--json")
    ap.add_argument("--plans")
    a = ap.parse_args()

    from lakehouse_ecommerce_etl_pipeline_spark.plans import REGISTRY, oracle_sql
    from lakehouse_ecommerce_etl_pipeline_spark.session import get_spark

    # --window: the driver gate's first 50 registry entries, nothing else
    names = sorted(list(REGISTRY)[:50] if a.window else a.query) or None
    if a.plans:
        os.makedirs(a.plans, exist_ok=True)
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{a.sf_dir}/{t}.parquet'")
    oracles = oracle_sql()

    t_all = time.time()
    results: dict[str, dict] = {}
    for w in walk(spark, a.sf_dir, names):
        results[w.name] = r = _check(w, con, oracles, a.plans)
        print(_line(w.name, r), flush=True)
    wall_s = round(time.time() - t_all, 1)

    def having(key):
        return sorted(n for n, r in results.items() if r.get(key))

    def left(key):
        return {n: r["left"][key] for n, r in results.items() if r["left"][key]}

    failures = having("why")
    summary = {
        "sf_dir": a.sf_dir,
        "wall_s": wall_s,
        **{f"n_{s}": sum(r["status"] == s for r in results.values())
           for s in ("pass", "rows_only", "fail")},
        "window_offenders": having("window"),
        "cartesians": having("cartesian"),
        "dup_subplans": having("dup_subplans"),
        "left": {k: left(k) for k in ("views", "streams", "conf", "cached")},
    }
    print(
        f"\n{summary['n_pass']} oracle-pass, {summary['n_rows_only']} rows-only, "
        f"{summary['n_fail']} fail" + (f" -> {failures}" if failures else "")
    )
    for key in ("window_offenders", "cartesians", "dup_subplans"):
        print(f"{len(summary[key])} {key.replace('_', ' ')}: {summary[key]}")
    for key, by_query in summary["left"].items():
        print(f"{len(by_query)} queries left {key}: {by_query}")
    print(f"walk: {len(results)} queries in {wall_s:.0f}s")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({**summary, "queries": results}, fh, indent=1, sort_keys=True)
        print(f"wrote {a.json}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
