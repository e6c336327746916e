#!/usr/bin/env python3
"""End-to-end benchmark of the lakehouse: ETL drops and the analytic
query mix.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 18 --trace 0

Workloads (each a closed loop, one client, one process, Spark on
``local[nproc / 2]``):

* ``etl_daily`` -- one operation is one ``pipeline.run_pipeline`` call
  landing one day into a lake preloaded with history (products
  included) during set-up.  Every drop has the same shape: small orders
  and order_items ``.xlsx`` workbooks, each with a sheet missing a
  required column, and one re-delivered, already-processed file.
* ``query_mix`` -- one operation is one execution of a headline registry
  query (``bench.HEADLINE``) through the noop sink over a generated
  star schema; the operation list is walked in whole passes.

Inputs are generated from ``--seed`` (``perfbench/gen.py``); the package
only sees the generated files.  Every run does a fixed amount of work,
sized from ``--seconds`` so that a run on a 4-core host measures about
that long.  Outputs are checked: after every drop the row counts of
every table and quarantine table, and the sum of the column the
corrections change, against the generator's expectations; once per run
every query's result against its DuckDB oracle.

Each operation is timed in wall time.  The CPU time of this process and
all its descendants (the Spark JVM and its Python workers) is recorded
next to it as run metadata, to help explain drift between runs: time the
hypervisor gave to other guests shows in wall time but not in CPU time.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
package's public functions from outside (``perfbench/spans.py``) and
prints per-layer metrics instead.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  Run records
(host calibration, CPU steal share, input-generation time, spans) go to
``.perfbench/out/``; scratch goes to ``.perfbench/work/``, emptied at
the start and end of every run.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import math
import os
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
OUT = os.path.join(STATE, "out")
CLK_TCK = os.sysconf("SC_CLK_TCK")

WORKLOADS = ("etl_daily", "query_mix")
JVM_OPTS = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"

# Measured time of one unit of work on a 4-core host in a quiet spell: one
# drop, or one pass over QUERY_MIX.  A run does max(2, round(seconds /
# UNIT_S)) units, so it measures about ``--seconds`` there and does the
# same work everywhere.
UNIT_S = {"etl_daily": 6.5, "query_mix": 3.3}
# query_mix: untimed noop passes after the oracle check, part of set-up.
# The JVM is still JIT-compiling Spark's planner then; without them the
# first timed pass ran about a third slower than the later ones.  The
# ETL history preload already runs every code path of a drop.
WARM_PASSES = 1

# etl sizing
PRODUCTS = 400
HISTORY_DAYS = 21
DAY_ORDERS = 20

# query_mix: scale factor of the generated star schema, and the headline
# queries the mix walks.  The other bench.HEADLINE rows are left out: a
# run, set-up included, has about a minute, and one cold pass over all 34
# rows takes about that long on a 4-core host.
STAR_SF = 0.001
QUERY_MIX = [
    "q_groupby_agg",                # scan + hash aggregate
    "q_star_join",                  # broadcast star join
    "q_join_leftsemi",              # FK semi join, as in the ETL FK check
    "q_dedup_by_key",               # window dedup, as in the ETL dedup
    "q_events_window_agg",          # time-bucket aggregate
    "q_json_extract",               # JSON projection
    "q_minhash_signatures",         # explode + min aggregate
    "q_similarity_topk",            # brute-force cosine top-k
    "q_tpch_q3_shipping_priority",  # fact-fact join + top-k
    "q_market_basket",              # self-join pair mining over a shared artifact
]

ETL_LAYERS = [
    "driver.run_pipeline",
    "driver.run_dataset",
    "jobs.read_source",
    "jobs.transform",
    "quarantine.write_rejected",
    "merge.merge_upsert",
    "catalog.register_table_external",
    "catalog.count_star",
    "processed_log.is_processed",
    "processed_log.mark_processed",
]
DATASETS = ("products", "orders", "order_items")


def calibrate() -> float:
    """Host throughput reading: a fixed pure-Python loop (sum of 20M
    squares).  Recorded as run metadata next to the metrics."""
    t0 = time.perf_counter()
    sum(i * i for i in range(20_000_000))
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat.  Steal is
    time the hypervisor ran something else while this guest wanted the
    CPU; its share over a run is recorded next to the calibration."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process and all
    its descendants, reaped children included."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:  # exited meanwhile
            continue
        # fields after "(comm) ": state ppid ... utime stime cutime cstime
        rest = st[st.rindex(")") + 2:].split()
        procs[int(pid)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    mine, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        mine.add(p)
        todo.extend(c for c, (pp, _) in procs.items() if pp == p and c not in mine)
    return sum(procs[p][1] for p in mine if p in procs) / CLK_TCK


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def typical(ops: list[dict], key: str) -> float:
    """Geometric mean over operation kinds of each kind's median: the
    median drop, or the per-query geomean of the query mix."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o[key])
    return geomean(statistics.median(v) for v in kinds.values())


# --------------------------------------------------------------------------
# environment
# --------------------------------------------------------------------------


def pin_env() -> None:
    """Settings the package reads, pinned from outside it."""
    for d in ("warehouse", "spark-local", "tmp", "scratch"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # mapInPandas workers import the package: they need the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # half the cores run Spark tasks; the rest stay free for the JIT and
    # GC threads, the Python workers and the driver, so that an operation
    # does not wait on the OS scheduler for its own helper threads
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(2, min(8, mem_gb // 3))}g"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the spark-submit launcher JVM: no perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_UI", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(k, None)


def start_spark():
    from lakehouse_ecommerce_etl_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": JVM_OPTS,
        },
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def redirect_scratch() -> None:
    """The registry writes its scratch under a fixed /tmp root; rebind
    ``work_dir`` in every module that imported it so scratch lands in
    the run's work directory instead."""
    from lakehouse_ecommerce_etl_pipeline_spark.plans import _helpers

    orig = _helpers.work_dir
    root = os.path.join(WORK, "scratch")

    def work_dir(sf_dir: str, *parts: str) -> str:
        tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        d = os.path.join(root, tag, *parts)
        os.makedirs(d, exist_ok=True)
        return d

    for mod in list(sys.modules.values()):
        if getattr(mod, "work_dir", None) is orig:
            mod.work_dir = work_dir


# --------------------------------------------------------------------------
# lake inspection (independent of the package's own counters)
# --------------------------------------------------------------------------


def walk(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def lake_counts(lake: str) -> dict[str, int]:
    """COUNT(*) of every table and quarantine table, from the parquet
    footers of each table's current snapshot."""
    import pyarrow.dataset as pads

    from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

    out = {}
    for d in DATASETS:
        for name in (d, f"{d}_rejected"):
            path = os.path.join(lake, "processed", name)
            if not managed.exists(path):
                out[name] = 0
                continue
            snap = managed.current_data_path(path)
            out[name] = pads.dataset(snap, format="parquet", partitioning="hive").count_rows()
    return out


def lake_sums(lake: str) -> dict[str, float]:
    """Sum of each checked column over its table's current snapshot."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    from gen import CHECKED_SUMS

    from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

    out = {}
    for d, col in CHECKED_SUMS.items():
        snap = managed.current_data_path(os.path.join(lake, "processed", d))
        t = pads.dataset(snap, format="parquet", partitioning="hive").to_table(columns=[col])
        out[f"{d}.{col}"] = round(float(pc.sum(t[col]).as_py() or 0), 2)
    return out


def lake_shape(lake: str) -> tuple[int, int]:
    """(snapshots retained, files in current snapshots) under processed/."""
    from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

    proc = os.path.join(lake, "processed")
    snaps = live = 0
    for t in sorted(os.listdir(proc)):
        path = os.path.join(proc, t)
        if not managed.exists(path):
            continue
        snaps += len(managed.history(path))
        live += len(walk(managed.current_data_path(path)))
    return snaps, live


# --------------------------------------------------------------------------
# ETL workloads
# --------------------------------------------------------------------------


def wrap_etl(tracer) -> None:
    from lakehouse_ecommerce_etl_pipeline_spark.pipeline import driver
    from lakehouse_ecommerce_etl_pipeline_spark.sinks import catalog, processed_log

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    tracer.wrap(driver, "run_pipeline", "driver.run_pipeline")
    tracer.wrap(driver, "run_dataset", "driver.run_dataset")
    # both are lazy: materialize once per file so their cost shows
    tracer.wrap(driver, "read_source", "jobs.read_source", after=noop)
    tracer.wrap(driver, "transform", "jobs.transform", after=lambda out: [noop(d) for d in out])
    tracer.wrap(driver, "write_rejected", "quarantine.write_rejected")
    tracer.wrap(driver, "merge_upsert", "merge.merge_upsert")
    tracer.wrap(catalog, "register_table_external", "catalog.register_table_external")
    tracer.wrap(catalog, "count_star", "catalog.count_star")
    tracer.wrap(processed_log, "is_processed", "processed_log.is_processed")
    tracer.wrap(processed_log, "mark_processed", "processed_log.mark_processed")


def check_lake(lake: str, gen) -> str | None:
    """None if the lake holds what the generator expects, else why not."""
    got, want = lake_counts(lake), gen.expected.counts()
    if got != want:
        return f"counts {got} != expected {want}"
    got, want = lake_sums(lake), gen.expected.sums()
    if got != want:
        return f"sums {got} != expected {want}"
    return None


def run_etl(spark, tracer, seed: int, n_ops: int, rec: dict) -> dict:
    from gen import EtlGenerator

    from lakehouse_ecommerce_etl_pipeline_spark.pipeline import driver

    lake = os.path.join(WORK, "lake")
    gen = EtlGenerator(lake, seed, PRODUCTS)

    # set-up: preload the lake with history in one drop
    day0 = dt.datetime(2025, 1, 1)
    t = time.perf_counter()
    st = gen.drop("history", day0, HISTORY_DAYS, HISTORY_DAYS * DAY_ORDERS, True, True)
    gen_s = time.perf_counter() - t
    ingested_bytes = st.raw_bytes
    t = time.perf_counter()
    driver.run_pipeline(spark, lake)
    warm_s = time.perf_counter() - t
    why = check_lake(lake, gen)
    if why:
        raise RuntimeError(f"history preload: {why}")

    ops, mismatches = [], []
    proc_root = os.path.join(lake, "processed")
    for i in range(n_ops):
        t = time.perf_counter()
        day = day0 + dt.timedelta(days=HISTORY_DAYS + i)
        st = gen.drop(day.strftime("%Y_%m_%d"), day, 1, DAY_ORDERS, False, True)
        gen.redeliver()
        gen_s += time.perf_counter() - t
        before = walk(proc_root) if tracer else {}
        if tracer:
            tracer.op = i
        why = None
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            driver.run_pipeline(spark, lake)
        except Exception as e:  # noqa: BLE001
            why = f"{type(e).__name__}: {e}"
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        ingested_bytes += st.raw_bytes
        why = why or check_lake(lake, gen)
        if why:
            mismatches.append(f"drop {i}: {why}")
        op = {"kind": "drop", "wall": wall, "cpu": cpu, "ok": why is None,
              "rows": st.rows_landed, "raw_bytes": st.raw_bytes}
        if tracer:
            tracer.count_jobs(i)
            after = walk(proc_root)
            new = [p for p in after if p not in before]
            op["files_written"] = len(new)
            op["bytes_written"] = sum(after[p] for p in new)
        ops.append(op)

    rec["input_gen_s"] = gen_s
    rec["mismatches"] = mismatches
    processed_bytes = sum(walk(proc_root).values())
    snaps, live = lake_shape(lake)
    return {
        "warm_s": warm_s,
        "ops": ops,
        "space_amp": processed_bytes / ingested_bytes,
        "snapshots": snaps,
        "files_live": live,
    }


# --------------------------------------------------------------------------
# query mix
# --------------------------------------------------------------------------

_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings")


def run_queries(spark, tracer, seed: int, n_passes: int, rec: dict) -> dict:
    import duckdb
    import pyarrow.parquet as pq
    from check_oracle import frames_equal
    from gen import write_star

    from lakehouse_ecommerce_etl_pipeline_spark import plans

    sf_dir = os.path.join(WORK, "star", f"sf{STAR_SF}")
    t = time.perf_counter()
    input_bytes = write_star(sf_dir, seed, STAR_SF)
    rec["input_gen_s"] = time.perf_counter() - t
    table_rows = {
        n: pq.ParquetFile(os.path.join(sf_dir, f"{n}.parquet")).metadata.num_rows for n in _TABLES
    }
    qs, oracles = plans.queries(), plans.oracle_sql()
    # rows a query reads: the base tables its oracle SQL names
    reads = {
        q: sum(r for n, r in table_rows.items() if re.search(rf"\b{n}\b", oracles[q]))
        for q in QUERY_MIX
    }
    span = tracer.span if tracer else lambda name: contextlib.nullcontext()

    def execute(q: str) -> None:
        with span(f"plans.{q}"):
            with span("plans.build"):
                df = qs[q](spark, sf_dir)
            with span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()

    def warm_pass() -> float:
        t = time.perf_counter()
        for q in QUERY_MIX:
            try:
                execute(q)
            except Exception as e:  # noqa: BLE001
                bad.setdefault(q, f"{type(e).__name__}: {e}"[:300])
        return time.perf_counter() - t

    # set-up: one untimed pass builds the shared artifacts
    bad = {}
    warm_s = warm_pass()

    # check every result against its DuckDB oracle, outside set-up and
    # the timed region
    con = duckdb.connect()
    for n in _TABLES:
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM '{sf_dir}/{n}.parquet'")
    for q in QUERY_MIX:
        if q in bad:
            continue
        try:
            ok, why = frames_equal(qs[q](spark, sf_dir).toPandas(), con.execute(oracles[q]).fetchdf())
        except Exception as e:  # noqa: BLE001
            ok, why = False, f"{type(e).__name__}: {e}"
        if not ok:
            bad[q] = why[:300]
    con.close()
    warm_s += sum(warm_pass() for _ in range(WARM_PASSES))

    ops = []
    for p in range(n_passes):
        for q in QUERY_MIX:
            op = len(ops)
            if tracer:
                tracer.op = op
            ok = q not in bad
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                execute(q)
            except Exception as e:  # noqa: BLE001
                ok = False
                bad.setdefault(q, f"{type(e).__name__}: {e}"[:300])
            ops.append({"kind": q, "wall": time.perf_counter() - t0, "cpu": tree_cpu_s() - c0,
                        "ok": ok, "rows": reads[q]})
            if tracer:
                tracer.count_jobs(op)

    rec["mismatches"] = [f"{q}: {why}" for q, why in sorted(bad.items())]
    scratch = sum(walk(os.path.join(WORK, "scratch")).values())
    return {
        "warm_s": warm_s,
        "ops": ops,
        "space_amp": scratch / input_bytes,
        "passes": n_passes,
    }


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def end_to_end(res: dict, setup_s: float) -> dict:
    ops = res["ops"]
    n = len(ops)
    return {
        "setup_s": ("s", setup_s, 1),
        "op_median_s": ("s", typical(ops, "wall"), n),
        "rows_per_s": ("1/s", sum(o["rows"] for o in ops) / sum(o["wall"] for o in ops), n),
        "space_amp": ("ratio", res["space_amp"], 1),
    }


def per_layer(workload: str, tracer, res: dict, session_s: float) -> dict:
    """Every per-layer metric, on every workload.  Times are shares of
    the summed operation wall time (self time for ETL layers, inclusive
    for query rows); a layer the workload does not run reads 0, the
    predicted zero effect."""
    ops = res["ops"]
    n = len(ops)
    wall = sum(o["wall"] for o in ops)
    etl = workload == "etl_daily"
    self_t = tracer.self_times()
    incl = tracer.inclusive_times()
    jobs, tasks = tracer.totals("jobs"), tracer.totals("tasks")
    passes = res.get("passes", 0)

    def share(t: float) -> tuple[str, float]:
        return ("%", 100.0 * t / wall)

    m = {
        "session.get_spark_s": ("s", session_s),
        "setup.warm_s": ("s", res["warm_s"]),
        "trace.op_median_s": ("s", typical(ops, "wall")),
        "trace.coverage": share(sum(self_t.values())),
    }
    for layer in ETL_LAYERS:
        label = layer + (".self" if layer.startswith("driver.") else "")
        m[f"{label}_share"] = share(self_t.get(layer, 0.0))
    bytes_written = sum(o.get("bytes_written", 0) for o in ops)
    m.update({
        "merge.tasks": ("count", tasks.get("merge.merge_upsert", 0) / n),
        "catalog.tasks": ("count", (tasks.get("catalog.register_table_external", 0)
                                    + tasks.get("catalog.count_star", 0)) / n),
        "quarantine.jobs": ("count", jobs.get("quarantine.write_rejected", 0) / n),
        "drop.jobs": ("count", sum(jobs.values()) / n if etl else 0.0),
        "drop.tasks": ("count", sum(tasks.values()) / n if etl else 0.0),
        "table.files_written": ("count", sum(o.get("files_written", 0) for o in ops) / n),
        "table.bytes_written": ("B", bytes_written / n),
        "table.write_amp": ("ratio", bytes_written / sum(o.get("raw_bytes", 0) for o in ops)
                            if etl else 0.0),
        "table.snapshots_retained": ("count", res.get("snapshots", 0)),
        "table.files_live": ("count", res.get("files_live", 0)),
        "plans.build_share": share(incl.get("plans.build", 0.0)),
        "plans.exec_share": share(incl.get("plans.exec", 0.0)),
        "plans.jobs_per_pass": ("count", 0.0 if etl else sum(jobs.values()) / passes),
        "plans.tasks_per_pass": ("count", 0.0 if etl else sum(tasks.values()) / passes),
    })
    for q in QUERY_MIX:
        m[f"plans.{q}_share"] = share(incl.get(f"plans.{q}", 0.0))
    return m


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "bench.py")) or not os.path.isdir(
        os.path.join(ROOT, "lakehouse_ecommerce_etl_pipeline_spark")
    ):
        print("perfbench: run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "scripts")]
    shutil.rmtree(WORK, ignore_errors=True)
    pin_env()

    rec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "calibration_before_s": calibrate()}
    steal0, total0 = cpu_ticks()
    units = max(2, round(args.seconds / UNIT_S[args.workload]))

    if args.workload == "query_mix":
        from lakehouse_ecommerce_etl_pipeline_spark import plans  # noqa: F401  (loads the registry)

        redirect_scratch()
    spark, session_s = start_spark()
    tracer = None
    try:
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            if args.workload == "etl_daily":
                wrap_etl(tracer)
        if args.workload == "query_mix":
            res = run_queries(spark, tracer, args.seed, units, rec)
        else:
            res = run_etl(spark, tracer, args.seed, units, rec)
    finally:
        if tracer:
            tracer.unwrap()
        stop_spark(spark)
    setup_s = session_s + res["warm_s"]

    failed = sum(not o["ok"] for o in res["ops"])
    attempted = len(res["ops"])
    if args.trace:
        metrics = per_layer(args.workload, tracer, res, session_s)
        shown = {k: (u, v, attempted) for k, (u, v) in metrics.items()}
    else:
        shown = end_to_end(res, setup_s)
    steal1, total1 = cpu_ticks()
    rec["cpu_steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    rec["calibration_after_s"] = calibrate()
    rec["op_cpu_s"] = typical(res["ops"], "cpu")
    rec.update(session_s=session_s, setup_s=setup_s, failed=failed, attempted=attempted,
               ops=res["ops"], metrics={k: v[1] for k, v in shown.items()})
    out = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if tracer:
        tracer.dump(out.replace(".json", "-spans.json"), {"workload": args.workload, "seed": args.seed})
    os.makedirs(OUT, exist_ok=True)
    with open(out, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    shutil.rmtree(WORK, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} ops {attempted}")
    print(f"calibration_s before {rec['calibration_before_s']:.3f} after {rec['calibration_after_s']:.3f}")
    print(f"cpu_steal_pct {rec['cpu_steal_pct']:.2f}")
    print(f"op_cpu_s {rec['op_cpu_s']:.3f}")
    print(f"input_gen_s {rec['input_gen_s']:.3f}")
    for k, (unit, v, n) in shown.items():
        print(f"{k} {v:.6g} {unit} (n={n})")
    print(f"fail_ratio {failed}/{attempted}")
    for m in rec["mismatches"]:
        print(f"MISMATCH {m}")
    print(json.dumps({
        "correct": failed == 0 and not rec["mismatches"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (u, v, _) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
