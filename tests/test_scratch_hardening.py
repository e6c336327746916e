"""Session-scoped scratch artifacts: ``plans/_helpers.session_artifact``
builds each (application, data dir, name) once, keeps data dirs that
share a basename apart, and retries a build that raised; the
statestore checkpoint, one such artifact, self-heals when its bytes
are corrupted. Every session path comes from the module-global
``work_dir``, and an application's scratch is removed at exit.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_ecommerce_etl_pipeline_spark.plans import REGISTRY, _helpers
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    session_artifact,
    session_dir,
)

SF = "/root/testdata/sf0.001"


def _expected_counts(spark):
    from pyspark.sql import functions as F

    from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load

    return {
        r["event_type"]: r["n"]
        for r in load(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _statestore_rows(spark):
    df = REGISTRY["q_statestore_read"].fn(spark, SF)
    return {r["event_type"]: r["n_events"] for r in df.collect()}


def test_statestore_poisoned_checkpoint_self_heals(spark):
    """The checkpoint is already built in this session, but its bytes
    are garbage → the eager validation must catch it and rebuild once."""
    assert _statestore_rows(spark) == _expected_counts(spark)
    ck = session_artifact(spark, SF, "statestore_agg", lambda p: None)
    # poison: wipe the state dir but keep commits/offsets
    shutil.rmtree(os.path.join(ck, "state"), ignore_errors=True)
    assert _statestore_rows(spark) == _expected_counts(spark)


def test_session_artifact_builds_once_per_key(spark, tmp_path):
    sf = str(tmp_path / "sf")
    calls = []

    def build(path):
        calls.append(path)
        with open(os.path.join(path, "part"), "w") as fh:
            fh.write("x")

    first = session_artifact(spark, sf, "thing", build)
    for _ in range(3):
        assert session_artifact(spark, sf, "thing", build) == first
    assert calls == [first]
    assert os.listdir(first) == ["part"]
    # another name over the same data dir is another artifact
    other = session_artifact(spark, sf, "other", build)
    assert other != first and calls == [first, other]


def test_session_artifact_keeps_same_basename_dirs_apart(spark, tmp_path):
    a, b = str(tmp_path / "a" / "sfz"), str(tmp_path / "b" / "sfz")
    built = []
    pa = session_artifact(spark, a, "thing", built.append)
    pb = session_artifact(spark, b, "thing", built.append)
    assert pa != pb and built == [pa, pb]


def test_session_artifact_retries_a_failed_build(spark, tmp_path):
    sf = str(tmp_path / "sf")
    attempts = []

    def flaky(path):
        attempts.append(path)
        if len(attempts) == 1:
            open(os.path.join(path, "half-written"), "w").close()
            raise OSError("disk hiccup")
        open(os.path.join(path, "done"), "w").close()

    with pytest.raises(OSError):
        session_artifact(spark, sf, "thing", flaky)
    path = session_artifact(spark, sf, "thing", flaky)
    assert len(attempts) == 2
    assert os.listdir(path) == ["done"]  # rebuilt into an emptied dir
    session_artifact(spark, sf, "thing", flaky)
    assert len(attempts) == 2


def test_session_artifact_nested_build_reuses_inner_artifact(spark, tmp_path):
    """A build that asks for another artifact (co-purchase edges read
    the order-part pairs) runs under the same lock without blocking,
    and the inner artifact is still built only once."""
    sf = str(tmp_path / "sf")
    inner_builds = []

    def inner(path):
        inner_builds.append(path)

    def outer(path):
        src = session_artifact(spark, sf, "inner", inner)
        with open(os.path.join(path, "src"), "w") as fh:
            fh.write(src)

    out = session_artifact(spark, sf, "outer", outer)
    assert session_artifact(spark, sf, "inner", inner) == inner_builds[0]
    with open(os.path.join(out, "src")) as fh:
        assert fh.read() == inner_builds[0]
    assert len(inner_builds) == 1


def test_session_artifact_concurrent_callers_build_once(spark, tmp_path):
    """Threads of one application asking for one key get one build,
    and none of them sees the path before the build finished."""
    sf = str(tmp_path / "sf")
    started = threading.Event()
    calls = []

    def slow(path):
        calls.append(path)
        started.set()
        threading.Event().wait(0.2)
        open(os.path.join(path, "done"), "w").close()

    seen = []

    def ask():
        p = session_artifact(spark, sf, "thing", slow)
        seen.append(os.listdir(p))

    threads = [threading.Thread(target=ask) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert started.is_set() and len(calls) == 1
    assert seen == [["done"]] * 4


def test_session_paths_follow_a_rebound_work_dir(spark, tmp_path, monkeypatch):
    """``session_dir`` and ``session_artifact`` look ``work_dir`` up by
    its module-global name, so rebinding it (as the benchmark does to
    keep scratch inside its checkout) moves every session path."""
    root = tmp_path / "scratch_root"

    def rebound(sf_dir, *parts):
        d = os.path.join(root, *parts)
        os.makedirs(d, exist_ok=True)
        return d

    monkeypatch.setattr(_helpers, "work_dir", rebound)
    sf = str(tmp_path / "sf")
    d = session_dir(spark, sf, "spill")
    art = session_artifact(spark, sf, "thing", lambda p: None)
    for p in (d, art):
        assert os.path.commonpath([p, str(root)]) == str(root)
    assert spark.sparkContext.applicationId in os.path.relpath(d, root)


def test_session_dir_is_removed_when_the_process_exits(tmp_path):
    """An application's scratch root goes away when its process exits,
    like a job session's scratch."""
    root = tmp_path / "scratch_root"
    code = f"""
import os, sys
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from types import SimpleNamespace
from lakehouse_ecommerce_etl_pipeline_spark.plans import _helpers

def rebound(sf_dir, *parts):
    d = os.path.join({str(root)!r}, *parts)
    os.makedirs(d, exist_ok=True)
    return d

_helpers.work_dir = rebound
app = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="local-exit"))
d = _helpers.session_dir(app, "/data/sf", "spill")
open(os.path.join(d, "part"), "w").close()
print(d)
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=120, check=True,
    )
    made = out.stdout.strip().splitlines()[-1]
    assert made.startswith(os.path.join(str(root), "local-exit"))
    assert os.path.isdir(root)
    assert not os.path.exists(os.path.join(root, "local-exit"))


def test_session_artifact_keys_one_data_dir_spelled_two_ways(
    spark, tmp_path, monkeypatch
):
    """The key is the absolute data dir: a relative and an absolute
    spelling of one dir share one artifact and one build."""
    (tmp_path / "sfr").mkdir()
    monkeypatch.chdir(tmp_path)
    built = []
    rel = session_artifact(spark, "sfr", "thing", built.append)
    absolute = session_artifact(spark, str(tmp_path / "sfr"), "thing", built.append)
    assert rel == absolute and built == [rel]
