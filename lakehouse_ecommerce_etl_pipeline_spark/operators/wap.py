"""Write-Audit-Publish: stage a batch, audit it with declarative
rules, and only then atomically publish a new table version — the
pattern (Netflix/Iceberg "WAP", Delta's staged commits) that keeps a
bad batch from ever becoming readable.

The reference pipeline validates AFTER data lands in the target table
(glue_jobs/orders_etl.py quarantines rejects but the good rows are
already merged); WAP inverts that: readers of ``sources/table.py``
managed tables only ever see the pre-audit version until the audit
passes, because publication IS the atomic `_latest` pointer flip —
an aborted audit leaves no trace in the version history.

100 TB notes: staging is one full write of the batch (unavoidable —
the audit must see final files), but the audit itself reads the
staged parquet with full pushdown and can be a metadata-only pass for
count/null-ratio rules; the publish step moves ZERO data (directory
rename + pointer flip). Failed batches keep their staging dir for
forensics — the quarantine analogue at batch granularity.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from lakehouse_ecommerce_etl_pipeline_spark.operators.rules import Rule, apply_rules
from lakehouse_ecommerce_etl_pipeline_spark.session import delta_available
from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

_STAGE = "__staged__"


def _published_version(path: str) -> int:
    """Version of the just-published snapshot, for both storage layers.

    The parquet fallback lists ``_v=N`` dirs; under Delta those don't
    exist — the commit version is the highest ``N.json`` entry in
    ``_delta_log`` (reading the log, not DESCRIBE HISTORY, keeps this
    a metadata-only filesystem listing)."""
    if delta_available():
        log = os.path.join(path, "_delta_log")
        versions = [
            int(f.split(".", 1)[0])
            for f in os.listdir(log)
            if f.endswith(".json") and f.split(".", 1)[0].isdigit()
        ]
        return max(versions)
    return managed.history(path)[-1]


class AuditFailed(RuntimeError):
    """The staged batch violated an audit rule; nothing was published."""

    def __init__(self, report: dict):
        super().__init__(
            f"WAP audit failed: {report['rejected_rows']} rejected rows "
            f"(first reasons: {report['reject_reasons'][:3]}); batch staged "
            f"at {report['staging_dir']} for forensics, table NOT updated"
        )
        self.report = report


def write_audit_publish(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    rules: list[Rule],
    partition_by: list[str] | None = None,
) -> dict:
    """Stage ``df`` under ``<path>/__staged__``, audit the staged files
    against ``rules``, and publish a new managed-table version only if
    ZERO rows are rejected. Returns an audit report dict; raises
    :class:`AuditFailed` (leaving the staging dir in place and the
    table untouched) when the audit rejects rows.

    Contract difference vs the reference's quarantine flow
    (glue_jobs/orders_etl.py:66-80, reject-and-continue): WAP is
    all-or-nothing per batch — a poisoned batch never partially
    publishes, which is what makes re-runs idempotent at batch level.
    """
    # sibling dir, NOT inside the table root: under Delta the root is
    # the table itself and foreign subdirs corrupt file listings
    staging = os.path.normpath(path) + _STAGE
    shutil.rmtree(staging, ignore_errors=True)
    df.write.mode("overwrite").parquet(staging)

    staged = spark.read.parquet(staging)
    good, bad = apply_rules(staged, rules)
    bad = bad.localCheckpoint(eager=True)  # counted AND sampled for reasons
    rejected = bad.count()
    report = {
        "staged_rows": staged.count(),
        "rejected_rows": rejected,
        "reject_reasons": [
            r["rejection_reason"]
            for r in bad.select("rejection_reason").distinct().limit(10).collect()
        ]
        if rejected
        else [],
        "staging_dir": staging,
        "published_version": None,
    }
    if rejected:
        raise AuditFailed(report)

    managed.write(spark, staged, path, partition_by=partition_by)
    shutil.rmtree(staging, ignore_errors=True)
    report["published_version"] = _published_version(path)
    report["staging_dir"] = None
    return report
