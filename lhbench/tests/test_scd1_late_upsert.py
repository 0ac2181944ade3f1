"""An upsert older than a delete, arriving after it, must not revive the key.

SCD type 1 keeps no tombstones, so ``apply_changes_batch(scd_type=1)``
brings the deleted key back (it returns ``(1, 'late', 2)``); the SCD
type 2 current view is right. The strict expected failure flips to a
pass once SCD1 keeps tombstones.
"""

from __future__ import annotations

import pytest

from lakehouse_tacklebox_spark.streaming.apply_changes import apply_changes_batch
from lakehouse_tacklebox_spark.tablestore import TackleTable

SCHEMA = "id LONG, val STRING, seq LONG, op STRING"
BATCHES = [
    [(1, "first", 1, "UPSERT")],
    [(1, None, 3, "DELETE")],
    [(1, "late", 2, "UPSERT")],
]


def _apply(spark, path, scd_type):
    for rows in BATCHES:
        apply_changes_batch(
            path,
            spark.createDataFrame(rows, SCHEMA),
            keys=["id"],
            sequence_by="seq",
            apply_as_delete_when="op = 'DELETE'",
            scd_type=scd_type,
        )
    return TackleTable(spark, path).read()


@pytest.mark.xfail(strict=True, reason="SCD1 apply_changes keeps no tombstones; a late older upsert revives a deleted key")
def test_scd1_late_upsert_does_not_revive_deleted_key(bench_spark):
    spark, work = bench_spark
    rows = _apply(spark, str(work / "scd1"), 1).select("id", "val", "seq").collect()
    assert [tuple(r) for r in rows] == []


def test_scd2_current_view_drops_deleted_key(bench_spark):
    spark, work = bench_spark
    df = _apply(spark, str(work / "scd2"), 2)
    assert df.filter("__is_current").count() == 0
    assert df.count() == 3
