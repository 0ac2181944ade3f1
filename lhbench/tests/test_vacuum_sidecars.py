"""VACUUM must leave the files of live data alone, sidecars included.

``TackleTable.vacuum`` deletes every file under ``data/`` that the kept
versions do not list, and the log lists only the parquet files, so the
``.crc`` checksum sidecar of every live file goes too. A reader opening
a live file at that moment fails with ``NoSuchFileException`` on the
sidecar (seen under cdc_ingest with a concurrent reader). The strict
expected failure flips to a pass once VACUUM keeps them.
"""

from __future__ import annotations

import os

import pytest

from lakehouse_tacklebox_spark.tablestore import TackleTable


@pytest.mark.xfail(strict=True, reason="vacuum deletes the .crc sidecars of live data files")
def test_vacuum_keeps_sidecars_of_live_files(bench_spark):
    spark, work = bench_spark
    path = str(work / "sidecars")
    t = TackleTable.create(spark, path, spark.range(10).toDF("id"))
    t.append(spark.range(10, 20).toDF("id"))
    live = t.detail()["numFiles"]
    t.vacuum(keep_versions=1)
    sidecars = []
    for d, _dirs, files in os.walk(os.path.join(path, "data")):
        sidecars += [f for f in files if f.endswith(".parquet.crc")]
    assert t.read().count() == 20
    assert len(sidecars) == live
