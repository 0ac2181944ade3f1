"""Clone, identity/generated columns, catalog listing, session variables."""

import os

import pytest
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.sources import load_tables
from lakehouse_tacklebox_spark.tablestore.clone import clone
from lakehouse_tacklebox_spark.tablestore.columns import ColumnManagedTable
from lakehouse_tacklebox_spark.tablestore.table import TackleTable
from lakehouse_tacklebox_spark.tablestore.transactions import TackleCatalog

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def nation_table(spark, tmp_path):
    nation = load_tables(spark, SF_DIR, ["nation"])["nation"]
    return TackleTable.create(spark, str(tmp_path / "nation"), nation)


def test_shallow_clone_zero_copy(spark, tmp_path, nation_table):
    c = clone(nation_table, str(tmp_path / "shallow"))
    assert c.read().count() == nation_table.read().count()
    # zero data copy: clone's data dir is empty
    assert not os.listdir(os.path.join(c.path, "data"))
    hist = c.history()
    assert hist[-1]["operation"] == "CLONE" and not hist[-1]["operationParameters"]["deep"]
    src = nation_table.snapshot()
    assert hist[-1]["operationParameters"]["sourceVersion"] == src.version
    assert hist[-1]["operationMetrics"]["numReferencedFiles"] == len(src.files)
    assert c.detail()["numFiles"] == len(src.files) == len(c.snapshot().files)
    # clone evolves independently of the source
    c.delete("n_nationkey >= 10")
    assert c.read().count() == 10
    assert nation_table.read().count() == 25
    # vacuum on the clone never touches source files
    c.vacuum(keep_versions=1)
    assert nation_table.read().count() == 25


def test_deep_clone_independent_files(spark, tmp_path, nation_table):
    c = clone(nation_table, str(tmp_path / "deep"), deep=True)
    assert c.read().count() == 25
    assert os.listdir(os.path.join(c.path, "data"))
    # mutating the source does not affect the deep clone
    nation_table.delete("true")
    assert c.read().count() == 25


def test_identity_and_generated_columns(spark, tmp_path):
    base = spark.createDataFrame([], "id bigint, name string, name_upper string")
    t = TackleTable.create(spark, str(tmp_path / "mgd"), base)
    mgd = ColumnManagedTable(t, identity_col="id", generated={"name_upper": "upper(name)"})

    batch = spark.createDataFrame([("a",), ("b",), ("c",)], "name string").withColumn("id", F.lit(None).cast("bigint")).withColumn("name_upper", F.lit("WRONG"))
    mgd.append(batch)
    rows1 = mgd.read().collect()
    ids1 = sorted(r.id for r in rows1)
    assert len(set(ids1)) == 3 and min(ids1) >= 0  # unique; gaps allowed (Delta identity contract)
    # GENERATED ALWAYS: provided value overwritten
    assert all(r.name_upper == r.name.upper() for r in rows1)

    mgd.append(spark.createDataFrame([("d",), ("e",)], "name string").withColumn("id", F.lit(None).cast("bigint")).withColumn("name_upper", F.lit(None).cast("string")))
    rows2 = mgd.read().collect()
    ids2 = sorted(r.id for r in rows2)
    assert len(set(ids2)) == 5
    # second batch strictly above the first (monotone, gaps allowed)
    assert min(set(ids2) - set(ids1)) > max(ids1)


def test_catalog_listing_with_filters(spark, tmp_path):
    cat = TackleCatalog(spark, str(tmp_path / "cat"))
    nation = load_tables(spark, SF_DIR, ["nation"])["nation"]
    cat.create("bronze_nation", nation)
    cat.create("silver_nation", nation.filter("n_nationkey < 5"))
    cat.create("tmp_scratch", nation.limit(1))

    all_rows = cat.list_tables_df().collect()
    assert [r.table for r in all_rows] == ["bronze_nation", "silver_nation", "tmp_scratch"]
    assert all(r.size_bytes > 0 and r.num_files >= 1 for r in all_rows)

    filtered = cat.list_tables_df(include=["*_nation"], exclude=["bronze_*"]).collect()
    assert [r.table for r in filtered] == ["silver_nation"]


def test_session_variables_native(spark):
    """M18: Spark 4 DECLARE/SET VARIABLE — the reference's Step 15
    named_struct variables pattern works natively."""
    spark.sql("DECLARE OR REPLACE VARIABLE threshold INT DEFAULT 10")
    nation = load_tables(spark, SF_DIR, ["nation"])["nation"]
    nation.createOrReplaceTempView("nation_v")
    n1 = spark.sql("SELECT count(*) AS n FROM nation_v WHERE n_nationkey < threshold").collect()[0].n
    assert n1 == 10
    spark.sql("SET VARIABLE threshold = 3")
    n2 = spark.sql("SELECT count(*) AS n FROM nation_v WHERE n_nationkey < threshold").collect()[0].n
    assert n2 == 3


def _named_batch(spark, names):
    return (
        spark.createDataFrame([(n,) for n in names], "name string")
        .withColumn("id", F.lit(None).cast("bigint"))
    )


def test_identity_watermark_persisted_in_log(spark, tmp_path):
    """Appends read the next id from the commit log, never from a table
    scan; every identity append persists the advanced watermark."""
    t = TackleTable.create(spark, str(tmp_path / "wm"), schema="id bigint, name string")
    mgd = ColumnManagedTable(t, identity_col="id")
    mgd.append(_named_batch(spark, ["a", "b", "c"]))
    assert "id" in t.snapshot().watermarks
    wm1 = t.identity_watermark("id")
    assert wm1 == max(r.id for r in t.read().collect()) + 1
    mgd.append(_named_batch(spark, ["d"]))
    assert t.identity_watermark("id") > wm1
    ids = [r.id for r in t.read().collect()]
    assert len(set(ids)) == 4


def test_identity_legacy_table_bootstraps_from_footer_stats(spark, tmp_path):
    """A table created before watermarking (rows but no identityWatermark
    log key) bootstraps the watermark from footer min/max stats —
    metadata already in the log, not a data scan."""
    seeded = spark.createDataFrame([(7, "x"), (41, "y")], "id bigint, name string")
    t = TackleTable.create(spark, str(tmp_path / "legacy"), seeded)
    assert not t.snapshot().watermarks
    assert t.identity_watermark("id") == 42
    mgd = ColumnManagedTable(t, identity_col="id")
    mgd.append(_named_batch(spark, ["z"]))
    ids = sorted(r.id for r in t.read().collect())
    assert ids[:2] == [7, 41] and ids[2] >= 42


def test_identity_concurrent_appenders_get_disjoint_ranges(spark, tmp_path):
    """The round-1 race: two appenders read the same max and committed
    overlapping ids. Now the loser's commit detects the moved watermark,
    conflicts, and the public API reassigns before retrying."""
    from lakehouse_tacklebox_spark.tablestore.table import CommitConflictError

    path = str(tmp_path / "race")
    t_a = TackleTable.create(spark, path, schema="id bigint, name string")
    t_b = TackleTable(spark, path)
    mgd_a = ColumnManagedTable(t_a, identity_col="id")
    mgd_b = ColumnManagedTable(t_b, identity_col="id")

    # A reads the watermark... then B commits first (interleaving)
    stale_wm = t_a.identity_watermark("id")
    mgd_b.append(_named_batch(spark, ["b1", "b2"]))

    # A's low-level commit with the stale reservation must NOT blind-retry
    # into overlapping ids
    stale_df = mgd_a._apply(_named_batch(spark, ["a1", "a2"]), watermark=stale_wm)
    with pytest.raises(CommitConflictError):
        t_a.append(stale_df, identity_reserve=("id", stale_wm))

    # the public API retries with a fresh watermark -> disjoint ranges
    mgd_a.append(_named_batch(spark, ["a1", "a2"]))
    ids = [r.id for r in t_a.read().collect()]
    assert len(ids) == 4 and len(set(ids)) == 4


def test_identity_survives_overwrite(spark, tmp_path):
    """Delta semantics: identity keeps counting past an overwrite — the
    overwrite advances the watermark, so later appends never reuse the
    replaced range."""
    t = TackleTable.create(spark, str(tmp_path / "ow"), schema="id bigint, name string")
    mgd = ColumnManagedTable(t, identity_col="id")
    mgd.append(_named_batch(spark, ["a", "b"]))
    first_ids = {r.id for r in t.read().collect()}
    mgd.overwrite(_named_batch(spark, ["c", "d"]))
    ow_ids = {r.id for r in t.read().collect()}
    assert min(ow_ids) > max(first_ids)
    mgd.append(_named_batch(spark, ["e"]))
    all_ids = [r.id for r in t.read().collect()]
    assert len(all_ids) == 3 and len(set(all_ids)) == 3
    assert min(set(all_ids) - ow_ids) > max(ow_ids)
