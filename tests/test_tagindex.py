"""Series catalog (tag-index analog) — resolution correctness, parquet
pushdown of the resolved IN-list, and the completeness invariant across
restore / compact / legacy-open."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nexusbase_spark.engine import NexusEngine
from nexusbase_spark.operators.tagindex import SeriesCatalog


@pytest.fixture()
def eng(spark, tmp_path):
    e = NexusEngine(spark, str(tmp_path / "wh"))
    e.put_batch([
        ("cpu", {"host": "a", "dc": "eu"}, {"v": 1.0}, 1_000),
        ("cpu", {"host": "b", "dc": "eu"}, {"v": 2.0}, 1_000),
        ("cpu", {"host": "a", "dc": "us"}, {"v": 3.0}, 2_000),
        ("mem", {"host": "a", "dc": "eu"}, {"v": 4.0}, 1_000),
        ("disk", {}, {"v": 5.0}, 1_000),
    ])
    return e


def _vals(df):
    return sorted(r["f_double"] for r in df.collect() if r["vtype"] != "marker")


def test_resolve_conjunctive_and(eng):
    cat = eng._catalog
    assert cat.resolve("cpu", {"dc": "eu"}) == [
        "cpu|dc=eu,host=a", "cpu|dc=eu,host=b"]
    assert cat.resolve("cpu", {"host": "a", "dc": "eu"}) == ["cpu|dc=eu,host=a"]
    assert cat.resolve("cpu", {"host": "zzz"}) == []          # known-empty
    assert cat.resolve(None, {"host": "a"}) == [
        "cpu|dc=eu,host=a", "cpu|dc=us,host=a", "mem|dc=eu,host=a"]
    assert cat.resolve("cpu", {}) is None                     # no tags: n/a
    assert cat.resolve("cpu", {"dc": "eu"}, max_keys=1) is None  # cap


def test_points_match_fallback_path(eng):
    """Catalog-resolved results == map-access-filter results, all shapes."""
    for metric, tags in [("cpu", {"dc": "eu"}), ("cpu", {"host": "a"}),
                         (None, {"host": "a"}), ("cpu", {"host": "zzz"})]:
        fast = eng.points(metric=metric, tags=tags)
        eng_no_cat = NexusEngine(eng.spark, eng.warehouse)
        eng_no_cat._catalog = SeriesCatalog(eng.warehouse + "/nope")
        slow = eng_no_cat.points(metric=metric, tags=tags)
        assert _vals(fast) == _vals(slow)


def test_in_list_reaches_parquet_scan(eng):
    plan = eng.points(metric="cpu", tags={"dc": "eu"})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters" in plan and "In(series_key" in plan


def test_prefix_tag_key_sort_edge(spark, tmp_path):
    """Python series_key (sorted by key) must equal the Spark expression
    (array_sort on (key, value) structs) even when one tag key is a strict
    prefix of another — 'a' vs 'a0' order differs under concat-sort."""
    e = NexusEngine(spark, str(tmp_path / "wh"))
    e.put("m", {"a": "1", "a0": "2"}, {"v": 9.0}, 5)
    rows = [r for r in e.points(metric="m", tags={"a": "1", "a0": "2"}).collect()
            if r["vtype"] != "marker"]
    assert [r["f_double"] for r in rows] == [9.0]
    assert rows[0]["series_key"] == "m|a=1,a0=2"


@pytest.mark.nightly
def test_catalog_overapprox_is_result_neutral(eng):
    """Tombstoned series stay in the catalog (over-approximation) without
    leaking rows; compact() prunes them from the index."""
    eng.delete_series("cpu", {"host": "b", "dc": "eu"})
    assert _vals(eng.points(metric="cpu", tags={"dc": "eu"})) == [1.0]
    eng.compact()
    assert "cpu|dc=eu,host=b" not in (eng._catalog.resolve("cpu", {"dc": "eu"}) or [])
    assert _vals(eng.points(metric="cpu", tags={"dc": "eu"})) == [1.0]


@pytest.mark.nightly
def test_legacy_warehouse_is_reindexed(eng, spark, tmp_path):
    """Opening a warehouse with points but no catalog builds one (the
    completeness invariant), and bulk ingest keeps it complete."""
    import shutil
    shutil.rmtree(eng._catalog.path)
    e2 = NexusEngine(spark, eng.warehouse)
    assert e2._catalog.resolve("cpu", {"dc": "us"}) == ["cpu|dc=us,host=a"]
    batch = spark.createDataFrame(
        [("net", {"host": "c"}, 9_000, "v", "float", 7.0, None, None, None)],
        "metric string, tags map<string,string>, ts long, field string, "
        "vtype string, f_double double, f_long long, f_string string, "
        "f_bool boolean")
    e2.ingest_frame(batch)
    assert e2._catalog.resolve("net", {"host": "c"}) == ["net|host=c"]
    assert _vals(e2.points(metric="net", tags={"host": "c"})) == [7.0]


def test_snapshot_restore_carries_catalog(eng, spark, tmp_path):
    snap = eng.snapshot()
    e2 = NexusEngine(spark, str(tmp_path / "wh2"))
    e2.restore(snap)
    assert e2._catalog.resolve("cpu", {"dc": "eu"}) == [
        "cpu|dc=eu,host=a", "cpu|dc=eu,host=b"]
    # and a catalog-less snapshot re-indexes on restore
    import shutil
    shutil.rmtree(snap + "/catalog")
    e3 = NexusEngine(spark, str(tmp_path / "wh3"))
    e3.restore(snap)
    assert e3._catalog.resolve("mem", {"host": "a"}) == ["mem|dc=eu,host=a"]


def test_failed_catalog_write_never_breaks_resolve(tmp_path, monkeypatch):
    """A catalog append that dies mid-write (crash, full disk) must leave
    no half-written file where a concurrent resolve() lists the catalog:
    the keys appended before still resolve, and exists() is unchanged."""
    import pyarrow.parquet as pq

    cat = SeriesCatalog(str(tmp_path / "catalog"))
    cat.append_points([("cpu", {"dc": "eu"}, "cpu|dc=eu,host=a"),
                       ("cpu", {"dc": "eu"}, "cpu|dc=eu,host=b")])

    def torn_write(table, where, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1\x00\x01partial")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        cat.append_points([("cpu", {"dc": "eu"}, "cpu|dc=eu,host=c")])
    monkeypatch.undo()

    assert cat.exists()
    assert cat.resolve("cpu", {"dc": "eu"}) == ["cpu|dc=eu,host=a",
                                                "cpu|dc=eu,host=b"]
