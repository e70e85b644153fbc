"""Scale-adaptive shuffle sizing + driver-table registration memo."""

from __future__ import annotations

import os

from dataquality_box_spark.session import (
    _ADVISORY_BYTES,
    _SHUFFLE_EXPANSION,
    driver_memory,
    input_bytes_of,
    tune_shuffle_for,
)

_KEY = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def test_tune_shuffle_scales_with_input_bytes(spark, monkeypatch):
    monkeypatch.delenv("DQX_INITIAL_SHUFFLE_PARTITIONS", raising=False)
    prev = spark.conf.get(_KEY, None)
    try:
        cores = spark.sparkContext.defaultParallelism
        # tiny input floors at the core count
        assert tune_shuffle_for(spark, 10 * 1024) == cores
        assert int(spark.conf.get(_KEY)) == cores
        # big input scales to bytes/advisory (x expansion)
        big = 100 * _ADVISORY_BYTES
        want = max(cores, int(big * _SHUFFLE_EXPANSION) // _ADVISORY_BYTES)
        assert tune_shuffle_for(spark, big) == want
        assert int(spark.conf.get(_KEY)) == want
        # unknown size leaves the current setting alone
        assert tune_shuffle_for(spark, 0) == want
        # an explicit env pin always wins and is never overwritten
        monkeypatch.setenv("DQX_INITIAL_SHUFFLE_PARTITIONS", "123")
        assert tune_shuffle_for(spark, big) == 123
        assert int(spark.conf.get(_KEY)) == want  # conf untouched by pin
    finally:
        if prev is not None:
            spark.conf.set(_KEY, prev)


def test_driver_heap_fits_host_ram(monkeypatch):
    """The default heap is pre-touched at JVM start, so it must fit in
    physical RAM; DQX_DRIVER_MEM still overrides it."""
    monkeypatch.delenv("DQX_DRIVER_MEM", raising=False)
    heap = driver_memory()
    assert heap.endswith("m")
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 0 < int(heap[:-1]) * 2**20 <= ram
    assert int(heap[:-1]) <= 16 * 1024
    monkeypatch.setenv("DQX_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_input_bytes_of_parquet_scan(spark, tmp_path, transcripts_df):
    p = str(tmp_path / "t.parquet")
    transcripts_df.limit(200).write.parquet(p)
    df = spark.read.parquet(p)
    got = input_bytes_of(df)
    assert got > 0
    # in-memory frames report 0 (caller keeps the session default)
    assert input_bytes_of(transcripts_df) == 0


def test_register_views_memoized_per_dir(spark, tmp_path, monkeypatch):
    import pandas as pd

    from dataquality_box_spark.sources import driver_tables as dt

    def mkdir(name: str, val: int) -> str:
        d = tmp_path / name
        d.mkdir()
        for t in dt.TABLES:
            pd.DataFrame({"x": [val]}).to_parquet(d / f"{t}.parquet")
        return str(d)

    d1, d2 = mkdir("sfA", 1), mkdir("sfB", 2)
    dt.register_views(spark, d1)
    assert spark.table("events").collect()[0]["x"] == 1
    # switching dirs re-registers (the memo tracks the CURRENT dir)
    dt.register_views(spark, d2)
    assert spark.table("events").collect()[0]["x"] == 2
    # and switching back re-registers again, not a stale no-op
    dt.register_views(spark, d1)
    assert spark.table("events").collect()[0]["x"] == 1
