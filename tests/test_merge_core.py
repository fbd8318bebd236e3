"""The shared MERGE core behind merge_into_parquet / cdc_merge_into_parquet.

An upsert is a CDC merge with every row an upsert, ordered by input
position: the last row of a key repeated within one batch wins, on every
layout (missing target, flat target, bucketed target) and through the
streaming foreachBatch sink. A whole-table swap that dies between its two
renames is undone by the next merge instead of losing the table.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from restaurant_etl_code_spark.sources import sinks
from restaurant_etl_code_spark.streaming import file_arrival_stream, foreach_batch_upsert

SCHEMA = "k long, v double"
BASE = [(k, float(k)) for k in range(10)]
# key 1 three times, key 2 twice, key 11 (new) twice: the last row in file
# order is neither the first, the largest nor the smallest value of its key
BATCH = [(1, 50.0), (2, 70.0), (1, 90.0), (11, 3.0), (2, 60.0), (1, 20.0), (11, 8.0)]
LAST = {1: 20.0, 2: 60.0, 11: 8.0}
MERGED = {**dict(BASE), **LAST}


def _rows(spark, path: str) -> list[tuple]:
    return [(r["k"], r["v"]) for r in sinks.read_bucketed(spark, path).collect()]


@pytest.mark.parametrize("layout", ["bucketed", "flat"])
def test_foreach_batch_upsert_keeps_last_row_per_key(spark, tmp_path, layout):
    landing = tmp_path / "landing"
    landing.mkdir()
    pq.write_table(
        pa.table({"k": [k for k, _ in BATCH], "v": [v for _, v in BATCH]}),
        str(landing / "delta_0.parquet"),
    )
    target = str(tmp_path / "t")
    base = spark.createDataFrame(BASE, SCHEMA)
    if layout == "bucketed":
        sinks.write_merge_target(base, target, ["k"], n_buckets=4)
    else:
        base.write.parquet(target)
    stream = file_arrival_stream(spark, str(landing), base.schema)
    foreach_batch_upsert(stream, target, ["k"], str(tmp_path / "ckpt"))
    got = _rows(spark, target)
    assert len(got) == len({k for k, _ in got})  # one row per key
    assert dict(got) == MERGED


def test_merge_into_missing_target_keeps_last_row_per_key(spark, tmp_path):
    target = str(tmp_path / "t")
    sinks.merge_into_parquet(spark, target, spark.createDataFrame(BATCH, SCHEMA), ["k"])
    got = _rows(spark, target)
    assert len(got) == len(LAST)
    assert dict(got) == LAST


def test_flat_swap_crash_restores_table_on_next_merge(spark, tmp_path, monkeypatch):
    """A crash between ``rename(target, old)`` and ``rename(tmp, target)``
    leaves no table; the next merge must rename the old table back and
    merge into it, not write the batch alone."""
    target = str(tmp_path / "t")
    sinks.merge_into_parquet(spark, target, spark.createDataFrame(BASE, SCHEMA), ["k"])
    batch = spark.createDataFrame(BATCH, SCHEMA)

    real_rename = os.rename
    calls = {"n": 0}

    def dying_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # the old table is out, the new one not yet in
            raise OSError("simulated crash mid-swap")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", dying_rename)
    with pytest.raises(OSError, match="simulated crash"):
        sinks.merge_into_parquet(spark, target, batch, ["k"])
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(target)
    assert [d for d in os.listdir(tmp_path) if d.startswith("t.__old_")]

    # the replayed batch lands on the whole table
    sinks.merge_into_parquet(spark, target, batch, ["k"])
    assert dict(_rows(spark, target)) == MERGED
    assert not [d for d in os.listdir(tmp_path) if d.startswith("t.__old_")]
