"""Round-7 fixes: crash-recovery must not delete freshly committed NEW
buckets (the manifest now records the explicitly-empty bucket set), the
merge lock is released even when the pre-lock persist fails, and band
geometry is verified against the data's actual signature width.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from restaurant_etl_code_spark.sources import sinks


def _bucket_of(spark, key: int, keys: list[str], n: int) -> int:
    df = spark.createDataFrame([(key,)], f"{keys[0]} int").withColumn(
        "__b", sinks._bucket_expr(keys, n)
    )
    return df.collect()[0]["__b"]


# ---------------------------------------------------------------------------
# Crash between last rename and manifest removal: a NEW bucket's committed
# data must survive recovery (previously replay read the post-swap state
# tmp/b-absent + target/b-present + trash/b-absent as "merged output empty"
# and trashed it)
# ---------------------------------------------------------------------------

def test_recovery_keeps_committed_new_bucket(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    n = 8
    # base keys confined to bucket of 0's family so several buckets start absent
    b0 = _bucket_of(spark, 0, ["k"], n)
    new_key = next(
        k for k in range(1, 4000) if _bucket_of(spark, k, ["k"], n) != b0
    )
    base = spark.createDataFrame([(0, 1.0)], "k int, price double")
    sinks.write_merge_target(base, path, ["k"], n_buckets=n)
    new_bucket = _bucket_of(spark, new_key, ["k"], n)
    assert not os.path.exists(os.path.join(path, f"__bucket={new_bucket}"))

    # crash exactly between the completed swap and manifest removal
    manifest = os.path.join(path, "_commit.json")
    real_remove = os.remove

    def dying_remove(p):
        if os.path.abspath(p) == os.path.abspath(manifest):
            raise OSError("simulated crash before manifest removal")
        real_remove(p)

    updates = spark.createDataFrame([(new_key, 42.0)], "k int, price double")
    monkeypatch.setattr(os, "remove", dying_remove)
    with pytest.raises(OSError, match="simulated crash"):
        sinks.merge_into_parquet(spark, path, updates, ["k"])
    monkeypatch.setattr(os, "remove", real_remove)

    # swap completed: the new bucket is committed, the manifest persists
    assert os.path.exists(os.path.join(path, f"__bucket={new_bucket}"))
    assert os.path.exists(manifest)
    lock = os.path.join(path, sinks._MERGE_LOCK)
    if os.path.exists(lock):
        os.remove(lock)

    assert sinks.recover_merge_target(path) is True
    got = {r["k"]: r["price"] for r in sinks.read_bucketed(spark, path).collect()}
    assert got == {0: 1.0, new_key: 42.0}  # committed data survives recovery
    assert not os.path.exists(manifest)


def test_recovery_still_trashes_explicitly_empty_bucket(spark, tmp_path, monkeypatch):
    """The legitimate case the old inference served: a CDC batch that deletes
    every row of a bucket. The manifest's `empty` list drives the removal."""
    path = str(tmp_path / "t")
    n = 8
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k int, price double"
    )
    sinks.write_merge_target(base, path, ["k"], n_buckets=n)
    victim = _bucket_of(spark, 7, ["k"], n)
    doomed = [
        k for k in range(100) if _bucket_of(spark, k, ["k"], n) == victim
    ]
    assert doomed
    ops = spark.createDataFrame(
        [(k, 0.0, 1, "D") for k in doomed], "k int, price double, ts int, op string"
    )

    manifest = os.path.join(path, "_commit.json")
    real_remove = os.remove

    def dying_remove(p):
        if os.path.abspath(p) == os.path.abspath(manifest):
            raise OSError("simulated crash before manifest removal")
        real_remove(p)

    monkeypatch.setattr(os, "remove", dying_remove)
    with pytest.raises(OSError, match="simulated crash"):
        sinks.cdc_merge_into_parquet(
            spark, path, ops, ["k"], order_by=["ts"]
        )
    monkeypatch.setattr(os, "remove", real_remove)
    assert json.load(open(manifest))["empty"] == [victim]
    lock = os.path.join(path, sinks._MERGE_LOCK)
    if os.path.exists(lock):
        os.remove(lock)

    assert sinks.recover_merge_target(path) is True
    got = {r["k"] for r in sinks.read_bucketed(spark, path).collect()}
    assert got == set(range(100)) - set(doomed)
    assert not os.path.exists(os.path.join(path, f"__bucket={victim}"))


def test_pre_empty_manifest_defaults_to_keeping_buckets(spark, tmp_path):
    """A manifest without the `empty` field (pre-round-7 format) must never
    delete a present target bucket: stale-data-kept beats data-lost."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k int, price double"
    )
    sinks.write_merge_target(base, path, ["k"], n_buckets=4)
    present = sorted(
        int(d.split("=")[1]) for d in os.listdir(path) if d.startswith("__bucket=")
    )
    tmp = f"{path}.__tmp_deadbeef"
    trash = f"{path}.__trash_deadbeef"
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(path, "_commit.json"), "w") as fh:
        json.dump({"tmp": tmp, "trash": trash, "touched": present}, fh)
    assert sinks.recover_merge_target(path) is True
    got = {r["k"] for r in sinks.read_bucketed(spark, path).collect()}
    assert got == set(range(50))  # nothing deleted


# ---------------------------------------------------------------------------
# band geometry verified against the DATA's signature width (per row)
# ---------------------------------------------------------------------------

def test_band_geometry_from_data_catches_narrow_signatures(spark):
    from restaurant_etl_code_spark.operators import dedup

    # 4-wide signatures, geometry needs 16 — no num_hashes hint supplied:
    # the per-row guard riding the band_hash expression must raise at run
    sigs = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [1, 2, 3, 5])],
        "doc_id int, signature array<bigint>",
    )
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4)
    with pytest.raises(Exception, match="signature's width"):
        pairs.collect()


def test_band_geometry_wide_signatures_no_false_positive(spark):
    from restaurant_etl_code_spark.operators import dedup

    # 32-wide signatures with 8x4 geometry are VALID — previously the
    # default num_hashes=16 made the static guard reject them
    wide = spark.createDataFrame(
        [(1, list(range(32))), (2, list(range(32))), (3, list(range(1, 33)))],
        "doc_id int, signature array<bigint>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(
            wide, "doc_id", bands=8, rows_per_band=4
        ).collect()
    }
    assert (1, 2) in got  # identical signatures collide in every band
    est = dedup.minhash_estimate_pairs(
        wide, "doc_id", bands=8, rows_per_band=4
    ).collect()
    by_pair = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in est}
    assert by_pair[(1, 2)] == 1.0  # denominator = actual width (32)


# ---------------------------------------------------------------------------
# weighted Misra-Gries (per-batch value_counts + quantile batch-decrement)
# keeps the superset guarantee — result must equal exact GROUP BY/HAVING
# ---------------------------------------------------------------------------

def test_heavy_hitters_weighted_mg_matches_exact(spark):
    import random

    from restaurant_etl_code_spark.operators import stats

    rng = random.Random(7)
    # adversarial-ish mix: a few heavy keys drowned in a long unique tail,
    # spread over several partitions so the batch-decrement actually fires
    rows = [(k,) for k in range(10)] * 300
    # key 666 lands EXACTLY on min_count: the contract is strictly
    # count > threshold, so it must be excluded (round-7 advisory: the
    # old >= baseline only passed because no key hit the boundary)
    rows += [(666,)] * 200
    rows += [(1000 + rng.randrange(50000),) for _ in range(20000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k bigint").repartition(8)
    exact = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 200).collect()
    }
    got = {
        r["k"]: r["n"]
        for r in stats.heavy_hitters(df, "k", min_count=200, summary_size=64).collect()
    }
    assert got == exact
    assert 666 not in got and exact  # boundary excluded, result non-trivial


# ---------------------------------------------------------------------------
# large-list IVF routing: numpy/Arrow assigner replaces the literal plan
# above _LITERAL_ASSIGN_MAX_CENTERS and must agree with it
# ---------------------------------------------------------------------------

def test_ivfpq_arrow_routing_parity_with_literal(spark, monkeypatch):
    import random

    from restaurant_etl_code_spark.operators import similarity

    rng = random.Random(11)
    corpus = spark.createDataFrame(
        [(i, [round(rng.uniform(-1, 1), 6) for _ in range(8)]) for i in range(400)],
        "vec_id bigint, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") % 37 == 0)

    def run():
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["adc"])
            for r in similarity.ivfpq_topk(
                queries, corpus, n_lists=300, nprobe=4, m=2, k_centers=4, k=3
            ).collect()
        )

    arrow = run()  # 300 > 256 → Arrow routing
    assert len(arrow) > 0
    monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_MAX_CENTERS", 10**9)
    literal = run()
    assert arrow == literal


def test_kmeans_assign_arrow_parity(spark, monkeypatch):
    import random

    from restaurant_etl_code_spark.operators import similarity

    rng = random.Random(3)
    df = spark.createDataFrame(
        [(i, [round(rng.uniform(-2, 2), 6) for _ in range(6)]) for i in range(500)],
        "vec_id bigint, embedding array<double>",
    )
    centers = {
        cid: [round(rng.uniform(-2, 2), 6) for _ in range(6)] for cid in range(40)
    }
    vecs = df.select(F.col("vec_id").alias("__id"), F.col("embedding").alias("__v"))
    a = {
        r["__id"]: (r["centroid_id"], round(r["__d2"], 6))
        for r in similarity._kmeans_assign_arrow(vecs, "__v", centers).collect()
    }
    b = {
        r["__id"]: (r["centroid_id"], round(r["__d2"], 6))
        for r in similarity._kmeans_assign(vecs, "__v", centers).collect()
    }
    assert a == b
