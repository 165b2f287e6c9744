"""Unit tests for dedup operators: survivor determinism (the A3 trap,
SURVEY §4.2.1) and the near-dup family on planted duplicates."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from cid_etl_spark.operators.dedup import (
    exact_dedup,
    jaccard_similarity,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    priority_dedup,
    shingles,
    simhash_dedup_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster and aggregates results"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-word edit → high jaccard
FAR = "completely different content about databases and query optimizers only"


def test_priority_dedup_survivor(spark):
    df = spark.createDataFrame(
        [
            ("A01", "DATASUS", "x"),
            ("A01", "Estruturada", "y"),
            ("B02", "DATASUS", "z"),
        ],
        "code string, fonte string, payload string",
    )
    prio = F.when(F.col("fonte") == "Estruturada", 0).otherwise(1)
    out = priority_dedup(df, "code", [prio.asc(), F.col("payload").asc()])
    rows = {r["code"]: r["fonte"] for r in out.collect()}
    assert rows == {"A01": "Estruturada", "B02": "DATASUS"}


def test_priority_dedup_is_deterministic_on_ties(spark):
    df = spark.createDataFrame(
        [("k", i, f"p{i}") for i in range(20)], "code string, n int, payload string"
    )
    picks = {
        tuple(
            priority_dedup(
                df.repartition(p), "code", [F.col("n").asc(), F.col("payload").asc()]
            ).collect()[0]
        )
        for p in (1, 3, 7)
    }
    assert len(picks) == 1  # same survivor regardless of partitioning


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "id long, text string"
    )
    out = exact_dedup(df, "text", tiebreak=[F.col("id").asc()])
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_jaccard_on_shingles(spark):
    df = spark.createDataFrame([(BASE, NEAR), (BASE, FAR)], "a string, b string")
    out = df.select(
        jaccard_similarity(shingles("a", 3), shingles("b", 3)).alias("j")
    ).collect()
    assert out[0]["j"] > 0.5
    assert out[1]["j"] < 0.1


def test_minhash_finds_planted_near_dup(spark):
    rows = [(1, BASE), (2, NEAR), (3, FAR), (4, "tiny"), (5, BASE + " extra token")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_dedup_pairs(
        df, "doc_id", "text", shingle_n=3, num_hashes=32, num_bands=16, threshold=0.4
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(3 not in p for p in found)


def test_simhash_finds_planted_near_dup(spark):
    rows = [(1, BASE), (2, NEAR), (3, FAR)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_dedup_pairs(df, "doc_id", "text", max_hamming=10, n=2).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found


def test_lsh_hot_bucket_guard_drops_degenerate_bucket(spark, caplog):
    """10k docs sharing band 0's values (a boilerplate family) must NOT
    produce the ~50M quadratic pair explosion: the guard drops the hot
    bucket — with a WARNING, never silently — and the remaining
    (unique-per-doc) bands pair nothing."""
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # signature: band 0 slice identical for ALL docs; bands 1-3 unique
        F.array(
            F.lit(7).cast("long"), F.lit(7).cast("long"),
            F.col("id"), -F.col("id"),
            F.col("id") * 2, -F.col("id") * 2,
            F.col("id") * 3, -F.col("id") * 3,
        ).alias("sig"),
    )
    with caplog.at_level(logging.WARNING, logger="cid_etl_spark.operators.dedup"):
        pairs = lsh_candidate_pairs(
            df, "doc_id", "sig", num_bands=4, max_bucket_size=100
        )
    assert pairs.count() == 0
    assert "dropped 1 bucket(s) totalling 10000" in caplog.text


def test_lsh_guard_keeps_small_buckets_and_none_disables(spark):
    # 30 docs all sharing every band: under the cap, all pairs emitted
    df = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.array(*[F.lit(v).cast("long") for v in (1, 2, 3, 4)]).alias("sig"),
    )
    capped = lsh_candidate_pairs(df, "doc_id", "sig", num_bands=2, max_bucket_size=100)
    uncapped = lsh_candidate_pairs(df, "doc_id", "sig", num_bands=2, max_bucket_size=None)
    assert capped.count() == 30 * 29 // 2 == uncapped.count()
    # cap below the bucket size: everything dropped, loudly (log), not an error
    dropped = lsh_candidate_pairs(df, "doc_id", "sig", num_bands=2, max_bucket_size=10)
    assert dropped.count() == 0


def test_lsh_bucket_is_the_band_values(spark):
    """Buckets key on each band's own values: docs pair iff some band
    slice is equal element for element."""
    df = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [1, 2, 9, 9]), (3, [12, 3, 4, 0]), (4, [0, 0, 3, 4])],
        "doc_id long, sig array<bigint>",
    )
    pairs = lsh_candidate_pairs(df, "doc_id", "sig", num_bands=2)
    assert sorted(tuple(r) for r in pairs.collect()) == [(1, 2), (1, 4)]


def test_base_hash_choices_are_checked(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="base_hash"):
        minhash_dedup_pairs(df, "doc_id", "text", base_hash="xxhash64")


def test_null_and_empty_text_match_the_twins(spark, tmp_path):
    """NULL text has no shingles: the md5 MinHash row never makes it a
    candidate and the md5 SimHash row gives it fingerprint 0, exactly as
    their DuckDB twins do — while '' is one empty shingle, like the
    twins' ``['']``.  Doc 5 is a planted near-dup of doc 4 and doc 7 a
    case/whitespace variant of it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cid_etl_spark.queries import oracle_queries, spark_queries

    from .test_oracle_parity import _normalize, _values_equal

    variant = "  " + BASE.upper().replace(" ", "\t")
    texts = [None, None, "", BASE, NEAR, FAR, variant]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, 8), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    queries, oracles = spark_queries(), oracle_queries()
    expected = {
        "minhash_lsh_verified": {(4, 5), (4, 7), (5, 7)},
        "simhash_pairs_verified": {(1, 2), (4, 7)},
    }
    try:
        for name, pairs in expected.items():
            s = _normalize(queries[name](spark, str(tmp_path)).toPandas())
            d = _normalize(con.execute(oracles[name]).fetchdf())
            assert set(zip(d["id_a"], d["id_b"])) == pairs, name  # non-vacuous
            assert list(s.columns) == list(d.columns), name
            assert len(s) == len(d), (name, s, d)
            for col in s.columns:
                assert all(
                    _values_equal(x, y) for x, y in zip(s[col].tolist(), d[col].tolist())
                ), (name, col, s, d)
    finally:
        con.close()
