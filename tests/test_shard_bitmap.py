"""Shard-presence BITMAPS past the explicit-list cap (r4 verdict #3).

term_stats carries an explicit shard-id list only for terms in
≤ TERM_SHARDS_MAX (64) shards; mid-df terms — present in 65..n_shards-1
shards, the common case in real query logs — used to carry NULL and
prune nothing. Every term now also gets a fixed-width presence bitmap
(``shard_bits``, n_shards/8 bytes, little-endian bit s ⇔ shard s) while
n_shards ≤ SHARD_BITMAP_MAX (4096), and the engine decodes it into the
same presence machinery, so mid-df terms prune the postings scan in
both the driver and distributed paths. Delta updates maintain the
bitmap with the same set algebra as the list ((old ∖ changed) ∪ new),
bit-wise and exact.
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tlgs_spark.indexer.build import TERM_SHARDS_MAX, build_index
from tlgs_spark.indexer.codec import (
    SHARD_BITMAP_MAX,
    decode_shard_bits,
    encode_shard_bits,
)
from tlgs_spark.indexer.storage import IndexStorage
from tlgs_spark.query.engine import SearchIndex


def _mid_corpus(spark, n_conv=20, mid_convs=14):
    """20 convs × 10 turns = 200 docs → 100 shards of 2 docs.
    'common' is everywhere; 'midterm' spans the first 14 convs
    (140 docs → 70 shards: past the 64-entry list cap, below full
    coverage); 'rareterm' lives in one turn."""
    rows = []
    for c in range(n_conv):
        for t in range(10):
            text = f"alpha tok{t:02d} common"
            if c < mid_convs:
                text += " midterm"
            if c == 3 and t == 0:
                text += " rareterm"
            rows.append((f"c{c:04d}", t, "user", text, None))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())


def _presence_from_postings(spark, idx):
    """Ground-truth presence per term, re-derived from the committed
    postings themselves."""
    posts = IndexStorage(idx).read(spark, "postings")
    rows = (
        posts.filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.sort_array(F.collect_set("shard")).alias("sh"))
        .collect()
    )
    return {r.term: list(r.sh) for r in rows}


def test_roundtrip_and_short_blob_tolerance():
    ids = [0, 1, 63, 64, 100, 1023]
    b = encode_shard_bits(ids, 1024)
    assert len(b) == 128
    assert decode_shard_bits(b, 1024).tolist() == ids
    # grown grid: a blob written at 1024 decodes under 2048 unchanged
    assert decode_shard_bits(b, 2048).tolist() == ids
    # shrunken view never reports out-of-grid shards
    assert decode_shard_bits(b, 64).tolist() == [0, 1, 63]
    assert decode_shard_bits(encode_shard_bits([], 16), 16).tolist() == []


def test_build_writes_exact_bitmaps_for_every_term(spark, tmp_path):
    idx = str(tmp_path / "idx_bits")
    build_index(spark, _mid_corpus(spark), idx, n_shards=100)
    ts = IndexStorage(idx).read(spark, "term_stats").toPandas().set_index("term")
    assert "shard_bits" in ts.columns
    truth = _presence_from_postings(spark, idx)
    assert 100 <= SHARD_BITMAP_MAX
    for term, sh in truth.items():
        bits = ts.loc[term].shard_bits
        assert bits is not None, term
        assert decode_shard_bits(bytes(bits), 100).tolist() == sh, term
    # the regimes this feature is about:
    assert len(truth["midterm"]) == 70 > TERM_SHARDS_MAX
    assert ts.loc["midterm"].shards is None  # list cap exceeded
    assert len(truth["common"]) == 100  # full coverage
    # list still present (and consistent with the bitmap) for selective terms
    assert list(ts.loc["rareterm"].shards) == truth["rareterm"]


def test_engine_presence_uses_bitmap_for_mid_df_terms(spark, tmp_path):
    idx = str(tmp_path / "idx_bits_q")
    build_index(spark, _mid_corpus(spark), idx, n_shards=100)
    si = SearchIndex(spark, idx)
    info = si._term_info(["midterm", "common", "rareterm"])
    # midterm: presence decoded from the bitmap (70 shards)
    assert info["midterm"][1] is not None and len(info["midterm"][1]) == 70
    # full-coverage term reports None (pruning no-op, skip the isin cost)
    assert info["common"][1] is None
    # AND of mid-df terms intersects their bitmaps
    assert si._query_shards(["midterm", "rareterm"], info, "and") == info["rareterm"][1]
    and_mid = si._query_shards(["midterm", "common"], info, "and")
    assert and_mid == info["midterm"][1]
    # the distributed plan actually prunes: scan carries the shard filter
    plan = (
        si.search_df("midterm alpha", k=5, mode="and")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "shard#" in plan


def test_bitmap_pruned_results_identical(spark, tmp_path):
    """Driver and distributed paths under bitmap pruning match an
    unpruned twin exactly — ids and float-exact scores."""
    idx = str(tmp_path / "idx_bits_eq")
    build_index(spark, _mid_corpus(spark), idx, n_shards=100)
    si = SearchIndex(spark, idx)
    si_full = SearchIndex(spark, idx)
    si_full._query_shards = lambda *a, **k: None  # disable all pruning
    queries = [
        ("midterm", "and"),
        ("midterm alpha", "and"),
        ("midterm rareterm", "and"),
        ("midterm tok00", "or"),
        ("midterm common", "or"),
    ]
    for q, m in queries:
        pd.testing.assert_frame_equal(
            si.search(q, k=10, mode=m), si_full.search(q, k=10, mode=m)
        )
        a = si.search_df(q, k=10, mode=m).toPandas()
        b = si_full.search_df(q, k=10, mode=m).toPandas()
        pd.testing.assert_frame_equal(a, b)


def test_delta_update_maintains_exact_bitmaps(spark, tmp_path):
    """After an in-place delta (edit + delete + insert), every term's
    bitmap equals the presence re-derived from the updated index's own
    postings — the same exactness contract as df/cf's ±delta."""
    from tlgs_spark.streaming.incremental import incremental_update

    idx = str(tmp_path / "idx_bits_delta")
    corpus = _mid_corpus(spark)
    build_index(spark, corpus, idx, n_shards=100)

    edited = (
        corpus.filter(~(F.col("conv_id") == "c0019"))  # delete a conv
        .withColumn(
            "text",
            F.when(
                (F.col("conv_id") == "c0000") & (F.col("turn_idx") == 0),
                F.lit("alpha midterm newterm common"),
            ).otherwise(F.col("text")),
        )
        .unionByName(  # insert a new conv carrying midterm
            spark.createDataFrame(
                [("c0099", 0, "user", "midterm inserted common", None)],
                "conv_id string, turn_idx int, role string, text string, tool string",
            ).withColumn("ts", F.current_timestamp())
        )
    )
    res = incremental_update(spark, edited, idx)
    assert res.get("mode") == "delta"
    ts = IndexStorage(idx).read(spark, "term_stats").toPandas().set_index("term")
    truth = _presence_from_postings(spark, idx)
    for term, sh in truth.items():
        bits = ts.loc[term].shard_bits
        assert bits is not None, term
        # decode under the committed grid width
        n_sh = IndexStorage(idx).read_meta()["n_shards"]
        got = decode_shard_bits(bytes(bits), n_sh).tolist()
        assert got == sh, term
    assert "newterm" in truth
    # searches on the delta'd index still match an unpruned twin
    si = SearchIndex(spark, idx)
    si_full = SearchIndex(spark, idx)
    si_full._query_shards = lambda *a, **k: None
    for q, m in [("midterm", "and"), ("newterm common", "and"), ("midterm tok01", "or")]:
        pd.testing.assert_frame_equal(
            si.search(q, k=10, mode=m), si_full.search(q, k=10, mode=m)
        )
