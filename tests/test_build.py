"""Index-build invariants: stable doc_ids, exact stats, resumability,
checkpoint ledger, xxhash golden value, corpus determinism."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tlgs_spark import oracle as O
from tlgs_spark.corpus import generate_pandas, generate_spark
from tlgs_spark.indexer.build import build_index
from tlgs_spark.indexer.codec import decode_varints
from tlgs_spark.indexer.storage import IndexStorage


def test_corpus_deterministic_and_prefix_stable():
    a = generate_pandas(12)
    b = generate_pandas(12)
    pd.testing.assert_frame_equal(a, b)
    # per-turn text equality on the common prefix (north-rule invariant)
    small = generate_pandas(5)
    common = a[a.conv_id.isin(small.conv_id.unique())].reset_index(drop=True)
    pd.testing.assert_frame_equal(common, small)


def test_spark_generator_matches_pandas(spark):
    sdf = generate_spark(spark, 8, partitions=3)
    got = sdf.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp = generate_pandas(8).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)


def test_doc_ids_are_dense_rank_over_conv_turn(spark, index_dir, corpus_pdf):
    docs = (
        IndexStorage(index_dir)
        .read(spark, "docs")
        .select("doc_id", "conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert docs.doc_id.tolist() == list(range(len(docs)))
    # sorted by doc_id == sorted by (conv_id, turn_idx), texts equal row-for-row
    assert docs.conv_id.tolist() == corpus_pdf.conv_id.tolist()
    assert docs.turn_idx.tolist() == corpus_pdf.turn_idx.tolist()
    assert docs.text.tolist() == corpus_pdf.text.tolist()


def test_collection_stats_exact(spark, index_dir, oracle_index):
    row = IndexStorage(index_dir).read(spark, "collection_stats").collect()[0]
    assert row.n_docs == oracle_index.n_docs
    assert row.avgdl == oracle_index.avgdl  # exact float64, not approx
    assert row.n_terms == oracle_index.total_terms
    assert row.n_postings == sum(len(p) for p in oracle_index.postings.values())


def test_doc_lengths_match_oracle(spark, index_dir, oracle_index):
    dl = IndexStorage(index_dir).read(spark, "doc_lengths").toPandas()
    got = dict(zip(dl.doc_id, dl.dl))
    assert got == oracle_index.doc_lengths


def test_term_stats_df_exact(spark, index_dir, oracle_index):
    ts = IndexStorage(index_dir).read(spark, "term_stats").toPandas()
    got = dict(zip(ts.term, ts.df))
    exp = {t: len(p) for t, p in oracle_index.postings.items()}
    assert got == exp


def test_norms_decode_to_doc_lengths(spark, index_dir, oracle_index):
    st = IndexStorage(index_dir)
    rows = st.read(spark, "norms").collect()
    for r in rows:
        dls = decode_varints(bytes(r.dls)).astype(np.int64)
        for off, dl in enumerate(dls):
            doc = r.base + off
            if doc in oracle_index.doc_lengths:
                assert dl == oracle_index.doc_lengths[doc]


def test_ledger_metrics_present(spark, index_dir):
    led = IndexStorage(index_dir).read(spark, "ledger").toPandas()
    meta = IndexStorage(index_dir).read_meta()
    assert sorted(led.shard.unique()) == list(range(meta["n_shards"]))
    assert (led.n_postings > 0).all()
    assert (led.postings_per_sec > 0).all()
    assert (led.skew_factor > 0).all()
    assert led.lineage.iloc[0] == "tests:N_CONV=60"


def test_resume_produces_identical_index(spark, tmp_path):
    """Kill after 2 of 5 shards → resume → postings identical to an
    uninterrupted build (BASELINE resumability target)."""
    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "part")
    sdf = generate_spark(spark, 15, partitions=3)
    build_index(spark, sdf, full_dir, n_shards=5)
    m1 = build_index(spark, sdf, part_dir, n_shards=5, max_shards_to_build=2, shard_batch=1)
    assert m1["shards_built"] == 2
    st = IndexStorage(part_dir)
    assert len(st.completed_shards(spark)) == 2
    m2 = build_index(spark, sdf, part_dir, n_shards=5, resume=True)
    assert m2["shards_built"] == 3  # only the pending shards
    a = (
        spark.read.parquet(os.path.join(full_dir, "postings"))
        .select("shard", "term", "df", "postings", "dls")
        .toPandas()
        .sort_values(["shard", "term"])
        .reset_index(drop=True)
    )
    b = (
        spark.read.parquet(os.path.join(part_dir, "postings"))
        .select("shard", "term", "df", "postings", "dls")
        .toPandas()
        .sort_values(["shard", "term"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_resume_over_stale_meta_builds_fresh(spark, tmp_path):
    """A resume over an index whose meta fails the format/layout/
    analyzer gate must not trust its docs, ledger or shard files: it
    builds fresh from the corpus it is given, and the result serves
    oracle-identical hits."""
    import json

    from tlgs_spark.indexer.build import index_meta_current
    from tlgs_spark.query.engine import SearchIndex

    idx = str(tmp_path / "idx_stale")
    build_index(spark, generate_spark(spark, 6, partitions=2), idx, n_shards=3)
    mf = os.path.join(idx, "index_meta.json")
    meta = json.load(open(mf))
    meta["postings_format"] = 3
    json.dump(meta, open(mf, "w"))

    pdf = generate_pandas(10)
    build_index(spark, spark.createDataFrame(pdf), idx, n_shards=3, resume=True)
    assert index_meta_current(IndexStorage(idx).read_meta())
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    oidx = O.build_index(list(zip(range(len(pdf)), pdf.text)))
    si = SearchIndex(spark, idx)
    for q, mode in [("tok0000 tok0001", "or"), ("tok0002", "and"), ("marker000", "and")]:
        got = si.search(q, k=50, mode=mode)
        exp = O.search(oidx, q, k=50, mode=mode)
        assert list(zip((int(d) for d in got["doc_id"]), got["score"])) == exp, q


@pytest.mark.parametrize(
    "field,stale",
    [
        ("postings_format", 3),
        ("tokenizer", "tlgs_spark.tokenizer v2 (s-stem)"),
        ("docs_layout", None),
    ],
)
def test_search_index_refuses_stale_meta(spark, index_dir, tmp_path, field, stale):
    """Opening an index written by an older build fails loudly and says
    to rebuild, instead of serving it through removed readers."""
    import json

    from tlgs_spark.query.engine import SearchIndex

    idx = str(tmp_path / "idx")
    shutil.copytree(index_dir, idx)
    mf = os.path.join(idx, "index_meta.json")
    meta = json.load(open(mf))
    meta[field] = stale
    json.dump(meta, open(mf, "w"))
    with pytest.raises(ValueError, match="rebuild"):
        SearchIndex(spark, idx)


def test_finalize_self_heals_on_resume(spark, tmp_path):
    """A build killed between the postings write and the term_stats /
    collection_stats finalize must self-heal on resume: finalize is
    idempotent and re-runs whenever term_stats is missing."""
    import shutil

    idx = str(tmp_path / "idx")
    sdf = generate_spark(spark, 12, partitions=2)
    build_index(spark, sdf, idx, n_shards=4)
    st = IndexStorage(idx)
    before = st.read(spark, "collection_stats").collect()[0]
    assert before.n_terms > 0 and before.n_postings > 0
    # simulate the kill: finalize artifacts gone, postings + ledger intact
    shutil.rmtree(st.path("term_stats"))
    m = build_index(spark, sdf, idx, n_shards=4, resume=True)
    assert m["shards_built"] == 0  # nothing re-tokenized, finalize only
    after = st.read(spark, "collection_stats").collect()[0]
    assert after == before
    ts = st.read(spark, "term_stats").toPandas()
    assert len(ts) == before.n_terms and int(ts.df.sum()) == before.n_postings


def test_xxhash64_golden():
    """Content-hash helper reproduces the reference golden value
    (tlgsutils/tests/utils_test.cpp:146-149)."""
    from tlgs_spark.utils import xxhash64_hex

    assert xxhash64_hex("Hello, World!") == "C49AACF8080FE47F"


def test_change_detection_hash_column(spark, index_dir):
    """docs carries xxhash64(text) for incremental re-index change
    detection (crawler.cpp:424-429,488-496 analog)."""
    docs = IndexStorage(index_dir).read(spark, "docs")
    n_bad = docs.filter(F.col("text_hash") != F.xxhash64("text")).count()
    assert n_bad == 0


def test_zero_posting_shard_gets_ledger_row(spark, tmp_path):
    """A shard whose entire doc range tokenizes to nothing must still be
    marked built — otherwise resume re-attempts it forever."""
    import pyspark.sql.functions as F

    from tlgs_spark.indexer.build import build_index
    from tlgs_spark.indexer.storage import IndexStorage

    rows = []
    for i in range(20):
        # docs 10..19 (the second of two 10-doc shards) are stopword-only
        text = f"alpha beta tok{i}" if i < 10 else "the and of a"
        rows.append((f"c{i:04d}", 0, "user", text, None))
    sdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    idx = str(tmp_path / "idx0")
    build_index(spark, sdf, idx, n_shards=2)
    st = IndexStorage(idx)
    led = spark.read.parquet(st.path("ledger"))
    by = {r.shard: r for r in led.collect()}
    assert set(by) == {0, 1}
    assert by[1].n_postings == 0 and by[1].status == "built"
    assert st.completed_shards(spark) == {0, 1}
    # resume is a no-op, not a rebuild loop
    m = build_index(spark, sdf, idx, n_shards=2, resume=True)
    assert m["shards_built"] == 0


def test_build_leaves_no_persisted_rdds(spark, tmp_path):
    """build_index must unpersist everything it caches — a leaked
    corpus-sized cache entry per build starves long sessions."""
    import pyspark.sql.functions as F

    from tlgs_spark.indexer.build import build_index

    rows = [(f"c{i:03d}", 0, "user", f"alpha tok{i}", None) for i in range(30)]
    sdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    spark.catalog.clearCache()
    build_index(spark, sdf, str(tmp_path / "idx_noleak"), n_shards=2)
    leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert leaked == 0, f"{leaked} persisted RDDs left behind"


def test_concurrent_builders_disjoint_claims(spark, tmp_path):
    """I4: two builders race the same pending set; claim files
    partition it — every shard built exactly once, final index
    byte-identical to a single-builder build, finalize runs once in
    the closing resume pass."""
    import threading

    from tlgs_spark.corpus import generate_pandas
    from tlgs_spark.indexer.build import build_index, release_claims
    from tlgs_spark.indexer.storage import IndexStorage

    pdf = generate_pandas(20)
    sdf = spark.createDataFrame(pdf)
    idx = str(tmp_path / "idx_conc")
    # phase 1 only (shared prepare), no postings yet
    build_index(spark, sdf, idx, n_shards=6, max_shards_to_build=0, resume=False)

    results = {}

    def builder(owner):
        results[owner] = build_index(
            spark, sdf, idx, n_shards=6, resume=True, shard_batch=1,
            claim_owner=owner, lineage=f"builder:{owner}",
        )

    t1 = threading.Thread(target=builder, args=("b1",))
    t2 = threading.Thread(target=builder, args=("b2",))
    t1.start(); t2.start(); t1.join(); t2.join()

    assert results["b1"]["shards_built"] + results["b2"]["shards_built"] == 6
    release_claims(idx)
    # closing resume pass: nothing left to build, finalizes stats
    build_index(spark, sdf, idx, n_shards=6, resume=True)
    st = IndexStorage(idx)
    led = st.read(spark, "ledger").toPandas()
    assert sorted(led.shard.tolist()) == list(range(6))  # exactly once each
    stats = st.read(spark, "collection_stats").collect()[0]
    assert stats.n_terms > 0

    # byte-identical to a single-builder build
    solo = str(tmp_path / "idx_solo")
    build_index(spark, sdf, solo, n_shards=6)
    import os

    import pandas as pd
    a = (spark.read.parquet(os.path.join(idx, "postings"))
         .select("shard", "term", "df", "postings").toPandas()
         .sort_values(["shard", "term"]).reset_index(drop=True))
    b = (spark.read.parquet(os.path.join(solo, "postings"))
         .select("shard", "term", "df", "postings").toPandas()
         .sort_values(["shard", "term"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_docs_layout_streamable_gate(spark, tmp_path):
    """The attestation gate that routes the postings pass to the
    shuffle-free stream kernel: True for a fresh build (the prepare
    pass stamps docs_layout, so RESUMED builds inherit the fast
    path), False for an index whose meta lacks the attestation. (The
    session fixture index is the cached format-1 compat index, which
    predates this layout — build fresh here.)"""
    import json

    from tlgs_spark.indexer.build import _docs_layout_streamable

    idx = str(tmp_path / "idx_stream_gate")
    build_index(spark, generate_spark(spark, 12, partitions=3), idx, n_shards=5)
    st = IndexStorage(idx)
    assert _docs_layout_streamable(spark, st)

    # stale/absent attestation (e.g. a pre-format-2 index, or a writer
    # that rewrote docs without the layout) -> gate must refuse
    mf = os.path.join(idx, "index_meta.json")
    meta = json.load(open(mf))
    meta.pop("docs_layout")
    json.dump(meta, open(mf, "w"))
    st2 = IndexStorage(idx)
    assert not _docs_layout_streamable(spark, st2)


def test_range_shuffle_assign_matches_broadcast(spark, tmp_path, monkeypatch):
    """Past FUSED_ASSIGN_MAX_DOCS the build shuffle-joins the ranked
    key map (sort-merge; no broadcast, and since r4 no full-row cache —
    the old full-row range-shuffle fallback spilled a corpus-sized
    columnar cache, 77 GB at 63M turns) instead of broadcast-joining
    it; the two paths must produce identical indexes (proven at 21M
    docs by the 10x probe — this pins it in CI at test scale by
    forcing the cap to 0)."""
    import tlgs_spark.indexer.build as B

    bcast_dir = str(tmp_path / "bcast")
    shuf_dir = str(tmp_path / "shuf")
    sdf = generate_spark(spark, 20, partitions=3)
    build_index(spark, sdf, bcast_dir, n_shards=5)
    monkeypatch.setattr(B, "FUSED_ASSIGN_MAX_DOCS", 0)
    build_index(spark, sdf, shuf_dir, n_shards=5)
    for table, cols in [
        ("postings", ["shard", "term", "df", "cf", "postings", "dls"]),
        ("docs", ["doc_id", "conv_id", "turn_idx", "text_hash"]),
        ("first_turn_terms", ["conv_id", "term"]),
        ("doc_lengths", ["doc_id", "dl"]),
    ]:
        a = (
            spark.read.parquet(os.path.join(bcast_dir, table))
            .select(*cols).toPandas()
            .sort_values(cols[:2]).reset_index(drop=True)
        )
        b = (
            spark.read.parquet(os.path.join(shuf_dir, table))
            .select(*cols).toPandas()
            .sort_values(cols[:2]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b, obj=table)
