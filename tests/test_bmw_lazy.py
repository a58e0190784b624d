"""Block-skipped (lazy) postings decode (block-max WAND).

Contracts pinned here (r3 VERDICT #2, true block-max WAND):
- per-block byte offsets + (tf, dl) Pareto fronts are stored at build
  time; `decode_postings_blocks` on any block subset reproduces the
  eager decode's slice exactly
- lazy OR / AND results (doc_ids AND float64 scores) are bit-identical
  to the eager paths on every query shape
- the lazy paths actually SKIP blocks: a single hot term decodes a
  fraction of its blob; a (rare AND hot) query barely touches the hot
  term
- the front bound is exact: per block, max over front pairs of tf_norm
  equals the true max tf_norm over the block's postings
"""

import numpy as np
import pytest
from conftest import cached_index_current

from tlgs_spark.corpus import generate_spark
from tlgs_spark.indexer.build import build_index
from tlgs_spark.indexer.codec import (
    decode_postings,
    decode_postings_blocks,
    encode_postings,
    encode_varints,
)
from tlgs_spark.query.scorer import (
    LazyTermData,
    _search_or_lazy,
    search_and,
    search_or,
)
from tlgs_spark.tokenizer import tokenize_query

BMW_DIR = "/tmp/tlgs_spark_bmw_index"
N_CONV_BMW = 400  # big enough that hot terms span many 128-blocks


@pytest.fixture(scope="module")
def bmw_index(spark):
    import shutil

    if not cached_index_current(BMW_DIR):
        shutil.rmtree(BMW_DIR, ignore_errors=True)
        sdf = generate_spark(spark, N_CONV_BMW, partitions=8)
        build_index(spark, sdf, BMW_DIR, n_shards=11, lineage="tests:bmw")
    return BMW_DIR


@pytest.fixture(scope="module")
def bmw_si(spark, bmw_index):
    from tlgs_spark.query.engine import SearchIndex

    return SearchIndex(spark, bmw_index)


def test_block_decode_roundtrip():
    rng = np.random.default_rng(7)
    for _ in range(20):
        n = int(rng.integers(1, 1500))
        base = int(rng.integers(0, 5000))
        ids = np.sort(
            rng.choice(np.arange(base, base + 40000), size=n, replace=False)
        ).astype(np.int64)
        tfs = rng.integers(1, 200, size=n).astype(np.int64)
        blob = encode_postings(ids, tfs, base=base)
        # per-block offsets the way the builder derives them
        inter = np.empty(n * 2, dtype=np.uint64)
        gaps = np.empty(n, dtype=np.int64)
        gaps[0] = ids[0] - base
        gaps[1:] = np.diff(ids)
        inter[0::2] = gaps
        inter[1::2] = tfs
        _, vlen = encode_varints(inter, return_lengths=True)
        bs = 128
        bstarts = np.arange(0, n, bs)
        cumv = np.concatenate(([0], np.cumsum(vlen)))
        boff = cumv[bstarts * 2]
        nb = len(bstarts)
        blen = np.diff(np.append(boff, len(blob)))
        sizes = np.full(nb, bs, dtype=np.int64)
        sizes[-1] = n - bs * (nb - 1)
        blast = ids[np.minimum(bstarts + bs, n) - 1]
        prevs = np.concatenate(([base], blast[:-1]))
        buf = np.frombuffer(blob, dtype=np.uint8)
        d0, t0 = decode_postings(blob, base=base)
        # full cover == eager
        d, t = decode_postings_blocks(buf, boff, blen, sizes, prevs)
        assert np.array_equal(d, d0) and np.array_equal(t, t0)
        # random subset == eager's slice
        sel = np.sort(rng.choice(nb, size=max(1, nb // 2), replace=False))
        d, t = decode_postings_blocks(
            buf, boff[sel], blen[sel], sizes[sel], prevs[sel]
        )
        exp = np.concatenate(
            [np.arange(bstarts[b], min(bstarts[b] + bs, n)) for b in sel]
        )
        assert np.array_equal(d, d0[exp]) and np.array_equal(t, t0[exp])


QUERIES = [
    ("tok0000", "or"),
    ("tok0000", "and"),
    ("tok0000 tok0001", "or"),
    ("tok0000 tok0001", "and"),
    ("tok0005 marker000", "or"),
    ("tok0005 marker000", "and"),
    ("tok0002 tok0010 tok0100", "or"),
    ("tok0002 tok0010 tok0100", "and"),
    ("tok0499 tok0000", "and"),
    ("tok0300 tok0001 tok0042", "or"),
]


@pytest.mark.parametrize("query,mode", QUERIES)
def test_lazy_matches_eager_bit_identical(bmw_si, query, mode):
    terms = tokenize_query(query)
    fn = search_and if mode == "and" else search_or
    tds = bmw_si._term_data_uncached(terms)  # fresh lazy state
    assert all(isinstance(td, LazyTermData) for td in tds if td.n_postings)
    ids_l, sc_l = fn(tds, bmw_si.dl_of, bmw_si.n_docs, bmw_si.avgdl, 10)
    eager = [td.materialize() for td in bmw_si._term_data_uncached(terms)]
    ids_e, sc_e = fn(eager, bmw_si.dl_of, bmw_si.n_docs, bmw_si.avgdl, 10)
    assert np.array_equal(ids_l, ids_e)
    assert np.array_equal(sc_l, sc_e)  # bit-identical float64


def test_forced_lazy_or_matches_and_skips(bmw_si):
    """The lazy OR path (bypassing the small-corpus materialize gate)
    is exact AND skips blocks on a single hot term — the dense-term
    regime the block offsets exist for."""
    terms = tokenize_query("tok0000")
    tds = bmw_si._term_data_uncached(terms)
    ids_l, sc_l, st = _search_or_lazy(
        tds, bmw_si.dl_of, bmw_si.n_docs, bmw_si.avgdl, 10, return_stats=True
    )
    eager = [td.materialize() for td in bmw_si._term_data_uncached(terms)]
    ids_e, sc_e = search_or(eager, bmw_si.dl_of, bmw_si.n_docs, bmw_si.avgdl, 10)
    assert np.array_equal(ids_l, ids_e) and np.array_equal(sc_l, sc_e)
    assert st["blocks_surviving"] < st["blocks_total"] * 0.5, st
    assert st["decoded_frac"] < 0.6, st


def test_lazy_and_skips_hot_term_blocks(bmw_si):
    """(needle AND hot): the hot term must decode only the blocks
    covering the needle's candidates."""
    terms = tokenize_query("marker000 tok0000")
    tds = bmw_si._term_data_uncached(terms)
    ids, sc = search_and(tds, bmw_si.dl_of, bmw_si.n_docs, bmw_si.avgdl, 10)
    fr = {td.term: td.decoded_fraction for td in tds}
    hot = [t for t in fr if t.startswith("tok")][0]
    assert fr[hot] < 0.25, fr
    eager = [td.materialize() for td in bmw_si._term_data_uncached(terms)]
    ids_e, sc_e = search_and(eager, bmw_si.dl_of, bmw_si.n_docs, bmw_si.avgdl, 10)
    assert np.array_equal(ids, ids_e) and np.array_equal(sc, sc_e)


def test_front_bound_is_exact_block_max(bmw_si):
    """Per block, the stored Pareto-front bound equals the true max
    tf_norm over the block's postings (bit-for-bit: same expression)."""
    from tlgs_spark.query.scorer import tf_norm_vec

    terms = tokenize_query("tok0001")
    td = bmw_si._term_data_uncached(terms)[0]
    td.ensure(np.arange(td.n_blocks, dtype=np.int64))
    allb = np.arange(td.n_blocks, dtype=np.int64)
    docs, tfs = td.arrays_for(allb)
    dls = bmw_si.dl_of[docs]
    s = tf_norm_vec(tfs, dls, bmw_si.avgdl)
    starts = np.cumsum(td.block_sizes) - td.block_sizes
    true_max = np.maximum.reduceat(s, starts)
    assert np.array_equal(td.block_max, true_max)


def test_engine_search_uses_lazy_and_is_oracle_identical(bmw_si, spark, bmw_index):
    """End-to-end through SearchIndex.search on the built index vs
    the pure-Python oracle (ids + exact float scores)."""
    from tlgs_spark import oracle as O
    from tlgs_spark.corpus import generate_pandas

    pdf = generate_pandas(N_CONV_BMW).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    oidx = O.build_index(list(zip(range(len(pdf)), pdf.text)))
    for q, mode in [("tok0000 tok0001", "or"), ("tok0005 marker000", "and"),
                    ("tok0000", "or")]:
        got = bmw_si.search(q, k=10, mode=mode)
        exp = O.search(oidx, q, k=10, mode=mode)
        assert list(zip((int(d) for d in got["doc_id"]), got["score"])) == exp, (q, mode)
