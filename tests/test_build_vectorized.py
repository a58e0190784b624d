"""The vectorized whole-shard builder (_build_shard_table, the kernel
every build runs) must equal a naive per-term reference byte-for-byte."""

import numpy as np
import pyarrow as pa

from tlgs_spark.indexer.build import _build_shard_table
from tlgs_spark.indexer.codec import decode_postings, decode_varints, encode_postings
from tlgs_spark.tokenizer import term_freqs

# the postings format's columns, in write order (POSTINGS_SCHEMA)
POSTINGS_COLS = ["shard", "term", "df", "cf", "block_fn", "block_ftf", "block_fdl",
                 "block_last", "block_off", "postings", "dls"]


def _shard_table(docs):
    return pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.int64()),
        "text": pa.array([t for _, t in docs], pa.string()),
    })


def _assert_pareto_front(tfs, dls, ftf, fdl):
    """(ftf, fdl) is exactly the block's Pareto front under (tf up,
    dl down) dominance: real pairs, tf-descending, none dominated, and
    every block pair dominated by (or equal to) some front pair."""
    pairs = set(zip(tfs.tolist(), dls.tolist()))
    front = list(zip(ftf.tolist(), fdl.tolist()))
    assert front and all(p in pairs for p in front)
    assert all(a[0] > b[0] and a[1] > b[1] for a, b in zip(front, front[1:]))
    for tf, dl in front:
        assert not any(t >= tf and d <= dl and (t, d) != (tf, dl) for t, d in pairs)
    for tf, dl in pairs:
        assert any(t >= tf and d <= dl for t, d in front)


def test_build_shard_matches_naive_reference():
    rng = np.random.default_rng(5)
    shard_size, base = 1000, 3000
    vocab = [f"w{i}" for i in range(40)]
    p = 1.0 / np.arange(1, len(vocab) + 1)
    ids = np.sort(rng.choice(shard_size, 700, replace=False)) + base
    docs = [
        (int(d), " ".join(rng.choice(vocab, int(rng.integers(0, 30)), p=p / p.sum())))
        for d in ids
    ]
    out = _build_shard_table(_shard_table(docs), shard_size, hygiene=False)
    assert out.column_names == POSTINGS_COLS  # no other column is written
    rows = out.to_pylist()

    tf = {d: term_freqs(text) for d, text in docs}
    dl = {d: sum(c.values()) for d, c in tf.items()}
    terms = sorted({t for c in tf.values() for t in c})
    term_rows = [r for r in rows if r["term"] is not None]
    assert [r["term"] for r in term_rows] == terms
    assert max(r["df"] for r in term_rows) > 2 * 128  # multi-block terms
    for r in term_rows:
        d = np.array([doc for doc in ids if r["term"] in tf[doc]], dtype=np.int64)
        t = np.array([tf[doc][r["term"]] for doc in d], dtype=np.int64)
        dls = np.array([dl[doc] for doc in d], dtype=np.int64)
        assert r["shard"] == base // shard_size
        assert r["postings"] == encode_postings(d, t, base=base)
        assert r["df"] == len(d) and r["cf"] == int(t.sum())
        nb = (len(d) + 127) // 128
        assert len(r["block_last"]) == len(r["block_off"]) == len(r["block_fn"]) == nb
        f0 = 0
        for b in range(nb):
            sl = slice(b * 128, (b + 1) * 128)
            assert r["block_last"][b] == d[sl][-1]
            assert r["block_off"][b] == len(encode_postings(d[: b * 128], t[: b * 128], base))
            f1 = f0 + r["block_fn"][b]
            _assert_pareto_front(
                t[sl], dls[sl], np.array(r["block_ftf"][f0:f1]), np.array(r["block_fdl"][f0:f1])
            )
            f0 = f1
        assert f0 == len(r["block_ftf"]) == len(r["block_fdl"])
        dd, tt = decode_postings(r["postings"], base=base)
        assert (dd == d).all() and (tt == t).all()
    # the norms pseudo row: one per shard, dls blob == exact doc lengths
    norms_rows = [r for r in rows if r["term"] is None]
    assert len(norms_rows) == 1
    nr = norms_rows[0]
    dls_arr = decode_varints(nr["dls"])
    assert len(dls_arr) == shard_size and nr["block_last"] == [base]
    assert nr["df"] == shard_size and nr["cf"] == sum(dl.values())
    want = np.zeros(shard_size, dtype=np.int64)
    for doc, n in dl.items():
        want[doc - base] = n
    assert (dls_arr == want).all()
    assert nr["postings"] is None and nr["block_fn"] is None


def test_single_term_shard():
    docs = [(10, "zebra"), (11, "zebra zebra"), (12, "zebra zebra zebra")]
    out = _build_shard_table(_shard_table(docs), 100, hygiene=False).to_pylist()
    out_t = [r for r in out if r["term"] is not None]
    assert len(out_t) == 1 and len(out) == 2  # + the norms pseudo row
    d, t = decode_postings(out_t[0]["postings"], base=0)
    assert d.tolist() == [10, 11, 12] and t.tolist() == [1, 2, 3]
    # an all-stopword shard writes the norms pseudo row alone
    empty = _build_shard_table(_shard_table([(105, "the and of")]), 100, hygiene=False)
    assert empty.column_names == POSTINGS_COLS
    assert empty.to_pylist()[0]["term"] is None and empty.num_rows == 1


TRICKY_DOCS = [
    (0, "Hello WORLD the and hello"),  # case fold + stopwords + repeats
    (1, ""),  # empty
    (2, None),  # null text
    (3, "x" * 65 + " ok " + "y" * 64),  # length-64 boundary
    (4, "naïve café ümlaut 日本語 a1b2"),  # non-ASCII separators
    (5, "keep\n────────\nalso\nxxxx\nend"),  # hygiene: box + repeat lines
    (6, "tab\tsep,punct.and;more!tok"),
    (7, "İstanbul STRASSE ẞharp"),  # exotic lowercase mappings
    (8, "line with \x00 embedded nul and more"),
    (9, "0123 42abc"),
    (10, "keep\r\nxxxx\r\nend\r\n"),  # CRLF: junk line NOT dropped (spec: $ is \n-only)
]


def _counter_frame(hygiene):
    from tlgs_spark.tokenizer import term_freqs

    rows = []
    for doc_id, text in TRICKY_DOCS:
        for term, tf in sorted(term_freqs(text or "", hygiene=hygiene).items()):
            rows.append((doc_id, term, tf))
    return sorted(rows)


import pytest


@pytest.mark.parametrize("hygiene", [False, True])
def test_jvm_pandas_oracle_tokenize_equivalence(spark, hygiene):
    """The JVM-expression tokenizer, the Arrow/pandas tokenizer, and
    the pure-Python oracle spec must produce identical (doc_id, term,
    tf) on case folds, stopwords, nulls, NULs, non-ASCII, length
    boundaries and hygiene lines."""
    from tlgs_spark.indexer.build import tokenize_tokens, tokenize_tokens_jvm

    docs = spark.createDataFrame(TRICKY_DOCS, "doc_id long, text string")
    jvm = sorted(
        (r.doc_id, r.term, r.tf)
        for r in tokenize_tokens_jvm(docs, hygiene=hygiene).collect()
    )
    pan = sorted(
        (r.doc_id, r.term, r.tf)
        for r in tokenize_tokens(docs, hygiene=hygiene).collect()
    )
    oracle = _counter_frame(hygiene)
    assert jvm == pan == oracle


def test_tokenize_with_dl_rows(spark):
    """with_dl=True emits one term=NULL row per doc whose tf is the doc
    length (kept tokens), including zero-token docs."""
    from tlgs_spark.indexer.build import tokenize_tokens

    docs = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, "the and of"), (2, None), (3, "gamma")],
        "doc_id long, text string",
    )
    rows = tokenize_tokens(docs, with_dl=True).collect()
    dl = {r.doc_id: r.tf for r in rows if r.term is None}
    terms = [(r.doc_id, r.term, r.tf) for r in rows if r.term is not None]
    assert dl == {0: 3, 1: 0, 2: 0, 3: 1}
    assert sorted(terms) == [(0, "alpha", 2), (0, "beta", 1), (3, "gamma", 1)]
