from collections import Counter

import pytest

import gen

SMALL = 3000  # turns


@pytest.fixture(scope="module")
def corpus():
    return gen.Corpus(5, SMALL)


def test_same_seed_same_inputs(corpus):
    again = gen.Corpus(5, SMALL)
    f1, f2 = corpus.frame(), again.frame()
    assert gen.digest(f1) == gen.digest(f2)
    assert gen.digest(gen.changelog(corpus, f1)) == gen.digest(gen.changelog(again, f2))
    for make in (gen.hot_stream, gen.cold_stream):
        assert make(corpus, 300) == make(again, 300)


def test_other_seed_other_inputs(corpus):
    other = gen.Corpus(6, SMALL)
    assert gen.digest(corpus.frame()) != gen.digest(other.frame())
    assert gen.hot_stream(corpus, 50) != gen.hot_stream(other, 50)
    assert gen.cold_stream(corpus, 50) != gen.cold_stream(other, 50)


def test_corpus_shape(corpus):
    f = corpus.frame()
    assert list(f.columns) == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert not f.duplicated(["conv_id", "turn_idx"]).any()
    assert set(f["role"]) == {"user", "assistant", "tool"}
    assert f.loc[f["role"] != "tool", "tool"].isna().all()
    assert set(f.loc[f["role"] == "tool", "tool"]) == {"bash", "search", "editor"}
    assert f["text"].str.contains("----").any() and f["text"].str.contains("████").any()
    assert any(m in t for m in corpus.markers() for t in f["text"])


def test_vocabulary_exceeds_term_cache():
    c = gen.Corpus(5)
    assert (c.rank_df > 0).sum() > 10 * 4096


def test_cold_term_sets_are_fresh(corpus):
    reqs = gen.cold_stream(corpus, 400)
    sets = [frozenset(r["terms"]) for r in reqs]
    assert len(set(sets)) == len(sets)
    terms = [t for r in reqs for t in r["terms"]]
    assert len(set(terms)) == len(terms)
    assert not set(terms) & set(corpus.head_words(gen.HOT_TERMS))


def test_hot_stream_repeats(corpus):
    reqs = gen.hot_stream(corpus, 400)
    distinct = {gen.render(r) + r["mode"] + str(r["page"]) for r in reqs}
    assert len(distinct) < 0.5 * len(reqs)  # most requests repeat an earlier one


def test_one_request_in_ten_is_a_page(corpus):
    for make in (gen.hot_stream, gen.cold_stream):
        reqs = make(corpus, 300)
        assert sum(r["preview"] for r in reqs) == 30
        assert all(not r["filters"] and r["page"] == 0 for r in reqs if r["preview"])


def test_changelog_batches_touch_disjoint_rows(corpus):
    f = corpus.frame()
    batches = gen.changelog(corpus, f)
    seen = set()
    for b in batches:
        keys = set(zip(b["rows"]["conv_id"], b["rows"]["turn_idx"]))
        assert not keys & seen
        seen |= keys
        assert len(keys) == len(b["rows"])
        planted = {k for k, t in zip(zip(b["rows"]["conv_id"], b["rows"]["turn_idx"]), b["rows"]["text"])
                   if t is not None and b["probe"] in t}
        assert planted == set(b["planted"])
        n_del = int(b["rows"]["text"].isna().sum())
        n_new = int((~b["rows"]["conv_id"].isin(f["conv_id"])).sum())
        assert b["n_docs_delta"] == n_new - n_del


def test_pool_size_and_equal_class_mix(corpus):
    assert len(gen.hot_pool(corpus)) == gen.POOL
    rng = gen._rng(1, 9)
    counts = Counter()
    for _ in range(8000):
        q = gen._request(rng, lambda n: [f"t{i}" for i in range(n)], ["h"])
        kinds = {k for k, _, neg in q["filters"] if not neg}
        cls = ("page2" if q["page"] else "infirst" if "infirst" in kinds
               else "not" if any(neg for *_, neg in q["filters"])
               else "combo" if len(q["filters"]) > 1 else "filter" if q["filters"]
               else "single" if len(q["terms"]) == 1 and q["mode"] == "and"
               else q["mode"])
        counts[cls] += 1
    assert set(counts) == set(gen.CLASSES)
    assert all(abs(c / 8000 - 1 / len(gen.CLASSES)) < 0.02 for c in counts.values())
