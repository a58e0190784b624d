import pandas as pd
import pytest

import checks
import gen


@pytest.fixture(scope="module")
def world():
    corpus = gen.Corpus(9, turns=600)
    frame = corpus.frame()
    return corpus, frame, checks.Oracle(checks.build_oracle(frame)), checks.FilterEval(frame)


def _answer(orc, fe, req, k=10):
    """What a correct engine returns: the oracle ranking, filtered, paged."""
    from tlgs_spark import oracle

    orc = orc.index
    # infirst: values are also search terms (the reference's intitle:)
    text = " ".join([*req["terms"], *(v for kind, v, _ in req["filters"] if kind == "infirst")])
    ranked = oracle.search(orc, text, k=orc.n_docs, mode=req["mode"])
    allowed = [ds for ds in ranked if fe.allows(ds[0], req["filters"])]
    return allowed[req["page"] * k:(req["page"] + 1) * k]


def test_correct_answers_pass_and_wrong_ones_fail(world):
    corpus, _, orc, fe = world
    reqs = [r for r in gen.hot_stream(corpus, 60) if not r["preview"]]
    assert any(r["filters"] for r in reqs) and any(r["page"] for r in reqs)
    for req in reqs:
        got = _answer(orc, fe, req)
        assert checks.check_request(orc, fe, req, got, 10) is None
        if got:
            bad = [(got[0][0], got[0][1] * (1 + 1e-12)), *got[1:]]
            assert checks.check_request(orc, fe, req, bad, 10) is not None
            assert checks.check_request(orc, fe, req, got[1:], 10) is not None


def _previews(fe, req, got):
    from tlgs_spark.query.snippet import make_snippet
    from tlgs_spark.tokenizer import tokenize_query

    terms = tokenize_query(" ".join(req["terms"]))
    return [make_snippet(fe.text[d], terms) for d, _ in got]


def test_page_previews_are_checked(world):
    corpus, _, orc, fe = world
    pages = [r for r in gen.cold_stream(corpus, 200) if r["preview"]]
    pages = [(r, _answer(orc, fe, r)) for r in pages]
    pages = [(r, got) for r, got in pages if got]
    assert pages
    for req, got in pages:
        good = _previews(fe, req, got)
        assert all(good)
        assert checks.check_request(orc, fe, req, got, 10, good) is None
        assert checks.check_request(orc, fe, req, got, 10, [""] * len(got)) is not None
        assert checks.check_request(orc, fe, req, got, 10, good[::-1] if len(got) > 1 else None) is not None
        assert checks.check_request(orc, fe, req, got, 10, None) is not None


def test_filter_semantics(world):
    _, frame, _, fe = world
    order = frame.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for doc in range(0, len(order), 37):
        row = order.iloc[doc]
        tool = row["tool"] or ""
        assert fe.allows(doc, [("tool", "bash", False)]) == tool.startswith("bash")
        assert fe.allows(doc, [("tool", "bash", True)]) == (not tool.startswith("bash"))
        assert fe.allows(doc, [("size", ">1K", False)]) == (len(row["text"]) > 1000)
        both = fe.allows(doc, [("role", "assistant", True), ("size", ">300", False)])
        assert both == (row["role"] != "assistant" and len(row["text"]) > 300)


def test_probe_check():
    res = pd.DataFrame({"conv_id": ["c1", "c2"], "turn_idx": [1, 0], "score": [2.0, 1.0]})
    assert checks.check_probe(res, [("c2", 0), ("c1", 1)]) is None
    assert checks.check_probe(res, [("c1", 1)]) is not None
    assert checks.check_probe(res.iloc[::-1], [("c2", 0), ("c1", 1)]) is not None
