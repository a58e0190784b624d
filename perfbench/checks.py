"""Output checks against ``tlgs_spark.oracle`` and the changelog arithmetic.

Every mismatch is returned as a message; the caller counts it in
``failed`` and exits non-zero.
"""

from __future__ import annotations

import pandas as pd

from gen import SIZE_FILTERS

# the reference pages filtered results out of the cached ranked list of
# the top 1000 raw hits (search.cpp:713-758); a filtered page may come
# up short only when the next allowed hit ranks beyond that window
FILTER_WINDOW = 1000


def build_oracle(frame: pd.DataFrame):
    """Oracle over the corpus; doc ids are the dense rank over
    ``(conv_id, turn_idx)``, the ids a fresh build assigns."""
    from tlgs_spark import oracle

    order = frame.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return oracle.build_index(list(enumerate(order["text"].tolist())))


def write_oracle(parquet: str, out: str) -> None:
    """Build the oracle over a corpus parquet file and pickle it."""
    import pickle

    with open(out, "wb") as f:
        pickle.dump(build_oracle(pd.read_parquet(parquet)), f, protocol=pickle.HIGHEST_PROTOCOL)


def load_oracle(path: str) -> "Oracle":
    import pickle

    with open(path, "rb") as f:
        return Oracle(pickle.load(f))  # written by write_oracle only


class Oracle:
    """The oracle index with its full rankings memoized per query text
    and mode: ``serve_hot`` requests repeat, so their checks do too.
    ``oracle.search`` scores every candidate before it cuts to ``k``, so
    a top-k answer is a prefix of the full ranking."""

    def __init__(self, index):
        self.index = index
        self._ranked: dict = {}

    def ranked(self, text: str, mode: str) -> list[tuple[int, float]]:
        from tlgs_spark import oracle

        key = (text, mode)
        if key not in self._ranked:
            self._ranked[key] = oracle.search(self.index, text, k=self.index.n_docs, mode=mode)
        return self._ranked[key]


class FilterEval:
    """The filter semantics of the tlgs grammar subset the generator
    emits: OR within a filter type, AND across types, NOT as XOR;
    ``tool:``/``role:`` prefix match; ``size:`` on the text length, with
    empty docs excluded; ``infirst:`` against the analyzed turn-0 text."""

    def __init__(self, frame: pd.DataFrame):
        from tlgs_spark.tokenizer import tokenize

        order = frame.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        self.tool = order["tool"].fillna("").tolist()
        self.role = order["role"].fillna("").tolist()
        self.size = order["text"].str.len().tolist()
        self.text = order["text"].tolist()
        self.conv = order["conv_id"].tolist()
        first = order[order["turn_idx"] == 0]
        self.first_terms = {c: set(tokenize(t)) for c, t in zip(first["conv_id"], first["text"])}

    def allows(self, doc: int, filters) -> bool:
        from tlgs_spark.tokenizer import s_stem

        groups: dict[str, list[bool]] = {}
        for kind, value, negate in filters:
            if kind == "tool":
                ok = self.tool[doc].startswith(value)
            elif kind == "role":
                ok = self.role[doc].startswith(value)
            elif kind == "size":
                op, thr = SIZE_FILTERS[value]
                if self.size[doc] == 0:
                    return False
                ok = self.size[doc] > thr if op == ">" else self.size[doc] < thr
            elif kind == "infirst":
                ok = s_stem(value.lower()) in self.first_terms.get(self.conv[doc], ())
            else:
                raise ValueError(f"unknown filter {kind}")
            groups.setdefault(kind, []).append(ok ^ negate)
        return all(any(g) for g in groups.values())


def check_request(orc: Oracle, fe: FilterEval, req: dict, got: list[tuple[int, float]], k: int,
                  previews: list[str] | None = None) -> str | None:
    """Compare one response (``[(doc_id, score)]`` in returned order)
    with the oracle: same doc ids, bit-identical float64 scores, order
    ``(-score, doc_id)``. For a results page, each preview must be the
    snippet of that doc's corpus text for the analyzed query terms."""
    text = " ".join([*req["terms"], *(v for kind, v, _ in req["filters"] if kind == "infirst")])
    lo = req["page"] * k
    ranked = orc.ranked(text, req["mode"])
    if not req["filters"]:
        want = ranked[lo:lo + k]
        short_ok = False
    else:
        allowed = [(i, (d, s)) for i, (d, s) in enumerate(ranked) if fe.allows(d, req["filters"])]
        want = [ds for _, ds in allowed[lo:lo + k]]
        nxt = allowed[lo + len(got)][0] if lo + len(got) < len(allowed) else None
        short_ok = len(got) < len(want) and nxt is not None and nxt >= FILTER_WINDOW
        want = want[: len(got)] if short_ok else want
    if [(int(d), float(s)) for d, s in got] != [(int(d), float(s)) for d, s in want]:
        return f"{req}: got {got[:3]}... ({len(got)}) want {want[:3]}... ({len(want)})"
    if req["preview"]:
        return check_previews(fe, req, got, previews)
    return None


def check_previews(fe: FilterEval, req: dict, got, previews) -> str | None:
    from tlgs_spark.query.snippet import make_snippet
    from tlgs_spark.tokenizer import tokenize_query

    terms = tokenize_query(" ".join(req["terms"]))
    want = [make_snippet(fe.text[int(d)], terms) for d, _ in got]
    if previews != want:
        bad = next((i for i, (a, b) in enumerate(zip(previews or [], want)) if a != b), None)
        return (f"{req}: preview of hit {bad} is {previews[bad]!r}, want {want[bad]!r}"
                if bad is not None else f"{req}: {len(previews or [])} previews for {len(want)} hits")
    return None


def check_probe(res: pd.DataFrame, planted: list[tuple[str, int]]) -> str | None:
    """A changelog probe returns exactly its batch's planted docs, best
    score first."""
    got = sorted(zip(res["conv_id"], res["turn_idx"].astype(int)))
    if got != sorted(planted):
        return f"probe returned {len(got)} docs, want the {len(planted)} planted"
    scores = res["score"].tolist()
    if any(a < b for a, b in zip(scores, scores[1:])):
        return "probe results not ordered by score"
    return None
