"""Seeded inputs for the benchmark: corpus, changelog batches, query streams.

Everything here is a pure function of ``(seed, params)``: the same seed
gives byte-identical output, another seed gives another corpus (its
rank -> word mapping is a seeded permutation) and other streams.

Corpus rows follow the transcript schema ``(conv_id, turn_idx, role,
text, tool, ts)`` with the synthetic-corpus properties of FIXTURES.md
section 1: Zipf-sampled text, planted rare marker terms, a spread of
tool/role/size, and separator lines. The vocabulary (``vocab`` words) is
far larger than the engine's 4096-entry decoded-postings cache, so the
long tail gives ``serve_cold`` first-touch terms.

A request is a plain dict::

    {"terms": [...], "mode": "and"|"or", "filters": [...],
     "page": 0|1, "preview": bool}

``render(req)`` turns it into the query string the engine parses;
filters are ``(kind, value, negate)`` triples over the tlgs grammar
(``tool:``, ``role:``, ``size:``, ``NOT``, ``infirst:``).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json

import numpy as np
import pandas as pd

ROLES = ("user", "assistant", "tool")
TOOLS = ("bash", "search", "editor")
EPOCH = dt.datetime(2025, 1, 1)

# corpus: FIXTURES.md section 1 shapes (Zipf s=1.1, 2-40 turns per
# conversation, 5-200 tokens per turn) over a far larger vocabulary
TURNS = 21000
VOCAB = 50000
ZIPF_S = 1.1
TURNS_PER_CONV = (2, 40)
TOKENS_PER_TURN = (5, 200)
MARKER_EVERY = 97  # one planted marker term per 97 conversations

# changelog: per batch, appended conversations, edited turns (the first
# PLANTED_EDITS of them carry the probe term) and deleted turns
BATCHES = 4
APPEND_CONVS = 5
EDITS = 20
PLANTED_EDITS = 4
DELETES = 20

# queries
K = 10  # hits per page (the reference's 10 per page)
PAGE_EVERY = 10  # one request in ten is a results page with previews
HOT_TERMS = 24  # serve_hot draws its terms from the 24 most frequent words
POOL = 200  # distinct serve_hot queries
POOL_ZIPF_S = 1.0  # popularity of the pool's queries ~ 1/rank

# API request classes, drawn with equal weight: the query classes of
# FIXTURES.md section 3, less the zero-result class (it arises on its
# own, e.g. an AND of rare terms) and the filter-only class (it must be
# rejected, and no request of a workload may fail), plus OR, which the
# engine serves besides AND
CLASSES = ("single", "and", "or", "filter", "not", "combo", "infirst", "page2")

# size filters with their byte thresholds (the engine's unit grammar:
# K = 1000, Ki = 1024); the checker uses the thresholds
SIZE_FILTERS = {">1K": (">", 1000), "<2K": ("<", 2000), "<0.5Ki": ("<", 512), ">300": (">", 300)}


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


def word(i: int) -> str:
    """Vocabulary word ``i``: ends in a digit, so the analyzer's stemmer
    leaves it alone and every word is its own term."""
    return f"w{i:05d}"


def marker_term(seed: int, j: int) -> str:
    return f"mk{seed % 1000:03d}x{j:03d}"


def probe_term(seed: int, batch: int) -> str:
    return f"pb{seed % 1000:03d}x{batch:02d}"


class Corpus:
    """The seeded corpus plus the per-rank statistics the query
    generators need (which ranks occur, and in how many turns)."""

    def __init__(self, seed: int, turns: int = TURNS):
        self.seed = seed
        rng = _rng(seed, 1)
        # rank -> word id: a seeded permutation, so each seed has its own
        # hot words
        self.rank_word = rng.permutation(VOCAB)
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        cdf = np.cumsum(ranks ** -ZIPF_S)
        cdf /= cdf[-1]
        # conversations of 2-40 turns until the corpus holds exactly
        # ``turns`` turns (the last one is cut short), so every seed
        # builds the same amount of work
        lo, hi = TURNS_PER_CONV
        draw = rng.integers(lo, hi + 1, size=turns // lo + 1)
        n_conv = int(np.searchsorted(np.cumsum(draw), turns)) + 1
        self.n_turns = draw[:n_conv].copy()
        self.n_turns[-1] -= int(self.n_turns.sum()) - turns
        self.n_conv = n_conv
        total_turns = int(self.n_turns.sum())
        self.n_toks = rng.integers(TOKENS_PER_TURN[0], TOKENS_PER_TURN[1] + 1, size=total_turns)
        self.junk = rng.integers(0, 7, size=total_turns)
        self.tool_pick = rng.integers(0, len(TOOLS), size=total_turns)
        self.tok_rank = np.searchsorted(cdf, rng.random(int(self.n_toks.sum())), side="right")
        self.tok_rank = np.minimum(self.tok_rank, VOCAB - 1)
        # document frequency per rank (turns containing the rank)
        turn_of_tok = np.repeat(np.arange(total_turns), self.n_toks)
        pairs = np.unique(turn_of_tok * VOCAB + self.tok_rank)
        self.rank_df = np.bincount(pairs % VOCAB, minlength=VOCAB)

    def frame(self) -> pd.DataFrame:
        words = np.array([word(i) for i in range(VOCAB)])[self.rank_word]
        toks = words[self.tok_rank]
        bounds = np.concatenate(([0], np.cumsum(self.n_toks)))
        rows = []
        g = 0
        for i, nt in enumerate(self.n_turns.tolist()):
            for t in range(nt):
                text = " ".join(toks[bounds[g]: bounds[g + 1]].tolist())
                if i % MARKER_EVERY == 0 and t == 1:
                    text += " " + marker_term(self.seed, i // MARKER_EVERY)
                j = int(self.junk[g])
                if j == 0:
                    text += "\n----"
                elif j == 1:
                    text = "████\n" + text
                role = ROLES[(i + t) % 3]
                tool = TOOLS[int(self.tool_pick[g])] if role == "tool" else None
                rows.append((f"conv{i:06d}", t, role, text, tool,
                             EPOCH + dt.timedelta(minutes=3 * i + t)))
                g += 1
        out = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
        out["turn_idx"] = out["turn_idx"].astype("int32")
        return out

    def head_words(self, n: int) -> list[str]:
        return [word(int(w)) for w in self.rank_word[:n]]

    def markers(self) -> list[str]:
        return [marker_term(self.seed, j) for j in range((self.n_conv - 1) // MARKER_EVERY + 1)]


def _conv_text(rng: np.random.Generator, corpus: Corpus, n_tok: int) -> str:
    ranks = np.minimum(rng.zipf(ZIPF_S, size=n_tok) - 1, VOCAB - 1)
    return " ".join(word(int(corpus.rank_word[r])) for r in ranks)


def changelog(corpus: Corpus, frame: pd.DataFrame) -> list[dict]:
    """The fixed sequence of changelog batches.

    Batch ``b`` appends ``APPEND_CONVS`` conversations, edits ``EDITS``
    scattered committed turns and deletes ``DELETES`` rows (text NULL).
    Its probe term is planted in every third appended turn and in the
    first ``PLANTED_EDITS`` edited turns, and nowhere else. Rows touched
    by one batch are never touched again, so each batch's expected
    outcome follows from the batch alone.

    Returns ``[{"rows": DataFrame, "probe": term, "planted": [(conv_id,
    turn_idx), ...], "n_docs_delta": int}]``.
    """
    rng = _rng(corpus.seed, 2)
    per = EDITS + DELETES
    pick = rng.choice(len(frame), size=BATCHES * per, replace=False)
    next_conv = corpus.n_conv
    out = []
    for b in range(BATCHES):
        term = probe_term(corpus.seed, b)
        rows, planted = [], []
        sel = pick[b * per:(b + 1) * per]
        edit_rows = frame.iloc[sel[:EDITS]]
        del_rows = frame.iloc[sel[EDITS:]]
        for j, r in enumerate(edit_rows.itertuples(index=False)):
            text = _conv_text(rng, corpus, int(rng.integers(5, 60)))
            if j < PLANTED_EDITS:
                text += " " + term
                planted.append((r.conv_id, int(r.turn_idx)))
            rows.append((r.conv_id, int(r.turn_idx), r.role, text, r.tool, r.ts))
        for r in del_rows.itertuples(index=False):
            rows.append((r.conv_id, int(r.turn_idx), r.role, None, r.tool, r.ts))
        added = 0
        for _ in range(APPEND_CONVS):
            cid = f"conv{next_conv:06d}"
            for t in range(int(rng.integers(4, 12))):
                text = _conv_text(rng, corpus, int(rng.integers(5, 120)))
                if t % 3 == 1:
                    text += " " + term
                    planted.append((cid, t))
                role = ROLES[(next_conv + t) % 3]
                tool = TOOLS[t % 3] if role == "tool" else None
                rows.append((cid, t, role, text, tool,
                             EPOCH + dt.timedelta(minutes=3 * next_conv + t)))
                added += 1
            next_conv += 1
        df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
        df["turn_idx"] = df["turn_idx"].astype("int32")
        out.append({
            "rows": df,
            "probe": term,
            "planted": sorted(planted),
            "n_docs_delta": added - len(del_rows),
        })
    return out


def render(req: dict) -> str:
    parts = list(req["terms"])
    for kind, value, negate in req["filters"]:
        if negate:
            parts.append("NOT")
        parts.append(f"{kind}:{value}")
    return " ".join(parts)


def _pick(rng: np.random.Generator, options):
    return options[int(rng.integers(0, len(options)))]


def _request(rng: np.random.Generator, pick_terms, infirst_words: list[str]) -> dict:
    """One API request of a class drawn from ``CLASSES``.
    ``pick_terms(n)`` supplies its n search terms."""
    cls = _pick(rng, CLASSES)
    n = 1 if cls == "single" else int(rng.integers(2, 5)) if cls in ("and", "or") else int(rng.integers(1, 5))
    terms = pick_terms(n)
    if cls in ("single", "and", "or"):
        mode = "or" if cls == "or" else "and"
    else:
        mode = _pick(rng, ("and", "or")) if n > 1 else "and"
    filters = []
    if cls == "filter":
        filters = [_pick(rng, [("tool", t, False) for t in TOOLS] + [("role", r, False) for r in ROLES]
                         + [("size", ">1K", False), ("size", "<0.5Ki", False)])]
    elif cls == "not":
        filters = [("tool", _pick(rng, TOOLS), True)]
    elif cls == "combo":
        # OR within a type, AND across types
        roles = rng.choice(len(ROLES), size=2, replace=False)
        filters = [("role", ROLES[int(roles[0])], False), ("role", ROLES[int(roles[1])], False),
                   ("size", _pick(rng, list(SIZE_FILTERS)), False)]
    elif cls == "infirst":
        filters = [("infirst", _pick(rng, infirst_words), False)]
    return {"terms": terms, "mode": mode, "filters": filters, "page": int(cls == "page2")}


def _results_page(q: dict, mode: str | None = None) -> dict:
    """The results-page form of a request: unfiltered first page with
    previews, so it always has rows to hydrate."""
    return {**q, "filters": [], "page": 0, "preview": True, "mode": mode or q["mode"]}


def hot_pool(corpus: Corpus) -> list[dict]:
    """The ``POOL`` distinct queries of ``serve_hot``, most popular
    first, over the ``HOT_TERMS`` most frequent words."""
    rng = _rng(corpus.seed, 3)
    head = corpus.head_words(HOT_TERMS)

    def pick_terms(n):
        return [head[int(i)] for i in rng.choice(len(head), size=n, replace=False)]

    pool, seen = [], set()
    while len(pool) < POOL:
        q = _request(rng, pick_terms, head)
        key = render(q) + q["mode"] + str(q["page"])
        if key not in seen:
            seen.add(key)
            pool.append(q)
    return pool


def hot_stream(corpus: Corpus, n: int) -> list[dict]:
    """``serve_hot``: requests drawn Zipf-wise from ``hot_pool``, so most
    repeat earlier ones. Every ``PAGE_EVERY``-th request is a results
    page of the drawn query."""
    pool = hot_pool(corpus)
    rng = _rng(corpus.seed, 5)
    w = np.arange(1, len(pool) + 1, dtype=np.float64) ** -POOL_ZIPF_S
    draws = rng.choice(len(pool), size=n, p=w / w.sum())
    out = []
    for i, d in enumerate(draws.tolist()):
        q = {**pool[d], "preview": False}
        out.append(_results_page(q) if i % PAGE_EVERY == PAGE_EVERY - 1 else q)
    return out


def cold_stream(corpus: Corpus, n: int) -> list[dict]:
    """``serve_cold``: every request has a term set no earlier request
    used. Terms are drawn without replacement from the words that occur
    in the corpus outside the ``HOT_TERMS`` head, log-uniformly over
    rank, so mid-frequency terms (real postings to decode) and the long
    tail both appear and almost every term lookup is a first touch.
    Results pages search in OR mode, so they have rows to hydrate."""
    rng = _rng(corpus.seed, 4)
    present = np.nonzero(corpus.rank_df[HOT_TERMS:] > 0)[0] + HOT_TERMS
    # weighted order without replacement (exponential keys over
    # weights ~ 1/rank: log-uniform over rank)
    w = 1.0 / (present - HOT_TERMS + 50.0)
    order = present[np.argsort(rng.exponential(size=present.size) / w, kind="stable")]
    words = [word(int(corpus.rank_word[r])) for r in order]
    pos = 0

    def pick_terms(k):
        nonlocal pos
        if pos + k > len(words):
            pos = 0  # vocabulary exhausted: wrap (only past ~10^4 requests)
        pos += k
        return words[pos - k: pos]

    head = corpus.head_words(HOT_TERMS)
    out = []
    for i in range(n):
        q = {**_request(rng, pick_terms, head), "preview": False}
        out.append(_results_page(q, "or") if i % PAGE_EVERY == PAGE_EVERY - 1 else q)
    return out


def warmup_requests(corpus: Corpus) -> list[dict]:
    """Fixed warm-up set shared by both serve workloads: single-term
    queries over the ``HOT_TERMS`` hottest words (never a ``serve_cold``
    term) and one results page per four requests."""
    return [
        {"terms": [w], "mode": "and", "filters": [], "page": 0, "preview": i % 4 == 3}
        for i, w in enumerate(corpus.head_words(HOT_TERMS))
    ]


def digest(obj) -> str:
    """Stable content hash of generated inputs (frames, dicts, lists)."""
    h = hashlib.sha256()

    def feed(o):
        if isinstance(o, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(o, index=True).to_numpy().tobytes())
            h.update(",".join(o.columns).encode())
        elif isinstance(o, dict):
            for k in sorted(o):
                h.update(str(k).encode())
                feed(o[k])
        elif isinstance(o, (list, tuple)):
            h.update(b"[")
            for x in o:
                feed(x)
            h.update(b"]")
        else:
            h.update(json.dumps(o, default=str).encode())

    feed(obj)
    return h.hexdigest()
