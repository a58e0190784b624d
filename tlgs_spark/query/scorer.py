"""NumPy BM25 scorer: conjunctive (AND) retrieval and disjunctive (OR)
top-k with block-max pruning.

Semantics parity:
- AND mode = ``search_vector @@ plainto_tsquery`` (implicit AND of all
  query terms, tlgs/server/controllers/search.cpp:441).
- OR mode = classic top-k BM25 with **block-max WAND-style pruning**
  (north rule): a two-phase, fully vectorized document-at-a-time form —
  (1) seed a top-k threshold θ by exactly scoring the rarest term's
  postings; (2) bound every candidate doc by Σ_t idf_t ·
  blockmax_t(block(doc)) and exactly score only docs whose bound ≥ θ.
  Exact same results as exhaustive scoring (asserted in tests), with
  the block-max structures doing the pruning.

Float64 op order is pinned to match the pure-Python oracle: per-doc
score accumulates term contributions in query-term order; idf uses
``math.log`` (scalar), tf-norm is +,-,*,/ only (IEEE-exact), so engine
scores are bit-identical to oracle scores.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .. import bm25


@dataclass
class TermData:
    """One query term's postings, concatenated across shards in shard
    order (⇒ doc_ids globally sorted)."""

    term: str
    df_global: int
    doc_ids: np.ndarray  # int64, sorted
    tfs: np.ndarray  # int64
    block_max: np.ndarray  # float64 admissible ub of tf_norm per block
    block_sizes: np.ndarray  # int64 postings per block (sum == len(doc_ids))

    @property
    def n_postings(self) -> int:
        return int(self.doc_ids.size)

    def lookup(self, docs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Membership probe: (hit mask, tf-at-covering-position) for
        sorted unique probe docs — tf is meaningful only where hit."""
        n = self.doc_ids.size
        if n == 0:
            return (
                np.zeros(docs.shape, dtype=bool),
                np.zeros(docs.shape, dtype=np.int64),
            )
        pos = np.searchsorted(self.doc_ids, docs)
        pos_c = np.minimum(pos, n - 1)
        hit = (pos < n) & (self.doc_ids[pos_c] == docs)
        return hit, self.tfs[pos_c]


class LazyTermData:
    """Format-3 postings for one query term with BLOCK-SKIPPED decode
    (true block-max WAND, north rule): per-128-posting-block metadata —
    admissible tf_norm bound, posting count, last doc id, doc-id
    predecessor, byte offset/length into the blob stream — lets every
    scoring phase decide WHICH blocks it needs BEFORE any varint is
    decoded. Decoded blocks land in place inside lazily-allocated
    (docs, tfs) arrays, so repeated queries through the engine's term
    cache converge to fully-decoded with no re-decoding. The
    ``doc_ids``/``tfs`` properties materialize everything (legacy
    consumers: fielded search, callers that need the full list); the
    scorers' lazy paths never touch them. At 10^12 docs a dense term's
    multi-GB blob must never be fully decoded for a top-10 query —
    this class is that contract (reference analog: PG GIN's opaque
    posting-tree skipping, tlgs_ctl/main.cpp:41)."""

    __slots__ = (
        "term", "df_global", "block_max", "block_sizes", "block_last",
        "block_prev", "block_off", "block_bytes", "_buf", "_pstart",
        "_docs", "_tfs", "_have", "_n",
    )

    def __init__(self, term, df_global, blob_u8, block_max, block_sizes,
                 block_last, block_prev, block_off, block_bytes):
        self.term = term
        self.df_global = int(df_global)
        self._buf = blob_u8  # uint8 view of the concatenated blobs
        self.block_max = block_max
        self.block_sizes = block_sizes
        self.block_last = block_last
        self.block_prev = block_prev
        self.block_off = block_off
        self.block_bytes = block_bytes
        self._n = int(block_sizes.sum())
        self._pstart = np.cumsum(block_sizes) - block_sizes
        self._docs: np.ndarray | None = None
        self._tfs: np.ndarray | None = None
        self._have = np.zeros(block_sizes.size, dtype=bool)

    @property
    def n_postings(self) -> int:
        return self._n

    @property
    def n_blocks(self) -> int:
        return int(self.block_sizes.size)

    @property
    def decoded_fraction(self) -> float:
        """Fraction of postings decoded so far (block-skip telemetry)."""
        if self._n == 0:
            return 0.0
        return float(self.block_sizes[self._have].sum()) / self._n

    def ensure(self, blocks: np.ndarray) -> None:
        """Decode the given block indexes (sorted, unique) in place;
        already-decoded blocks cost a mask test only."""
        from ..indexer.codec import decode_postings_blocks, range_indices

        need = blocks[~self._have[blocks]]
        if need.size == 0:
            return
        if (
            self._n >= (1 << 19)
            and float(self.block_sizes[need].sum()) >= 0.5 * self._n
        ):
            # decoding (nearly) everything: one contiguous pass over
            # the whole blob beats the multi-slice machinery — the
            # flat-index build + fancy gather + scatter costs several
            # full passes over multi-MB arrays, while the contiguous
            # decode hits the codec's single-byte fast path; re-decoding
            # the few blocks already present (θ seeds) is cheaper than
            # assembling the hole-y selection. Callers holding arrays
            # from a previous arrays_for keep valid data: partial
            # selections return fancy-index COPIES.
            nb = self.block_sizes.size
            d, t = decode_postings_blocks(
                self._buf, self.block_off, self.block_bytes,
                self.block_sizes, self.block_prev,
            )
            self._docs = d
            self._tfs = t
            self._have = np.ones(nb, dtype=bool)
            return
        if self._docs is None:
            # np.empty is virtual allocation: a 20M-posting term costs
            # pages only for the blocks actually decoded
            self._docs = np.empty(self._n, dtype=np.int64)
            self._tfs = np.empty(self._n, dtype=np.int64)
        d, t = decode_postings_blocks(
            self._buf,
            self.block_off[need],
            self.block_bytes[need],
            self.block_sizes[need],
            self.block_prev[need],
        )
        pos = range_indices(self._pstart[need], self.block_sizes[need])
        self._docs[pos] = d
        self._tfs[pos] = t
        self._have[need] = True

    def arrays_for(self, blocks: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, tfs) of the given DECODED blocks, in block order
        (⇒ globally sorted when ``blocks`` is sorted)."""
        from ..indexer.codec import range_indices

        if blocks.size == self.block_sizes.size:
            return self._docs, self._tfs
        pos = range_indices(self._pstart[blocks], self.block_sizes[blocks])
        return self._docs[pos], self._tfs[pos]

    def covering(self, docs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(block index, validity) of the block whose doc range could
        hold each probe doc — pure metadata, no decode. A doc past the
        last block_last is covered by no block (invalid)."""
        j = np.searchsorted(self.block_last, docs)
        return j, j < self.block_sizes.size

    def lookup(self, docs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Membership probe decoding ONLY the blocks whose ranges cover
        the probe docs. Same (hit, tf) contract as TermData.lookup."""
        j, valid = self.covering(docs)
        bl = np.unique(j[valid])
        if bl.size == 0:
            return (
                np.zeros(docs.shape, dtype=bool),
                np.zeros(docs.shape, dtype=np.int64),
            )
        self.ensure(bl)
        d_sub, t_sub = self.arrays_for(bl)
        pos = np.searchsorted(d_sub, docs)
        pos_c = np.minimum(pos, d_sub.size - 1)
        hit = valid & (pos < d_sub.size) & (d_sub[pos_c] == docs)
        return hit, t_sub[pos_c]

    def materialize(self) -> TermData:
        """Decode everything → an eager TermData (views of the internal
        arrays; eager scorers never mutate them)."""
        self.ensure(np.arange(self.block_sizes.size, dtype=np.int64))
        if self._docs is None:  # zero blocks
            self._docs = np.zeros(0, dtype=np.int64)
            self._tfs = np.zeros(0, dtype=np.int64)
        return TermData(
            self.term, self.df_global, self._docs, self._tfs,
            self.block_max, self.block_sizes,
        )

    # legacy consumers (fielded search, oracle twins) — full decode
    @property
    def doc_ids(self) -> np.ndarray:
        return self.materialize().doc_ids

    @property
    def tfs(self) -> np.ndarray:
        return self.materialize().tfs


def tf_norm_vec(tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    t = tfs.astype(np.float64)
    d = dls.astype(np.float64)
    return t * (bm25.K1 + 1.0) / (t + bm25.K1 * (1.0 - bm25.B + bm25.B * d / avgdl))


def _denom_vec(dls: np.ndarray, avgdl: float) -> np.ndarray:
    """Per-doc BM25 denominator part ``K1*(1-B+B*dl/avgdl)`` — the same
    sub-expression (same op order ⇒ bit-identical) as tf_norm_vec, but
    computable ONCE per query instead of once per term."""
    d = dls.astype(np.float64)
    return bm25.K1 * (1.0 - bm25.B + bm25.B * d / avgdl)


def _exact_scores(
    cand: np.ndarray, terms: list, dl_of: np.ndarray, n_docs: int, avgdl: float
) -> np.ndarray:
    """Score candidate docs exactly; accumulation in query-term order.
    Works on eager AND lazy terms via ``lookup`` — a lazy term decodes
    only the blocks whose ranges cover the candidates (identical float
    expression and op order either way ⇒ bit-identical scores)."""
    scores = np.zeros(cand.shape[0], dtype=np.float64)
    denom = _denom_vec(dl_of[cand], avgdl)
    for td in terms:
        hit, tf = td.lookup(cand)
        if not hit.any():
            continue
        w_idf = math.log(1.0 + (n_docs - td.df_global + 0.5) / (td.df_global + 0.5))
        t = tf[hit].astype(np.float64)
        tfn = t * (bm25.K1 + 1.0) / (t + denom[hit])
        scores[hit] += w_idf * tfn
    return scores


def _sampled_top(values: np.ndarray, n_select: int, pool: int = 1 << 20) -> np.ndarray:
    """Indices (into ``values``) of ~``n_select`` large entries, with
    the argpartition pool capped at ``pool`` via stride sampling.

    θ-seeding context: the selected docs only ever LOWER-bound the
    final k-th score, and a subset's k-th best can only be lower than
    the full set's, so both the sampling and the size clamp keep
    pruning exact — argpartition over a hot term's full 20M-posting tf
    array cost 1.7 s where the capped pool costs ~15 ms. When
    ``n_select`` meets or exceeds the (sampled) pool — huge fetch_k
    from deep pagination × filter headroom — every pool index is
    returned instead of partitioning (np.argpartition would raise on
    kth ≥ size)."""
    if values.size > pool:
        # ceiling division: floor (size // pool) gives step=1 for sizes
        # in (pool, 2*pool) and the full array would be argpartitioned —
        # the pool bound must hold for every size above it
        step = -(-values.size // pool)
        idx = np.arange(0, values.size, step, dtype=np.int64)
        vals = values[idx]
    else:
        idx = None
        vals = values
    if n_select >= vals.size:
        return idx if idx is not None else np.arange(values.size, dtype=np.int64)
    sel = np.argpartition(vals, -n_select)[-n_select:]
    return idx[sel] if idx is not None else sel


def _topk_order(doc_ids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Top-k by (-score, doc_id). For large candidate sets, select the
    ≥ k-th-score slice with an O(n) partition first and lexsort only
    that slice — score ties at the threshold are all kept in the slice,
    so the result is identical to lexsorting everything."""
    # k>=1 guard: np.partition(kth=size) is out of bounds for k=0 —
    # keep the old empty-result behavior via the lexsort path
    if k >= 1 and scores.size > max(4 * k, 1024):
        thr = np.partition(scores, scores.size - k)[scores.size - k]
        m = scores >= thr
        doc_ids, scores = doc_ids[m], scores[m]
    order = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[order], scores[order]


def _all_lazy(terms: list) -> bool:
    return bool(terms) and all(isinstance(td, LazyTermData) for td in terms)


def _materialized(terms: list) -> list[TermData]:
    return [td.materialize() if isinstance(td, LazyTermData) else td for td in terms]


def search_and(
    terms: list, dl_of: np.ndarray, n_docs: int, avgdl: float, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Conjunctive retrieval: intersect postings (rarest first), score
    survivors, top-k by (-score, doc_id)."""
    if not terms or any(td.n_postings == 0 for td in terms):
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    if len(terms) == 1:
        # AND of one term ≡ OR of one term; the OR path gets block-max
        # pruning, so a single hot term skips exhaustive scoring
        return search_or(terms, dl_of, n_docs, avgdl, k)
    if _all_lazy(terms):
        # block-skipped intersection: the rarest term decodes fully,
        # every other term decodes ONLY the blocks whose doc ranges
        # cover surviving candidates — a (needle AND hot) query never
        # touches most of the hot term's blob
        return _search_and_lazy(terms, dl_of, n_docs, avgdl, k)
    terms = _materialized(terms)
    by_df = sorted(terms, key=lambda t: t.doc_ids.size)
    cand = by_df[0].doc_ids
    # track each term's postings position for the surviving candidates
    # through the intersection, so scoring needs NO re-search: every
    # candidate hits every term by construction, and searchsorted over
    # a hot term's postings is the AND path's dominant cost
    pos_of: dict[int, np.ndarray] = {id(by_df[0]): np.arange(cand.size, dtype=np.int64)}
    for td in by_df[1:]:
        # both sides sorted unique ⇒ searchsorted membership beats
        # np.isin (which re-sorts the concatenation on every probe)
        pos = np.searchsorted(td.doc_ids, cand)
        pos_c = np.minimum(pos, td.doc_ids.size - 1)
        m = (pos < td.doc_ids.size) & (td.doc_ids[pos_c] == cand)
        cand = cand[m]
        if cand.size == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.float64)
        for key in pos_of:
            pos_of[key] = pos_of[key][m]
        pos_of[id(td)] = pos_c[m]
    def _exact_from_pos(idx: np.ndarray | None) -> np.ndarray:
        """Exact scores via the tracked positions (pure gathers);
        idx=None scores every candidate, else the subset cand[idx].
        Accumulation in query-term order (oracle parity)."""
        sel = cand if idx is None else cand[idx]
        s = np.zeros(sel.size, dtype=np.float64)
        denom = _denom_vec(dl_of[sel], avgdl)
        for td in terms:
            w_idf = math.log(1.0 + (n_docs - td.df_global + 0.5) / (td.df_global + 0.5))
            p = pos_of[id(td)]
            t = td.tfs[p if idx is None else p[idx]].astype(np.float64)
            s += w_idf * (t * (bm25.K1 + 1.0) / (t + denom))
        return s

    # block-max pruning on a large intersection (hot-AND-hot queries):
    # bound every candidate by Σ_t idf_t·blockmax_t(block(cand)), seed θ
    # from the exact scores of the top-tf slice of the rarest term, and
    # exactly score only candidates whose bound clears θ. Admissible
    # bounds ⇒ any doc with score ≥ θ survives the cut — still exact.
    seed_cap = max(4 * k, 4096)
    # Flat-bound skip (AND twin of search_or's): every candidate holds
    # EVERY term, so when each term's block maxes are globally constant
    # (uniform-tf corpora) all candidate bounds are the identical
    # Σ idf·c_t and θ-pruning provably separates nothing — skip the
    # ub repeats/gathers + seed + mask (~3 s at a 20M intersection).
    # Two O(n_blocks) reductions per term decide it.
    bounds_vary = any(
        td.block_max.size and float(td.block_max.max()) > float(td.block_max.min())
        for td in terms
    )
    if bounds_vary and cand.size > 4 * seed_cap:
        ub = np.zeros(cand.size, dtype=np.float64)
        for td in terms:
            w_idf = math.log(1.0 + (n_docs - td.df_global + 0.5) / (td.df_global + 0.5))
            # position → per-posting bound, then gather at the tracked
            # positions: two linear passes, no per-candidate search
            pos_ub = np.repeat(td.block_max * w_idf, td.block_sizes)
            ub += pos_ub[pos_of[id(td)]]
        rare_tf = by_df[0].tfs[pos_of[id(by_df[0])]]
        sub = _sampled_top(rare_tf, seed_cap)
        sub_scores = _exact_from_pos(sub)
        # k can exceed the pool-capped seed (k > 1M via deep
        # pagination × filter headroom): too few seeds ⇒ no valid θ,
        # skip the prune rather than partition out of bounds
        if sub_scores.size >= k:
            theta = np.partition(sub_scores, -k)[-k]
            m = ub >= theta
            cand = cand[m]
            for key in pos_of:
                pos_of[key] = pos_of[key][m]

    return _topk_order(cand, _exact_from_pos(None), k)


def search_or(
    terms: list,
    dl_of: np.ndarray,
    n_docs: int,
    avgdl: float,
    k: int,
    return_stats: bool = False,
):
    """Disjunctive top-k with block-max pruning (see module docstring)."""
    terms = [td for td in terms if td.n_postings > 0]
    if not terms:
        out = (np.zeros(0, np.int64), np.zeros(0, np.float64))
        return (*out, {}) if return_stats else out

    if _all_lazy(terms):
        # block-skipped decode pays off only when bounds VARY (flat
        # bounds — uniform-tf corpora — provably prune nothing) and the
        # lists are big enough to beat the full decode's one pass
        prunable = any(
            td.block_max.size and float(td.block_max.max()) > float(td.block_max.min())
            for td in terms
        )
        if prunable and sum(td.n_postings for td in terms) > (1 << 15):
            return _search_or_lazy(terms, dl_of, n_docs, avgdl, k, return_stats)
        terms = _materialized(terms)
    elif any(isinstance(td, LazyTermData) for td in terms):
        terms = _materialized(terms)

    if len(terms) == 1:
        # single-term fast path: exact top-k needs exactly one pass —
        # score every posting, partition-select k. The multi-phase ub
        # machinery below costs ~6 extra passes (seed argpartition,
        # O(n_docs) scatter/gather, survivor masks) and cannot prune a
        # single term whose block maxes are flat; measured 12.3 s →
        # 0.68 s on a 20.7M-posting term (21M-doc probe index). Same
        # expression and op order as _exact_scores' one-term
        # accumulation (0.0 + w_idf·tfn ≡ w_idf·tfn in float64) ⇒
        # bit-identical scores, same _topk_order tie-break.
        td = terms[0]
        w_idf = math.log(1.0 + (n_docs - td.df_global + 0.5) / (td.df_global + 0.5))
        t = td.tfs.astype(np.float64)
        denom = _denom_vec(dl_of[td.doc_ids], avgdl)
        scores = w_idf * (t * (bm25.K1 + 1.0) / (t + denom))
        out = _topk_order(td.doc_ids, scores, k)
        if return_stats:
            n = int(td.doc_ids.size)
            return (*out, {"n_union": n, "n_scored": n, "pruned_frac": 0.0})
        return out

    # phase 0: seed θ by exactly scoring a small high-tf subset of
    # EVERY term's postings. θ from ANY subset of real docs is a lower
    # bound of the final k-th score, so pruning on it stays exact; high
    # tf within each term makes the bound tight. Seeding only the
    # rarest term used to degenerate on (needle OR hot-term) queries —
    # a df<k rarest term left θ=-inf and the hot term was exhaustively
    # scored. Capping the subset keeps phase 0 O(k·n_terms·log) even
    # when every query term is a hot term.
    seed_cap = max(4 * k, 4096)
    per_term = max(k, seed_cap // len(terms))
    seed_parts = []
    for td in terms:
        if td.doc_ids.size > per_term:
            seed_parts.append(td.doc_ids[_sampled_top(td.tfs, per_term)])
        else:
            seed_parts.append(td.doc_ids)
    seed_docs = np.unique(np.concatenate(seed_parts))
    seed_scores = _exact_scores(seed_docs, terms, dl_of, n_docs, avgdl)
    if seed_scores.size >= k:
        theta = np.partition(seed_scores, -k)[-k]
    else:
        theta = -np.inf

    # phase 1: per-doc upper bounds from block maxes.
    # id-space bound for dense arrays: the caller's dl array spans the
    # whole addressable id range (doc_ceiling on the driver path — the
    # LIVE n_docs undercounts when deletions left gaps; shard end on
    # the per-shard path), so its length is the one safe scatter size.
    id_space = int(dl_of.shape[0])
    total_postings = sum(td.doc_ids.size for td in terms)
    dense_ok = id_space <= max(4 * total_postings, 1 << 20) and id_space <= (1 << 26)
    if dense_ok:
        # dense id space (doc_ids are [0, id_space) by construction):
        # a direct scatter-add over the id space beats the sort-based
        # unique/inverse path. Gated on id_space ∝ work so a per-shard
        # scorer over a huge global id space (distributed path at
        # 10^12 docs) never allocates an O(id_space) array.
        ub_doc = np.zeros(id_space, dtype=np.float64)
        seen = np.zeros(id_space, dtype=bool)
        for td in terms:
            w_idf = math.log(1.0 + (n_docs - td.df_global + 0.5) / (td.df_global + 0.5))
            # ids are unique within one term ⇒ fancy += is one write per id
            ub_doc[td.doc_ids] += np.repeat(td.block_max * w_idf, td.block_sizes)
            seen[td.doc_ids] = True
        n_union = int(seen.sum())
        keep = seen & (ub_doc >= theta)
        survivors = np.nonzero(keep)[0]
        ub_surv = ub_doc[survivors]
    else:
        all_docs, all_ubs = [], []
        for td in terms:
            w_idf = math.log(1.0 + (n_docs - td.df_global + 0.5) / (td.df_global + 0.5))
            all_docs.append(td.doc_ids)
            all_ubs.append(np.repeat(td.block_max * w_idf, td.block_sizes))
        uniq, inv = np.unique(np.concatenate(all_docs), return_inverse=True)
        ub_doc = np.bincount(inv, weights=np.concatenate(all_ubs))
        n_union = int(uniq.size)
        keep = ub_doc >= theta
        survivors = uniq[keep]
        ub_surv = ub_doc[keep]

    # phase 1.5: θ refinement. When the bound leaves a huge survivor
    # set, exactly score the top-ub slice (the docs most likely to hold
    # the true top-k), raise θ to their k-th exact score, and re-prune.
    # Still exact: θ only ever comes from exactly-scored real docs, and
    # an admissible ub means any doc with score ≥ θ keeps ub ≥ θ.
    # Flat-bound skip: when every survivor carries the SAME upper bound
    # (uniform tf corpora make per-block maxes identical), refinement
    # provably cannot prune — θ never exceeds the true k-th score,
    # which is ≤ its doc's ub = every ub, so the re-prune mask keeps
    # everything. Two O(n) reductions beat an argpartition + exact pass
    # + mask (~2 s on a 20M-survivor set) that would change nothing.
    if (
        survivors.size > 4 * seed_cap
        and ub_surv.size
        and float(ub_surv.max()) > float(ub_surv.min())
    ):
        top_ub = np.argpartition(ub_surv, -seed_cap)[-seed_cap:]
        ref_docs = np.sort(survivors[top_ub])
        ref_scores = _exact_scores(ref_docs, terms, dl_of, n_docs, avgdl)
        if ref_scores.size >= k:
            theta = max(theta, np.partition(ref_scores, -k)[-k])
            m = ub_surv >= theta
            survivors = survivors[m]
            ub_surv = ub_surv[m]

    # phase 2: exact-score survivors only. When pruning was weak (flat
    # bounds leave survivors ~ the whole union), per-survivor
    # searchsorted over hot postings costs more than touching every
    # posting once: scatter-add each term's full idf·tfn vector into a
    # dense score array instead. Same float64 values, same query-term
    # accumulation order per doc ⇒ bit-identical to _exact_scores.
    dense_exact = (
        dense_ok and survivors.size * 16 > total_postings and survivors.size > seed_cap
    )
    if dense_exact:
        dscores = np.zeros(id_space, dtype=np.float64)
        for td in terms:
            w_idf = math.log(1.0 + (n_docs - td.df_global + 0.5) / (td.df_global + 0.5))
            t = td.tfs.astype(np.float64)
            denom = _denom_vec(dl_of[td.doc_ids], avgdl)
            dscores[td.doc_ids] += w_idf * (t * (bm25.K1 + 1.0) / (t + denom))
        scores = dscores[survivors]
    else:
        scores = _exact_scores(survivors, terms, dl_of, n_docs, avgdl)
    out = _topk_order(survivors, scores, k)
    if return_stats:
        stats = {
            "n_union": n_union,
            "n_scored": int(survivors.size + seed_docs.size),
            "pruned_frac": 1.0 - survivors.size / max(1, n_union),
        }
        return (*out, stats)
    return out


# ---------------------------------------------------------------------------
# block-skipped (lazy-decode) paths
# ---------------------------------------------------------------------------

def _idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _search_or_lazy(
    terms: list,
    dl_of: np.ndarray,
    n_docs: int,
    avgdl: float,
    k: int,
    return_stats: bool = False,
):
    """Disjunctive top-k with TRUE block-max-WAND skipping: θ is seeded
    from each term's highest-bound blocks, whole blocks are pruned
    BEFORE decode (a pruned block's best possible combined score is
    below θ), and exact scoring decodes only the blocks covering
    surviving candidates. Exactness: every bound is admissible —
    covering-block bounds over-estimate for non-members, the other-term
    contribution is bounded by that term's global max — so any doc with
    score ≥ θ lives in a surviving block and survives the candidate
    cut; pruned docs score strictly below θ ≤ the final k-th score.
    Results are identical to the eager path (pinned by tests)."""
    idfs = [_idf(n_docs, td.df_global) for td in terms]
    seed_cap = max(4 * k, 4096)
    per_term = max(k, seed_cap // len(terms))

    # phase 0: seed θ from each term's top-bound blocks (the docs most
    # likely to hold large contributions), exactly scored
    seed_parts = []
    for td in terms:
        if td.n_postings <= per_term:
            allb = np.arange(td.n_blocks, dtype=np.int64)
            td.ensure(allb)
            seed_parts.append(td.arrays_for(allb)[0])
            continue
        order = np.argsort(-td.block_max, kind="stable")
        m = int(np.searchsorted(np.cumsum(td.block_sizes[order]), per_term)) + 1
        sel = np.sort(order[:m])
        td.ensure(sel)
        seed_parts.append(td.arrays_for(sel)[0])
    seed_docs = np.unique(np.concatenate(seed_parts))
    seed_scores = _exact_scores(seed_docs, terms, dl_of, n_docs, avgdl)
    if seed_scores.size >= k:
        theta = np.partition(seed_scores, -k)[-k]
    else:
        theta = -np.inf

    # phase 1: block-level survival. A block b of term t can hold a
    # top-k doc only if its own bound plus every OTHER term's global
    # max bound reaches θ. Decode only survivors.
    maxs = [
        idfs[i] * (float(td.block_max.max()) if td.block_max.size else 0.0)
        for i, td in enumerate(terms)
    ]
    s_all = sum(maxs)
    # float-fold slack: (s_all - maxs[i]) can undershoot the true
    # other-terms fold by a few ulps, making the survival threshold an
    # ulp too high and over-pruning a block that holds an exactly-θ
    # doc. Pad by a relative epsilon orders of magnitude above fold
    # error (~n·2⁻⁵²·s_all) and below any real bound gap — survivors
    # still pass the exact per-candidate admissible test below.
    slack = 1e-9 * max(1.0, abs(s_all))
    cand_parts = []
    n_blocks_total = 0
    n_blocks_surv = 0
    for i, td in enumerate(terms):
        bub = td.block_max * idfs[i]
        surv = np.nonzero(bub >= theta - (s_all - maxs[i]) - slack)[0]
        n_blocks_total += td.n_blocks
        n_blocks_surv += int(surv.size)
        if surv.size:
            td.ensure(surv)
            cand_parts.append(td.arrays_for(surv)[0])
    if not cand_parts:
        out = (np.zeros(0, np.int64), np.zeros(0, np.float64))
        return (*out, {"n_union": 0, "n_scored": 0, "pruned_frac": 1.0}) if return_stats else out
    cand = np.unique(np.concatenate(cand_parts))

    # per-candidate admissible bound from covering blocks (metadata
    # only — no decode; over-estimates for docs in a block's id gap)
    ub = np.zeros(cand.size, dtype=np.float64)
    for i, td in enumerate(terms):
        j, valid = td.covering(cand)
        if valid.any():
            ub[valid] += td.block_max[j[valid]] * idfs[i]
    keep = ub >= theta
    survivors = cand[keep]
    ub_surv = ub[keep]

    # θ refinement (the eager path's phase 1.5, same flat-bound skip)
    if (
        survivors.size > 4 * seed_cap
        and ub_surv.size
        and float(ub_surv.max()) > float(ub_surv.min())
    ):
        top_ub = np.argpartition(ub_surv, -seed_cap)[-seed_cap:]
        ref_docs = np.sort(survivors[top_ub])
        ref_scores = _exact_scores(ref_docs, terms, dl_of, n_docs, avgdl)
        if ref_scores.size >= k:
            theta = max(theta, np.partition(ref_scores, -k)[-k])
            m = ub_surv >= theta
            survivors = survivors[m]
            ub_surv = ub_surv[m]

    scores = _exact_scores(survivors, terms, dl_of, n_docs, avgdl)
    out = _topk_order(survivors, scores, k)
    if return_stats:
        total = sum(td.n_postings for td in terms)
        decoded = sum(
            int(td.block_sizes[td._have].sum()) for td in terms
        )
        stats = {
            "n_union": int(cand.size),
            "n_scored": int(survivors.size + seed_docs.size),
            "pruned_frac": 1.0 - survivors.size / max(1, int(cand.size)),
            "blocks_total": n_blocks_total,
            "blocks_surviving": n_blocks_surv,
            "decoded_frac": decoded / max(1, total),
        }
        return (*out, stats)
    return out


def _search_and_lazy(
    terms: list, dl_of: np.ndarray, n_docs: int, avgdl: float, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Conjunctive retrieval with block-skipped decode: the rarest term
    decodes fully and drives the intersection; every other term probes
    membership via ``lookup`` — decoding ONLY the blocks whose doc
    ranges cover still-alive candidates. tf values are captured at
    probe time, so scoring needs no re-search and no full decode."""
    empty = (np.zeros(0, np.int64), np.zeros(0, np.float64))
    by_df = sorted(terms, key=lambda t: t.n_postings)
    rare = by_df[0]
    allb = np.arange(rare.n_blocks, dtype=np.int64)
    rare.ensure(allb)
    cand, rare_tfs = rare.arrays_for(allb)
    tf_of: dict[int, np.ndarray] = {id(rare): rare_tfs}
    for td in by_df[1:]:
        hit, tf = td.lookup(cand)
        cand = cand[hit]
        if cand.size == 0:
            return empty
        for key in tf_of:
            tf_of[key] = tf_of[key][hit]
        tf_of[id(td)] = tf[hit]

    def _exact_from_tf(idx: np.ndarray | None) -> np.ndarray:
        """Exact scores from the captured tf arrays (pure gathers);
        accumulation in query-term order (oracle parity)."""
        sel = cand if idx is None else cand[idx]
        s = np.zeros(sel.size, dtype=np.float64)
        denom = _denom_vec(dl_of[sel], avgdl)
        for td in terms:
            w_idf = _idf(n_docs, td.df_global)
            t_arr = tf_of[id(td)]
            t = (t_arr if idx is None else t_arr[idx]).astype(np.float64)
            s += w_idf * (t * (bm25.K1 + 1.0) / (t + denom))
        return s

    # θ-prune on large intersections (hot-AND-hot): per-candidate
    # admissible bound from covering blocks, θ from the rarest term's
    # top-tf slice — the eager path's pruning, bounds via metadata
    seed_cap = max(4 * k, 4096)
    bounds_vary = any(
        td.block_max.size and float(td.block_max.max()) > float(td.block_max.min())
        for td in terms
    )
    if bounds_vary and cand.size > 4 * seed_cap:
        ub = np.zeros(cand.size, dtype=np.float64)
        for td in terms:
            w_idf = _idf(n_docs, td.df_global)
            j, valid = td.covering(cand)
            if valid.any():
                ub[valid] += td.block_max[j[valid]] * w_idf
        sub = _sampled_top(tf_of[id(rare)], seed_cap)
        sub_scores = _exact_from_tf(sub)
        if sub_scores.size >= k:
            theta = np.partition(sub_scores, -k)[-k]
            m = ub >= theta
            cand = cand[m]
            for key in tf_of:
                tf_of[key] = tf_of[key][m]

    return _topk_order(cand, _exact_from_tf(None), k)
