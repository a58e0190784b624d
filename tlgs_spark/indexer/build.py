"""Distributed inverted-index build.

The Spark-native analog of the reference's crawl→index write path
(tlgs/crawler/crawler.cpp:548-558: ``UPDATE pages SET search_vector =
to_tsvector(...)`` + GIN index, tlgs_ctl/main.cpp:41) — except the
index is an explicit, document-sharded postings table.

Design (scale-first):

- **Stable doc_ids**: dense rank over ``(conv_id, turn_idx)`` via
  range-repartition + per-partition offsets (no single-partition
  window; the sort is distributed).
- **Document-range sharding = skew control.** ``shard = doc_id //
  shard_size``. A hot term ("the"-class, Zipf head) never concentrates
  on one reducer: its postings are split across all shards by
  construction, each bounded by shard_size docs. This is the explicit
  salting the north rule asks for, with the bonus that shard-local
  doc_id ranges make delta-gaps small (better varint compression) and
  segment "merge" across shards is free concatenation in shard order
  (the postings table itself is the merged index).
- **One Arrow pass per shard**: the postings scan streams whole shards
  into ``mapInArrow`` (``groupBy(shard).applyInArrow`` when the docs
  layout cannot prove shard contiguity), which builds every term's
  delta+varint posting list, per-block (BLOCK_SIZE=128) metadata and
  the shard norms in NumPy — no per-row Python.
- **Resumable**: per-shard checkpoint ledger with lineage + build
  metrics (postings/sec, bytes, skew factor). Re-run = left-anti
  against the ledger; a shard killed mid-write is simply rebuilt
  (dynamic partition overwrite ⇒ idempotent).
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import bm25
from ..tokenizer import (
    ANALYZER_VERSION,
    HYGIENE_LINE_RE,
    MAX_TOKEN_LEN,
    STOPWORDS,
    TOKEN_RE,
    s_stem,
    stem_spark_stages,
)
from ..utils import parse_byte_size
from .codec import encode_varints
from .storage import POSTINGS_SCHEMA, IndexStorage

# postings format 4 (meta["postings_format"]): one row per (shard,
# term) holding the delta-gap + varint blob (``postings``) and its
# block metadata, one 128-posting block per entry:
# - ``block_last`` — the block's last doc id (skip pointer);
# - ``block_off`` — the byte offset of the block's first varint within
#   the blob, so the query side decodes ONLY the blocks whose bound
#   clears the running top-k threshold θ (block-max WAND);
# - ``block_fn``/``block_ftf``/``block_fdl`` — each block's PARETO
#   FRONT of real (tf, dl) pairs under (tf↑, dl↓) dominance, flattened
#   per term (block_fn = per-block front length). The front's max
#   tf_norm is the block's exact score ceiling for ANY avgdl, so the
#   build needs no global statistic and tokenizes the corpus once.
# Each shard also carries one term=NULL norms pseudo row (df = slot
# count, cf = Σdl, block_last = [base], dls = the shard's doc-length
# varint blob); finalize extracts norms/doc_lengths/collection_stats
# from it with column-pruned metadata scans.
POSTINGS_FORMAT = 4

# index_meta "docs_layout" attestation: docs live in hive ``shard=``
# partition dirs, one whole shard per file, doc_id-sorted within each
# file — the stream fast path's precondition AND the unit of
# incremental reuse (a delta update rewrites only changed shards'
# dirs; the rest are carried by manifest reference, storage.py).
DOCS_LAYOUT_SHARDED = "sharded_sorted_v2"


def index_meta_current(meta: dict) -> bool:
    """True when an index's meta matches what this code writes: the
    postings format, the docs layout and the analyzer. The one gate
    for every reader and writer of an existing index — an index that
    fails it must be rebuilt, never read or extended."""
    return (
        meta.get("postings_format") == POSTINGS_FORMAT
        and meta.get("docs_layout") == DOCS_LAYOUT_SHARDED
        and meta.get("tokenizer") == ANALYZER_VERSION
    )


# term_stats keeps an explicit shard list only for terms present in at
# most this many shards (scan pruning for selective queries; NULL for
# the Zipf head, which every shard contains anyway). Mid-df terms past
# the cap are covered by the fixed-width shard_bits bitmap instead
# (codec.SHARD_BITMAP_MAX governs that one).
TERM_SHARDS_MAX = 64

# postings parquet row-group size target (parquet.block.size). Small
# groups + terms sorted within each shard file ⇒ row-group min/max
# stats on `term` prune both the Spark scan and the driver's pyarrow
# point lookups to the groups actually holding the query's terms —
# measured 2,486 → 1,468 ms distributed dense-term mean at 21M docs.
# parquet-mr enforces this against UNCOMPRESSED buffered bytes and
# only between row-count checkpoints, so real groups are approximate
# (dense blobs overflow into their own oversized group — see the
# write site).
POSTINGS_ROW_GROUP_BYTES = 131072
# parquet-mr checks the buffered size every this many records (default
# 100), so runs of small rows close their groups near the target
# instead of 10x past it
POSTINGS_PAGE_CHECK_MIN = 8

# Fresh builds attach doc_ids with a BROADCAST of the ranked
# (conv_id, turn_idx) -> doc_id map when the corpus is small enough
# for the map to fit per-executor. Past the cap the build falls back
# to range-shuffling the full rows (assign_doc_ids), which has no
# driver/executor-memory envelope — same ids either way (dense rank
# over unique keys; output content-hash-identical at 21M docs across
# all 7 index tables).
#
# The cap is EMPIRICAL, not the broadcast wire limit. Interleaved
# same-session A/B (local mode, 64 g driver, quiet box): broadcast
# wins at 2.1M docs (20.3 vs 22.1 s) and at 6.3M (prepare phases
# 15.5 vs 22.7 s), but COLLAPSES at 21M — docs_write 313 s vs 22 s,
# whole build 537 s vs 114 s — because every job that touches the
# numbered corpus (docs write + the background first_turn_terms
# build) re-materializes a multi-GB hashed relation under GC
# pressure. 8M rows ≈ 250-500 MB relation also stays inside what a
# real cluster's 8-16 GB executors can hold per-core; past it the
# extra full-row shuffle is the cheaper trade at every scale we can
# measure.
FUSED_ASSIGN_MAX_DOCS = 8_000_000

# postings-loop scan sizing: pack docs files into roughly this many
# scan tasks per core — enough waves to absorb stragglers while paying
# a small fixed per-task cost (see the openCost block in build_index)
PACK_TASKS_PER_CORE = 4

# worker-process-global stem memo (see _tokenize_batch_arrays)
_STEM_MEMO: dict[str, str] = {}


# ---------------------------------------------------------------------------
# doc_id assignment — distributed dense rank over (conv_id, turn_idx)
# ---------------------------------------------------------------------------

def assign_doc_ids(
    df: DataFrame,
    partitions: int | None = None,
    cleanup: list | None = None,
    meta_out: dict | None = None,
) -> DataFrame:
    """Add dense ``doc_id`` = global rank of (conv_id, turn_idx).

    Scalable formulation: range-repartition on the sort key, count rows
    per partition, broadcast the offsets, then number rows inside each
    (sorted) partition JVM-side. Equivalent to
    ``row_number().over(Window.orderBy(...)) - 1`` but without funneling
    the corpus through one task.

    The ranged corpus is persisted (two jobs consume it: the count and
    the numbering pass). Callers that materialize the result should
    pass ``cleanup`` — the persisted handle is appended so they can
    ``unpersist()`` it; otherwise a corpus-sized cache entry lives for
    the rest of the session.
    """
    spark = df.sparkSession
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        df.repartitionByRange(partitions, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .withColumn("_pid", F.spark_partition_id())
    )
    ranged.persist()
    if cleanup is not None:
        cleanup.append(ranged)
    counts = {r._pid: r["count"] for r in ranged.groupBy("_pid").count().collect()}
    offsets = []
    acc = 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if meta_out is not None:
        meta_out["n_docs"] = acc  # the count pass already knows the total

    # numbering stays ENTIRELY JVM: monotonically_increasing_id lays
    # out (partition_id << 33) | in-partition record index, so the
    # in-partition sequence is mid minus the partition component;
    # global doc_id adds the broadcast per-partition offset. The old
    # formulation shipped the full corpus through an Arrow round-trip
    # just to attach a counter.
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    mid = F.monotonically_increasing_id()
    local_idx = mid - F.shiftleft(F.col("_pid").cast("long"), 33)
    return (
        ranged.withColumn("_local", local_idx)
        .join(F.broadcast(off_df), "_pid")
        .select(
            (F.col("_off") + F.col("_local")).alias("doc_id"),
            *[f.name for f in df.schema.fields],
        )
    )


# ---------------------------------------------------------------------------
# tokenization — Arrow-vectorized, emits (doc_id, term, tf)
# ---------------------------------------------------------------------------

def tokenize_tokens_jvm(docs: DataFrame, hygiene: bool = False) -> DataFrame:
    """(doc_id, text) → (doc_id, term, tf) under the frozen tokenizer
    spec, rendered as pure JVM expressions: lower → regexp_extract_all
    → explode → length/stopword filter → partial+final hash aggregate.
    Measured SLOWER than the Arrow/pandas twin below on this corpus
    (A/B same box, 8 cores: 305 s vs 221 s for 2.1M turns): per-row
    java.util.regex allocation plus a full 188M-row explode into the
    aggregate loses to one C-level regex pass per Arrow batch with
    in-batch (doc_id, term) pre-aggregation. Kept as the
    cross-validation twin (three-way equivalence with the pandas path
    and the pure-Python oracle is pinned by test_build_vectorized.py)
    and for clusters where Python workers are the scarce resource."""
    text = F.col("text")
    if hygiene:
        # same HYGIENE_LINE_RE, prefixed with (?d) (UNIX_LINES): Java's
        # MULTILINE `$` otherwise matches before \r\n while Python's
        # only matches before \n — a CRLF junk line would be dropped by
        # the JVM path but kept by the spec. With (?d), \r stays line
        # content on both sides (pinned by the CRLF doc in
        # test_build_vectorized.py).
        text = F.regexp_replace(text, "(?d)" + HYGIENE_LINE_RE.pattern, "")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE.pattern), F.lit(0))
        ).alias("term"),
    ).filter(
        (F.length("term") <= MAX_TOKEN_LEN) & (~F.col("term").isin(sorted(STOPWORDS)))
    )
    # spec step 5: stem AFTER the raw-token stopword/length check —
    # same CASE authorities as the DuckDB oracles, staged as two
    # projections so codegen holds (see stem_spark_stages)
    st1, st2 = stem_spark_stages("term")
    toks = toks.select("doc_id", F.expr(st1).alias("term"))
    toks = toks.select("doc_id", F.expr(st2).alias("term"))
    return toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def _tokenize_batch_arrays(
    txt: "pd.Series", hygiene: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One batch of texts → (doc_ord, codes, uniques) under the frozen
    tokenizer spec: doc_ord[i] is the 0-based position (within this
    batch) of the doc owning kept token i, codes[i] indexes into the
    object array `uniques`. The single implementation both the
    streaming tokenizer and the in-shard builder call — the spec lives
    in exactly one place.

    Token extraction runs in Arrow C++ (RE2 split on the complement
    class + dictionary_encode == factorize), ~5× the throughput of a
    Python re.findall over the same batch; only the (small) per-batch
    VOCABULARY is touched from Python for stopword/length
    classification. Lowercasing stays Python str.lower so the frozen
    spec (pinned against the pure-Python oracle and the JVM twin)
    keeps one Unicode case-mapping authority.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    stop = frozenset(STOPWORDS)
    txt = txt.fillna("").str.replace("\x00", " ", regex=False)
    if hygiene:
        txt = txt.str.replace(HYGIENE_LINE_RE, "", regex=True)
    arr = pa.Array.from_pandas(txt.str.lower())
    # split on the complement class: maximal [a-z0-9]+ runs survive as
    # list elements; edge-adjacent separators yield "" entries, dropped
    # below with the stopwords
    toks = pc.split_pattern_regex(arr, "[^a-z0-9]+")
    counts = pc.list_value_length(toks).to_numpy(zero_copy_only=False).astype(np.int64)
    d = pc.dictionary_encode(pc.list_flatten(toks))
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    u = np.asarray(d.dictionary.to_pylist(), dtype=object)
    if codes.size == 0:
        z = np.zeros(0, np.int64)
        return z, z, np.zeros(0, dtype=object)
    drop_u = np.array(
        [v == "" or v in stop or len(v) > MAX_TOKEN_LEN for v in u], dtype=bool
    )
    # spec step 5 (stemming) runs on the per-batch VOCABULARY only —
    # the token stream is remapped through the stemmed dictionary, so
    # the per-token cost is an int gather. Distinct raw tokens that
    # stem to the same form ("window"/"windows") collapse to ONE code
    # here, keeping downstream (doc, term) aggregation exact. The memo
    # is worker-process-global: batch vocabularies overlap heavily
    # (Zipf), so after the first few batches stemming is a dict hit.
    memo = _STEM_MEMO
    if len(memo) > 4_000_000:  # bound worker memory; refills fast
        memo.clear()
    stemmed = np.asarray(
        [memo.get(v) or memo.setdefault(v, s_stem(v)) for v in u], dtype=object
    )
    su, inv = np.unique(stemmed, return_inverse=True)
    doc_idx = np.repeat(np.arange(len(txt), dtype=np.int64), counts)
    keep = ~drop_u[codes]
    return doc_idx[keep], inv[codes[keep]], su


def tokenize_tokens(docs: DataFrame, hygiene: bool = False, with_dl: bool = False) -> DataFrame:
    """The build's tokenizer: Arrow-batched pandas rendering of the
    frozen spec — one C-level regex pass per batch (docs joined by a
    sentinel), then in-batch (doc_id, term) pre-aggregation so only
    ~1/3 of the raw token stream enters the Spark shuffle. Beats the
    JVM-expression rendering above by ~1.4× on the bench corpus (and
    is the template for analyzers that outgrow SQL expressions:
    stemmers, per-language rules).

    ``with_dl=True`` additionally emits one ``term=NULL`` row per
    document carrying its doc length in ``tf`` (including dl=0 docs) —
    doc_lengths then falls out of the same pass instead of a separate
    aggregate + left join against docs."""
    def tok(batches):
        empty = pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "term": pd.Series(dtype="object"),
             "tf": pd.Series(dtype="int64")}
        )

        def dl_rows(pdf, doc_k):
            dls = np.bincount(doc_k, minlength=len(pdf)).astype(np.int64)
            return pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "term": None, "tf": dls}
            )

        for pdf in batches:
            doc_k, codes_k, u = _tokenize_batch_arrays(pdf["text"], hygiene)
            if codes_k.size == 0:
                yield dl_rows(pdf, doc_k) if with_dl else empty
                continue
            # (doc, term) aggregation as an int64-key np.unique instead
            # of a pandas string groupby — ~1.7× faster per batch
            key = doc_k.astype(np.int64) * len(u) + codes_k
            uk, counts = np.unique(key, return_counts=True)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[uk // len(u)],
                    "term": u[uk % len(u)],
                    "tf": counts,
                }
            )
            if with_dl:
                out = pd.concat([out, dl_rows(pdf, doc_k)], ignore_index=True)
            yield out

    return docs.select("doc_id", "text").mapInPandas(tok, schema="doc_id long, term string, tf long")


# ---------------------------------------------------------------------------
# per-shard segment build (mapInArrow / applyInArrow body)
# ---------------------------------------------------------------------------

def _block_fronts(
    tfs: np.ndarray, dls: np.ndarray, bstarts: np.ndarray, n_all: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-block Pareto fronts of real (tf, dl) pairs under (tf↑, dl↓)
    dominance — the avgdl-free exact block score ceiling.
    Vectorized across ALL blocks of the shard: one sort by
    (block, -tf, dl), then a segmented running-min of dl (the offset
    trick keeps segments independent); an entry joins the front iff its
    dl strictly undercuts every higher-tf entry of its block.

    The sort packs all three keys into ONE int64
    (block | tfmax-tf | dl bit fields) and np.sort-s values directly —
    the sorted keys decode back to (blk, tf, dl) by shifts, so the
    3-pass stable lexsort AND its gather are gone (measured 83 → 25 ms
    per 500k-posting shard, ~16% of the whole shard kernel). Key order
    is identical to lexsort((dls, -tfs, blk)); entries equal in all
    three fields are interchangeable, so the output is bit-identical.
    Falls back to lexsort when the fields exceed 62 bits (pathological
    tf/dl magnitudes).

    Returns (front length per block, flat front tfs, flat front dls),
    front entries in block order, tf-descending within each block."""
    blk = np.zeros(n_all, dtype=np.int64)
    blk[bstarts] = 1
    blk = np.cumsum(blk) - 1
    tmax = int(tfs.max())
    nb = int(blk[-1]) + 1
    bt = max(1, tmax.bit_length())
    bd = max(1, int(dls.max()).bit_length())
    bb = max(1, (nb - 1).bit_length())
    if bb + bt + bd <= 62:
        key = (blk << (bt + bd)) | ((tmax - tfs) << bd) | dls
        key.sort()
        dl_s = key & ((1 << bd) - 1)
        tf_s = tmax - ((key >> bd) & ((1 << bt) - 1))
        blk_s = key >> (bt + bd)
    else:
        order = np.lexsort((dls, -tfs, blk))
        blk_s = blk[order]
        tf_s = tfs[order]
        dl_s = dls[order]
    big = int(dls.max()) + 1
    # segmented cummin: earlier blocks' offset values exceed the
    # current block's by ≥ big > dl range, so they never win the min
    m = np.minimum.accumulate(dl_s - blk_s * big) + blk_s * big
    keep = np.empty(n_all, dtype=bool)
    keep[0] = True
    keep[1:] = dl_s[1:] < m[:-1]
    keep[bstarts] = True  # lexsort keeps blocks contiguous, sizes intact
    fn = np.add.reduceat(keep.astype(np.int64), bstarts)
    return fn, tf_s[keep], dl_s[keep]


def _expected_shard_docs(
    shard: int, shard_size: int, doc_ceiling: int, expect_counts: dict | None
) -> int:
    """How many docs a full group for ``shard`` must hold. Dense
    indexes (every fresh build): min(shard_size, ceiling - base).
    Delta-updated indexes may have ID GAPS (deletions never re-densify,
    storage doc_ceiling contract) — the updater passes the exact live
    count per rebuilt shard via ``expect_counts``."""
    if expect_counts is not None and shard in expect_counts:
        return expect_counts[shard]
    return min(shard_size, doc_ceiling - shard * shard_size)


def _norms_row(shard: int, shard_size: int, dl_lookup: np.ndarray):
    """The shard's norms pseudo row (term NULL): df = slot count,
    cf = Σdl (an exact long — collection totals sum these),
    block_last = [base], dls = the shard's doc-length varint blob."""
    import pyarrow as pa

    lists = pa.nulls(1, pa.list_(pa.int64()))
    return pa.table(
        {
            "shard": pa.array([shard], pa.int32()),
            "term": pa.nulls(1, pa.string()),
            "df": pa.array([int(shard_size)], pa.int64()),
            "cf": pa.array([int(dl_lookup.sum())], pa.int64()),
            "block_fn": lists,
            "block_ftf": lists,
            "block_fdl": lists,
            "block_last": pa.array([[shard * shard_size]], pa.list_(pa.int64())),
            "block_off": lists,
            "postings": pa.nulls(1, pa.binary()),
            "dls": pa.array([encode_varints(dl_lookup)], pa.binary()),
        }
    )


def _build_shard_table(table, shard_size: int, hygiene: bool,
                       n_docs: int | None = None,
                       expect_counts: dict | None = None):
    """One shard's DOCS (doc_id, text) as an Arrow table → its postings
    rows (format 4): tokenize in place with the frozen batch tokenizer,
    then one row per term (delta+varint postings, per-128-block skip
    pointers, byte offsets and (tf, dl) Pareto fronts) plus the norms
    pseudo row. Pinned against a naive per-term reference by
    test_build_vectorized. Fully vectorized:

    - (term, doc) aggregation AND the (term, doc_id) sort collapse
      into ONE ``np.unique`` over the flipped key
      ``code * shard_size + (doc_id - base)`` (stemmed-term codes are
      already in lexicographic order because np.unique sorted the
      vocabulary);
    - the whole shard's interleaved (gap, tf) stream is varint-encoded
      in ONE pass and the output columns are built zero-copy:
      ``pa.ListArray.from_arrays`` over the reduceat outputs and a
      binary array whose data buffer IS the batch varint buffer — no
      per-term Python loop.
    """
    import pyarrow as pa

    doc_ids_np = table.column("doc_id").to_numpy()
    txt = table.column("text").to_pandas()
    doc_k, codes_k, su = _tokenize_batch_arrays(txt, hygiene)
    shard = int(doc_ids_np[0]) // shard_size
    base = shard * shard_size
    if n_docs is not None:
        # same loud contract as the stream kernel: a full-shard group
        # holds exactly the expected row count (dense rank up to
        # doc_ceiling, or the delta updater's exact live count for
        # gapped shards). Duplicate (conv_id, turn_idx) input keys
        # multiply rows through the doc-id broadcast join and would
        # otherwise silently double tf/dl here (the input contract
        # requires unique keys).
        expect = _expected_shard_docs(shard, shard_size, n_docs, expect_counts)
        if len(doc_ids_np) != expect:
            raise RuntimeError(
                f"shard {shard} group has {len(doc_ids_np)} docs, expected "
                f"{expect} — duplicate (conv_id, turn_idx) keys in the input, "
                f"or a corrupt docs table"
            )

    if codes_k.size == 0:  # all-stopword/empty shard: norms row only
        return _norms_row(shard, shard_size, np.zeros(shard_size, dtype=np.int64))

    dl_lookup = np.bincount(
        doc_ids_np[doc_k] - base, minlength=shard_size
    ).astype(np.int64)
    key = codes_k * shard_size + (doc_ids_np[doc_k] - base)
    uk, counts = np.unique(key, return_counts=True)
    term_code = uk // shard_size
    doc_ids = uk % shard_size + base
    tfs = counts.astype(np.int64)
    n_all = uk.size
    dls = dl_lookup[doc_ids - base]

    bound = np.nonzero(term_code[1:] != term_code[:-1])[0] + 1
    starts = np.concatenate(([0], bound))
    ends = np.concatenate((bound, [n_all]))
    seg_len = ends - starts
    n_terms = starts.size

    prev = np.empty(n_all, dtype=np.int64)
    prev[1:] = doc_ids[:-1]
    prev[starts] = base
    gaps = doc_ids - prev

    inter = np.empty(n_all * 2, dtype=np.uint64)
    inter[0::2] = gaps.astype(np.uint64)
    inter[1::2] = tfs.astype(np.uint64)
    buf, vlen = encode_varints(inter, return_lengths=True)
    term_bytes = np.add.reduceat(vlen, starts * 2)
    byte_ends = np.cumsum(term_bytes)
    cf = np.add.reduceat(tfs, starts)

    bs = bm25.BLOCK_SIZE
    pos_in_seg = np.arange(n_all) - np.repeat(starts, seg_len)
    bstarts = np.nonzero((pos_in_seg % bs) == 0)[0]
    bends = np.concatenate((bstarts[1:], [n_all])) - 1
    blast_all = doc_ids[bends]
    nb_per_term = (seg_len + bs - 1) // bs
    nb_ends = np.cumsum(nb_per_term)
    # per-block byte offsets within each term's blob
    cumv = np.concatenate(([0], np.cumsum(vlen)))
    boff_all = cumv[bstarts * 2] - np.repeat(byte_ends - term_bytes, nb_per_term)
    # per-block (tf, dl) Pareto fronts (exact block bound)
    fn_all, ftf_all, fdl_all = _block_fronts(tfs, dls, bstarts, n_all)
    fcum = np.concatenate(([0], np.cumsum(fn_all)))

    list_offs = pa.array(np.concatenate(([0], nb_ends)).astype(np.int32))
    front_offs = pa.array(
        fcum[np.concatenate(([0], nb_ends))].astype(np.int32)
    )

    def _list_arr(vals: np.ndarray) -> "pa.Array":
        return pa.ListArray.from_arrays(list_offs, pa.array(vals, pa.int64()))

    def _front_arr(vals: np.ndarray) -> "pa.Array":
        return pa.ListArray.from_arrays(front_offs, pa.array(vals, pa.int64()))

    if byte_ends.size and int(byte_ends[-1]) >= (1 << 31):
        # pa.binary() carries int32 offsets; a cast past 2^31 would wrap
        # silently and write garbage blobs. A shard this large means the
        # shard grid is mis-sized — fail loudly with the actionable knob.
        raise ValueError(
            f"shard {shard} postings buffer is {int(byte_ends[-1])} bytes "
            f"(>= 2 GiB, the Arrow binary offset limit) — use a smaller "
            f"shard_size / more shards"
        )
    post_offs = np.concatenate(([0], byte_ends)).astype(np.int32)
    postings_arr = pa.Array.from_buffers(
        pa.binary(),
        n_terms,
        [None, pa.py_buffer(post_offs.tobytes()), pa.py_buffer(buf)],
    )
    main = pa.table(
        {
            "shard": pa.array(np.full(n_terms, shard, dtype=np.int32)),
            "term": pa.array(su[term_code[starts]].tolist(), pa.string()),
            "df": pa.array(seg_len.astype(np.int64)),
            "cf": pa.array(cf.astype(np.int64)),
            "block_fn": _list_arr(fn_all),
            "block_ftf": _front_arr(ftf_all),
            "block_fdl": _front_arr(fdl_all),
            "block_last": _list_arr(blast_all),
            "block_off": _list_arr(boff_all),
            "postings": postings_arr,
            "dls": pa.nulls(n_terms, pa.binary()),
        }
    )
    return pa.concat_tables([main, _norms_row(shard, shard_size, dl_lookup)])


def _postings_stream(batches, shard_size: int, hygiene: bool, n_docs: int,
                     expect_counts: dict | None = None):
    """mapInArrow kernel for the fresh-layout postings fast path: the
    incoming scan stream is doc_id-sorted per file with every shard
    wholly inside one file, so shards arrive as CONTIGUOUS runs —
    split the stream at shard boundaries and build each shard as its
    chunk completes. Each chunk is checked against the shard's exact
    doc count (doc_ids are dense), so any layout violation (a split
    file handing two tasks half a shard) raises instead of silently
    emitting duplicate (shard, term) rows."""
    import pyarrow as pa

    pending: list = []
    cur = -1

    def _emit():
        tbl = pa.Table.from_batches(pending)
        expect = _expected_shard_docs(cur, shard_size, n_docs, expect_counts)
        if tbl.num_rows != expect:
            raise RuntimeError(
                f"postings stream: shard {cur} chunk has {tbl.num_rows} docs, "
                f"expected {expect} — docs layout violated shard contiguity"
            )
        return _build_shard_table(tbl, shard_size, hygiene)

    for b in batches:
        if b.num_rows == 0:
            continue
        sh = b.column(0).to_numpy() // shard_size
        cuts = np.nonzero(sh[1:] != sh[:-1])[0] + 1
        seg_bounds = np.concatenate(([0], cuts, [len(sh)]))
        for a, z in zip(seg_bounds[:-1], seg_bounds[1:]):
            s = int(sh[a])
            if s != cur and pending:
                yield from _emit().to_batches()
                pending = []
            cur = s
            pending.append(b.slice(a, z - a))
    if pending:
        yield from _emit().to_batches()


def _docs_data_files(st: IndexStorage) -> list | None:
    """os.DirEntry list of every data file the resolved docs snapshot
    references (manifest-aware: only the referenced ``shard=`` dirs of
    each base). None ⇒ not walkable (non-local dir)."""
    import os

    out: list = []
    try:
        for base, shards in st.sources("docs"):
            if shards is None:
                dirs = [
                    e.path
                    for e in os.scandir(base)
                    if e.is_dir() and e.name.startswith("shard=")
                ]
            else:
                dirs = [os.path.join(base, f"shard={s}") for s in shards]
            for d in dirs:
                out.extend(
                    e
                    for e in os.scandir(d)
                    if e.is_file() and not e.name.startswith((".", "_"))
                )
    except OSError:
        return None
    return out


def _docs_layout_streamable(spark: SparkSession, st: IndexStorage) -> bool:
    """True when the docs table satisfies the stream-kernel contract:

    1. index_meta carries the ``docs_layout`` attestation — the prepare
       pass (the only docs writer, fresh AND incremental) stamps it
       when it writes the sharded+sorted layout, so RESUMED builds
       inherit the fast path. Footer stats alone cannot prove the
       contract (a writer bug could interleave shards within a dir).
    2. every data file is small enough that the scan never splits it
       across tasks (a split file could hand each task half a shard).

    Non-local dirs can't be stat'ed cheaply → False (groupBy fallback).
    The stream kernel's exact per-shard doc-count check remains the
    runtime backstop: a stale attestation fails loudly, never silently."""
    try:
        if st.read_meta().get("docs_layout") != DOCS_LAYOUT_SHARDED:
            return False
    except Exception:
        return False
    try:
        limit_s = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    except Exception:
        limit_s = None
    # fail CLOSED on an unparseable split size ('64m' etc. is valid
    # Spark syntax): assuming a default that overstates the real limit
    # would pass a file the scan then splits — the kernel's count
    # assert would catch it loudly, but the groupBy fallback is the
    # graceful answer
    limit = parse_byte_size(limit_s, default=-1)
    if limit <= 0:
        return False
    files = _docs_data_files(st)
    if files is None:
        return False
    return bool(files) and all(e.stat().st_size < limit for e in files)


# ---------------------------------------------------------------------------
# concurrent-builder mutual exclusion (I4)
# ---------------------------------------------------------------------------

def _claim_shard(st: IndexStorage, shard: int, owner: str) -> bool:
    """Claim a shard for one builder — the crawler.cpp:132-139 analog
    (parallel crawlers claim pages via PG row locks / last_crawl
    watermarks). Local/HDFS rendering: O_CREAT|O_EXCL claim file
    (atomic create-if-absent); on object storage the same protocol is
    a conditional PUT (If-None-Match), and on Iceberg it's the
    optimistic snapshot commit — one swap point, same semantics. A
    claim is NOT a completion: resume still consults the ledger, so a
    builder that dies after claiming leaves a stale claim that
    ``release_claims`` (or a fresh non-concurrent resume, which
    ignores claims) clears."""
    import os

    d = os.path.join(st.index_dir, "claims")
    os.makedirs(d, exist_ok=True)
    try:
        fd = os.open(os.path.join(d, f"shard_{shard}.lock"), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        f.write(f"{owner} {time.time()}\n")
    return True


def release_claims(index_dir: str) -> int:
    """Drop all claim files (post-build cleanup / stale-claim sweep)."""
    import os
    import shutil

    d = os.path.join(index_dir, "claims")
    n = len(os.listdir(d)) if os.path.isdir(d) else 0
    shutil.rmtree(d, ignore_errors=True)
    return n


# ---------------------------------------------------------------------------
# build driver
# ---------------------------------------------------------------------------

def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    n_shards: int | None = None,
    hygiene: bool = False,
    resume: bool = True,
    shard_batch: int | None = None,
    lineage: str = "",
    max_shards_to_build: int | None = None,
    storage: IndexStorage | None = None,
    force_shards: set[int] | None = None,
    claim_owner: str | None = None,
    shard_size: int | None = None,
    expect_counts: dict | None = None,
    finalize: bool = True,
    id_map: DataFrame | None = None,
    doc_ceiling: int | None = None,
) -> dict:
    """Full build: docs → per-shard postings (+ doc lengths in the
    same pass) → finalize (norms/doc_lengths/collection_stats/
    term_stats extracted from postings metadata).

    ``resume=True`` skips shards already in the checkpoint ledger; an
    existing index whose meta fails ``index_meta_current`` or was built
    with a different ``hygiene`` is rebuilt fresh instead.
    ``max_shards_to_build`` lets tests simulate a mid-build kill.
    The crawler.cpp:424-429 change-detection analog lives at SHARD
    granularity in streaming/incremental.py: unchanged shards are
    carried by manifest reference, so neither their text nor their dls
    are ever touched again.
    ``storage`` lets the incremental path pass an IndexStorage with
    STAGED table versions (see storage.py) so recomputed tables land
    in new version dirs while readers keep the committed ones.
    ``force_shards`` rebuilds those shards even when the ledger marks
    them complete (the incremental changed-set, rewritten in place
    under dynamic partition overwrite).
    ``shard_size`` pins the shard geometry explicitly (overrides
    ``n_shards``) — incremental updates pass the original grid so a
    grown corpus appends shards instead of re-gridding everything.
    ``claim_owner`` enables concurrent-builder mode (I4): each pending
    shard is claimed via an atomic create-if-absent claim file before
    building, so N builders running against the same index partition
    the pending set between them with no shard built twice; finalize
    is deferred to a final single resume pass (see _claim_shard).
    ``expect_counts`` overrides the per-shard expected doc counts for
    GAPPED shards (delta updates: deletions never re-densify ids).
    ``finalize=False`` skips the norms/doc_lengths/term_stats/
    collection_stats derivation — the delta updater runs its own
    edit-proportional finalize instead.
    ``id_map`` ((conv_id, turn_idx, doc_id)) pre-assigns doc ids
    instead of dense-ranking — field sub-index rebuilds over a
    delta-updated (gapped) main index MUST address the same documents
    by the same ids; pass ``doc_ceiling`` (the id-space high-water
    mark) and ``expect_counts`` alongside.
    Returns build metrics (also persisted in the ledger).
    """
    # AQE partition coalescing prices partitions by SHUFFLE BYTES, but
    # the build's stages are Python-compute-heavy (tokenize + segment
    # encode per byte ≫ shuffle cost per byte): on local[8] it merged
    # the postings stage to 15 uneven tasks (3.5× rows skew, straggler
    # tail — 27.5 s vs 20.4 s for the same stage at 32 tasks). Disable
    # it for the build only; skew-join and the rest of AQE stay on.
    _coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    _coalesce_prev = spark.conf.get(_coalesce_key, "true")
    spark.conf.set(_coalesce_key, "false")
    try:
        return _build_index_impl(
            spark, transcripts, index_dir, n_shards, hygiene, resume,
            shard_batch, lineage, max_shards_to_build,
            storage, force_shards, claim_owner, shard_size,
            expect_counts, finalize, id_map, doc_ceiling,
        )
    finally:
        spark.conf.set(_coalesce_key, _coalesce_prev)


def _build_index_impl(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    n_shards: int | None,
    hygiene: bool,
    resume: bool,
    shard_batch: int | None,
    lineage: str,
    max_shards_to_build: int | None,
    storage: IndexStorage | None = None,
    force_shards: set[int] | None = None,
    claim_owner: str | None = None,
    shard_size: int | None = None,
    expect_counts: dict | None = None,
    finalize: bool = True,
    id_map: DataFrame | None = None,
    doc_ceiling: int | None = None,
) -> dict:
    st = storage if storage is not None else IndexStorage(index_dir)
    if resume:
        # resume only over an index this code wrote, with the same
        # hygiene: resuming over a stale meta would return the old
        # index untouched or mix its shard files with new ones
        try:
            prev = st.read_meta()
        except FileNotFoundError:
            prev = None
        if prev is not None and not (
            index_meta_current(prev) and prev.get("hygiene", False) == hygiene
        ):
            resume = False

    def _expire_stale_log() -> None:
        # a DIRECT build rewrites the committed versions' files IN
        # PLACE, so every logged snapshot becomes physically
        # unrecoverable — expire the whole log (time travel then fails
        # loudly at open instead of silently reading rewritten
        # partitions; the high-water mark survives so retired ids are
        # never reissued). Called immediately before the FIRST
        # destructive write, not at entry: a build that dies during
        # the read-only prepare computations (bad input schema, OOM)
        # must not destroy addressability of still-intact snapshots.
        # Incremental updates (storage passed) stage fresh versions
        # and append to the log at commit instead.
        if storage is None and st.snapshots():
            st._write_snapshot_log([])

    t0 = time.time()
    phases: dict[str, float] = {}
    _pt = time.time()

    def _mark(name: str) -> None:
        nonlocal _pt
        now = time.time()
        phases[name] = round(phases.get(name, 0.0) + (now - _pt), 3)
        _pt = now

    # -- phase 1: prepare (docs, meta, first_turn_terms) --
    # prepare is complete only when BOTH artifacts carry _SUCCESS —
    # docs and first_turn_terms are written by concurrent jobs, so
    # either may exist partially after a mid-prepare kill
    if not (resume and st.complete("docs") and st.complete("first_turn_terms")):
        _persisted: list = []
        _meta_out: dict = {}
        # Rank the KEYS only — the text column never rides the rank
        # shuffle (~30 B/row vs ~1 KB/row). assign_doc_ids applied to
        # the key projection IS the (conv_id, turn_idx) → doc_id map:
        # dense rank is a property of the keys alone, so the ids are
        # identical to ranking the full rows.
        if id_map is not None:
            # pre-assigned ids (gapped field rebuild): join the caller's
            # committed (conv_id, turn_idx) → doc_id map instead of
            # dense-ranking — ids MUST match the main index's
            id_map.persist()
            _persisted.append(id_map)
            n_docs = id_map.count()
            numbered = transcripts.join(
                F.broadcast(id_map) if n_docs <= FUSED_ASSIGN_MAX_DOCS else id_map,
                ["conv_id", "turn_idx"],
            )
        else:
            key_map = assign_doc_ids(
                transcripts.select("conv_id", "turn_idx"),
                cleanup=_persisted,
                meta_out=_meta_out,
            )
            n_docs = _meta_out["n_docs"]  # known from the assign count pass
            if n_docs <= FUSED_ASSIGN_MAX_DOCS:
                numbered = transcripts.join(
                    F.broadcast(key_map), ["conv_id", "turn_idx"]
                )
            else:
                # corpus too large for the per-executor broadcast map —
                # shuffle-join the key map instead (sort-merge/hash:
                # corpus shuffled ONCE by key, the ~30 B/row map
                # likewise; no broadcast, no memory envelope). The
                # earlier fallback range-shuffled the FULL rows through
                # assign_doc_ids, whose persisted ranged corpus is
                # deserialized-columnar at ~6× the parquet bytes —
                # measured 77 GB of cache spill at 63M turns, a disk
                # cliff at exactly the scale the fallback exists for.
                # Ids are identical either way (the key map IS the
                # dense rank); content-identity is pinned by
                # test_range_shuffle_assign_matches_broadcast.
                numbered = transcripts.join(key_map, ["conv_id", "turn_idx"])
        docs = numbered.select(
            "doc_id", *[f.name for f in transcripts.schema.fields]
        ).withColumn("size", F.length("text")).withColumn(
            "text_hash", F.xxhash64("text")
        )
        _mark("docs_count")
        # id-space extent: the grid spans the CEILING, not the live
        # count — gapped pre-assigned ids (field rebuild over a
        # delta-updated main index) address shards past n_docs
        ceiling = int(doc_ceiling) if doc_ceiling is not None else n_docs
        if shard_size is not None:
            # explicit geometry (incremental updates pin the ORIGINAL
            # shard_size so corpus growth appends trailing shards
            # instead of re-gridding — interior shards stay reusable)
            shard_size = max(1, shard_size)
            n_shards = max(1, math.ceil(ceiling / shard_size))
        else:
            if n_shards is None:
                n_shards = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
            shard_size = max(1, math.ceil(ceiling / n_shards))
        n_shards = math.ceil(ceiling / shard_size)
        _expire_stale_log()  # first destructive write follows
        st.write_meta(
            {
                "n_docs": n_docs,
                # high-water mark: ids are dense 0..n_docs-1 on a fresh
                # build; delta updates allocate above it and deletions
                # leave gaps — doc_ceiling is MONOTONE, never reused
                "doc_ceiling": ceiling,
                "n_shards": n_shards,
                "shard_size": shard_size,
                "hygiene": hygiene,
                "block_size": bm25.BLOCK_SIZE,
                "lineage": lineage,
                "tokenizer": ANALYZER_VERSION,
                "postings_format": POSTINGS_FORMAT,
                # layout attestation (the Iceberg sort-order idea):
                # docs live in hive shard= dirs, one whole shard per
                # doc_id-sorted file. The postings stream fast path
                # trusts this flag (any future writer that does not
                # preserve the layout must drop it).
                "docs_layout": DOCS_LAYOUT_SHARDED,
            }
        )
        # a DIRECT full rebuild into a previously delta-updated dir
        # rewrites the resolved version's base dirs WHOLESALE — any
        # surviving manifest would keep resolving shards to superseded
        # files. Drop them before the writes (the delta path stages its
        # own manifests on fresh versions instead).
        if storage is None:
            for _t in ("docs", "first_turn_terms"):
                st.remove_manifest(_t)
        # (no separate dl pass — doc lengths fall out of the postings
        # pass as per-shard norms pseudo rows; norms / doc_lengths /
        # collection_stats are extracted at finalize)
        # ONE text shuffle for the whole build: hash-repartition by
        # shard, sort each partition by doc_id, write. Because every
        # shard lives wholly inside one write task (hash partitioning
        # on shard) and each task writes one doc_id-sorted file, the
        # written files satisfy the SHARD-CONTIGUITY contract the
        # phase-2 scan-stream fast path needs — the postings build
        # then streams straight out of this parquet (mapInArrow, no
        # second shuffle, no cache). Caching the sharded frame instead
        # was measured SLOWER at bench scale: the columnar-cache →
        # Arrow re-serialization for the Python kernel cost more than
        # the (column-pruned, 2-column) parquet re-read it saved, and
        # concurrent jobs racing to materialize the cache serialized
        # on per-partition cache locks.
        import threading

        sharded = docs.withColumn(
            "shard", (F.col("doc_id") / F.lit(shard_size)).cast("int")
        ).repartition(n_shards, F.col("shard"))
        # The docs write runs in the FOREGROUND; first_turn_terms runs
        # in a BACKGROUND thread off the SOURCE scan (turn_idx == 0
        # pushes through the broadcast join into the parquet reader) —
        # the write is IO-heavy, the tokenize is CPU-heavy, and the
        # scheduler interleaves the two jobs across idle cores.
        _write_err: list = []
        # first_turn_terms: (conv_id, term) for every conversation's
        # turn-0 text — the precomputed infirst:/intitle flag table
        # (search.cpp:206-207). Serving must NOT collect corpus-sized
        # conv→tokens maps (r1 VERDICT scale-killer); both query paths
        # resolve infirst via per-term lookups/joins on this table.
        # Term-sorted so the pyarrow point lookup prunes row groups.
        # no .distinct(): (conv_id, turn_idx) is unique, so turn-0 docs
        # are 1:1 with convs and tokenize_tokens already emits one row
        # per (doc, term). The conv_id hydration joins against the
        # TURN-0 slice only (1/turns-per-conv of the corpus — AQE
        # runtime-broadcasts it at bench scale, stays a partitioned
        # join at 10^12 turns); the global term-sort (for pyarrow
        # row-group pruning) is the other shuffle this table pays.
        def _build_ftt():
            try:
                turn0 = docs.filter(F.col("turn_idx") == 0)
                ftt = (
                    tokenize_tokens(turn0.select("doc_id", "text"), hygiene=hygiene)
                    .join(turn0.select("doc_id", "conv_id"), "doc_id")
                    .select(
                        "conv_id",
                        "term",
                        # ftt rides the docs shard grid (shard of the
                        # conv's turn-0 doc): a delta update that
                        # rebuilds a docs shard rebuilds exactly the
                        # same ftt partition, everything else is reused
                        # by manifest reference. Term-sorted within
                        # each partition so the pyarrow point lookup
                        # prunes row groups per file.
                        (F.col("doc_id") / F.lit(shard_size)).cast("int").alias("shard"),
                    )
                )
                st.write(
                    ftt.repartition(n_shards, F.col("shard"))
                    .sortWithinPartitions("shard", "term"),
                    "first_turn_terms",
                    partition_by=["shard"],
                )
            except BaseException as e:  # surfaced after join below
                _write_err.append(e)

        _th = threading.Thread(target=_build_ftt, name="first_turn_terms")
        _th.start()
        st.write(
            sharded.sortWithinPartitions("shard", "doc_id"),
            "docs",
            partition_by=["shard"],
        )
        _mark("docs_write")
        _th.join()
        _mark("first_turn_terms")
        if _write_err:
            raise _write_err[0]
        for h in _persisted:
            if h is not sharded:
                h.unpersist()
        # scratch discipline at the phase boundary: phase 1's shuffle
        # files (key-rank + id join + shard repartition — ~2× the
        # corpus bytes) are dead once docs/first_turn_terms are on
        # disk, but Spark only reaps them when the SHUFFLE DEPENDENCY
        # is garbage-collected, and a big mostly-idle driver heap can
        # go the whole postings phase without a full GC (the 63M-turn
        # 2-core probe sat on ~50 GB of dead shuffle; the 8-core level
        # happened to GC and dropped it to 4 GB). One explicit GC hint
        # here bounds peak scratch at ~one phase's shuffle; cost is a
        # single collection (~seconds) against a multi-minute phase.
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass  # cleanup hint only — never fail a build over it

    meta = st.read_meta()
    n_shards = meta["n_shards"]
    shard_size = meta["shard_size"]

    # -- phase 2: postings, shard-batched + resumable --
    # resume with a complete prepare skips phase 1's expiry call; the
    # writes below are the first destructive ops on that path
    _expire_stale_log()
    if not resume:
        # Discard the PREVIOUS build's checkpoint ledger before the
        # first postings write: its rows mark every shard complete, so
        # if this fresh rebuild dies mid-postings, the operator's plain
        # resume retry would otherwise trust them, skip the rebuild,
        # and pair old-corpus postings with the new docs table — then
        # finalize (armed by the placeholder below) would 'heal' stats
        # over the mixed state and clear the evidence. The rename makes
        # the discard atomic (a kill mid-delete can't leave a partial
        # row set behind).
        led_dir = st.path("ledger")
        if claim_owner is None and os.path.isdir(led_dir):
            import shutil as _shutil

            tomb = f"{led_dir}__discarded_{os.getpid()}_{int(time.time() * 1000)}"
            try:
                os.rename(led_dir, tomb)
            except FileNotFoundError:
                pass  # lost a (misconfigured) concurrent race; rows are gone
            else:
                _shutil.rmtree(tomb, ignore_errors=True)
    done = st.completed_shards(spark) if resume else set()
    if force_shards:
        done -= set(force_shards)
    pending = [s for s in range(n_shards) if s not in done]
    if max_shards_to_build is not None:
        pending = pending[:max_shards_to_build]
    if shard_batch is None:
        shard_batch = len(pending) or 1
    if claim_owner is not None:
        pending = [s for s in pending if _claim_shard(st, s, claim_owner)]

    # Kill-window marker: this call is about to modify postings, so the
    # committed finalize artifacts (term_stats/norms/collection_stats)
    # are stale the moment the first batch lands. Rebuilding INTO an
    # already-finalized index (resume=False / force_shards) and dying
    # between the ledger append and finalize would otherwise leave a
    # resume with built==0, every table present, and no signal that
    # finalize must re-run — silently stale idf/norms. A -1 n_terms
    # placeholder arms the finalize gate's self-heal for that window
    # (fresh dirs don't need it: missing tables already trigger it).
    # Single-writer artifact: claim-mode builders would race N Spark
    # overwrite jobs on one shared path — they defer ALL shared-table
    # writes to the final non-claim pass by design, so skip it there.
    if pending and claim_owner is None and st.exists("collection_stats"):
        st.write(
            spark.createDataFrame(
                [(-1, -1, -1, -1, 0.0)],
                "n_docs long, total_dl long, n_terms long, n_postings long, avgdl double",
            ),
            "collection_stats",
        )

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    docs_r = st.read(spark, "docs")
    # Stream fast path: when the docs layout provably keeps every
    # shard whole inside one unsplit file (footer-validated — fresh
    # builds write this layout, and RESUMED builds inherit it),
    # postings stream straight out of the scan (mapInArrow splits the
    # stream at shard boundaries) — no shuffle, no grouping machinery.
    # The stream kernel additionally asserts each chunk holds its
    # shard's exact doc count (doc_ids are dense) — a layout violation
    # that slips past the footer check fails loudly instead of
    # producing duplicate (shard, term) rows.
    stream_ok = _docs_layout_streamable(spark, st)
    if stream_ok:
        # Scan-split sizing for the postings loop. Two failure modes:
        # the DEFAULT openCostInBytes (4 MB) packs the small per-shard
        # files into a handful of splits and the CPU-bound kernel runs
        # on a fraction of the cores (measured 54 s vs 25 s at 8
        # cores); one-task-per-FILE (openCost = split capacity) fixes
        # that but pays 256 tasks' fixed overhead (scheduling + Arrow
        # stream setup + per-task write commit — measured ~4 s of a
        # 15 s pass). Packing is safe at ANY level: a shard lives
        # wholly inside one unsplit file, so however files group into
        # tasks, the stream kernel still sees whole shards. So aim
        # between the extremes: pick openCost so the packer yields
        # ~PACK_TASKS_PER_CORE tasks per core (plenty of waves for
        # stragglers, a fraction of the per-task overhead). When the
        # file census isn't available (non-local dir) fall back to the
        # no-pack pin — correct at any file count, never core-starved.
        _open_cost0 = spark.conf.get("spark.sql.files.openCostInBytes", None)
        # pure perf-sizing knob (packing estimate): an unparseable conf
        # value falls back to Spark's documented default rather than
        # crashing the build; the stream kernel's count assert guards
        # correctness independently of this number
        max_pb = parse_byte_size(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"),
            default=134217728,
        )
        open_cost = max_pb  # no-pack fallback
        _files = _docs_data_files(st)
        sizes = [e.stat().st_size for e in _files] if _files else []
        if sizes:
            target_tasks = PACK_TASKS_PER_CORE * max(
                1, spark.sparkContext.defaultParallelism
            )
            if len(sizes) > target_tasks:
                avg = sum(sizes) // len(sizes)
                # bin capacity max_pb holds k files of cost (avg+oc);
                # k = n_files/target_tasks  =>  oc = cap*T/n - avg
                open_cost = min(
                    max_pb,
                    max(1, max_pb * target_tasks // len(sizes) - avg),
                )
        spark.conf.set("spark.sql.files.openCostInBytes", str(open_cost))
    built = 0
    _ledger_th = None  # in-flight background ledger append (see below)
    _ledger_err: list = []
    for i in range(0, len(pending), shard_batch):
        batch = pending[i : i + shard_batch]
        tb0 = time.time()
        # filter on the hive PARTITION column — Spark prunes to exactly
        # the batch's shard= dirs, so a delta rebuild of 3 shards scans
        # 3 dirs, not the corpus
        cond = F.col("shard").isin([int(s) for s in batch])
        # tokenize + encode inside the shard builder — raw text is ~3×
        # fewer shuffle bytes than the exploded token stream (and on
        # the fresh-layout stream path it never shuffles at all)
        n_docs_total = int(meta.get("doc_ceiling", meta["n_docs"]))
        if stream_ok:
            seg = docs_r.filter(cond).select("doc_id", "text").mapInArrow(
                lambda it: _postings_stream(
                    it, shard_size, hygiene, n_docs_total, expect_counts
                ),
                schema=POSTINGS_SCHEMA,
            )
        else:
            seg = (
                docs_r.filter(cond)
                .select(
                    "doc_id",
                    "text",
                    (F.col("doc_id") / F.lit(shard_size)).cast("int").alias("shard"),
                )
                .groupBy("shard")
                .applyInArrow(
                    lambda t: _build_shard_table(
                        t, shard_size, hygiene, n_docs_total, expect_counts
                    ),
                    schema=POSTINGS_SCHEMA,
                )
            )
        # small parquet row groups (128 KB vs the 128 MB default, which
        # put a WHOLE shard's terms in one group): the shard kernels
        # emit terms sorted, so row-group min/max stats on `term` let
        # both the Spark scan (In-filter pushdown) and the driver's
        # pyarrow point lookups skip the groups a query's terms aren't
        # in. Measured at 21M docs / 1024 shards: a dense 2-term query
        # decompressed the full 1.4 GB postings table for 78 MB of
        # matching blobs with one group per file; ~11 groups per file
        # cuts the scan to the matching groups. Group boundaries are
        # APPROXIMATE: parquet-mr checks the buffered (uncompressed)
        # size only every `page.size.row.check.min` records, so a run
        # of dense-term rows (blobs up to ~400 KB) overshoots the
        # target and lands in its own oversized group — acceptable:
        # the point is that SELECTIVE groups stay small, and a group
        # that is one dense blob decompresses only for queries that
        # want that blob anyway.
        seg.write.mode("overwrite").partitionBy("shard").option(
            "parquet.block.size", POSTINGS_ROW_GROUP_BYTES
        ).option(
            "parquet.page.size.row.check.min", POSTINGS_PAGE_CHECK_MIN
        ).parquet(st.path("postings"))
        _mark("postings")
        elapsed = time.time() - tb0

        # per-shard checkpoint + metrics (north rule: lineage,
        # postings/sec, skew) — runs on a BACKGROUND thread so the
        # metadata agg + ledger append overlap the finalize jobs (both
        # only read the postings this batch already committed; nothing
        # in finalize depends on ledger rows). A crash before the join
        # surfaces the error and leaves the shards unmarked, so resume
        # rebuilds them — the same window the inline version had.
        # Column-pruned read: only (shard, df) — re-reading the posting
        # blobs just to sum their lengths cost a full second pass over
        # the index. bytes = on-disk parquet file sizes per shard
        # partition (the operationally meaningful number anyway).
        import os as _os

        def _shard_disk_bytes(shard: int) -> int | None:
            """Data-file bytes under the shard partition dir (skips
            hidden/_SUCCESS/.crc bookkeeping). None ⇒ not a local
            filesystem — caller falls back to the Spark-side sum."""
            d = st.postings_shard_dir(shard)
            try:
                return sum(
                    e.stat().st_size
                    for e in _os.scandir(d)
                    if e.is_file() and not e.name.startswith((".", "_"))
                )
            except OSError:
                return None

        def _ledger_batch(batch: list[int], elapsed: float) -> None:
            t0 = time.time()
            bytes_map = {s: _shard_disk_bytes(s) for s in batch}
            if any(v is None for v in bytes_map.values()):
                # non-local index dir: one Spark pass that does read blobs
                rows = (
                    st.read(spark, "postings")
                    .filter(F.col("shard").isin(batch))
                    .groupBy("shard")
                    .agg(F.sum(F.length("postings")).alias("b"))
                    .collect()
                )
                bytes_map = {int(r.shard): int(r.b) for r in rows}
            agg_rows = (
                st.read(spark, "postings")
                .select("shard", "term", "df")
                .filter(F.col("shard").isin(batch) & F.col("term").isNotNull())
                .groupBy("shard")
                .agg(F.count("*").alias("n_terms"), F.sum("df").alias("n_postings"))
                .collect()
            )
            # every shard in the batch gets a ledger row — a shard whose
            # doc range produced ZERO postings (all-stopword/empty texts)
            # would otherwise never be marked built and resume would
            # re-attempt it forever
            by_shard = {
                int(r.shard): (int(r.n_terms), int(r.n_postings)) for r in agg_rows
            }
            # skew denominator: mean postings over this batch's shards
            # (the default one-batch build makes it the true build-wide mean)
            mean_postings = sum(v[1] for v in by_shard.values()) / max(1, len(batch))
            now = time.time()
            rows = [
                (
                    s,
                    by_shard.get(s, (0, 0))[0],
                    by_shard.get(s, (0, 0))[1],
                    bytes_map.get(s) or 0,
                    "built",
                    float(elapsed),
                    by_shard.get(s, (0, 0))[1] / max(elapsed, 1e-9),
                    by_shard.get(s, (0, 0))[1] / max(mean_postings, 1e-9),
                    lineage or meta.get("lineage", ""),
                    now,
                )
                for s in batch
            ]
            # the batch is tiny driver-side data: a unique-file pyarrow
            # append (no Spark job) is both faster and safe under
            # CONCURRENT builders — Spark appends into one directory
            # share a _temporary staging dir and can abort each other
            # (see IndexStorage.append_rows). Types mirror the Spark
            # fallback schema exactly so mixed files read as one table.
            # Reader contract: the ledger dir therefore has NO _SUCCESS
            # marker and mixes driver-written and Spark-written files —
            # it is a plain parquet file set; tooling that checks
            # committed-output markers must not be pointed at it
            # (documented in storage.py's table DDL block).
            import pyarrow as pa

            cols = list(zip(*rows)) if rows else [[]] * 10
            arrow = pa.table(
                {
                    "shard": pa.array(cols[0], pa.int32()),
                    "n_terms": pa.array(cols[1], pa.int64()),
                    "n_postings": pa.array(cols[2], pa.int64()),
                    "bytes_postings": pa.array(cols[3], pa.int64()),
                    "status": pa.array(cols[4], pa.string()),
                    "elapsed_s": pa.array(cols[5], pa.float64()),
                    "postings_per_sec": pa.array(cols[6], pa.float64()),
                    "skew_factor": pa.array(cols[7], pa.float64()),
                    "lineage": pa.array(cols[8], pa.string()),
                    "built_at": pa.array(cols[9], pa.float64()),
                }
            )
            if not st.append_rows("ledger", arrow):
                # non-local index dir: Spark append (single writer —
                # concurrent builders on object stores need a
                # zero-rename committer, the documented swap point)
                spark.createDataFrame(
                    rows,
                    "shard int, n_terms long, n_postings long, bytes_postings long, "
                    "status string, elapsed_s double, postings_per_sec double, "
                    "skew_factor double, lineage string, built_at double",
                ).write.mode("append").parquet(st.path("ledger"))
            phases["ledger_metrics"] = round(
                phases.get("ledger_metrics", 0.0) + (time.time() - t0), 3
            )

        def _ledger_guarded(b: list[int], e: float) -> None:
            try:
                _ledger_batch(b, e)
            except BaseException as exc:  # surfaced at the join
                _ledger_err.append(exc)

        import threading as _threading

        if _ledger_th is not None:
            _ledger_th.join()  # one ledger append in flight at a time
        _ledger_th = _threading.Thread(
            target=_ledger_guarded,
            args=(list(batch), elapsed),
            name="ledger_metrics",
        )
        _ledger_th.start()
        _pt = time.time()  # ledger time is self-recorded by the thread
        built += len(batch)

    if stream_ok:  # restore the split-packing default for later jobs
        if _open_cost0 is None:
            spark.conf.unset("spark.sql.files.openCostInBytes")
        else:
            spark.conf.set("spark.sql.files.openCostInBytes", _open_cost0)

    # -- finalize: norms / doc_lengths / collection_stats extracted
    # from the per-shard pseudo rows, term_stats + exact
    # n_terms/n_postings from the postings metadata columns (no real
    # blob reads, no token pass). Idempotent; re-run on resume so a
    # build killed between postings and finalize self-heals (missing
    # norms/term_stats/collection_stats, or a n_terms<0 placeholder,
    # all trigger it). max_shards_to_build == 0 is the incremental
    # PREPARE pass: postings aren't staged yet, so the resume build
    # that follows finalizes instead. claim mode: concurrent builders
    # must not race these rewrites — the caller runs one final
    # resume-without-claims pass, which finalizes exactly once.
    needs_finalize = False
    if finalize and claim_owner is None and max_shards_to_build != 0 and st.exists("postings"):
        if (
            built > 0
            or not st.exists("term_stats")
            or not st.exists("collection_stats")
            or not st.exists("norms")
        ):
            needs_finalize = True
        else:
            needs_finalize = (
                int(st.read(spark, "collection_stats").collect()[0].n_terms) < 0
            )
    if needs_finalize:
        # Manifest reconcile for DIRECT builds into a previously
        # incrementally-updated dir: the committed manifest may map
        # shards to old version dirs, but this call (or a crashed
        # predecessor whose ledger rows survived) rewrote them into the
        # current version dir — without remapping, finalize and every
        # reader keep resolving those shards to the superseded files
        # (stale postings paired with the new docs table, silently).
        # Remap exactly the shards that are provably complete in the
        # current dir (built this call, or ledger-complete with a
        # partition present); drop entries beyond the current grid.
        # Runs BEFORE any postings read below, and before the ledger
        # marks shards complete readers still see the old consistent
        # snapshot. The incremental path (storage is not None) stages
        # its own manifest — leave it alone.
        if storage is None:
            _man = st.read_postings_manifest()
            if _man is not None:
                _cur_base = st.table_dir("postings", st.postings_version())
                _cur_rel = os.path.relpath(_cur_base, st.index_dir)
                _complete = set(pending) | done
                _fixed = {s: rel for s, rel in _man.items() if s < n_shards}
                for s in range(n_shards):
                    if s in _complete and os.path.isdir(
                        os.path.join(_cur_base, f"shard={s}")
                    ):
                        _fixed[s] = f"{_cur_rel}/shard={s}"
                if _fixed != _man:
                    st.write_postings_manifest(_fixed)

        from .codec import decode_varints

        n_docs_total = int(meta.get("doc_ceiling", meta["n_docs"]))
        _fin_err: list = []
        _fin_out: dict = {}
        if storage is None:
            # direct rebuild: the finalize writes below replace the
            # resolved versions wholesale — drop any stale manifests
            # left by an earlier delta update (same rule as docs)
            st.remove_manifest("norms")
            st.remove_manifest("doc_lengths")

        def _norms_chain() -> None:
            """norms → total_dl → doc_lengths, on a background thread
            concurrent with the term_stats shuffle (both only READ the
            committed postings; they write disjoint tables). Both land
            in hive shard= partitions so delta updates rewrite only
            changed shards (manifest reuse, storage.py)."""
            t0n = time.time()
            try:
                # ONE postings metadata scan serves the whole chain:
                # the tiny (n_shards rows) pseudo-row frame is persisted,
                # so the norms write materializes it and the total_dl
                # agg + the doc_lengths expansion read the cache instead
                # of re-scanning the postings footers two more times
                # (each re-scan paid the full row-group-census cost of
                # the 128 KB-group postings layout)
                nrows = (
                    st.read(spark, "postings")
                    .filter(F.col("term").isNull())
                    .select(
                        "shard",
                        F.col("block_last")[0].alias("base"),
                        F.col("df").alias("n"),
                        F.col("cf").alias("sum_dl"),
                        "dls",
                    )
                ).persist()
                try:
                    st.write(
                        nrows.select("shard", "base", "n", "dls"),
                        "norms",
                        partition_by=["shard"],
                    )
                    _fin_out["total_dl"] = int(
                        nrows.agg(F.sum("sum_dl")).collect()[0][0] or 0
                    )
                    dl_df = (
                        nrows.select("shard", "base", "dls")
                        .mapInPandas(dl_rows_kernel(n_docs_total), schema=DL_ROWS_SCHEMA)
                    )
                    st.write(dl_df, "doc_lengths", partition_by=["shard"])
                finally:
                    nrows.unpersist()
            except BaseException as e:  # surfaced after the join below
                _fin_err.append(e)
            phases["finalize_norms"] = round(
                phases.get("finalize_norms", 0.0) + (time.time() - t0n), 3
            )

        import threading as _threading_fin

        _fin_th = _threading_fin.Thread(target=_norms_chain, name="finalize_norms")
        _fin_th.start()
    if needs_finalize:
        # term_stats carries the term→shard presence list for terms
        # living in few shards (selective-query scan pruning in
        # search_df); common terms get NULL = "everywhere" so the
        # column stays bounded at TERM_SHARDS_MAX ints — a Zipf-head
        # term in a million-shard index must not materialize a
        # million-entry array. Alongside the list, EVERY term gets a
        # fixed-width presence bitmap (shard_bits, n_shards/8 bytes)
        # while n_shards ≤ SHARD_BITMAP_MAX — so mid-df terms (present
        # in 65..n_shards-1 shards, the common case in real query
        # logs) prune the scan too instead of falling off the NULL
        # cliff. Past 4096 shards both columns are NULL for wide terms
        # (a per-term bloom would replace the bitmap; the NULL
        # contract already allows it).
        from .codec import SHARD_BITMAP_MAX, encode_shard_bits, encode_shard_bloom

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        if n_shards <= SHARD_BITMAP_MAX:

            @pandas_udf("binary")
            def _shard_bits(sh: pd.Series) -> pd.Series:
                return pd.Series(
                    [encode_shard_bits(a, n_shards) for a in sh]
                )

            bits_col = _shard_bits(F.col("_sh"))
            bloom_col = F.lit(None).cast("binary")
        else:
            # past the exact-bitmap cap: a FIXED 128 B/term Bloom over
            # the shard ids replaces the n_shards/8-byte bitmap — wide
            # terms prune (soundly, no false negatives) instead of
            # falling off the NULL cliff, and term_stats weight stays
            # bounded at web-scale grids (codec.BLOOM_BYTES)
            @pandas_udf("binary")
            def _shard_bloom(sh: pd.Series) -> pd.Series:
                return pd.Series([encode_shard_bloom(a) for a in sh])

            bits_col = F.lit(None).cast("binary")
            bloom_col = _shard_bloom(F.col("_sh"))
        term_stats = (
            st.read(spark, "postings")
            .filter(F.col("term").isNotNull())
            .groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("cf").alias("cf"),
                F.count("*").alias("_nsh"),
                F.sort_array(F.collect_set("shard")).alias("_sh"),
            )
            .select(
                "term",
                "df",
                "cf",
                F.when(F.col("_nsh") <= TERM_SHARDS_MAX, F.col("_sh")).alias("shards"),
                bits_col.alias("shard_bits"),
                bloom_col.alias("shard_bloom"),
            )
        )
        # persist → the write materializes the aggregated frame and the
        # totals agg reads the cache instead of re-scanning the
        # just-written table (MEMORY_AND_DISK default spills gracefully
        # on web-scale vocabularies)
        term_stats = term_stats.sortWithinPartitions("term").persist()
        try:
            st.write(term_stats, "term_stats")
            totals = term_stats.agg(
                F.count("*").alias("n_terms"), F.sum("df").alias("n_postings")
            ).collect()[0]
        finally:
            term_stats.unpersist()
        _fin_th.join()
        if _fin_err:
            raise _fin_err[0]
        total_dl = _fin_out["total_dl"]
        # exact collection stats (north rule: no approx): totals are
        # exact longs summed from the per-shard pseudo rows; avgdl is
        # the same IEEE double division the oracle performs. BM25's N
        # is the LIVE doc count — n_docs_total (the id-space ceiling)
        # sizes arrays but over-counts gap slots on a gapped build
        n_docs_live = int(meta["n_docs"])
        stats_final = spark.createDataFrame(
            [(
                n_docs_live,
                total_dl,
                int(totals.n_terms),
                int(totals.n_postings or 0),
                float(total_dl) / n_docs_live,
            )],
            "n_docs long, total_dl long, n_terms long, n_postings long, avgdl double",
        )
        st.write(stats_final, "collection_stats")
        _mark("finalize_stats")

    if _ledger_th is not None:
        _ledger_th.join()
    if _ledger_err:
        raise _ledger_err[0]

    total = time.time() - t0
    return {
        "n_docs": meta["n_docs"],
        "n_shards": n_shards,
        "shards_built": built,
        "elapsed_s": total,
        "docs_per_sec": meta["n_docs"] / max(total, 1e-9),
        "phases": phases,
    }


# ---------------------------------------------------------------------------
# field (title) index — the title_vector analog (tlgs_ctl/main.cpp:33)
# ---------------------------------------------------------------------------

FIELD_TITLE_TOKENS = 5

DL_ROWS_SCHEMA = "shard int, doc_id long, dl long"


def dl_rows_kernel(ceiling: int):
    """mapInPandas kernel expanding norms pseudo rows (shard, base,
    dls varint blob) into (shard, doc_id, dl) rows, clamped to
    ``ceiling`` — the id-space end: total doc count on a dense build,
    ``doc_ceiling`` on a gapped delta index. One authority for the
    blob→rows expansion, shared by finalize and the delta finalize."""

    def _rows(batches):
        import numpy as np
        import pandas as pd

        from .codec import decode_varints

        for pdf in batches:
            for shard, base, blob in zip(pdf["shard"], pdf["base"], pdf["dls"]):
                arr = decode_varints(bytes(blob)).astype(np.int64)
                hi = min(len(arr), ceiling - int(base))
                if hi <= 0:
                    continue
                yield pd.DataFrame(
                    {
                        "shard": np.full(hi, int(shard), dtype=np.int32),
                        "doc_id": np.arange(int(base), int(base) + hi, dtype=np.int64),
                        "dl": arr[:hi],
                    }
                )

    return _rows


def write_empty_shard_partition(
    st: IndexStorage, postings_version: int, shard: int, shard_size: int
) -> None:
    """One pseudo-row postings partition for an in-grid shard whose
    live doc set is EMPTY (gapped ids: every doc in its range deleted).
    Every in-grid shard carries its norms pseudo row — df = slot count,
    cf = Σdl = 0, dls = all-zero varints — so finalize and the dl array
    see the shard's slots as zero-length docs. The ``shard`` column is
    the hive partition dir, not a file column."""
    import pyarrow.parquet as pq

    d = os.path.join(st.table_dir("postings", postings_version), f"shard={shard}")
    os.makedirs(d, exist_ok=True)
    zeros = np.zeros(shard_size, dtype=np.int64)
    tbl = _norms_row(shard, shard_size, zeros).drop_columns(["shard"])
    pq.write_table(
        tbl, os.path.join(d, "part-00000-empty.zstd.parquet"), compression="zstd"
    )


def field_index_dir(index_dir: str, field: str = "first5") -> str:
    import os

    return os.path.join(index_dir, f"field_{field}")


def build_field_index(spark: SparkSession, index_dir: str, field: str = "first5") -> dict:
    """Build a second, field-scoped inverted index under the main one —
    the ``title_vector`` analog (tlgs_ctl/main.cpp:33; reference titles
    are the first heading1, crawler.cpp:443,452). The transcript
    'title' is the first 5 [a-z0-9]+ tokens of each turn.

    Reuses build_index verbatim on a derived corpus, ALWAYS passing the
    committed (conv_id, turn_idx) → doc_id map through so field and
    body postings address the same documents by construction — the
    field index inherits the main grid, ceiling, and per-shard live
    counts; wholly-empty shards get their norms pseudo partition
    directly. (An earlier version re-ranked densely when
    doc_ceiling == n_docs, assuming "no gaps ⇒ ids are the dense rank";
    an insert-only delta falsifies that — inserted keys take ids above
    the old ceiling regardless of sort order, leaving the id space
    dense but NOT rank-ordered, and the re-rank misaddressed every doc
    past the first out-of-order insert. On a truly dense-ranked index
    the id_map assignment produces the identical ids, so the single
    path costs only a join where a rank shuffle sat before.)
    """
    if field != "first5":
        raise ValueError(f"unknown field {field!r}")
    st = IndexStorage(index_dir)
    meta = st.read_meta()
    docs = st.read(spark, "docs")
    derived = docs.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        F.array_join(
            F.slice(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(TOKEN_RE.pattern), F.lit(0)
                ),
                1,
                FIELD_TITLE_TOKENS,
            ),
            " ",
        ).alias("text"),
    )
    fdir = field_index_dir(index_dir, field)
    ceiling = int(meta.get("doc_ceiling", meta["n_docs"]))
    shard_size = int(meta["shard_size"])
    sh = (F.col("doc_id") / F.lit(shard_size)).cast("int")
    live_counts = {
        int(r.s): int(r.n)
        for r in docs.groupBy(sh.alias("s")).agg(F.count("*").alias("n")).collect()
    }
    n_shards = int(meta["n_shards"])
    expect_counts = {s: live_counts.get(s, 0) for s in range(n_shards)}
    res = build_index(
        spark,
        derived,
        fdir,
        hygiene=False,
        resume=True,
        lineage=f"field:{field} of {index_dir}",
        shard_size=shard_size,
        expect_counts=expect_counts,
        id_map=docs.select("conv_id", "turn_idx", "doc_id"),
        doc_ceiling=ceiling,
    )
    fst = IndexStorage(fdir)
    empties = [s for s in range(n_shards) if expect_counts[s] == 0]
    if empties:
        v = fst.versions().get("postings", 0)
        for s in empties:
            if not os.path.isdir(fst.shard_dir("postings", s)):
                write_empty_shard_partition(fst, v, s, shard_size)
    return res
