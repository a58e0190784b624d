"""Paired (Spark DataFrame, DuckDB oracle SQL) query registry.

Each entry is one operator/capability from SURVEY.md §2 or the
training-pipeline family, expressed twice: as an idiomatic Spark plan
(here) and as ANSI SQL the driver runs in DuckDB over the same parquet
views (``tlgs_spark.oracle_sql`` — test scaffolding kept out of the
engine modules). Column names, float rounding (4 dp), and LIMIT
tie-breaks are pinned identically on both sides so the
order-insensitive value-hash matches; literals both sides embed (query
terms, synthetic URL cases, fitted IVF centroids, LSH planes) come
from the shared ``tlgs_spark.entry_specs``.

The text pipeline here reuses the frozen tokenizer spec
(tlgs_spark.tokenizer) rendered as pure JVM expressions — identical to
the SQL CTE from tokens_cte_sql(), so no pandas UDF is needed for the
oracle-checked paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import bm25
from .entry_specs import (
    AND_TERMS,
    IVF_N_PROBE,
    OR_TERMS,
    SNIPPET_TERMS,
    SYNTH_HOSTS,
    SYNTH_PATHS,
    ivf_centroids,
    lsh_planes,
)
from .oracle_sql import SQL as _ORACLE_SQL
from .tokenizer import STOPWORDS, s_stem, stem_spark_stages

TOKEN_PATTERN = "[a-z0-9]+"
_STOP = sorted(STOPWORDS)


def _spread(df: DataFrame, path: str) -> DataFrame:
    """Scale-adaptive scan parallelism (guide §2.2/§6). The entry
    corpora are SMALL single parquet files (sf1.0 documents ≈ 15 MB,
    one row group), so the scan yields ONE task — and every
    CPU-per-byte-heavy map stage downstream (tokenize, shingle+md5,
    regex feature extraction) ran on one core of the whole box
    (measured: text_quality 15 s, minhash_bands 22 s at sf1.0 on 32
    cores). A row-group-less file cannot be split by
    ``maxPartitionBytes``, so fan out with ONE cheap round-robin
    exchange of the raw bytes before the expensive compute.

    Scale-adaptive: when the file is big enough that the normal scan
    already produces >= cluster parallelism tasks (any real-scale
    corpus), this is a no-op — the repartition only fires for
    sub-splittable inputs, so it can never add a corpus-wide shuffle
    at 100 TB. Explicit numPartitions keeps AQE from re-coalescing
    the fan-out (AQE prices partitions by bytes; these stages are
    priced by CPU)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        import os

        max_pb = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        scan_tasks = max(1, os.path.getsize(path) // max_pb)
    except (OSError, ValueError):
        return df
    return df.repartition(par) if scan_tasks < par else df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = f"{sf_dir}/documents.parquet"
    return _spread(spark.read.parquet(p), p)


# tables whose entry plans are CPU-dense per byte (text kernels, 64-dim
# dot products) benefit from the fan-out; events/orders/lineitem plans
# are scan+hash-agg shapes where the extra exchange of the raw rows
# costs more than the single-task scan (measured: events_tumbling
# 0.6 s -> 1.7 s with a blanket repartition)
_SPREAD_TABLES = frozenset({"embeddings"})


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    p = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(p)
    return _spread(df, p) if name in _SPREAD_TABLES else df


_CORPUS_CACHE: dict[tuple[int, str], dict] = {}


def _token_stats(spark: SparkSession, sf_dir: str) -> dict:
    """tf/dl/df + collection stats over the documents table, computed
    once per (session, sf_dir) and persisted. Queries share the
    tokenized corpus the way they share the inverted index in the real
    engine — re-tokenizing the whole corpus per query is the one thing
    an index exists to avoid."""
    key = (id(spark), sf_dir)
    hit = _CORPUS_CACHE.get(key)
    if hit is not None:
        return hit
    docs = _docs(spark, sf_dir)
    from .indexer.build import tokenize_tokens

    # with_dl=True: doc lengths ride the SAME tokenize pass as one
    # term=NULL pseudo row per document (the index builder's format-2
    # trick) — the separate per-doc aggregate + docs left join the old
    # shape paid is gone; dl slices out of the persisted stream
    all_tok = tokenize_tokens(
        docs.select("doc_id", "text"), with_dl=True
    ).persist()
    tf = all_tok.filter(F.col("term").isNotNull())
    dl = all_tok.filter(F.col("term").isNull()).select(
        "doc_id", F.col("tf").alias("dl")
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("df")).persist()
    # dl has exactly one row per doc, so one action yields both stats
    n_docs, total_dl = dl.agg(F.count("*"), F.sum("dl")).collect()[0]
    out = {
        "docs": docs,
        "tf": tf,
        "dl": dl,
        "dft": dft,
        "n_docs": n_docs,
        "avgdl": float(total_dl) / n_docs,
    }
    _CORPUS_CACHE[key] = out
    return out


def _bm25_scored(spark, sf_dir, terms: list[str]) -> tuple[DataFrame, int]:
    """→ (doc_id, score(double, unrounded), n_matched), plus n_terms.
    Candidate generation = per-term postings join; idf/avgdl exact."""
    # query analyzer = doc analyzer; dedupe AFTER stemming (two raw
    # terms stemming to one form must count once in the AND cardinality
    # — mirrors tokenize_query, which dedupes post-stem)
    terms = list(dict.fromkeys(s_stem(t) for t in terms))
    st = _token_stats(spark, sf_dir)
    tf, dl, dft = st["tf"], st["dl"], st["dft"]
    n_docs, avgdl = st["n_docs"], st["avgdl"]
    m = (
        tf.filter(F.col("term").isin(terms))
        .join(F.broadcast(dft.filter(F.col("term").isin(terms))), "term")
        .join(dl, "doc_id")
    )
    idf = F.log(
        F.lit(1.0) + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (
        F.col("tf")
        * (F.lit(bm25.K1) + 1.0)
        / (
            F.col("tf")
            + F.lit(bm25.K1)
            * (F.lit(1.0) - F.lit(bm25.B) + F.lit(bm25.B) * F.col("dl") / F.lit(avgdl))
        )
    )
    scored = (
        m.withColumn("contrib", idf * tfn)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"), F.count("*").alias("n_matched"))
    )
    return scored, len(terms)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    return (
        scored.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc(F.round(F.col("score"), 4)), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, dict] = {}


def q(name: str):
    """Register an entry; its oracle twin is looked up by name in
    oracle_sql.SQL (key-set equality asserted at module end, so a
    missing or orphaned twin fails at import, not in the driver)."""
    def deco(fn):
        QUERIES[name] = {"fn": fn, "sql": _ORACLE_SQL.get(name)}
        return fn

    return deco


@q("bm25_topk_and")
def bm25_topk_and(spark, sf_dir):
    """P1+W1: conjunctive BM25 top-k (plainto_tsquery AND semantics,
    search.cpp:441; BM25 per north rule)."""
    scored, n = _bm25_scored(spark, sf_dir, AND_TERMS)
    return _topk(scored.filter(F.col("n_matched") == n), 20)


@q("bm25_topk_or")
def bm25_topk_or(spark, sf_dir):
    """W1 disjunctive variant (block-max WAND path in the engine)."""
    scored, _ = _bm25_scored(spark, sf_dir, OR_TERMS)
    return _topk(scored, 25)


_ENGINE_IDX_CACHE: dict[tuple[int, str], object] = {}


def _engine_index(spark: SparkSession, sf_dir: str):
    """Open (building at most once per corpus version) a REAL index
    over the documents table — through assign_doc_ids → tokenize →
    delta-gap + varint postings → block-max metadata — via SearchIndex.
    conv_id = zero-padded doc_id makes the builder's (conv_id,
    turn_idx) rank equal the table's doc_id, so engine results and the
    DuckDB oracle address identical documents.

    The built index is cached ON DISK keyed by a fingerprint of the
    source parquet (path, size, mtime) + analyzer version + postings
    format: the ~30 Spark jobs of a full build cost ~10 s per bench
    session for a 5k-doc corpus, which polluted the recorded entry time
    with harness cost (r2 VERDICT). A fingerprint mismatch (driver
    regenerated the test data, analyzer spec or postings format
    bumped) rebuilds from scratch."""
    key = (id(spark), sf_dir)
    hit = _ENGINE_IDX_CACHE.get(key)
    if hit is not None:
        return hit
    import hashlib
    import json
    import os
    import shutil
    import tempfile

    from .indexer.build import POSTINGS_FORMAT, build_index
    from .query.engine import SearchIndex
    from .tokenizer import ANALYZER_VERSION

    src = f"{sf_dir}/documents.parquet"
    st_ = os.stat(src)
    fp = json.dumps(
        {"src": os.path.abspath(src), "size": st_.st_size,
         "mtime_ns": st_.st_mtime_ns, "analyzer": ANALYZER_VERSION,
         "postings_format": POSTINGS_FORMAT, "n_shards": 8},
        sort_keys=True,
    )
    tag = hashlib.sha256(fp.encode()).hexdigest()[:16]
    idx = os.path.join(tempfile.gettempdir(), f"tlgs_entry_engine_idx_{tag}")
    fp_file = os.path.join(idx, "_entry_fingerprint.json")
    ok = False
    try:
        with open(fp_file) as f:
            ok = f.read() == fp
    except OSError:
        ok = False
    if not ok:
        shutil.rmtree(idx, ignore_errors=True)
        transcripts = _docs(spark, sf_dir).select(
            F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.lit(None).cast("string").alias("tool"),
            F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        )
        build_index(spark, transcripts, idx, n_shards=8, lineage=f"entry:{sf_dir}")
        with open(fp_file, "w") as f:  # written LAST: marks a complete build
            f.write(fp)
    si = SearchIndex(spark, idx)
    _ENGINE_IDX_CACHE[key] = si
    return si


@q("engine_bm25_topk")
def engine_bm25_topk(spark, sf_dir):
    """The REAL engine under the driver's oracle: build_index →
    posting codec (delta-gap varint, indexer/codec.py) → SearchIndex
    driver path (search_and intersection + exact scoring,
    query/scorer.py — plainto_tsquery AND semantics, search.cpp:441).
    Same DuckDB mirror as the declarative twin bm25_topk_and — the
    index is an access path, not a semantics change."""
    si = _engine_index(spark, sf_dir)
    res = si.search(" ".join(AND_TERMS), k=20, mode="and")
    sdf = spark.createDataFrame(
        res[["doc_id", "score"]], schema="doc_id long, score double"
    )
    return sdf.select("doc_id", F.round("score", 4).alias("score"))


@q("engine_bm25_wand_df")
def engine_bm25_wand_df(spark, sf_dir):
    """Distributed engine path under the oracle: search_df scores each
    shard's decoded postings with the block-max pruned OR scorer
    (search_or, query/scorer.py) inside applyInPandas, then merges
    n_shards×k rows globally — the 100 TB serving shape."""
    si = _engine_index(spark, sf_dir)
    return si.search_df(" ".join(OR_TERMS), k=25, mode="or").select(
        "doc_id", F.round("score", 4).alias("score")
    )


@q("bm25_filtered")
def bm25_filtered(spark, sf_dir):
    """P3: post-rank filter, OR within type (lang∈{en,de})."""
    scored, n = _bm25_scored(spark, sf_dir, AND_TERMS)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return _topk(
        scored.filter(F.col("n_matched") == n)
        .join(docs, "doc_id")
        .filter(F.col("lang").isin(["en", "de"])),
        20,
    )


@q("bm25_negated_filter")
def bm25_negated_filter(spark, sf_dir):
    """P3 negation (NOT lang:en) — XOR semantics, search.cpp:655-676."""
    scored, n = _bm25_scored(spark, sf_dir, AND_TERMS)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return _topk(
        scored.filter(F.col("n_matched") == n).join(docs, "doc_id").filter(F.col("lang") != "en"),
        20,
    )


@q("bm25_page2")
def bm25_page2(spark, sf_dir):
    """W3 pagination: second 10-row page of the ranked list
    (search.cpp:756-758)."""
    scored, _ = _bm25_scored(spark, sf_dir, OR_TERMS)
    # rows 11-20 of the total order (score desc, doc_id asc) — same
    # result as the old row_number() filter (doc_id is unique, so the
    # order is total), but planned as TakeOrderedAndProject(limit=20,
    # offset=10): per-partition top-20 heaps + a 20-row driver merge,
    # instead of funneling EVERY scored candidate through the one-task
    # unpartitioned Window Spark itself warns about (r5 VERDICT #4 —
    # the textbook single-partition scale-killer at a dense OR term).
    return (
        scored.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc(F.round(F.col("score"), 4)), F.asc("doc_id"))
        .offset(10)
        .limit(10)
    )


@q("conjunctive_match")
def conjunctive_match(spark, sf_dir):
    """P1 candidate generation alone: docs containing ALL query terms."""
    tf = _token_stats(spark, sf_dir)["tf"]
    return (
        tf.filter(F.col("term").isin(["spark", "merge"]))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matched"))
        .filter(F.col("n_matched") == 2)
    )


@q("term_df_top50")
def term_df_top50(spark, sf_dir):
    """A8: exact document frequency / collection frequency (the
    GIN-maintained stats made explicit; no approx allowed)."""
    tf = _token_stats(spark, sf_dir)["tf"]
    return (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


@q("doc_lengths")
def doc_lengths(spark, sf_dir):
    """BM25 length normalization table (pages.size analog)."""
    return _token_stats(spark, sf_dir)["dl"]


@q("collection_stats")
def collection_stats(spark, sf_dir):
    """A1: exact collection statistics — countDistinct, not approx."""
    st = _token_stats(spark, sf_dir)
    tf, dl = st["tf"], st["dl"]
    return (
        dl.agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").alias("total_dl"),
            F.round(F.sum("dl") / F.count("*"), 6).alias("avgdl"),
        )
        .crossJoin(
            tf.agg(
                F.countDistinct("term").alias("n_terms"), F.count("*").alias("n_postings")
            )
        )
    )


@q("stats_by_lang")
def stats_by_lang(spark, sf_dir):
    """A2: group-by count ordered (tools.cpp:31-32 analog)."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
        .orderBy(F.desc("n"), F.asc("lang"))
    )


@q("distinct_sources")
def distinct_sources(spark, sf_dir):
    """A1/A3: COUNT(DISTINCT domain)-style exact stats (tools.cpp:29-30)."""
    return (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .agg(F.countDistinct("source").alias("n_sources"), F.count("*").alias("n_docs"))
    )


@q("dedup_exact")
def dedup_exact(spark, sf_dir):
    """Exact dedup groups (content-hash dedup, J7/W4 analog)."""
    from .ops.dedup import exact_groups

    return exact_groups(_docs(spark, sf_dir)).filter(F.col("n_dups") > 1)


@q("dedup_keep_best")
def dedup_keep_best(spark, sf_dir):
    """W4 keep-best: one winner per (lang, size-bucket) group —
    window rank, keep max-quality tie-broken by id
    (search.cpp:555-625 keep-max-score analog)."""
    docs = _docs(spark, sf_dir).withColumn(
        "bucket", F.floor(F.col("n_chars") / 100).cast("long")
    )
    w = Window.partitionBy("lang", "bucket").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "bucket", "doc_id", "n_chars")
    )


_MINHASH_CACHE: dict[tuple[int, str], dict] = {}


def _minhash_parts(spark: SparkSession, sf_dir: str) -> dict:
    """Shared persisted shingles/bands/pairs for the three LSH-dedup
    entries — the shingle set is built once, not once per entry (the
    round-1 version re-derived it 4× across the family)."""
    from .ops.dedup import minhash_bands as mb, minhash_candidate_pairs, shingles

    key = (id(spark), sf_dir)
    hit = _MINHASH_CACHE.get(key)
    if hit is not None:
        return hit
    docs = _docs(spark, sf_dir)
    sh = shingles(docs).persist()
    bands = mb(docs, shingles_df=sh).persist()
    pairs = minhash_candidate_pairs(bands).persist()
    out = {"docs": docs, "sh": sh, "bands": bands, "pairs": pairs}
    _MINHASH_CACHE[key] = out
    return out


@q("minhash_bands")
def minhash_bands(spark, sf_dir):
    """MinHash band signatures (LSH dedup stage 1): 3-gram shingles,
    md5 once per shingle, rotation hash family, r=2 rows per band."""
    return _minhash_parts(spark, sf_dir)["bands"].select(
        F.col("id").alias("doc_id"), F.col("band").cast("int").alias("band"), "sig"
    )


@q("minhash_pairs")
def minhash_pairs(spark, sf_dir):
    """LSH candidate pairs (bucket join, skew-capped at 50)."""
    return _minhash_parts(spark, sf_dir)["pairs"].select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long")
    )


@q("ngram_jaccard")
def ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard over LSH candidate pairs only (never
    all-pairs — the 100 TB-safe formulation)."""
    from .ops.dedup import jaccard_pairs

    parts = _minhash_parts(spark, sf_dir)
    return jaccard_pairs(
        parts["docs"], parts["pairs"], shingles_df=parts["sh"]
    ).select(F.col("id_a").cast("long"), F.col("id_b").cast("long"), "jaccard")


@q("text_quality")
def text_quality(spark, sf_dir):
    """The per-document text-analysis family in one oracle-paired pass
    (merged r3 so the driver's 50-row sweep covers every entry):
    quality signals (length, punctuation ratio, stopword ratio),
    token counting (whitespace + BPE-ish pre-tokenizer regex), and the
    normalized rolling fingerprint (F9/F12 analog). One projection,
    all JVM expressions — at 100 TB this is a single map-side pass."""
    from .ops.textstats import (
        BPE_PATTERN,
        fingerprint,
        punct_ratio,
        stopword_ratio,
        ws_token_count,
    )

    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        ws_token_count(t).cast("long").alias("ws_tokens"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t).alias("stopword_ratio"),
        F.size(
            F.regexp_extract_all(F.lower(t), F.lit(BPE_PATTERN), F.lit(0))
        ).cast("long").alias("bpe_ish_tokens"),
        fingerprint(t).alias("fp"),
    )


@q("embedding_topk")
def embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search (exact ANN baseline)."""
    from .ops.similarity import cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    return cosine_topk(emb, [float(x) for x in qv], k=10, exclude_id=0)


@q("events_tumbling")
def events_tumbling(spark, sf_dir):
    """Tumbling-window aggregate (Structured-Streaming-equivalent batch
    semantics; watermark/late-data story lives in streaming/)."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        "event_type",
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))


@q("events_sessions")
def events_sessions(spark, sf_dir):
    """Session windows (30-min gap) — the batch formulation of stateful
    sessionization. Same lag+cumsum semantics the oracle SQL states,
    executed as ONE shuffle: repartition by user (whole users per
    task), sort once, then a vectorized per-task kernel derives the
    per-user session numbering AND the per-session aggregates in one
    pass. The old plan paid the same shuffle+sort plus two WindowExec
    evaluations over every event plus a second aggregation exchange
    (guide §2.4: operations keyed the same way share one exchange)."""
    import numpy as np
    import pyarrow as pa

    def sess(batches):
        acc = [pa.Table.from_batches([b]) for b in batches]
        if not acc:
            return
        t = pa.concat_tables(acc)
        if t.num_rows == 0:
            return
        uid = t.column("user_id").to_numpy()
        es = t.column("es").to_numpy()
        n = len(uid)
        new_user = np.empty(n, dtype=bool)
        new_user[0] = True
        new_user[1:] = uid[1:] != uid[:-1]
        gap_break = np.empty(n, dtype=bool)
        gap_break[0] = True
        gap_break[1:] = (es[1:] - es[:-1]) > 1800
        new_s = new_user | gap_break
        seg = np.nonzero(new_s)[0]
        seg_end = np.concatenate((seg[1:], [n]))
        # per-user session numbering: global cumsum of starts, rebased
        # at each user's first segment (+1 ⇒ sessions start at 1)
        gsid = np.cumsum(new_s)
        ustart = np.nonzero(new_user)[0]
        rows_per_user = np.diff(np.concatenate((ustart, [n])))
        rebased = gsid - np.repeat(gsid[ustart] - 1, rows_per_user)
        yield pa.record_batch(
            {
                "user_id": pa.array(uid[seg], pa.int64()),
                "session_id": pa.array(rebased[seg], pa.int64()),
                "n_events": pa.array(seg_end - seg, pa.int64()),
                "start_epoch": pa.array(es[seg], pa.int64()),
                "end_epoch": pa.array(es[seg_end - 1], pa.int64()),
            }
        )

    ev = _read(spark, sf_dir, "events").withColumn("es", F.unix_timestamp("ts"))
    par = max(1, spark.sparkContext.defaultParallelism)
    return (
        ev.select("user_id", "event_id", "es")
        .repartition(par, "user_id")
        .sortWithinPartitions("user_id", "es", "event_id")
        .mapInArrow(
            sess,
            schema="user_id long, session_id long, n_events long, "
                   "start_epoch long, end_epoch long",
        )
    )


@q("events_regex")
def events_regex(spark, sf_dir):
    """P5: regex predicate (security.txt scan analog, api.cpp:91-92)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.filter(F.col("props").rlike('"k": [0-9]{2}'))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


@q("orders_date_window")
def orders_date_window(spark, sf_dir):
    """P4/F24: staleness-style interval predicate + date arithmetic."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-06-01").cast("timestamp"))
            & (
                F.col("o_orderdate")
                < F.lit("1995-06-01").cast("timestamp") + F.expr("INTERVAL 90 DAYS")
            )
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total"))
        .orderBy("o_orderpriority")
    )


@q("pricing_summary")
def pricing_summary(spark, sf_dir):
    """A2/W1 relational parity: hash agg with partial+final combine."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q("backlinks")
def backlinks(spark, sf_dir):
    """J5: backlink lookup over a deterministic synthetic link graph
    (links WHERE to_url = $1, search.cpp:873-884), internal/cross split."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    e1 = docs.select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 3) % n).alias("dst"))
    e2 = docs.select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 13 + 5) % n).alias("dst"))
    links = e1.unionAll(e2)
    return (
        links.filter((F.col("dst") == 42) & (F.col("src") != F.col("dst")))
        .withColumn("is_cross", (F.col("src") % 10) != (F.col("dst") % 10))
        .orderBy("src")
    )


@q("source_like")
def source_like(spark, sf_dir):
    """P6: LIKE predicate (purge-by-pattern analog, tlgs_ctl/main.cpp:90-92)."""
    return (
        _docs(spark, sf_dir)
        .filter(F.col("source").like("src1%"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .orderBy("source")
    )


@q("stale_count")
def stale_count(spark, sf_dir):
    """A4/P4: staleness predicate + count (pages needing re-crawl:
    last_crawled_at < now()-'3 days' OR IS NULL, crawler.cpp:110-113;
    stale count tlgs_ctl/main.cpp:102-103). Anchor pinned for
    determinism; the IS NULL disjunct mirrors never-crawled rows."""
    ev = _read(spark, sf_dir, "events")
    anchor = F.lit("2024-01-28").cast("timestamp") - F.expr("INTERVAL 3 DAYS")
    return ev.filter(F.col("ts").isNull() | (F.col("ts") < anchor)).agg(
        F.count("*").alias("n_stale")
    )


@q("inlist_hydrate")
def inlist_hydrate(spark, sf_dir):
    """J3: IN-list semi-join — preview hydration of a result page's ids
    (url IN (...), search.cpp:761-779). isin() on a literal id set; at
    scale the same plan is a broadcast semi-join against the top-k."""
    ids = [3, 17, 42, 99, 123, 256, 511, 1024, 2047, 4095]
    return (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id").isin(ids))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


@q("corpus_hygiene")
def corpus_hygiene(spark, sf_dir):
    """P7/P9/F18 analog: corpus-hygiene flags — control chars
    (crawler.cpp:250-251), oversize (48 kB penalty threshold,
    search.cpp:549-551), separator-line count (isAsciiArt family)."""
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        t.rlike("[\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f]").alias("has_ctrl"),
        (F.col("n_chars") > 48000).alias("too_large"),
        F.size(F.regexp_extract_all(t, F.lit("\\n[-=_~*#]{3,}"), F.lit(0)))
        .cast("long")
        .alias("n_sep_lines"),
    )


@q("redirect_resolve")
def redirect_resolve(spark, sf_dir):
    """J6: redirect-chain resolution, ≤5 hops (perma_redirects loop,
    crawler.cpp:372-399) — iterative left joins."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    redirects = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("from_id"),
            ((F.col("doc_id") * 3 + 7) % n).alias("to_id"),
        )
    )
    cur = docs.select("doc_id", F.col("doc_id").alias("cur"))
    for _ in range(5):
        cur = (
            cur.join(redirects, cur.cur == redirects.from_id, "left")
            .select("doc_id", F.coalesce("to_id", "cur").alias("cur"))
        )
    return cur.filter(F.col("doc_id") != F.col("cur")).select(
        "doc_id", F.col("cur").alias("final_id")
    )


@q("base_set_expansion")
def base_set_expansion(spark, sf_dir):
    """J1: base-set expansion — pages linking INTO matched pages
    (pages JOIN links ON to_url, search.cpp:443-446)."""
    st = _token_stats(spark, sf_dir)
    docs, n = st["docs"], st["n_docs"]
    matched = st["tf"].filter(F.col("term") == "spark").select("doc_id").distinct()
    e1 = docs.select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 3) % n).alias("dst"))
    e2 = docs.select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 13 + 5) % n).alias("dst"))
    links = e1.unionAll(e2).filter(F.col("src") != F.col("dst"))
    return (
        links.join(F.broadcast(matched.withColumnRenamed("doc_id", "dst")), "dst")
        .select(F.col("src").alias("doc_id"), ((F.col("src") % 10) != (F.col("dst") % 10)).alias("is_cross"))
        .distinct()
    )


@q("union_with_priority")
def union_with_priority(spark, sf_dir):
    """U1: root ∪ base with root priority (first-occurrence-wins dedup,
    search.cpp:464-483)."""
    st = _token_stats(spark, sf_dir)
    docs, n = st["docs"], st["n_docs"]
    matched = st["tf"].filter(F.col("term") == "spark").select("doc_id").distinct()
    roots = matched.withColumn("is_root", F.lit(True))
    e1 = docs.select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 3) % n).alias("dst"))
    e2 = docs.select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 13 + 5) % n).alias("dst"))
    links = e1.unionAll(e2).filter(F.col("src") != F.col("dst"))
    base = (
        links.join(matched.withColumnRenamed("doc_id", "dst"), "dst")
        .select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("is_root", F.lit(False))
    )
    # first-occurrence-wins dedup ≡ OR over the boolean priority flag:
    # a partial+final hash aggregate replaces the per-doc window sort
    # (same rows — the window kept the max-is_root row per doc)
    return (
        roots.unionByName(base)
        .groupBy("doc_id")
        .agg(F.max("is_root").alias("is_root"))
    )


def _title_stats(spark: SparkSession, sf_dir: str, n_docs: int) -> dict:
    """Title-field stats: ONE persisted (doc_id, term, tf) frame over
    the first-5-token 'title' field, materialized by a single job that
    also collects the field's total length (avgdl = total/n_docs; the
    field shares the documents grid so n_docs comes from _token_stats).
    Per-doc dl and per-term df are ALSO persisted (docs with no title
    tokens have dl 0 and can never appear on the matched side, so the
    full-docs left join the oracle writes is value-equal) — before
    that, each bm25f call re-ran both groupBys over the full tf frame.
    Before the tf cache itself the title side was re-derived lazily per
    call and Catalyst re-ran the tokenize subtree for every join
    branch; the REAL persisted-field answer remains build_field_index /
    search_fielded, which serves this from a second inverted index."""
    key = (id(spark), sf_dir, "title")
    hit = _CORPUS_CACHE.get(key)
    if hit is not None:
        return hit
    docs = _docs(spark, sf_dir)
    t_raw = docs.select(
        "doc_id",
        F.explode(
            F.slice(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)),
                1,
                5,
            )
        ).alias("term"),
    ).filter((F.length("term") <= 64) & (~F.col("term").isin(_STOP)))
    _st1, _st2 = stem_spark_stages("term")
    t_toks = t_raw.select("doc_id", F.expr(_st1).alias("term")).select(
        "doc_id", F.expr(_st2).alias("term")
    )
    # ONE grouping-sets aggregation materializes every stat the scorer
    # needs — (doc_id,term)→tf, (doc_id)→dl, (term)→df, ()→total field
    # length — in a single shuffle + persist. The previous shape (three
    # persisted groupBys + a driver collect + a count) paid ~5 separate
    # job launches / codegen compiles of cold cost for 21k rows of data.
    t_all = (
        t_toks.groupingSets(
            [["doc_id", "term"], ["doc_id"], ["term"], []], "doc_id", "term"
        )
        .agg(
            F.count("*").alias("cnt"),
            F.count_distinct("doc_id").alias("ndocs"),
            F.grouping_id().alias("gid"),
        )
        .persist()
    )
    # gid bits: 0b00=(doc_id,term) 0b01=(doc_id) 0b10=(term) 0b11=()
    _glob = t_all.filter(F.col("gid") == 3).select("cnt").collect()
    total_dl = int(_glob[0][0]) if _glob and _glob[0][0] is not None else 0
    t_tf = t_all.filter(F.col("gid") == 0).select("doc_id", "term", F.col("cnt").alias("tf"))
    t_dl = t_all.filter(F.col("gid") == 1).select("doc_id", F.col("cnt").alias("dl"))
    t_dft = t_all.filter(F.col("gid") == 2).select("term", F.col("ndocs").alias("df"))
    out = {"tf": t_tf, "dl": t_dl, "dft": t_dft, "avgdl": float(total_dl) / n_docs}
    _CORPUS_CACHE[key] = out
    return out


@q("bm25f_title_weighted")
def bm25f_title_weighted(spark, sf_dir):
    """W1: field-weighted scoring — title×50 + body (ts_rank_cd(title)*50
    + ts_rank_cd(body), search.cpp:438-442). 'Title' = first 5 tokens
    (the transcript analog of the page heading).

    Both fields serve from session-persisted token stats (_token_stats /
    _title_stats) — the per-call plan is two broadcast-join scoring
    passes over in-memory frames plus one left join, the way the real
    engine serves field stats from its indexes."""
    terms = ["spark", "window"]
    st = _token_stats(spark, sf_dir)

    # ---- body: cached tf/dl/df + Python-scalar stats (free, shared) --
    body_m = (
        st["tf"].filter(F.col("term").isin(terms))
        .join(F.broadcast(st["dft"].filter(F.col("term").isin(terms))), "term")
        .join(st["dl"], "doc_id")
    )
    b_idf = F.log(F.lit(1.0) + (F.lit(st["n_docs"]) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    b_tfn = F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.lit(st["avgdl"]))
    )
    body = (
        body_m.withColumn("contrib", b_idf * b_tfn)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("body_score"), F.count("*").alias("nm"))
        .filter(F.col("nm") == len(terms))
    )

    # ---- title: session-persisted field stats (see _title_stats) ----
    ts = _title_stats(spark, sf_dir, st["n_docs"])
    t_m = (
        ts["tf"].filter(F.col("term").isin(terms))
        .join(F.broadcast(ts["dft"].filter(F.col("term").isin(terms))), "term")
        # explicit hint: the dl slice comes out of the cached
        # groupingSets frame whose size statistics the planner can't
        # see, so it fell back to a SortMergeJoin on doc_id — the one
        # SMJ (plus its exchanges) in an otherwise broadcast-only plan.
        # Bench-scale only: the 100 TB fielded path is search_fielded,
        # which serves field dl from its own index, never a broadcast.
        .join(F.broadcast(ts["dl"]), "doc_id")
    )
    t_idf = F.log(
        F.lit(1.0) + (F.lit(st["n_docs"]) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    t_tfn = F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.lit(ts["avgdl"]))
    )
    title = (
        t_m.withColumn("contrib", t_idf * t_tfn)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("title_score"))
    )

    combined = (
        # broadcast the title aggregate (tiny matched set, no planner
        # stats through the cache) — this was the plan's one remaining
        # SortMergeJoin; the final join is top-20-bound either way
        body.join(F.broadcast(title), "doc_id", "left")
        .withColumn(
            "score",
            F.round(50.0 * F.coalesce(F.col("title_score"), F.lit(0.0)) + F.col("body_score"), 4),
        )
        .select("doc_id", "score")
    )
    return combined.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)


def _case_col(values: list[str]):
    col = F.when(F.col("doc_id") % len(values) == 0, values[0])
    for i, v in enumerate(values[1:-1], start=1):
        col = col.when(F.col("doc_id") % len(values) == i, v)
    return col.otherwise(values[-1])


@q("url_blacklist")
def url_blacklist(spark, sf_dir):
    """P7/P9: URL-hygiene heuristics (crawler blacklist,
    blacklist.cpp:283-350) over a deterministic synthetic URL column —
    git hosts/paths, localhost subnet, .onion, webring endpoints,
    repeated path components, commit-hash paths. The Spark side is the
    real `blacklist_column` operator (JVM predicates, no UDF)."""
    from .ops.blacklist import blacklist_column

    docs = _docs(spark, sf_dir)
    host = _case_col(SYNTH_HOSTS)
    path = _case_col(SYNTH_PATHS)
    synth = docs.select(
        "doc_id", F.concat(F.lit("gemini://"), host, path).alias("url")
    )
    return synth.select(
        "doc_id", "url", blacklist_column(F.col("url")).alias("blocked")
    )


@q("robots_rules")
def robots_rules(spark, sf_dir):
    """P8/F26: robots.txt disallow matching as JVM predicates
    (wildcardPathMatch, robots_txt_parser.cpp:67-122) over the same
    synthetic paths as url_blacklist. Rules exercise the literal
    /-boundary case, a '*'-prefix suffix match, and a middle-star
    pattern; the oracle states the same semantics in plain SQL,
    including the middle-star npos quirk (suffix absent ⇒ match,
    robots_txt_parser.cpp:103 rfind)."""
    from .ops.robots import blocked_path_column

    docs = _docs(spark, sf_dir)
    path = _case_col(SYNTH_PATHS)
    rules = ["/cgi-bin", "*.gmi", "/commits/*/diff"]
    return docs.select(
        "doc_id",
        path.alias("path"),
        blocked_path_column(path, rules).alias("blocked"),
    )


@q("extract_documents")
def extract_documents_entry(spark, sf_dir):
    """F19-F22 chain: charset decode + binary sniff + MIME dispatch +
    gemtext concise extraction + feed classification
    (crawler.cpp:415-496, gemini_parser.cpp:36-160) over synthesized
    crawl responses. Oracle-paired since r2: the DuckDB mirror
    replays the whole concise transform (preformat state via window
    sums, link labels, heading strips, hygiene drops, gemsub
    gaps-and-islands) and compares title/body/links/feed/size."""
    from .ops.extract import extract_documents

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    cls = d % 21
    twtxt = (cls != 7) & (cls != 14) & (d % 3 == 1) & (d % 5 == 0)
    url = F.concat(
        F.lit("gemini://h/"), ds,
        F.when(twtxt, F.lit("/twtxt.txt")).otherwise(F.lit("")),
    )
    plain_body = F.concat(F.lit("# Doc "), ds, F.lit("\n"), F.substring("text", 1, 500))
    dated = F.when(
        d % 6 == 0,
        F.lit("=> /p1 2024-01-02 one\n=> /p2 2024-01-03 two\n=> /p3 2024-02-04 three\n"),
    ).otherwise(F.lit(""))
    gem_body = F.concat(
        F.lit("# Doc "), ds,
        F.lit("\n=> gemini://l"), ds, F.lit("/a First link"),
        F.lit("\n=> gemini://l"), ds, F.lit("/b"),
        F.lit("\n## Section "), ds, F.lit("\n"),
        F.substring("text", 1, 200),
        F.lit("\n```ascii banner\nART-"), ds,
        F.lit("\n```\n```code\nkept pre "), ds,
        F.lit("\n```\n---===---\n#####\n│tree│\n"),
        dated,
        F.lit("plain tail "), ds,
    )
    body = F.when(d % 3 == 0, gem_body).otherwise(plain_body)
    raw = docs.select(
        url.alias("url"),
        F.when(cls == 7, F.lit(11)).otherwise(F.lit(20)).alias("status"),
        F.when(d % 3 == 0, "text/gemini")
        .when(d % 3 == 1, "text/plain")
        .otherwise("application/rss+xml")
        .alias("mime"),
        F.lit("utf-8").alias("charset"),
        # cls 14: bytes that decode to nothing — the binary-sniff drop
        F.when(cls == 14, F.unhex(F.lit("FF" * 64))).otherwise(
            F.encode(body, "utf-8")
        ).alias("raw"),
    )
    return extract_documents(raw).select(
        "url", "title", "feed_type", "body",
        F.size("links").cast("long").alias("n_links"),
        F.col("size").cast("long").alias("size"),
    )


def _synth_links(spark, sf_dir):
    """Deterministic skewed digraph: dst = src % 97 concentrates
    in-degree on the first 97 nodes (hub/authority structure for
    SALSA/HITS, FIXTURES.md §2 'power-law digraph' stand-in).
    Capped at 500 nodes: these feed fixed-iteration *entry* queries,
    and iterative-join latency is O(iters), not O(nodes) — the
    operator's scale behavior is exercised by the graph tests."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    n = docs.count()
    e1 = docs.select(F.col("doc_id").alias("src"), (F.col("doc_id") % 97).alias("dst"))
    e2 = docs.select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 3) % n).alias("dst"))
    return e1.unionAll(e2).filter(F.col("src") != F.col("dst"))


@q("hits_rank")
def hits_rank_entry(spark, sf_dir):
    """A5: HITS neighbor-sum iteration over the synthetic link graph,
    reference recurrence (search.cpp:253-306: Jacobi, keep-old-on-zero,
    max(sum,1) normalization, float-eps flush); fixed 5 iterations
    (eps=0) so the unrolled DuckDB CTE mirror is exact."""
    from .graph import hits_rank

    return hits_rank(_synth_links(spark, sf_dir), max_iter=5, eps=0.0).select(
        "node", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
    )


@q("salsa_rank")
def salsa_rank_entry(spark, sf_dir):
    """A6: SALSA bipartite two-hop average, reference recurrence
    (search.cpp:316-412: all nodes classified, one combined vector,
    previous-sum normalization); fixed 5 iterations (eps=0), unrolled
    CTE oracle."""
    from .graph import salsa_rank

    return salsa_rank(_synth_links(spark, sf_dir), max_iter=5, eps=0.0).select(
        "node", "side", F.round("score", 6).alias("score")
    )


@q("simhash_pairs")
def simhash_pairs_entry(spark, sf_dir):
    """SimHash near-dup pairs: band buckets (full recall for Hamming
    ≤ n_bands-1 by pigeonhole, never all-pairs) + exact per-nibble
    bit_count(xor) verify — over documents augmented with synthesized
    near-duplicates."""
    from .ops.dedup import simhash_hamming_pairs

    d = _docs(spark, sf_dir)
    aug = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" dupmarker extra")).alias("text"),
        )
    )
    return simhash_hamming_pairs(aug).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"),
        F.col("hamming").cast("int"),
    )


def _url_frame(spark, sf_dir):
    """Deterministic URL-bearing frame over documents: 50 content-hash
    groups × 5 URL shapes exercising every W4 rule (plain, trailing
    slash, /~user, /users/, archive-mirror)."""
    d = _docs(spark, sf_dir)
    h = F.col("doc_id") % 50
    hostn = F.col("doc_id") % 7
    page = F.concat(F.lit("host"), hostn, F.lit(".example/page"), h)
    url = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("gemini://"), page))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("gemini://"), page, F.lit("/")))
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("gemini://host"), hostn, F.lit(".example/~alice/page"), h),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("gemini://host"), hostn, F.lit(".example/users/alice/page"), h),
        )
        .otherwise(F.concat(F.lit("gemini://archive.example/"), page))
    )
    return d.select(
        "doc_id",
        h.alias("content_hash"),
        F.col("n_chars").alias("size"),
        F.col("n_chars").cast("double").alias("score"),
        url.alias("url"),
    )


@q("dedup_merge_rules")
def dedup_merge_rules(spark, sf_dir):
    """W4 generic URL-equivalence pair predicate (search.cpp:555-625):
    same-host / same-path / token-normalized (~user ≈ /users ≈ /user,
    trailing slash) / archive-suffix rules within content-hash groups.
    Hash-bucketed self-join with an explicit group-size cap — the
    100 TB-safe shape (never all-pairs)."""
    from .ops.dedup import url_merge_pairs

    return url_merge_pairs(_url_frame(spark, sf_dir)).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "rule"
    )


@q("simhash")
def simhash_entry(spark, sf_dir):
    """SimHash fingerprints (near-dup family) — pure JVM expression
    kernel (md5 token hash + bit aggregation in whole-stage codegen;
    no Python in the data plane), oracle-paired since r2."""
    from .ops.textstats import simhash64

    return simhash64(_docs(spark, sf_dir)).select("doc_id", "simhash")


@q("lang_id")
def lang_id_entry(spark, sf_dir):
    """Language ID (weighted char-n-gram profiles over 6 languages +
    CJK, Arrow-vectorized); oracle-paired since r2, spec v2 since r3
    (validated on a labeled sentence set in tests/test_ops.py)."""
    from .ops.textstats import lang_id_ngram

    return lang_id_ngram(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


@q("host_backpressure")
def host_backpressure(spark, sf_dir):
    """I6: host circuit breaker + politeness rounds
    (crawler.cpp:163-167 'do not crawl hosts known to be down', batch
    dispersion) as declarative window/anti-join over a synthesized
    work frontier — at most per_host_cap items per host per round."""
    from .ops.politeness import polite_schedule

    d = _docs(spark, sf_dir)
    frontier = d.select(
        F.col("doc_id").alias("item_id"),
        F.concat(F.lit("h"), (F.col("doc_id") % 20)).alias("host"),
        F.col("n_chars").alias("priority"),
    )
    failures = d.filter(F.col("doc_id") % 9 == 0).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 20)).alias("host"),
        (F.col("doc_id") % 4).cast("long").alias("n_failures"),
    )
    return polite_schedule(
        frontier, failures, priority_col="priority", per_host_cap=2
    ).select("item_id", "host", "round")


@q("ann_ivf_topk")
def ann_ivf_entry(spark, sf_dir):
    """IVF-bucketed approximate NN (the scale path: bucket pruning on
    the centroid-id column; exact recall is embedding_topk's job).
    Centroids are FITTED (spherical k-means, shared kernel) from a
    deterministic vec_id-sorted parquet read, so the fitted literals
    are a pure function of the data and the whole
    assign→probe→cosine-top-k chain is oracle-paired since r3."""
    from .ops.similarity import ivf_assign, ivf_search

    emb = _read(spark, sf_dir, "embeddings")
    cents, qv = ivf_centroids(sf_dir)
    assigned, cents = ivf_assign(emb, centroids=cents)
    return ivf_search(
        assigned.filter(F.col("vec_id") != 0), cents, list(qv), k=10,
        n_probe=IVF_N_PROBE,
    )


@q("embedding_near_dup")
def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup detection with label blocking (the
    near-dup family's vector member; never all-pairs across blocks).
    The synthetic corpus has no organic duplicates, so the entry plants
    scaled copies (cosine-invariant ⇒ cos 1.0) of every 7th vector and
    keeps the threshold low enough to also catch the closest organic
    within-block pairs."""
    from .ops.dedup import embedding_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        # ×2 is exact in binary float, so the float cast loses nothing and
        # keeps the union's column type identical to the base table's
        F.transform("embedding", lambda x: x * F.lit(2.0)).cast("array<float>").alias("embedding"),
        "label",
    )
    return embedding_near_dup_pairs(
        emb.select("vec_id", "embedding", "label").unionByName(planted), threshold=0.35
    )


@q("embedding_lsh_pairs")
def embedding_lsh_pairs_entry(spark, sf_dir):
    """Unlabeled embedding near-dup via random-hyperplane LSH: the
    blocking-key-free scale path (sign signatures → band buckets →
    exact cosine verify; planted scaled copies share every sign bit,
    so their recall is 1.0 by construction)."""
    from .ops.dedup import embedding_lsh_pairs

    emb = _read(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).cast("array<float>").alias("embedding"),
        "label",
    )
    aug = emb.select("vec_id", "embedding").unionByName(
        planted.select("vec_id", "embedding")
    )
    return embedding_lsh_pairs(aug, lsh_planes(), threshold=0.95).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "cos"
    )


@q("combine_scores")
def combine_scores_entry(spark, sf_dir):
    """F13/A7: the reference's combine stage as a declarative plan —
    exp link boost over the A7 max, size penalty past a threshold,
    harmonic-mean merge (search.cpp:536-553; the size penalty divides
    in size_t, so both sides floor the scaled offset). Link/text inputs
    are deterministic functions of doc_id; threshold/scale are the same
    formula at corpus-sized constants (48 kB → 300 chars)."""
    docs = _docs(spark, sf_dir)
    base = docs.select(
        "doc_id",
        ((F.col("doc_id") * 37 % 100) / 100.0).alias("link"),
        F.round(1.0 / (1 + F.col("doc_id") % 13), 6).alias("text_rank"),
        "n_chars",
    )
    mx = base.agg(F.max("link").alias("mx"))
    t = F.when(
        F.col("n_chars") > 300,
        F.col("text_rank")
        / F.log(F.exp(F.lit(1.0)) + F.floor((F.col("n_chars") - 300) / 30)),
    ).otherwise(F.col("text_rank"))
    boost = F.exp(6.5 * F.col("link") / F.col("mx"))
    return (
        base.crossJoin(F.broadcast(mx))
        .select(
            "doc_id",
            F.round(boost, 4).alias("boost"),
            F.round(2.0 * boost * t / (boost + t), 4).alias("final"),
        )
        .orderBy(F.desc("final"), F.asc("doc_id"))
        .limit(50)
    )


@q("snippet_preview")
def snippet_preview_entry(spark, sf_dir):
    """F11/F12: ts_headline-analog snippet over the first 5 kB — 23-37
    word window, [term] highlighting, sanitize (search.cpp:62-70,
    773-779). Vectorized over an Arrow batch; oracle-paired since r2
    (the window/highlight spec rendered as DuckDB list ops)."""
    import pandas as pd

    from .query.snippet import make_snippet

    # make_snippet's term contract: analyzer output, stemmed exactly
    # once (the SQL twin embeds the same s_stem(t) literals)
    terms = [s_stem(t) for t in SNIPPET_TERMS]

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "preview": [make_snippet(t, terms) for t in pdf["text"]],
                }
            )

    return (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
        .mapInPandas(run, schema="doc_id long, preview string")
        .orderBy("doc_id")
    )


@q("multimodal_features")
def multimodal_features_entry(spark, sf_dir):
    """Multimodal plumbing in one entry, now HASH-CHECKED (r3 closed
    the registry's last rows-only row): md5-chain payloads (images are
    REAL PPMs whose pixels are the chain — decode_image parses every
    one inside image_chain_stats) + content digests + the per-
    (media_id, frame_ts_ms) video sampling plan (JVM sequence/explode).
    The DuckDB twin reproduces the chain bytes as hex strings, parses
    the image pixels back out per hex pair, and matches digests, byte
    sums, sizes, and frame rows exactly."""
    from .ops.multimodal import (
        frame_sample_plan,
        image_chain_stats,
        payload_digests,
        synth_media_chain,
    )

    media = synth_media_chain(spark)
    digests = payload_digests(media)
    null_l = F.lit(None).cast("long")
    img_rows = (
        digests.filter(F.col("kind") == "image")
        .join(image_chain_stats(media.filter(F.col("kind") == "image")), "media_id")
        .select(
            "media_id", null_l.alias("frame_ts_ms"), "kind", "n_bytes", "sha256",
            "sum_r", "sum_g", "sum_b",
        )
    )
    vid_rows = (
        digests.filter(F.col("kind") == "video")
        .join(frame_sample_plan(media, every_ms=5000), "media_id")
        .select(
            "media_id", F.col("frame_ts_ms").cast("long"), "kind", "n_bytes", "sha256",
            null_l.alias("sum_r"), null_l.alias("sum_g"), null_l.alias("sum_b"),
        )
    )
    return img_rows.unionByName(vid_rows).orderBy("media_id", "frame_ts_ms")


# Every entry must have an oracle twin registered under the same name,
# and every twin must have an entry — drift fails at import time.
assert set(QUERIES) == set(_ORACLE_SQL), (
    sorted(set(QUERIES) ^ set(_ORACLE_SQL))
)


def entry_df(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship: conjunctive BM25 top-20 over the documents corpus."""
    return bm25_topk_and(spark, sf_dir)


# The driver compares Spark vs DuckDB at this scale factor; SQL
# generators that embed data-derived literals (fitted IVF centroids)
# resolve against it. Local tests pass their own sf_dir.
DEFAULT_ORACLE_SF = "/root/testdata/sf0.01"


def resolve_sql(spec_sql, sf_dir: str = DEFAULT_ORACLE_SF) -> str | None:
    """SQL generators may embed data-derived literals (fitted IVF
    centroids), which needs the parquet at ``sf_dir``. If it's absent
    the ONE entry degrades to rows-only (None) instead of poisoning
    the whole oracle dict."""
    if not callable(spec_sql):
        return spec_sql
    try:
        return spec_sql(sf_dir)
    except (OSError, ValueError) as e:
        # fixture-shaped failures only (absent sf_dir, corrupt parquet —
        # pyarrow's ArrowInvalid subclasses ValueError — or a fixture
        # missing its query row): degrade THIS entry to rows-only.
        # Genuine programming errors (TypeError, KeyError, ...) must
        # propagate — swallowing them would silently shrink the oracle
        # coverage the correctness gate rests on.
        import warnings

        warnings.warn(
            f"oracle SQL generator failed ({e.__class__.__name__}: {e}); "
            f"entry degrades to rows-only"
        )
        return None


def queries_dict():
    return {name: spec["fn"] for name, spec in QUERIES.items()}


def oracle_sql_dict(sf_dir: str = DEFAULT_ORACLE_SF):
    """Every value is a runnable SQL string — entries whose generator
    degraded resolve to None and are DROPPED (rows-only), preserving
    the pre-generator contract consumers rely on."""
    out = {}
    for name, spec in QUERIES.items():
        if spec["sql"] is None:
            continue
        sql = resolve_sql(spec["sql"], sf_dir)
        if sql is not None:
            out[name] = sql
    return out
