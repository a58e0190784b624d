"""Incremental re-index with per-shard change detection.

Reference semantics being reproduced (as resumable batch over the
index tables):

- raw-hash short-circuit: a page whose content hash is unchanged is
  not re-indexed (tlgs/crawler/crawler.cpp:424-429, 488-496); the
  crawler touches only stale rows (crawler.cpp:100-130), never the
  whole ``pages`` table
- here lifted to shard granularity: a doc-range shard whose live
  (doc_id → text_hash) set is unchanged keeps its docs, postings,
  norms, doc_lengths and first_turn_terms partitions verbatim; only
  changed shards rebuild
- the checkpoint ledger records rebuilt shards with lineage
  "incremental:<reason>"

r4 delta prepare — work ∝ edit, never ∝ corpus:

- **diff**: one metadata-column scan (doc_id, conv_id, turn_idx,
  text_hash, role/tool/ts — never text) of the committed docs against
  the new input's (keys, xxhash64(text), same metadata); the
  full-outer join compares a row signature over text hash AND the
  stored metadata columns, classifying every row as unchanged /
  edited / inserted / deleted — so a metadata-only edit (same text,
  new role/tool/ts) rewrites its docs partition instead of silently
  serving stale metadata. Reading the whole input once is inherent to
  the API (the caller hands the full corpus); all WRITES from here on
  touch only changed shards.
- **stable doc_ids**: matched keys keep their committed id (edits
  included — text changes in place). Inserted keys allocate densely
  ABOVE the committed ``doc_ceiling`` high-water mark; deletions leave
  GAPS (delta-varint absorbs them) and the ceiling never decreases, so
  a retired id is never reissued. ``meta["n_docs"]`` is the LIVE
  count (BM25's N); ``meta["doc_ceiling"]`` sizes id-indexed arrays.
- **partition-granular rewrite**: changed shards' docs / postings /
  norms / doc_lengths / first_turn_terms partitions land in fresh
  staged version dirs; unchanged shards are carried by per-table
  manifest reference (storage.py) — their files are never touched.
- **edit-proportional finalize**: term_stats is updated by ±delta
  (old stats minus the changed shards' old contributions plus their
  new ones — integer-exact, same values as a full re-derivation);
  collection_stats totals adjust by the changed shards' pseudo-row
  deltas. No full postings-metadata re-aggregation.
- the cutover is one small-file pointer write — a reader opened
  pre-update returns bit-identical results through the update;
  superseded partitions retire later via IndexStorage.vacuum.

Updates whose analyzer/hygiene/format/layout cannot reuse the
committed index fall back to a full rebuild (``mode="full"`` — the r3
flow: re-rank everything, rewrite every table, signature-diff shards).

Two maintenance entry points share the delta flow:

- ``incremental_update(spark, full_corpus, index_dir)`` — snapshot
  semantics: the input IS the new truth; absence means deleted. Its
  diff must hash every input row's text once per update.
- ``apply_changes(spark, changelog, index_dir)`` — changelog
  semantics: only the listed keys change (text IS NULL deletes);
  absence means unchanged. Never reads unchanged text anywhere — the
  10^12-turn API. ``purge_index`` builds a delete changelog from the
  committed docs alone (no corpus needed).

Decision rule between them: ``incremental_update``'s diff scan is its
only corpus-proportional phase (19.8 s at 63M turns, linear forever),
so when the measured ``phases["diff"]`` exceeds
``DIFF_DOMINANCE_HINT_RATIO ×`` the edit-proportional remainder, the
returned dict carries a ``hint`` (and a warning is emitted) steering
the caller to ``apply_changes`` — a caller that already KNOWS its
changed rows (changelog, CDC, crawler output) should never pay the
re-discovery scan at big corpora.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..indexer.build import (
    FUSED_ASSIGN_MAX_DOCS,
    assign_doc_ids,
    build_index,
    index_meta_current,
    tokenize_tokens,
    write_empty_shard_partition,
)
from ..indexer.storage import PARTITIONED_TABLES, IndexStorage

# tables recomputed by every incremental update → staged as new versions
# (index_meta is a versioned small file, not a parquet dir — same
# pointer, special-cased in GC; the PARTITIONED_TABLES are staged at
# partition granularity: changed shards in the staged version dir,
# reused shards carried by manifest reference)
_STAGED_TABLES = (
    "docs",
    "doc_lengths",
    "collection_stats",
    "norms",
    "first_turn_terms",
    "term_stats",
    "ledger",
    "index_meta",
    "postings",
)

# incremental_update emits a hint (return field + warning) steering the
# caller to apply_changes when the corpus-proportional diff scan took
# more than this multiple of the edit-proportional apply work — i.e.
# when the majority of the update's wall time went to re-DISCOVERING
# changes the caller may already know (see the module docstring's
# decision rule). At the measured 63M-turn 1-conv edit the ratio is
# 19.8s/30.7s ≈ 0.64 (no hint); one corpus decade later the diff alone
# crosses ~200s against the same ~30s apply and the hint fires.
DIFF_DOMINANCE_HINT_RATIO = 1.0


def shard_signatures(docs: DataFrame, shard_size: int) -> DataFrame:
    """(shard, sig): order-independent signature of the shard's
    (doc_id, text_hash) pairs — bit_xor of a derived 64-bit mix
    (order-independent, no ANSI overflow; xxhash64 over both id and
    content so moved OR edited docs both flip the signature). Used by
    the full-rebuild fallback; the delta path diffs rows directly."""
    return (
        docs.withColumn("shard", (F.col("doc_id") / F.lit(shard_size)).cast("int"))
        .withColumn("mix", F.xxhash64(F.col("doc_id").cast("string"), F.col("text_hash").cast("string")))
        .groupBy("shard")
        .agg(F.expr("bit_xor(mix)").alias("sig"), F.count("*").alias("n"))
    )


def _rel(index_dir: str, path: str) -> str:
    return os.path.relpath(path, index_dir)


def _old_entry_fn(st_old: IndexStorage, table: str, committed: dict):
    """shard → index_dir-relative partition dir under the COMMITTED
    snapshot of ``table`` (manifest entry when present, else the
    committed version's base dir)."""
    man = st_old.read_manifest(table)
    base_rel = _rel(
        st_old.index_dir, st_old.table_dir(table, committed.get(table, 0))
    )

    def _entry(s: int) -> str:
        if man is not None and s in man:
            return man[s]
        return f"{base_rel}/shard={s}"

    return _entry


def _stage_manifest(
    st_old: IndexStorage,
    st_new: IndexStorage,
    table: str,
    committed: dict,
    staged: dict,
    reused: list[int],
    changed_entries: list[int],
    required: bool = False,
) -> None:
    """Write ``table``'s staged manifest: reused shards carried by
    committed reference, changed shards pointed into the staged version
    dir. One authority for the carry-by-reference loop.

    ``required=False`` (docs / first_turn_terms): a reused shard with no
    committed dir is legitimate — an emptied or title-less shard writes
    no partition — so the vanished entry is simply omitted.
    ``required=True`` (norms / doc_lengths): EVERY in-grid shard owns a
    pseudo-row partition by construction, so a missing dir for a reused
    shard means corruption (over-eager vacuum, lost files). Skipping it
    would commit a manifest whose absent shard reads as all-zero doc
    lengths — silently inflated BM25 scores — so raise instead, the
    same detectable-failure contract as read_sharded."""
    old_entry = _old_entry_fn(st_old, table, committed)
    base_rel = _rel(st_new.index_dir, st_new.table_dir(table, staged[table]))
    man = {}
    for s in reused:
        e = old_entry(s)
        if os.path.isdir(os.path.join(st_new.index_dir, e)):
            man[s] = e
        elif required:
            raise FileNotFoundError(
                f"{table}: committed partition for reused shard {s} is "
                f"missing ({e}) — the index is corrupt; refusing to stage "
                f"a manifest that would read it as empty"
            )
    man.update({s: f"{base_rel}/shard={s}" for s in changed_entries})
    st_new.write_manifest(table, man)


def _row_sig_col(th_col, meta_cols: list[str]):
    """Row signature = text hash + the stored metadata columns, so a
    metadata-only edit (same text, new role/tool/ts) flips it. Nulls
    are sentinel-coalesced: Spark's xxhash64 skips null inputs, which
    would conflate (null, 'x') with ('x', null)."""
    return F.xxhash64(
        th_col.cast("string"),
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in meta_cols],
    )


def _delta_ready(spark: SparkSession, st_old: IndexStorage, meta: dict, hygiene: bool):
    """(delta_ok, committed collection_stats row | None): the committed
    index must be reusable as-is for the edit-proportional path.
    Analyzer/hygiene/format/layout guard (index_meta_current): reusing
    postings built under a different tokenizer spec, hygiene setting,
    physical format or docs layout would mix incompatible segments
    inside one index. Health guard: a -1 collection_stats placeholder
    (crashed direct build) cannot seed exact ±deltas."""
    ok = (
        index_meta_current(meta)
        and meta.get("hygiene", False) == hygiene
        and all(
            st_old.exists(t)
            for t in ("docs", "postings", "norms", "term_stats", "collection_stats")
        )
    )
    stats_row = None
    if ok:
        stats_row = st_old.read(spark, "collection_stats").collect()[0]
        ok = int(stats_row.n_terms) >= 0
    return ok, stats_row


def incremental_update(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    n_shards: int | None = None,
    hygiene: bool | None = None,
    gc: str = "defer",
) -> dict:
    """Bring ``index_dir`` up to date with ``transcripts``.

    ``hygiene`` defaults from the committed index's meta; the shard
    GRID always pins the committed ``shard_size`` (stable doc-range
    geometry — growth appends trailing shards, so interior shards stay
    reusable). Returns {"changed": [...], "reused": [...], "mode":
    "delta" | "full", ...}.
    """
    st_old = IndexStorage(index_dir)
    meta = st_old.read_meta()
    if n_shards is not None and n_shards != meta["n_shards"]:
        # the shard GRID is pinned by the committed index: shard_size is
        # carried forward so interior shards stay reusable (growth
        # appends trailing shards). The parameter used to be accepted
        # and silently dropped — say so instead; a true re-grid needs
        # build_index(..., n_shards=..., resume=False).
        import warnings

        warnings.warn(
            f"incremental_update: shard grid is pinned by the committed "
            f"index (shard_size={meta['shard_size']}); requested "
            f"n_shards={n_shards} has no effect"
        )
    if hygiene is None:
        hygiene = meta.get("hygiene", False)

    delta_ok, stats_row = _delta_ready(spark, st_old, meta, hygiene)
    if not delta_ok:
        return _full_update(spark, transcripts, index_dir, meta, hygiene, gc)
    return _delta_update(spark, transcripts, index_dir, meta, stats_row, gc)


# ---------------------------------------------------------------------------
# delta path (r4): prepare ∝ edit
# ---------------------------------------------------------------------------

def _delta_update(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    meta: dict,
    old_stats,
    gc: str,
) -> dict:
    st_old = IndexStorage(index_dir)
    shard_size = int(meta["shard_size"])
    ceiling0 = int(meta.get("doc_ceiling", meta["n_docs"]))
    old_n_shards = int(meta["n_shards"])
    hygiene = meta.get("hygiene", False)

    import time as _time

    _t0 = _time.time()
    # -- 1. diff (read-only; metadata columns, never committed text) --
    docs_old = st_old.read(spark, "docs")
    # row signature = text hash + the stored metadata columns: a
    # metadata-only edit (same text, new role/tool/ts) must flip the
    # signature, or its committed docs partition would be carried by
    # manifest reference and filtered search would serve stale
    # metadata forever. (The shard rebuild this triggers re-derives
    # postings too — byte-identical for a metadata-only edit, a
    # conservative price for a rare edit shape.) Nulls are
    # sentinel-coalesced: Spark's xxhash64 skips null inputs, which
    # would conflate (null, 'x') with ('x', null).
    meta_cols = [
        c for c in ("role", "tool", "ts")
        if c in docs_old.columns and c in transcripts.columns
    ]
    old_keys = docs_old.select(
        "doc_id",
        "conv_id",
        "turn_idx",
        _row_sig_col(F.col("text_hash"), meta_cols).alias("_sig"),
    )
    new_keys = transcripts.select(
        "conv_id",
        "turn_idx",
        _row_sig_col(F.xxhash64("text"), meta_cols).alias("_th"),
    )
    j = old_keys.join(new_keys, ["conv_id", "turn_idx"], "full_outer")
    delta = j.filter(
        F.col("_th").isNull()  # deleted
        | F.col("doc_id").isNull()  # inserted
        | (F.col("_sig") != F.col("_th"))  # edited (text OR metadata)
    ).select("conv_id", "turn_idx", "doc_id", "_sig", "_th")
    delta.persist()
    try:
        counts = delta.agg(
            F.count(F.when(F.col("_th").isNull(), 1)).alias("n_del"),
            F.count(F.when(F.col("doc_id").isNull(), 1)).alias("n_ins"),
            F.count(
                F.when(F.col("_th").isNotNull() & F.col("doc_id").isNotNull(), 1)
            ).alias("n_edit"),
        ).collect()[0]
        n_del, n_ins = int(counts.n_del), int(counts.n_ins)
        if n_del == 0 and n_ins == 0 and int(counts.n_edit) == 0:
            # no-op: nothing staged, nothing committed — an unchanged
            # corpus costs one diff scan and zero writes
            return {
                "changed": [],
                "reused": list(range(old_n_shards)),
                "mode": "delta",
                "fields_rebuilt": [],
                "phases": {"diff": round(_time.time() - _t0, 3)},
            }
        return _delta_apply(
            spark, transcripts, index_dir, meta, old_stats, gc,
            st_old, delta, shard_size, ceiling0, old_n_shards, hygiene,
            n_del, n_ins, {"diff": round(_time.time() - _t0, 3)},
        )
    finally:
        delta.unpersist()


def _delta_apply(
    spark, transcripts, index_dir, meta, old_stats, gc,
    st_old, delta, shard_size, ceiling0, old_n_shards, hygiene,
    n_del, n_ins, phases: dict | None = None,
) -> dict:
    import time as _time

    phases = phases if phases is not None else {}
    _pt = _time.time()

    def _mark(name: str) -> None:
        nonlocal _pt
        now = _time.time()
        phases[name] = round(now - _pt, 3)
        _pt = now

    persisted: list = []

    # -- 2. allocate inserted ids above the high-water mark --
    # dense rank among the inserted keys + ceiling: append-only growth
    # (new keys sort after every committed one) reproduces exactly the
    # dense ids a fresh build would assign, so even the grown shards
    # stay byte-identical to a from-scratch build
    ins_map = None
    if n_ins:
        ins_keys = delta.filter(F.col("doc_id").isNull()).select("conv_id", "turn_idx")
        ins_map = (
            assign_doc_ids(ins_keys, cleanup=persisted)
            .withColumn("doc_id", F.col("doc_id") + F.lit(ceiling0))
        )
        ins_map.persist()
        persisted.append(ins_map)
    ceiling1 = ceiling0 + n_ins
    n_shards1 = max(old_n_shards, -(-ceiling1 // shard_size))
    n_docs1 = int(meta["n_docs"]) - n_del + n_ins

    # -- 3. changed shard set + per-shard live counts --
    sh = lambda c: (F.col(c) / F.lit(shard_size)).cast("int")  # noqa: E731
    old_touched = (
        delta.filter(F.col("doc_id").isNotNull())
        .select(sh("doc_id").alias("shard"))
        .distinct()
    )
    if ins_map is not None:
        touched = old_touched.union(
            ins_map.select(sh("doc_id").alias("shard")).distinct()
        ).distinct()
    else:
        touched = old_touched
    changed = sorted(int(r.shard) for r in touched.collect())
    reused = [s for s in range(n_shards1) if s not in set(changed)]

    # live id-map of the changed shards: committed ids minus deletions,
    # plus the inserted allocations — edit-proportional (bounded by
    # |changed shards| × shard_size). The committed-side read is
    # PARTITION-PRUNED to the changed shard= dirs.
    del_keys = delta.filter(F.col("_th").isNull()).select("conv_id", "turn_idx")
    docs_old = st_old.read(spark, "docs")
    old_live = (
        docs_old.filter(F.col("shard").isin(changed))
        .select("doc_id", "conv_id", "turn_idx")
        .join(del_keys, ["conv_id", "turn_idx"], "left_anti")
    )
    live_map = (
        old_live.unionByName(ins_map.select("doc_id", "conv_id", "turn_idx"))
        if ins_map is not None
        else old_live
    )
    live_map.persist()
    persisted.append(live_map)
    live_counts = {
        int(r.shard): int(r.n)
        for r in live_map.groupBy(sh("doc_id").alias("shard"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    expect_counts = {s: live_counts.get(s, 0) for s in changed}
    n_live_changed = sum(expect_counts.values())
    _mark("ids_live_map")

    # -- 4. stage versions --
    committed = st_old.versions()
    staged = {t: committed.get(t, 0) + 1 for t in _STAGED_TABLES}
    st_new = IndexStorage(index_dir, staged_versions=staged)

    # -- 5. changed docs partitions (text from the input, by key) --
    id_map = live_map
    if n_live_changed <= FUSED_ASSIGN_MAX_DOCS:
        id_map = F.broadcast(live_map)
    docs_new = (
        transcripts.join(id_map, ["conv_id", "turn_idx"])
        .select(
            "doc_id",
            *[f.name for f in transcripts.schema.fields],
        )
        .withColumn("size", F.length("text"))
        .withColumn("text_hash", F.xxhash64("text"))
        .withColumn("shard", sh("doc_id").alias("shard"))
    )
    st_new.write(
        docs_new.repartition(max(1, len(changed)), F.col("shard"))
        .sortWithinPartitions("shard", "doc_id"),
        "docs",
        partition_by=["shard"],
    )

    # staged meta BEFORE the postings build (phase 2 reads it)
    meta1 = dict(meta)
    meta1.update(
        {
            "n_docs": n_docs1,
            "doc_ceiling": ceiling1,
            "n_shards": n_shards1,
            "lineage": "incremental:delta",
        }
    )
    st_new.write_meta(meta1)

    # -- 6. per-table manifests: reused by committed reference, changed
    # into the staged version dirs (shared _stage_manifest authority) --
    docs_changed_dirs = [
        s
        for s in changed
        if os.path.isdir(
            os.path.join(st_new.table_dir("docs", staged["docs"]), f"shard={s}")
        )
    ]
    _stage_manifest(st_old, st_new, "docs", committed, staged, reused, docs_changed_dirs)
    _mark("docs_write")

    # -- 7. first_turn_terms partitions for changed shards (turn-0 docs
    # of the rebuilt shards only — tiny) --
    docs_new_r = st_new.read(spark, "docs")  # manifest-aware union
    turn0 = docs_new_r.filter(
        F.col("shard").isin(changed) & (F.col("turn_idx") == 0)
    ).select("doc_id", "conv_id", "text")
    ftt = (
        tokenize_tokens(turn0.select("doc_id", "text"), hygiene=hygiene)
        .join(turn0.select("doc_id", "conv_id"), "doc_id")
        .select("conv_id", "term", sh("doc_id").alias("shard"))
    )
    st_new.write(
        ftt.repartition(max(1, len(changed)), F.col("shard"))
        .sortWithinPartitions("shard", "term"),
        "first_turn_terms",
        partition_by=["shard"],
    )
    ftt_base = st_new.table_dir("first_turn_terms", staged["first_turn_terms"])
    _stage_manifest(
        st_old, st_new, "first_turn_terms", committed, staged, reused,
        [s for s in changed if os.path.isdir(os.path.join(ftt_base, f"shard={s}"))],
    )
    _mark("first_turn_terms")

    # -- 8. staged ledger: committed rows for REUSED shards (marked) --
    # discard any crashed prior attempt's staged ledger first: a retry
    # recomputes the SAME staged version (committed+1), and the appends
    # below plus the build's per-shard rows would otherwise pile on top
    # of the crashed attempt's rows — resume stays correct (completed_
    # shards de-dupes) but every ledger-derived metric double-counts.
    # The full-rebuild path gets this for free (its prepare pass runs
    # resume=False, which discards); the delta build runs resume=True,
    # so discard here. Atomic rename-then-delete, same as build_index.
    led_dir = st_new.path("ledger")
    if os.path.isdir(led_dir):
        import time as _t

        tomb = f"{led_dir}__discarded_{os.getpid()}_{int(_t.time() * 1000)}"
        try:
            os.rename(led_dir, tomb)
        except FileNotFoundError:
            pass
        else:
            shutil.rmtree(tomb, ignore_errors=True)
    if reused and st_old.exists("ledger"):
        led = (
            st_old.read(spark, "ledger")
            .filter(F.col("shard").isin(reused))
            .withColumn("status", F.lit("reused"))
            .withColumn("lineage", F.lit("incremental:reused"))
        )
        led.write.mode("append").parquet(st_new.path("ledger"))

    # -- 9. postings: manifest + rebuild only the changed shards --
    old_entry_p = _old_entry_fn(st_old, "postings", committed)
    post_base_rel = _rel(index_dir, st_new.table_dir("postings", staged["postings"]))
    post_man = {s: old_entry_p(s) for s in reused}
    post_man.update({s: f"{post_base_rel}/shard={s}" for s in changed})
    st_new.write_manifest("postings", post_man)

    # shards whose live set emptied still need their norms pseudo row
    # (slot count + all-zero dls) — the builder's scan sees no rows for
    # them, so write the partition driver-side before the build
    for s in changed:
        if expect_counts[s] == 0:
            write_empty_shard_partition(st_new, staged["postings"], s, shard_size)

    build_index(
        spark,
        transcripts,
        index_dir,
        hygiene=hygiene,
        resume=True,
        lineage="incremental:changed",
        storage=st_new,
        force_shards=set(changed),
        shard_size=shard_size,
        expect_counts=expect_counts,
        finalize=False,
    )
    _mark("postings_rebuild")

    # -- 10. edit-proportional finalize --
    _delta_finalize(
        spark, st_old, st_new, committed, staged, changed, reused,
        shard_size, ceiling1, n_docs1, old_stats, old_n_shards,
    )
    _mark("finalize")

    for h in persisted:
        try:
            h.unpersist()
        except Exception:
            pass

    # the field sub-indexes derive from the (now superseded) docs
    # table — note which exist, rebuild them fresh after the commit
    fields = [
        d.split("field_", 1)[1]
        for d in os.listdir(index_dir)
        if d.startswith("field_") and os.path.isdir(os.path.join(index_dir, d))
    ]

    # -- 11. metadata-level cutover + deferred GC --
    st_new.commit_versions(staged)
    superseded = [
        st_old._meta_file(committed.get("index_meta", 0))
        if t == "index_meta"
        else st_old.table_dir(t, committed.get(t, 0))
        for t in _STAGED_TABLES
        if t not in PARTITIONED_TABLES
    ]
    for t in PARTITIONED_TABLES:
        old_entry = _old_entry_fn(st_old, t, committed)
        for s in changed:
            p = os.path.join(index_dir, old_entry(s))
            if os.path.isdir(p):
                superseded.append(p)
        superseded.append(st_old._manifest_file(t, committed.get(t, 0)))
        superseded.append(st_old.table_dir(t, committed.get(t, 0)))
    st_new.gc_queue(superseded)
    if gc == "now":
        st_new.vacuum(0.0)

    _mark("commit")
    if fields:
        from ..indexer.build import build_field_index

        for f_ in fields:
            shutil.rmtree(os.path.join(index_dir, f"field_{f_}"), ignore_errors=True)
            build_field_index(spark, index_dir, field=f_)
        _mark("fields_rebuild")
    out = {
        "changed": changed,
        "reused": reused,
        "mode": "delta",
        "fields_rebuilt": fields,
        "n_inserted": n_ins,
        "n_deleted": n_del,
        "phases": phases,
    }
    # Steer big-corpus callers to the changelog API: the diff phase is
    # the ONLY corpus-proportional piece of a delta update (one
    # metadata-column scan of the committed docs — 19.8 s at 63M turns
    # and growing linearly forever), while everything after it is
    # ∝ the edit. When the diff dominates the apply work, the caller
    # is paying mostly for re-discovering changes it may already know;
    # apply_changes(spark, changed_rows, index_dir) takes the changed
    # rows directly and skips the scan entirely.
    hint = _diff_dominance_hint(phases)
    if hint:
        import warnings

        out["hint"] = hint
        warnings.warn("incremental_update: " + hint)
    return out


def _diff_dominance_hint(phases: dict) -> str | None:
    """The module-docstring decision rule, as a pure function of the
    measured per-phase timings: hint iff the corpus-proportional diff
    scan exceeded DIFF_DOMINANCE_HINT_RATIO × the edit-proportional
    remainder of the update."""
    diff_s = float(phases.get("diff", 0.0))
    apply_s = sum(v for k, v in phases.items() if k != "diff")
    if diff_s <= DIFF_DOMINANCE_HINT_RATIO * max(apply_s, 1e-9):
        return None
    return (
        f"diff scan ({diff_s:.1f}s) dominated the edit-proportional "
        f"apply ({apply_s:.1f}s); if the changed rows are already "
        f"known (changelog, CDC, crawler output), apply_changes() "
        f"skips the corpus-proportional diff entirely"
    )


def _delta_finalize(
    spark, st_old, st_new, committed, staged, changed, reused,
    shard_size, ceiling, n_docs_live, old_stats, old_n_shards,
) -> None:
    """norms / doc_lengths partitions for the changed shards (manifest
    reuse for the rest), term_stats by ±delta, collection_stats by
    pseudo-row deltas — all edit-proportional, all integer-exact (the
    same values a full re-derivation produces)."""
    from ..indexer.build import (
        DL_ROWS_SCHEMA,
        TERM_SHARDS_MAX,
        dl_rows_kernel,
    )

    # the changed shards' NEW postings (staged dir, partition-pruned)
    new_base = st_new.table_dir("postings", staged["postings"])
    new_posts = spark.read.option("basePath", new_base).parquet(
        *[os.path.join(new_base, f"shard={s}") for s in changed]
    )
    # the changed shards' OLD postings (committed snapshot resolution;
    # only shards that existed in the old grid)
    old_entry_p = _old_entry_fn(st_old, "postings", committed)
    old_changed = [s for s in changed if s < old_n_shards]
    old_posts = None
    if old_changed:
        by_base: dict[str, list[str]] = {}
        for s in old_changed:
            p = os.path.join(st_old.index_dir, old_entry_p(s))
            by_base.setdefault(os.path.dirname(p), []).append(p)
        parts = []
        for base, paths in sorted(by_base.items()):
            parts.append(spark.read.option("basePath", base).parquet(*paths))
        old_posts = parts[0]
        for p in parts[1:]:
            old_posts = old_posts.unionByName(p)

    # -- norms + doc_lengths partitions for changed shards --
    nrows = (
        new_posts.filter(F.col("term").isNull())
        .select(
            "shard",
            F.col("block_last")[0].alias("base"),
            F.col("df").alias("n"),
            "dls",
        )
    )
    st_new.write(nrows, "norms", partition_by=["shard"])

    dl_df = (
        st_new.read(spark, "norms")  # staged dir only (manifest below)
        .select("shard", "base", "dls")
        .filter(F.col("shard").isin(changed))
        .mapInPandas(dl_rows_kernel(ceiling), schema=DL_ROWS_SCHEMA)
    )
    st_new.write(dl_df, "doc_lengths", partition_by=["shard"])

    # every changed shard has a norms pseudo row (emptied shards get one
    # written driver-side), so both manifests list all of `changed`
    for t in ("norms", "doc_lengths"):
        _stage_manifest(
            st_old, st_new, t, committed, staged, reused, changed, required=True
        )

    # -- term_stats ±delta --
    def _contrib(posts, name):
        return (
            posts.filter(F.col("term").isNotNull())
            .groupBy("term")
            .agg(
                F.sum("df").alias(f"df_{name}"),
                F.sum("cf").alias(f"cf_{name}"),
                F.sort_array(F.collect_set(F.col("shard").cast("int"))).alias(
                    f"sh_{name}"
                ),
            )
        )

    new_c = _contrib(new_posts, "n")
    deltas = (
        _contrib(old_posts, "o").join(new_c, "term", "full_outer")
        if old_posts is not None
        else new_c.withColumn("df_o", F.lit(None).cast("long"))
        .withColumn("cf_o", F.lit(None).cast("long"))
        .withColumn("sh_o", F.lit(None).cast("array<int>"))
    )
    ts_old = st_old.read(spark, "term_stats")
    changed_lit = F.array(*[F.lit(int(s)).cast("int") for s in changed])
    jt = ts_old.join(deltas, "term", "full_outer")
    df1 = (
        F.coalesce(F.col("df"), F.lit(0))
        - F.coalesce(F.col("df_o"), F.lit(0))
        + F.coalesce(F.col("df_n"), F.lit(0))
    )
    cf1 = (
        F.coalesce(F.col("cf"), F.lit(0))
        - F.coalesce(F.col("cf_o"), F.lit(0))
        + F.coalesce(F.col("cf_n"), F.lit(0))
    )
    # presence list: start from the committed list with every CHANGED
    # shard removed, add back the new presence; a committed NULL
    # ("everywhere/wide") stays NULL — conservative, never wrong (NULL
    # only disables scan pruning for that term)
    sh_new = F.coalesce(F.col("sh_n"), F.array().cast("array<int>"))
    sh1 = (
        F.when(F.col("df").isNull(), sh_new)  # brand-new term
        .when(F.col("shards").isNull(), F.lit(None).cast("array<int>"))
        .otherwise(
            F.sort_array(F.array_union(F.array_except("shards", changed_lit), sh_new))
        )
    )
    sh1 = F.when(F.size(sh1) <= TERM_SHARDS_MAX, sh1).otherwise(
        F.lit(None).cast("array<int>")
    )
    # presence BITMAP (shard_bits): same set algebra, bit-wise —
    # new = (old & ~changed_mask) | mask(sh_n). Exact for every term of
    # a bitmap-era index (build writes bits for ALL terms); a
    # committed row without bits stays NULL (unknown presence — the
    # engine then just doesn't prune that term). The changed-shard mask
    # and the grid width are constants of this update, closed over by
    # the kernel; a grown grid (ceiling past the last shard) widens old
    # blobs with zero bytes before masking.
    from ..indexer.codec import SHARD_BITMAP_MAX, encode_shard_bits

    n_shards1 = max(old_n_shards, -(-ceiling // shard_size))
    if n_shards1 <= SHARD_BITMAP_MAX:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        _nb = (n_shards1 + 7) // 8
        _keep = np.frombuffer(
            encode_shard_bits(changed, n_shards1), dtype=np.uint8
        ) ^ np.uint8(0xFF)

        from pyspark.sql.functions import PandasUDFType

        @pandas_udf("binary", PandasUDFType.SCALAR)
        def _merge_bits(is_new, old_bits, sh_n):
            # Batch-vectorized: this runs over EVERY term_stats row, so
            # per-row numpy allocations would dominate a delta update at
            # a 10^9-term vocabulary. All bit algebra happens on one
            # (rows × _nb) uint8 matrix per Arrow batch; the only
            # per-row Python left is ragged-input marshalling (list
            # lengths, byte concat) and the final tobytes memcpy.
            n = len(is_new)
            # ADD matrix: new presence (within changed shards) per row.
            lens = np.fromiter(
                (0 if sn is None else len(sn) for sn in sh_n),
                dtype=np.int64, count=n,
            )
            add = np.zeros((n, _nb), dtype=np.uint8)
            if int(lens.sum()):
                rows = np.repeat(np.arange(n), lens)
                flat = np.concatenate(
                    [np.asarray(sn, dtype=np.int64) for sn in sh_n
                     if sn is not None and len(sn)]
                )
                # bitwise_or.at: unbuffered scatter — duplicates of the
                # same (row, byte) slot must ACCUMULATE bits (two shard
                # ids landing in one byte), which plain fancy |= drops
                np.bitwise_or.at(
                    add, (rows, flat >> 3),
                    np.left_shift(np.uint8(1), (flat & 7).astype(np.uint8)),
                )
            # BASE matrix: committed bitmaps, zero-widened to the (only
            # ever grown) current grid. Blob widths are uniform within
            # an index era — one reshape covers the batch; the ragged
            # loop only runs across a mid-history width mix.
            have = np.fromiter(
                (ob is not None for ob in old_bits), dtype=bool, count=n
            )
            base = np.zeros((n, _nb), dtype=np.uint8)
            if have.any():
                widths = {len(ob) for ob in old_bits if ob is not None}
                # 0 < w: a zero-width blob set (n_shards==0-era rows)
                # would reshape(-1, 0) and crash — the ragged loop
                # below handles empty blobs as all-absent (ADVICE r5)
                if len(widths) == 1 and 0 < (w := widths.pop()) <= _nb:
                    buf = np.frombuffer(
                        b"".join(bytes(ob) for ob in old_bits if ob is not None),
                        dtype=np.uint8,
                    ).reshape(-1, w)
                    base[np.nonzero(have)[0], :w] = buf
                else:
                    for i, ob in enumerate(old_bits):
                        if ob is not None:
                            prev = np.frombuffer(bytes(ob), dtype=np.uint8)[:_nb]
                            base[i, : prev.size] = prev
            merged = (base & _keep[None, :]) | add
            new_arr = np.asarray(is_new, dtype=bool)
            out = [
                add[i].tobytes() if new_arr[i]
                else (merged[i].tobytes() if have[i] else None)
                for i in range(n)
            ]
            return pd.Series(out)

        bits1 = _merge_bits(F.col("df").isNull(), F.col("shard_bits"), F.col("sh_n"))
        bloom1 = F.lit(None).cast("binary")
    else:
        # >SHARD_BITMAP_MAX grid: maintain the fixed-width shard_bloom
        # by UNION — new = old_bloom | bloom(sh_n); brand-new terms get
        # a fresh bloom; a committed row without one stays NULL
        # (unknown). A bloom supports no deletion, so bits from shards
        # the term LEFT stay set — a sound over-approximation (pruning
        # may scan a few stale shards, never miss one); compaction /
        # full rebuild re-derives exact blooms.
        import pandas as pd
        from pyspark.sql.functions import PandasUDFType, pandas_udf

        from ..indexer.codec import encode_shard_bloom

        @pandas_udf("binary", PandasUDFType.SCALAR)
        def _merge_bloom(is_new, old_bloom, sh_n):
            import numpy as np

            out = []
            for new, ob, sn in zip(is_new, old_bloom, sh_n):
                add = encode_shard_bloom(sn if sn is not None else [])
                if new:
                    out.append(add)
                elif ob is None:
                    out.append(None)
                else:
                    a = np.frombuffer(add, dtype=np.uint8)
                    b = np.frombuffer(bytes(ob), dtype=np.uint8)
                    if b.size != a.size:  # mixed-width history: unknown
                        out.append(None)
                    else:
                        out.append((a | b).tobytes())
            return pd.Series(out)

        bits1 = F.lit(None).cast("binary")
        bloom1 = _merge_bloom(
            F.col("df").isNull(), F.col("shard_bloom"), F.col("sh_n")
        )
    ts_new = (
        jt.select(
            "term",
            df1.alias("df"),
            cf1.alias("cf"),
            sh1.alias("shards"),
            bits1.alias("shard_bits"),
            bloom1.alias("shard_bloom"),
        )
        .filter(F.col("df") > 0)
    )
    st_new.write(ts_new.sortWithinPartitions("term"), "term_stats")

    # -- collection_stats by pseudo-row deltas (integer-exact) --
    def _pseudo_sums(posts):
        if posts is None:
            return 0, 0
        r = (
            posts.filter(F.col("term").isNull())
            .agg(F.sum("cf").alias("dl"))
            .collect()[0]
        )
        r2 = (
            posts.filter(F.col("term").isNotNull())
            .agg(F.sum("df").alias("np"))
            .collect()[0]
        )
        return int(r.dl or 0), int(r2.np or 0)

    dl_o, np_o = _pseudo_sums(old_posts)
    dl_n, np_n = _pseudo_sums(new_posts)
    total_dl = int(old_stats.total_dl) - dl_o + dl_n
    n_postings = int(old_stats.n_postings) - np_o + np_n
    n_terms = st_new.read(spark, "term_stats").count()
    stats_final = spark.createDataFrame(
        [(
            n_docs_live,
            total_dl,
            int(n_terms),
            n_postings,
            float(total_dl) / max(1, n_docs_live),
        )],
        "n_docs long, total_dl long, n_terms long, n_postings long, avgdl double",
    )
    st_new.write(stats_final, "collection_stats")


# ---------------------------------------------------------------------------
# full-rebuild fallback (the r3 flow)
# ---------------------------------------------------------------------------

def _full_update(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    meta: dict,
    hygiene: bool,
    gc: str,
) -> dict:
    """Analyzer/hygiene/format/layout changed (or the committed index
    is unhealthy): re-prepare everything — rank doc_ids afresh, rewrite
    every table into staged versions — then signature-diff shards so
    textually-unchanged shards still reuse their postings when the
    analyzer allows it (it usually doesn't here, by construction)."""
    st_old = IndexStorage(index_dir)
    old_n_shards = meta["n_shards"]

    committed = st_old.versions()
    staged = {t: committed.get(t, 0) + 1 for t in _STAGED_TABLES}
    st_new = IndexStorage(index_dir, staged_versions=staged)

    # prepare pass: docs/meta/first_turn_terms only (max_shards_to_
    # build=0 defers all postings). PIN the original shard_size: a
    # grown corpus appends trailing shards instead of re-gridding.
    build_index(
        spark,
        transcripts,
        index_dir,
        hygiene=hygiene,
        resume=False,
        max_shards_to_build=0,
        lineage="incremental:prepare",
        storage=st_new,
        shard_size=meta["shard_size"],
    )
    new_meta = st_new.read_meta()
    if new_meta["shard_size"] != meta["shard_size"]:
        # geometry changed (corpus grew past the old shard grid) →
        # everything rebuilds; still correct, just not incremental
        old_sigs = {}
    elif not index_meta_current(meta) or meta.get("hygiene", False) != hygiene:
        # committed shards were built under another analyzer, format,
        # layout or hygiene — none is reusable
        old_sigs = {}
    else:
        old = shard_signatures(
            st_old.read(spark, "docs").select("doc_id", "text_hash"), meta["shard_size"]
        ).collect()
        old_sigs = {r.shard: (r.sig, r.n) for r in old}
    new = shard_signatures(
        st_new.read(spark, "docs").select("doc_id", "text_hash"), new_meta["shard_size"]
    ).collect()
    new_sigs = {r.shard: (r.sig, r.n) for r in new}

    reused = sorted(s for s in new_sigs if old_sigs.get(s) == new_sigs[s])
    changed = sorted(s for s in new_sigs if s not in set(reused))

    # staged postings manifest — reused shards keep pointing at their
    # COMMITTED partition dirs, changed shards point into the staged
    # version dir the rebuild below writes.
    old_entry = _old_entry_fn(st_old, "postings", committed)
    new_base_rel = _rel(
        index_dir, st_new.table_dir("postings", staged["postings"])
    )
    manifest = {s: old_entry(s) for s in reused}
    manifest.update({s: f"{new_base_rel}/shard={s}" for s in changed})
    st_new.write_manifest("postings", manifest)

    # staged ledger: committed rows for REUSED shards only (marked)
    if reused and st_old.exists("ledger"):
        led = (
            st_old.read(spark, "ledger")
            .filter(F.col("shard").isin(reused))
            .withColumn("status", F.lit("reused"))
            .withColumn("lineage", F.lit("incremental:reused"))
        )
        led.write.mode("append").parquet(st_new.path("ledger"))

    # rebuild only the changed shards (resume skips the reused ones).
    # Called even when changed == []: the prepare pass deferred
    # finalize, so term_stats / exact collection stats only exist
    # after this run.
    build_index(
        spark,
        transcripts,
        index_dir,
        hygiene=hygiene,
        resume=True,
        lineage="incremental:changed",
        storage=st_new,
        force_shards=set(changed),
        shard_size=meta["shard_size"],
    )

    fields = [
        d.split("field_", 1)[1]
        for d in os.listdir(index_dir)
        if d.startswith("field_") and os.path.isdir(os.path.join(index_dir, d))
    ]

    st_new.commit_versions(staged)
    superseded = [
        st_old._meta_file(committed.get("index_meta", 0))
        if t == "index_meta"
        else st_old.table_dir(t, committed.get(t, 0))
        for t in _STAGED_TABLES
        if t != "postings"
    ]
    # postings retire at PARTITION granularity; other partitioned
    # tables were rewritten wholesale into their staged dirs, so their
    # old base dirs (queued above) plus their manifests retire too
    old_man = st_old.read_manifest("postings") or {}
    superseded += [
        os.path.join(index_dir, old_entry(s))
        for s in changed
        if s < old_n_shards or old_man.get(s)
    ]
    superseded += [
        os.path.join(index_dir, old_entry(s))
        for s in range(new_meta["n_shards"], old_n_shards)
    ]
    for t in PARTITIONED_TABLES:
        superseded.append(st_old._manifest_file(t, committed.get(t, 0)))
    superseded.append(st_old.table_dir("postings", committed.get("postings", 0)))
    st_new.gc_queue(superseded)
    if gc == "now":
        st_new.vacuum(0.0)

    if fields:
        from ..indexer.build import build_field_index

        for f_ in fields:
            shutil.rmtree(os.path.join(index_dir, f"field_{f_}"), ignore_errors=True)
            build_field_index(spark, index_dir, field=f_)
    return {"changed": changed, "reused": reused, "mode": "full", "fields_rebuilt": fields}


# ---------------------------------------------------------------------------
# changelog maintenance (r4): no full-corpus scan anywhere
# ---------------------------------------------------------------------------

def apply_changes(
    spark: SparkSession, changes: DataFrame, index_dir: str, gc: str = "defer"
) -> dict:
    """Bring the index up to date from a CHANGELOG — the 10^12-turn
    maintenance API. ``incremental_update`` takes the full corpus and
    its diff must at least hash every input row's text; at web scale
    nobody hands the engine 100 TB per update — they hand the changed
    rows. This path never reads unchanged text anywhere: the only
    corpus-proportional work left is ONE metadata-column scan of the
    committed docs (keys + text_hash + role/tool/ts — never ``text``)
    to resolve keys → ids and drop no-op upserts, streamed against a
    broadcast of the changelog keys (no shuffle of the corpus side).

    ``changes`` carries the transcript columns; a row whose ``text``
    IS NULL deletes its (conv_id, turn_idx); any other row upserts
    (insert or in-place edit). Unmentioned keys stay untouched — the
    changelog contract (unlike ``incremental_update``, absence means
    "unchanged", not "deleted"). Upserts identical to the committed row
    (same text AND metadata) are dropped, so a redundant changelog
    rewrites nothing. Duplicate keys in one batch fail loudly (last-
    wins would be a silent guess — same contract as the build's
    duplicate-input guard).

    Everything downstream is the shared edit-proportional delta flow:
    changed shards' partitions rewrite (their surviving text comes from
    a PARTITION-PRUNED read of the committed docs plus the changelog
    itself), unchanged shards carry by manifest reference, term_stats /
    collection_stats adjust by exact ±deltas, one pointer commit.

    Reference analog: the crawler updates exactly the rows it fetched
    (crawler.cpp:548-558) — nothing re-reads the whole ``pages`` table.

    Requires a delta-capable committed index (current analyzer/format/
    layout, healthy stats); raises otherwise — a changelog cannot seed
    the full-rebuild fallback.
    """
    import time as _time

    _t0 = _time.time()
    st_old = IndexStorage(index_dir)
    meta = st_old.read_meta()
    hygiene = meta.get("hygiene", False)
    delta_ok, stats_row = _delta_ready(spark, st_old, meta, hygiene)
    if not delta_ok:
        raise ValueError(
            "apply_changes needs a delta-capable committed index (current "
            "analyzer/hygiene/postings-format/docs-layout and healthy "
            "collection_stats); run a full build or incremental_update "
            "with the full corpus first"
        )
    shard_size = int(meta["shard_size"])
    ceiling0 = int(meta.get("doc_ceiling", meta["n_docs"]))
    old_n_shards = int(meta["n_shards"])

    docs_old = st_old.read(spark, "docs")
    derived = {"doc_id", "size", "text_hash", "shard"}
    input_cols = [c for c in docs_old.columns if c not in derived]
    missing = [c for c in input_cols if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing transcript columns: {missing}")
    meta_cols = [c for c in ("role", "tool", "ts") if c in input_cols]

    ch = changes.select(
        "conv_id",
        "turn_idx",
        F.when(
            F.col("text").isNotNull(),
            _row_sig_col(F.xxhash64("text"), meta_cols),
        ).alias("_th"),
    )
    ch.persist()
    try:
        n_changes = ch.count()
        if n_changes == 0:
            return {
                "changed": [],
                "reused": list(range(old_n_shards)),
                "mode": "delta",
                "fields_rebuilt": [],
                "n_changes": 0,
                "phases": {"diff": round(_time.time() - _t0, 3)},
            }
        if ch.select("conv_id", "turn_idx").distinct().count() != n_changes:
            raise ValueError(
                "apply_changes: duplicate (conv_id, turn_idx) keys in the "
                "changelog batch — resolve to one row per key first"
            )

        # keys → committed ids: stream the metadata scan against a
        # broadcast of the changelog keys (inner join keeps it
        # shuffle-free on the corpus side); huge batches fall back to a
        # real join — still metadata-only
        old_keys = docs_old.select(
            "doc_id",
            "conv_id",
            "turn_idx",
            _row_sig_col(F.col("text_hash"), meta_cols).alias("_sig"),
        )
        ch_keys = ch.select("conv_id", "turn_idx")
        if n_changes <= FUSED_ASSIGN_MAX_DOCS:
            ch_keys = F.broadcast(ch_keys)
        matched = old_keys.join(ch_keys, ["conv_id", "turn_idx"], "inner")
        delta = (
            ch.join(matched, ["conv_id", "turn_idx"], "left")
            .filter(
                # real delete (missing-key deletes are no-ops) …
                (F.col("_th").isNull() & F.col("doc_id").isNotNull())
                # … insert, or an upsert whose signature actually changed
                | (
                    F.col("_th").isNotNull()
                    & (F.col("doc_id").isNull() | (F.col("_sig") != F.col("_th")))
                )
            )
            .select("conv_id", "turn_idx", "doc_id", "_sig", "_th")
        )
        delta.persist()
        try:
            counts = delta.agg(
                F.count(F.when(F.col("_th").isNull(), 1)).alias("n_del"),
                F.count(F.when(F.col("doc_id").isNull(), 1)).alias("n_ins"),
                F.count(
                    F.when(F.col("_th").isNotNull() & F.col("doc_id").isNotNull(), 1)
                ).alias("n_edit"),
            ).collect()[0]
            n_del, n_ins = int(counts.n_del), int(counts.n_ins)
            if n_del == 0 and n_ins == 0 and int(counts.n_edit) == 0:
                return {
                    "changed": [],
                    "reused": list(range(old_n_shards)),
                    "mode": "delta",
                    "fields_rebuilt": [],
                    "n_changes": n_changes,
                    "phases": {"diff": round(_time.time() - _t0, 3)},
                }

            # committed shards whose surviving text the rebuild needs:
            # shards holding a deleted/edited doc, PLUS the shards the
            # dense insert range [ceiling0, ceiling0+n_ins) will land in
            # — the FIRST insert shard can be the committed tail shard,
            # whose untouched docs must still reach the rebuilt
            # partition (ids are dense, so the range is known before
            # assignment)
            text_shards = {
                int(r.s)
                for r in delta.filter(F.col("doc_id").isNotNull())
                .select((F.col("doc_id") / F.lit(shard_size)).cast("int").alias("s"))
                .distinct()
                .collect()
            }
            if n_ins:
                text_shards.update(
                    range(
                        ceiling0 // shard_size,
                        (ceiling0 + n_ins - 1) // shard_size + 1,
                    )
                )
            anti_keys = ch.select("conv_id", "turn_idx")
            if n_changes <= FUSED_ASSIGN_MAX_DOCS:
                anti_keys = F.broadcast(anti_keys)
            committed_part = (
                docs_old.filter(F.col("shard").isin(sorted(text_shards)))
                .select(*input_cols)
                .join(anti_keys, ["conv_id", "turn_idx"], "left_anti")
            )
            upserts = changes.filter(F.col("text").isNotNull()).select(*input_cols)
            synthetic = committed_part.unionByName(upserts)

            res = _delta_apply(
                spark, synthetic, index_dir, meta, stats_row, gc,
                st_old, delta, shard_size, ceiling0, old_n_shards, hygiene,
                n_del, n_ins, {"diff": round(_time.time() - _t0, 3)},
            )
            res["n_changes"] = n_changes
            return res
        finally:
            delta.unpersist()
    finally:
        ch.unpersist()


def purge_index(spark: SparkSession, index_dir: str, conv_like: str) -> dict:
    """Corpus-free purge: delete every turn of conversations matching
    the SQL LIKE pattern straight from the committed index — no input
    corpus needed (``DELETE FROM pages WHERE url LIKE $1``,
    tlgs_ctl/main.cpp:87-95, which likewise needs only the database).
    One metadata key scan builds the delete changelog; ``apply_changes``
    does the edit-proportional rest."""
    st = IndexStorage(index_dir)
    docs = st.read(spark, "docs")
    derived = {"doc_id", "size", "text_hash", "shard"}
    dels = docs.filter(F.col("conv_id").like(conv_like)).select("conv_id", "turn_idx")
    for f in docs.schema.fields:
        if f.name in derived or f.name in ("conv_id", "turn_idx"):
            continue
        dels = dels.withColumn(f.name, F.lit(None).cast(f.dataType))
    res = apply_changes(spark, dels, index_dir)
    res["purged_pattern"] = conv_like
    return res


def compact_index(spark: SparkSession, index_dir: str, gc: str = "defer") -> dict:
    """Re-densify the id space of a delta-maintained index — the
    maintenance loop's closing bracket (reference analog: plain
    ``VACUUM FULL`` territory; the crawler relies on PostgreSQL to
    reclaim dead ``pages`` tuples, here id gaps are ours to reclaim).

    The delta path deliberately trades id density for edit-proportional
    updates: deletions leave gaps forever and ``doc_ceiling`` only grows
    (a retired id is never reissued). Gaps are individually cheap — the
    delta-varint codec absorbs them and BM25 uses the LIVE ``n_docs`` —
    but they compound across years of updates: id-indexed arrays
    (driver ``dl_of``, per-shard scatter buffers) size by the CEILING,
    and a corpus that turned over 10× carries a 10×-oversized id space.
    Compaction rewrites the index with freshly dense-ranked ids from
    the committed docs' live rows (no external corpus needed — same
    no-input contract as ``purge_index``), restoring
    ``doc_ceiling == n_docs`` and the append-only id layout a fresh
    build would produce. Runs through the staged-version flow with one
    pointer commit, so readers opened pre-compaction stay bit-identical
    through it; field sub-indexes rebuild against the new ids.

    Schedule it like any compaction: rarely, off-peak, when
    ``doc_ceiling / n_docs`` (reported by ``indexstatus``) drifts past
    ~1.5–2×. Cost is a full rebuild — that is inherent (every id
    changes), which is exactly why the routine path is the delta."""
    st_old = IndexStorage(index_dir)
    meta = st_old.read_meta()
    ceiling = int(meta.get("doc_ceiling", meta["n_docs"]))
    live = st_old.read(spark, "docs")
    derived = {"doc_id", "size", "text_hash", "shard"}
    corpus = live.select(*[c for c in live.columns if c not in derived])
    res = _full_update(
        spark, corpus, index_dir, meta, meta.get("hygiene", False), gc
    )
    res["mode"] = "compact"
    m2 = IndexStorage(index_dir).read_meta()
    res["ceiling_before"] = ceiling
    res["ceiling_after"] = int(m2.get("doc_ceiling", m2["n_docs"]))
    return res


def purge_conversations(
    spark: SparkSession, transcripts: DataFrame, index_dir: str, conv_like: str
) -> dict:
    """S8/I5: purge — remove every turn of conversations matching the
    SQL LIKE pattern and bring the index up to date (``DELETE FROM
    pages WHERE url LIKE $1``, tlgs_ctl/main.cpp:87-95; 30-day
    tombstone purge, crawler.cpp:255,480,595). Rides the delta path:
    deletions leave id gaps and rewrite only the affected shards'
    partitions."""
    kept = transcripts.filter(~F.col("conv_id").like(conv_like))
    res = incremental_update(spark, kept, index_dir)
    res["purged_pattern"] = conv_like
    return res
