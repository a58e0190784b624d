"""Index table layout + checkpoint ledger.

Production target is an Iceberg catalog (the reference's schema DDL
lives in tlgs/tlgs_ctl/main.cpp:12-83; our DDL analog is below). This
container has no Iceberg runtime, so the same tables are parquet
directories under ``index_dir`` — every reader/writer goes through this
module, so swapping in ``writeTo(...).append()`` / ``MERGE INTO`` on a
real cluster touches one file.

Tables (Iceberg DDL equivalent):

    docs             (doc_id BIGINT, conv_id STRING, turn_idx INT, role STRING,
                      tool STRING, ts TIMESTAMP, size BIGINT, text_hash BIGINT,
                      text STRING)                       PARTITIONED BY (shard)
                     -- shard = doc_id // shard_size; one doc_id-sorted
                     -- file per shard (meta docs_layout)
    doc_lengths      (shard INT, doc_id BIGINT, dl BIGINT) PARTITIONED BY (shard)
    norms            (shard INT, base BIGINT, n BIGINT, dls BINARY)
                                                         PARTITIONED BY (shard)
    term_stats       (term STRING, df BIGINT, cf BIGINT, shards ARRAY<INT>,
                      shard_bits BINARY, shard_bloom BINARY)
    first_turn_terms (shard INT, conv_id STRING, term STRING)
                                                         PARTITIONED BY (shard)
    collection_stats (n_docs BIGINT, total_dl BIGINT, avgdl DOUBLE,
                      n_terms BIGINT, n_postings BIGINT)
    postings         (shard INT, term STRING, df BIGINT, cf BIGINT,
                      block_fn ARRAY<BIGINT>, block_ftf ARRAY<BIGINT>,
                      block_fdl ARRAY<BIGINT>,
                      block_last ARRAY<BIGINT>, block_off ARRAY<BIGINT>,
                      postings BINARY,
                      dls BINARY)                        PARTITIONED BY (shard)
                     -- format 4: per 128-posting block, the last doc
                     -- id (block_last), the blob byte offset
                     -- (block_off) and the (tf, dl) Pareto front
                     -- (block_fn = front length, block_ftf/block_fdl
                     -- = flattened pairs); one term=NULL pseudo row
                     -- per shard carries the doc-length varint blob
                     -- (dls), cf = Σdl, block_last = [base]; norms /
                     -- doc_lengths / collection_stats derive from it
                     -- at finalize
    ledger           (shard INT, status STRING, n_terms BIGINT, n_postings BIGINT,
                      bytes_postings BIGINT, elapsed_s DOUBLE,
                      postings_per_sec DOUBLE, skew_factor DOUBLE,
                      lineage STRING, built_at DOUBLE)   -- per-partition checkpoint

Ledger reader contract: the ledger directory is a PLAIN PARQUET FILE
SET with no commit marker — rows are appended either by Spark jobs or
by the driver-side ``append_rows`` fast path (uniquely-named file +
atomic rename, no ``_SUCCESS``), and both kinds of files coexist in one
directory with identical schemas. Tooling must treat any visible
(non-dot/underscore) parquet file as committed; do NOT gate ledger
reads on ``_SUCCESS`` (the incremental staged ledger never has one).
"""

from __future__ import annotations

import json
import os

TABLES = (
    "docs",
    "doc_lengths",
    "norms",
    "term_stats",
    "collection_stats",
    "postings",
    "ledger",
    "first_turn_terms",
)

# Tables snapshot-versioned at PARTITION granularity (hive ``shard=``
# dirs + a per-version manifest mapping shard → partition dir). An
# incremental update rewrites only the changed shards' partitions and
# carries the rest by manifest reference — the r4 "prepare ∝ edit"
# contract extends the r3 postings machinery to every per-shard table.
PARTITIONED_TABLES = ("postings", "docs", "norms", "doc_lengths", "first_turn_terms")

# the postings table's Spark schema (format 4, see the DDL above) —
# stated once: the builder writes with it, read_sharded falls back to it
POSTINGS_SCHEMA = (
    "shard int, term string, df long, cf long, "
    "block_fn array<long>, block_ftf array<long>, block_fdl array<long>, "
    "block_last array<long>, block_off array<long>, "
    "postings binary, dls binary"
)


class IndexStorage:
    """Physical layout with a metadata-level version pointer.

    ``table_versions.json`` maps table → committed version; version 0
    is the bare ``<table>`` dir (every fresh build), version n > 0 is
    ``<table>__v{n}``. An incremental update stages NEW versions of
    the recomputed tables (``staged_versions``) while readers keep
    resolving the committed ones, then flips the pointer with ONE
    small-file write (``commit_versions``) — the object-store-safe
    replacement for the r1 staging-dir ``os.rename`` swap (rename is
    not atomic — or is a full copy — on object stores).

    The postings table is SNAPSHOT-VERSIONED at partition granularity
    (the Iceberg manifest idea, scaled down): each postings version
    carries a manifest file mapping shard → the partition dir that
    holds its segment. An incremental update writes CHANGED shards
    into a fresh ``postings__v{n}`` dir (never touching committed
    files), carries unchanged shards by manifest reference into the
    new manifest, and flips both with the same pointer commit. A
    reader opened on the old pointer keeps scanning exactly its
    snapshot's files until ``vacuum`` retires them after a grace
    period — the MVCC behavior the reference gets from PostgreSQL
    (crawler runs concurrently with the server, crawler.cpp:132-139).
    A fresh build needs no manifest: version 0 resolves to a plain
    scan of the bare ``postings`` dir. Field sub-indexes
    (``field_*/``) are derived caches rebuilt in place post-commit —
    re-open them after an update.
    """

    def __init__(
        self,
        index_dir: str,
        staged_versions: dict[str, int] | None = None,
        at_snapshot: int | None = None,
    ):
        self.index_dir = index_dir
        self._staged = dict(staged_versions or {})
        self._versions: dict[str, int] | None = None
        self._tmp_swept: set[str] = set()  # append_rows sweeps once/table
        # time travel (Iceberg VERSION AS OF analog): pin every read to
        # the version map a past commit recorded in the snapshot log.
        # Snapshot 0 is the implicit fresh-build state (bare dirs, no
        # pointer). A pinned storage is read-only.
        self.at_snapshot = at_snapshot
        if at_snapshot is not None and self._staged:
            raise ValueError("at_snapshot and staged_versions are mutually exclusive")

    def _check_writable(self, what: str) -> None:
        if self.at_snapshot is not None:
            raise RuntimeError(
                f"{what} on a time-travel reader (at_snapshot="
                f"{self.at_snapshot}) — open a current IndexStorage to mutate"
            )

    # --- version pointer ---
    def _versions_file(self) -> str:
        return os.path.join(self.index_dir, "table_versions.json")

    def _snapshot_log_file(self) -> str:
        return os.path.join(self.index_dir, "snapshot_log.json")

    def _read_log(self) -> tuple[int, list[dict]]:
        """(high-water snapshot id, entries oldest-first). The
        high-water mark survives log resets/expiry so snapshot ids are
        NEVER reused — a stale ``at_snapshot`` pin recorded before a
        reset must fail loudly, not silently rebind to a later state
        that happened to get the same id (the Iceberg rule)."""
        try:
            with open(self._snapshot_log_file()) as f:
                raw = json.load(f)
        except FileNotFoundError:
            return 0, []
        except json.JSONDecodeError as e:
            # A corrupt log must NOT be treated as "no log": resetting
            # last_id to 0 would let the next commit re-allocate ids a
            # stale at_snapshot pin may still hold.
            raise RuntimeError(
                f"corrupt snapshot log {self._snapshot_log_file()!r}: {e}; "
                "restore it (or delete it to deliberately reset history — "
                "existing at_snapshot pins then become unsafe)"
            ) from e
        if isinstance(raw, list):  # pre-high-water format
            return max((e["snapshot_id"] for e in raw), default=0), raw
        return int(raw.get("last_id", 0)), list(raw.get("entries", []))

    def snapshots(self) -> list[dict]:
        """Commit history, oldest first: [{snapshot_id, committed_at,
        versions}]. The FIRST commit also records the pre-commit state
        (the fresh build) as its own entry, so every state that ever
        served reads is addressable. Empty for an index that was never
        updated — there is no past state to travel to. Entries outside
        ``vacuum(retain_snapshots=K)``'s window (and past its grace)
        are expired when vacuum runs — the Iceberg snapshot log."""
        return self._read_log()[1]

    def _write_snapshot_log(self, entries: list[dict], last_id: int | None = None) -> None:
        if last_id is None:
            last_id = max(
                [self._read_log()[0]] + [e["snapshot_id"] for e in entries]
            )
        tmp = self._snapshot_log_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_id": last_id, "entries": entries}, f, indent=2)
        os.replace(tmp, self._snapshot_log_file())

    def versions(self) -> dict[str, int]:
        if self._versions is None:
            if self.at_snapshot is not None:
                by_id = {e["snapshot_id"]: e for e in self.snapshots()}
                if self.at_snapshot not in by_id:
                    raise KeyError(
                        f"snapshot {self.at_snapshot} is not in the log "
                        f"(known: {sorted(by_id) or '[]'}) — expired by "
                        f"vacuum, invalidated by a direct rebuild, or "
                        f"never committed"
                    )
                self._versions = {
                    k: int(v) for k, v in by_id[self.at_snapshot]["versions"].items()
                }
                return self._versions
            try:
                with open(self._versions_file()) as f:
                    self._versions = {k: int(v) for k, v in json.load(f).items()}
            except FileNotFoundError:
                self._versions = {}
        return self._versions

    def commit_versions(self, staged: dict[str, int]) -> None:
        """Flip the committed pointer to the staged versions — one
        small-file write (a single PUT on object storage) — and append
        the new state to the snapshot log so past states stay
        addressable (``at_snapshot``) until vacuum expires them. The
        first commit on a log also records the PRE-commit state (the
        fresh build), so it stays addressable and protectable too. The
        pointer write IS the commit; a crash before the log append
        loses only that snapshot's time-travel entry, never data
        (vacuum's live-path union covers the pointer state directly)."""
        self._check_writable("commit_versions")
        prev = dict(self.versions())
        merged = {**prev, **staged}
        tmp = self._versions_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f, indent=2, sort_keys=True)
        os.replace(tmp, self._versions_file())
        self._versions = merged
        import time

        now = time.time()
        last_id, log = self._read_log()
        if not log:
            # ids are allocated from the never-reused high-water mark;
            # the very first generation's fresh build gets id 0
            pre_id = last_id if last_id == 0 and not os.path.exists(
                self._snapshot_log_file()
            ) else last_id + 1
            log.append({"snapshot_id": pre_id, "committed_at": now, "versions": prev})
            last_id = pre_id
        log.append(
            {"snapshot_id": last_id + 1, "committed_at": now, "versions": merged}
        )
        self._write_snapshot_log(log, last_id + 1)

    def table_dir(self, table: str, version: int) -> str:
        return os.path.join(
            self.index_dir, table if version == 0 else f"{table}__v{version}"
        )

    def path(self, table: str) -> str:
        v = self._staged.get(table)
        if v is None:
            v = self.versions().get(table, 0)
        return self.table_dir(table, v)

    def exists(self, table: str) -> bool:
        if table in PARTITIONED_TABLES and self.read_manifest(table) is not None:
            srcs = self.sources(table)
            return any(os.path.isdir(base) for base, _ in srcs)
        if table == "postings":
            srcs = self.postings_sources()
            return any(os.path.isdir(base) for base, _ in srcs)
        p = self.path(table)
        return os.path.isdir(p) and (
            os.path.exists(os.path.join(p, "_SUCCESS"))
            or any(f.endswith(".parquet") or f.startswith("shard=") for f in os.listdir(p))
        )

    def complete(self, table: str) -> bool:
        """Strict completion check: the table dir carries Spark's
        _SUCCESS marker. ``exists`` accepts a partially-written dir
        (any data file), which is the right laxity for incremental
        probes but NOT for the prepare-phase resume marker — a build
        killed mid-docs-write must re-run prepare."""
        p = self.path(table)
        return os.path.isdir(p) and os.path.exists(os.path.join(p, "_SUCCESS"))

    def read(self, spark, table: str):
        if table in PARTITIONED_TABLES:
            return self.read_sharded(spark, table)
        return spark.read.parquet(self.path(table))

    # --- per-table manifests (partition-granular snapshots) ---
    def _manifest_file(self, table: str, version: int) -> str:
        name = (
            f"{table}_manifest.json"
            if version == 0
            else f"{table}_manifest__v{version}.json"
        )
        return os.path.join(self.index_dir, name)

    def table_version(self, table: str) -> int:
        v = self._staged.get(table)
        if v is None:
            v = self.versions().get(table, 0)
        return v

    def postings_version(self) -> int:
        return self.table_version("postings")

    def _read_manifest_at(self, table: str, version: int) -> dict[int, str] | None:
        try:
            with open(self._manifest_file(table, version)) as f:
                return {int(k): v for k, v in json.load(f).items()}
        except FileNotFoundError:
            return None

    def read_manifest(self, table: str) -> dict[int, str] | None:
        """shard → index_dir-relative partition dir for the resolved
        version of ``table``; None ⇒ no manifest (plain dir scan of
        the version's base dir — every fresh build)."""
        return self._read_manifest_at(table, self.table_version(table))

    def write_manifest(self, table: str, mapping: dict[int, str]) -> None:
        self._check_writable("write_manifest")
        f_ = self._manifest_file(table, self.table_version(table))
        tmp = f_ + ".tmp"
        with open(tmp, "w") as f:
            json.dump({str(k): v for k, v in sorted(mapping.items())}, f, indent=2)
        os.replace(tmp, f_)

    def remove_manifest(self, table: str) -> None:
        """Drop the resolved version's manifest (a direct full rebuild
        rewrote the whole table into its base dir, so a surviving
        manifest would keep resolving shards to superseded files)."""
        self._check_writable("remove_manifest")
        try:
            os.remove(self._manifest_file(table, self.table_version(table)))
        except FileNotFoundError:
            pass

    # back-compat postings-named wrappers (r3 API)
    def read_postings_manifest(self) -> dict[int, str] | None:
        return self.read_manifest("postings")

    def write_postings_manifest(self, mapping: dict[int, str]) -> None:
        self.write_manifest("postings", mapping)

    def _postings_manifest_file(self, version: int) -> str:
        return self._manifest_file("postings", version)

    def sources(self, table: str) -> list[tuple[str, list[int] | None]]:
        """[(base_dir, shard_ids | None)] — the physical scan plan of
        the resolved snapshot of a partition-granular table, grouped by
        base dir so each group reads with one ``basePath`` (hive
        partition column intact). ``None`` shards ⇒ whole-dir scan (no
        manifest)."""
        man = self.read_manifest(table)
        if man is None:
            return [(self.table_dir(table, self.table_version(table)), None)]
        by_base: dict[str, list[int]] = {}
        for shard, rel in man.items():
            base = os.path.join(self.index_dir, os.path.dirname(rel))
            by_base.setdefault(base, []).append(shard)
        return [(b, sorted(s)) for b, s in sorted(by_base.items())]

    def postings_sources(self) -> list[tuple[str, list[int] | None]]:
        return self.sources("postings")

    def read_sharded(self, spark, table: str):
        """Manifest-aware scan of a partition-granular table: per base
        dir, read exactly the referenced shard partitions (basePath
        keeps the hive ``shard`` column); union across base dirs. One
        base dir — the common case — stays a single plain parquet scan."""
        srcs = self.sources(table)
        dfs = []
        for base, shards in srcs:
            if shards is None:
                dfs.append(spark.read.parquet(base))
            else:
                # manifest-referenced shards MUST exist: an absent dir
                # means corruption (over-eager vacuum, manual deletion,
                # a lost mount) — scanning around it would silently
                # serve incomplete results and wrong global stats. On a
                # non-local index dir the os-level check can't see the
                # files; pass every path through and let Spark's own
                # missing-path error be the loud failure.
                paths = [os.path.join(base, f"shard={s}") for s in shards]
                if os.path.isdir(self.index_dir):
                    missing = [p for p in paths if not os.path.isdir(p)]
                    if missing:
                        raise FileNotFoundError(
                            f"{table} manifest references missing shard "
                            f"partition(s): {missing[:5]}"
                            f"{'...' if len(missing) > 5 else ''} "
                            f"({len(missing)} of {len(shards)} under {base})"
                        )
                if paths:
                    dfs.append(spark.read.option("basePath", base).parquet(*paths))
        if not dfs:
            if table == "postings":
                return spark.createDataFrame([], POSTINGS_SCHEMA)
            return spark.read.parquet(self.path(table))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def read_postings(self, spark):
        return self.read_sharded(spark, "postings")

    def shard_dir(self, table: str, shard: int) -> str:
        """The partition dir that holds (or will hold) ``shard`` under
        the resolved snapshot — manifest entry if present, else the
        version's base dir."""
        man = self.read_manifest(table)
        if man is not None and shard in man:
            return os.path.join(self.index_dir, man[shard])
        return os.path.join(
            self.table_dir(table, self.table_version(table)), f"shard={shard}"
        )

    def postings_shard_dir(self, shard: int) -> str:
        return self.shard_dir("postings", shard)

    def append_rows(self, table: str, arrow_table) -> bool:
        """Append a small driver-side batch as ONE uniquely-named
        parquet file (hidden temp + atomic rename) — the
        concurrent-writer-safe append for local index dirs.

        Spark's ``mode("append")`` stages every job inside the SAME
        ``<dir>/_temporary`` and deletes that staging dir at job
        commit/abort, so two concurrent appends to one directory can
        yank each other's attempt dirs mid-write (observed: two
        builders finishing shard batches together lose a ledger batch
        with "chmod: cannot access ... _temporary/...: No such file").
        A plain unique-file write has no shared staging state, and the
        rename keeps half-written files invisible to readers (Spark
        ignores dot/underscore-prefixed files).

        Returns False when the index dir is not a local path — the
        caller falls back to the Spark append (single-writer object
        stores; concurrent writers there need a zero-rename committer
        anyway, which is the documented Iceberg swap point).
        """
        self._check_writable("append_rows")
        if not os.path.isdir(self.index_dir):
            return False
        import uuid

        import pyarrow.parquet as pq

        d = self.path(table)
        os.makedirs(d, exist_ok=True)
        # sweep tmp files stranded by a crash between write_table and
        # os.replace in an earlier build — readers ignore dot-files so
        # they were never a correctness issue, but nothing else ever
        # deleted them. Age-gated so a CONCURRENT builder's in-flight
        # tmp (seconds old) is never yanked mid-rename. Once per
        # (instance, table): the dir gains one file per append, so an
        # every-append scandir would make appends quadratic over the
        # index's lifetime to re-find nothing.
        if table not in self._tmp_swept:
            self._tmp_swept.add(table)
            import time as _time

            cutoff = _time.time() - 3600.0
            for e in os.scandir(d):
                if e.name.startswith(".") and e.name.endswith(".tmp") and e.is_file():
                    try:
                        if e.stat().st_mtime < cutoff:
                            os.remove(e.path)
                    except OSError:
                        pass  # concurrent sweep/rename won the race
        name = f"part-{uuid.uuid4().hex}-driver.zstd.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(arrow_table, tmp, compression="zstd")
        os.replace(tmp, os.path.join(d, name))
        return True

    def write(self, df, table: str, mode: str = "overwrite", partition_by: list[str] | None = None):
        self._check_writable("write")
        w = df.write.mode(mode)
        if partition_by:
            # every st.write is a WHOLE-TABLE (or fresh-staged-dir)
            # write: pin static overwrite per-write so the build's
            # session-level dynamic mode (postings phase 2) can never
            # leave stale partition dirs behind a re-grid
            w = w.partitionBy(*partition_by).option(
                "partitionOverwriteMode", "static"
            )
        if table == "docs":
            # unique-per-row text dominates the table; the dictionary
            # attempt always falls back, costing hash time for zero
            # bytes (measured: identical file size, ~10% faster write)
            w = w.option("parquet.enable.dictionary", "false")
        w.parquet(self.path(table))

    # --- config sidecar (shard geometry etc.) ---
    # index_meta is VERSIONED like the staged tables: an incremental
    # update writes the new meta to index_meta__v{n}.json while
    # readers (and the update's own reuse guards) keep resolving the
    # committed file; commit_versions flips it with the same pointer
    # write. Version 0 is the bare index_meta.json.
    def _meta_file(self, version: int) -> str:
        name = "index_meta.json" if version == 0 else f"index_meta__v{version}.json"
        return os.path.join(self.index_dir, name)

    def write_meta(self, meta: dict) -> None:
        self._check_writable("write_meta")
        os.makedirs(self.index_dir, exist_ok=True)
        v = self._staged.get("index_meta")
        if v is None:
            v = self.versions().get("index_meta", 0)
        with open(self._meta_file(v), "w") as f:
            json.dump(meta, f, indent=2, sort_keys=True)

    def read_meta(self) -> dict:
        v = self._staged.get("index_meta")
        if v is None:
            v = self.versions().get("index_meta", 0)
        with open(self._meta_file(v)) as f:
            return json.load(f)

    # --- deferred GC (reader-safe) ---
    # A SearchIndex opened before an incremental update holds resolved
    # committed paths (and cached pyarrow datasets); deleting superseded
    # version dirs at commit time would make it start erroring
    # mid-query (r2 ADVICE). Supersede therefore QUEUES paths into
    # gc_pending.json; ``vacuum`` deletes them later, after a grace
    # period, skipping anything the current commit still references.
    def _gc_file(self) -> str:
        return os.path.join(self.index_dir, "gc_pending.json")

    def _gc_pending(self) -> list[dict]:
        try:
            with open(self._gc_file()) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return []

    def gc_queue(self, paths: list[str]) -> None:
        self._check_writable("gc_queue")
        pending = self._gc_pending()
        import time

        now = time.time()
        known = {e["path"] for e in pending}
        for p in paths:
            if p not in known and os.path.exists(p):
                pending.append({"path": p, "queued_at": now})
        tmp = self._gc_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(pending, f, indent=2)
        os.replace(tmp, self._gc_file())

    def _paths_for(self, vmap: dict[str, int]) -> set[str]:
        """Every path one version map references: table dirs, its meta
        file, each partition-granular table's manifest file, and the
        exact partition dirs of its snapshot (the whole base dir when
        that version has no manifest — a fresh build's plain scan)."""
        paths = {self.table_dir(t, vmap.get(t, 0)) for t in TABLES}
        paths.add(self._meta_file(vmap.get("index_meta", 0)))
        for t in PARTITIONED_TABLES:
            tv = vmap.get(t, 0)
            paths.add(self._manifest_file(t, tv))
            man = self._read_manifest_at(t, tv)
            if man is None:
                paths.add(self.table_dir(t, tv))
            else:
                paths.update(os.path.join(self.index_dir, rel) for rel in man.values())
        return paths

    def _retained_snapshots(
        self, retain_snapshots: int, grace_s: float, now: float
    ) -> list[dict]:
        """Log entries that must stay addressable: the newest
        ``retain_snapshots`` plus any older entry whose commit is still
        inside the grace window — an addressable snapshot's files are
        always protected, so addressability and file liveness can
        never diverge."""
        log = self.snapshots()
        window = log[-retain_snapshots:] if retain_snapshots > 0 else []
        ids = {e["snapshot_id"] for e in window}
        older = [
            e
            for e in log
            if e["snapshot_id"] not in ids and now - e["committed_at"] < grace_s
        ]
        return sorted(older + window, key=lambda e: e["snapshot_id"])

    def _live_paths(self, retained: list[dict] | None = None) -> set[str]:
        """Every path the CURRENT commit references — never vacuumed
        even if queued (defense against a buggy queue entry) — plus
        the paths of every retained snapshot-log entry, so time-travel
        readers inside the retention window keep working. The pointer
        state is always included directly: it covers the crash window
        where a commit's log append was lost."""
        live = self._paths_for(self.versions())
        for e in retained or []:
            live |= self._paths_for(e["versions"])
        return live

    def vacuum(self, grace_s: float = 0.0, retain_snapshots: int = 1) -> list[str]:
        """Delete queued superseded paths older than ``grace_s``
        seconds. Returns the paths actually removed. Run this from a
        maintenance entry point once in-flight readers are known to be
        newer than the grace window (the Iceberg expire_snapshots
        analog). ``retain_snapshots=K`` protects every path the newest
        K snapshot-log entries reference; older entries stay
        addressable (and protected) until their commit age passes
        ``grace_s``, then expire from the log — so ``at_snapshot``
        reads inside the window survive vacuum and reads outside it
        fail loudly at open (KeyError) instead of erroring mid-scan."""
        self._check_writable("vacuum")
        import shutil
        import time

        pending = self._gc_pending()
        self._versions = None  # re-resolve the committed pointer
        now = time.time()
        retained = self._retained_snapshots(retain_snapshots, grace_s, now)
        live = self._live_paths(retained)
        log = self.snapshots()
        if len(retained) < len(log):
            self._write_snapshot_log(retained)
        if not pending:
            return []
        removed, kept = [], []

        def _referenced(p: str) -> bool:
            # p is live itself, still CONTAINS a live path (a base dir
            # with at least one referenced shard partition), or sits
            # INSIDE a live dir (a shard partition of a retained
            # snapshot whose version scans the whole base dir)
            sep = os.sep
            return any(
                p == l or l.startswith(p + sep) or p.startswith(l + sep) for l in live
            )

        for e in pending:
            if _referenced(e["path"]):
                # still referenced by the current commit (e.g. an old
                # base dir holding reused shards): keep the entry so a
                # later vacuum retries once it frees up
                kept.append(e)
                continue
            if now - e["queued_at"] >= grace_s:
                if os.path.isdir(e["path"]):
                    shutil.rmtree(e["path"], ignore_errors=True)
                elif os.path.exists(e["path"]):
                    os.remove(e["path"])
                removed.append(e["path"])
            else:
                kept.append(e)
        tmp = self._gc_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(kept, f, indent=2)
        os.replace(tmp, self._gc_file())
        return removed

    def postings_dirs(self) -> list[str]:
        """The EXACT directories the committed postings snapshot
        references: per-shard manifest entries, or the bare version
        dir when no manifest exists. (Deliberately no parent dirs —
        vacuum skips any queued path that still CONTAINS a live one,
        so a base dir with one live shard survives while its
        superseded sibling shard dirs can go.)"""
        man = self.read_postings_manifest()
        if man is None:
            return [self.table_dir("postings", self.postings_version())]
        return sorted({os.path.join(self.index_dir, rel) for rel in man.values()})

    def completed_shards(self, spark) -> set[int]:
        """Shards with a checkpoint-ledger row (resume = skip these)."""
        if not self.exists("ledger"):
            return set()
        rows = self.read(spark, "ledger").select("shard").distinct().collect()
        return {r.shard for r in rows}


def index_status(spark, index_dir: str) -> dict:
    """Admin status report — the ``tlgs_ctl status`` analog
    (tlgs/tlgs_ctl/main.cpp:96-110: page counts, stale counts).
    Returns corpus stats, ledger/build summary, pending shards."""
    from pyspark.sql import functions as F

    st = IndexStorage(index_dir)
    meta = st.read_meta()
    # collection_stats is a finalize product —
    # a status probe against an in-flight build reports it as pending
    if st.exists("collection_stats"):
        stats = st.read(spark, "collection_stats").collect()[0].asDict()
    else:
        stats = {"status": "pending finalize"}
    done = st.completed_shards(spark)
    pending = [s for s in range(meta["n_shards"]) if s not in done]
    out = {
        "index_dir": index_dir,
        "meta": meta,
        "collection_stats": stats,
        "shards_done": len(done),
        "shards_pending": pending,
        # time-travel surface: which past states are addressable, and
        # how much superseded data awaits vacuum
        "snapshots": [
            {"snapshot_id": e["snapshot_id"], "committed_at": e["committed_at"]}
            for e in st.snapshots()
        ],
        "gc_pending": len(st._gc_pending()),
        # id-space drift: deltas leave gaps and the ceiling only grows;
        # ratio drifting past ~1.5–2× is the compact_index signal
        "id_space": {
            "doc_ceiling": int(meta.get("doc_ceiling", meta["n_docs"])),
            "n_docs_live": int(meta["n_docs"]),
            "ceiling_ratio": round(
                int(meta.get("doc_ceiling", meta["n_docs"]))
                / max(1, int(meta["n_docs"])),
                3,
            ),
        },
    }
    if st.exists("ledger"):
        led = (
            st.read(spark, "ledger")
            .agg(
                F.sum("n_postings").alias("postings"),
                F.sum("bytes_postings").alias("bytes"),
                F.max("skew_factor").alias("max_skew"),
                F.min("built_at").alias("first_built"),
                F.max("built_at").alias("last_built"),
            )
            .collect()[0]
        )
        out["ledger"] = {
            "total_postings": led.postings,
            "postings_bytes": led.bytes,
            "max_skew_factor": led.max_skew,
            "first_built": led.first_built,
            "last_built": led.last_built,
        }
    return out
