"""Bucketed-parquet keyed table with LWW merge — the engine's
replicated-table store.

Plays the role of the reference's Postgres ``cdc_{table}`` tables
(``docker/postgres/init-db.sql:146-195``): current row state per key,
metadata columns ``_cdc_deleted`` / ``_cdc_timestamp_micros`` /
``_last_event_id`` / ``_ttl_expiry_timestamp_us``, maintained by the
conditional LWW upsert (``timestamp_conflict_resolver.py:247-285``).

This container ships no Delta/Iceberg, so MERGE is implemented
directly over parquet with the **LSM shape** those formats use for
merge-on-read:

- rows live under ``bucket = pmod(xxhash64(key), n)``; each bucket has
  a *base* file set plus an ordered list of *delta* file sets;
- a merge LWW-reduces the incoming batch (intra-batch dedup) and
  appends it as a new delta, partitioned by bucket — **cost is
  O(batch), never O(table)**: base files are not read and not
  rewritten.  The batch is shuffled once, by bucket; the LWW aggregate
  reuses that clustering, so a merge is two Spark jobs (the shuffle
  stage, then the reduce-and-write);
- a TRUNCATE is a merge too: ``truncate_tombstones`` turns it into a
  soft-delete tombstone per key it beats, merged in the same commit as
  the batch's row events, so the change feed carries it like a DELETE;
- reads union base+deltas and LWW-reduce per key (merge-on-read);
  buckets with no deltas skip the reduce;
- a bucket whose delta count exceeds ``compact_threshold`` is
  compacted (base∪deltas → LWW reduce → new base) — the amortized
  O(table/threshold) background cost that keeps reads fast.

Every file is a key-sorted run (the SSTable layout of an LSM tree):
merge, compaction, ``overwrite`` and ``delete_where`` share one write
path (``_cluster`` then ``_write``) that shuffles by bucket once,
LWW-reduces grouped on ``(_bucket, *key_cols)`` and writes each bucket
file sorted on that same order — the aggregate's sort is the file's
sort, so the write adds none.  Per-file key min/max are therefore
tight, and the sorted leading key column delta-encodes.

At 100 TB this is exactly the upsert cost model of Delta/Hudi MoR:
ingest throughput is bounded by batch size, not table size; bucket
count spreads compaction work (thousands of buckets for TB-scale
tables — set ``num_buckets`` accordingly; it is fixed at table
creation like any hash-bucketing scheme).

File format: zstd parquet with v2 data pages and no dictionary on the
leading key column (``DELTA_BINARY_PACKED`` for an int key,
``DELTA_BYTE_ARRAY`` for a string one), one file per touched bucket per
commit, written straight into a fresh uuid dir (``_write`` is the one
writer; nothing is ever overwritten in place).  Snappy or v1-page files
from older commits read and compact alongside them.

One commit path: every commit doc (the ``_manifest.json`` pointer and
its ``_log/manifest.v{N}.json`` copy) is read through ``_doc`` and
written through ``_commit``; no other module opens these files.  A
writer reads the current doc once, writes its data dirs, then hands
the modified doc to ``_commit``, which numbers the new version from
that same doc, swaps ``_manifest.json`` with one fsync'd
``os.replace`` (``durable.write_json``), writes the log copy and runs
one GC pass.  A crash before the swap leaves the previous snapshot
intact, which is what makes ``foreachBatch`` replays idempotent (C5;
``tests/test_plan_shapes.py`` crashes between the data write and the
commit); a crash after it can lose only the log copy, and ``_doc``
lets the current doc answer for its own version.  Orphaned dirs from
crashed writes are garbage-collected on the next commit.

Writers in one process take turns: every writer (``merge`` with the
compaction it triggers, ``compact``, ``overwrite``, ``delete_where``)
holds its table's in-process lock (``_writer``, reentrant, keyed on the
table's real path) from its doc read to ``_commit``'s return, so the
stream, the API threads and the scheduler of one service never commit
on a doc another writer has moved.  Writers in separate processes are
not supported: the version check a second process would need is not
made.

A commit doc holds:

- ``buckets``: bucket id (str) → ``{"base": dir|None, "deltas": [dir,
  ...]}``; a bucket a rewrite emptied keeps an entry with no dirs;
- ``num_buckets`` and ``key_cols``, fixed at the first commit;
- ``version``, ``updated_at``, and ``op``/``added`` (the change-feed
  provenance, see ``read_changes``);
- ``schema``: the columns of every file the doc names, as
  ``StructType.jsonValue()`` with every field nullable (Delta's
  ``metaData`` action).  A commit widens the previous doc's schema by
  the columns of the files it adds, in that order; one that rewrites
  every bucket (``overwrite``) replaces it.  A column keeps the type it
  was first written with: a write that changes it raises before its
  commit.  Reads name their dirs and this schema, so planning a read
  runs no Spark job, and a committed table whose buckets hold no file
  still reads as an empty frame with its columns.  A doc written before
  schemas were recorded has none; its files' footers are merged
  (``mergeSchema``, one Spark job) until its table's next commit
  records the result;
- ``txn``: ``{consumer_id: source_version}``, the position of every
  change-feed consumer that writes this table (Delta's
  ``SetTransaction``).  A consumer passes its new position as
  ``merge(..., txn=...)`` or ``overwrite(..., txn=...)``, so the
  position commits atomically with the state it produced and a crash
  can never leave one without the other.  Every commit carries the
  previous map forward; ``overwrite`` replaces it with the caller's
  entry alone, since the state the other positions described is gone.

Filesystem note: commit atomicity relies on POSIX ``os.replace`` of
the single manifest file (data dirs are immutable once written, so
only the pointer swap needs atomicity).  On an object store (S3/GCS)
replace that one operation with a conditional PUT (If-Match /
x-goog-if-generation-match) or a DynamoDB/ZooKeeper-style commit lock
— the same adaptation every manifest-pointer table format (Delta,
Iceberg) ships for S3.  Everything else is plain immutable-object
writes that object stores already provide.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cass_cdc_pg_spark.durable import write_json
from cass_cdc_pg_spark.operators.lww import lww_latest

META_COLS = (
    "_cdc_deleted",
    "_cdc_timestamp_micros",
    "_last_event_id",
    "_ttl_expiry_timestamp_us",
)


def _nullable(t: T.DataType) -> T.DataType:
    """*t* as a parquet scan reads it: every field, element and map
    value nullable."""
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                             for f in t.fields])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _widen(schema: T.StructType | None, written: DataFrame) -> T.StructType:
    """*schema*'s columns, then the columns of *written* (a ``_write``
    input, ``_bucket`` aside) that it lacks — what merging the footers
    of the old files and the new ones yields.  A column both hold must
    keep its type (a nested struct counts as one type): a conflict
    raises ValueError, which every later read would otherwise hit."""
    new = _nullable(T.StructType([f for f in written.schema.fields if f.name != "_bucket"]))
    if schema is None:
        return new
    have = {f.name: f.dataType for f in schema.fields}
    for f in new.fields:
        if have.get(f.name, f.dataType) != f.dataType:
            raise ValueError(
                f"column {f.name!r} is {have[f.name].simpleString()} in the keyed "
                f"table, but this write has {f.dataType.simpleString()}")
    return T.StructType(schema.fields + [f for f in new.fields if f.name not in have])


_WRITER_LOCKS: dict[str, threading.RLock] = {}
_WRITER_LOCKS_GUARD = threading.Lock()


def _writer(method):
    """Run *method*, a ``KeyedTable`` writer, holding the process-wide
    reentrant lock of its table's real path (module docstring).  One
    lock per table, so writers of different tables never wait on each
    other, and reentrant, so a merge keeps it through the compaction it
    triggers."""

    @functools.wraps(method)
    def locked(self, *args, **kwargs):
        key = os.path.realpath(self.path)
        with _WRITER_LOCKS_GUARD:
            lock = _WRITER_LOCKS.setdefault(key, threading.RLock())
        with lock:
            return method(self, *args, **kwargs)

    return locked


def committed_layout(path: str) -> tuple[list[str], int] | None:
    """``(key_cols, num_buckets)`` of the keyed table committed at
    *path*, or None when nothing is committed there — the source probe
    of the health check (``monitoring.HealthCheckService.check_source``).
    It opens the table's commit doc only, so it needs no Spark session
    and creates nothing."""
    t = KeyedTable(None, path, [])
    return (t.key_cols, t.num_buckets) if t.exists() else None


class KeyedTable:
    """Upsert-maintained current-state table keyed on *key_cols*."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        num_buckets: int = 32,
        compact_threshold: int = 8,
        keep_versions: int = 2,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.key_cols = list(key_cols)
        self.num_buckets = num_buckets
        self.compact_threshold = compact_threshold
        self.keep_versions = keep_versions
        # bucket count and key columns are properties of the TABLE,
        # fixed at creation (like any hash-bucketing scheme) — the
        # committed values override the constructor args, so opening a
        # table with the wrong ones can't mis-prune reads or mis-route
        # merges.  Opening creates nothing: the first commit makes the
        # directory, so ``KeyedTable(...).exists()`` is a safe probe.
        doc = self._doc()
        self.num_buckets = doc.get("num_buckets") or self.num_buckets
        self.key_cols = list(doc.get("key_cols") or self.key_cols)

    # -- the commit protocol -------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return f"{self.path}/_manifest.json"

    @property
    def _log_dir(self) -> str:
        return f"{self.path}/_log"

    def _log_path(self, version: int) -> str:
        return f"{self._log_dir}/manifest.v{version:012d}.json"

    def _doc(self, version: int | None = None) -> dict:
        """The commit doc of *version* (default: the current one) — the
        one reader of the table's commit files (fields: module
        docstring).

        A retained version comes from ``_log/``; the current doc also
        answers for its own version when the crash window after the
        pointer swap ate its log copy; anything else raises
        FileNotFoundError.  Version 0 is the table before its first
        commit — no buckets, whatever was committed since."""
        if version == 0:
            return {"buckets": {}, "version": 0}
        if version is not None:
            try:
                with open(self._log_path(version)) as f:
                    return json.load(f)
            except FileNotFoundError:
                pass
        try:
            with open(self._manifest_path) as f:
                doc = json.load(f)
        except FileNotFoundError:
            doc = {"buckets": {}, "version": 0}
        if version is None or version == doc["version"]:
            return doc
        raise FileNotFoundError(
            f"version {version} not retained at {self.path} "
            f"(keep_versions={self.keep_versions}, current={doc['version']})"
        )

    def _commit(
        self,
        base_doc: dict,
        buckets: dict[str, dict],
        op: str,
        added: list[str],
        txn: dict[str, int] | None = None,
        schema: T.StructType | None = None,
    ) -> None:
        """Commit *buckets* as the version after *base_doc* — the doc
        the caller read and modified, so the version number needs no
        second read.  The ``_manifest.json`` swap is the commit point;
        the log copy follows it (a crash in between costs only that
        copy, see ``_doc``), then one GC pass.  ``op`` and ``added``
        are the change-feed provenance: what kind of commit this was
        and which data dirs it ADDED (see ``read_changes``).  *txn* is
        the new doc's whole consumer-position map, and *schema* its
        file schema (``_widen``); None carries *base_doc*'s forward."""
        doc = {
            "buckets": buckets,
            "num_buckets": self.num_buckets,
            "key_cols": self.key_cols,
            "updated_at": time.time(),
            "version": base_doc["version"] + 1,
            "op": op,
            "added": added,
            "schema": base_doc.get("schema") if schema is None else schema.jsonValue(),
            "txn": base_doc.get("txn", {}) if txn is None else txn,
        }
        os.makedirs(self._log_dir, exist_ok=True)
        write_json(self._manifest_path, doc)
        write_json(self._log_path(doc["version"]), doc)
        self._gc(doc)

    # -- versioned history / time travel ------------------------------------

    def _current_version(self) -> int:
        return self._doc()["version"]

    def commit_id(self) -> tuple[int, float | None]:
        """``(version, updated_at)`` of the current commit, from one
        read of its doc: the name of one immutable snapshot.  A table
        dropped and re-created at the same path restarts its versions,
        so the version alone could name two snapshots; ``updated_at``
        tells them apart.  ``(0, None)`` before the first commit."""
        doc = self._doc()
        return doc["version"], doc.get("updated_at")

    @property
    def txn(self) -> dict[str, int]:
        """The committed position of every change-feed consumer that
        writes this table: ``{consumer_id: source_version}``."""
        return self._doc().get("txn", {})

    def _log_versions(self) -> list[int]:
        try:
            names = os.listdir(self._log_dir)
        except FileNotFoundError:
            return []
        return sorted(
            int(n[len("manifest.v"):-len(".json")])
            for n in names
            if n.startswith("manifest.v") and n.endswith(".json")
        )

    def history(self) -> list[dict]:
        """Retained versions, ascending: version, updated_at,
        n_buckets.  The time-travel analog of a manifest-pointer
        format's transaction log (Delta's ``DESCRIBE HISTORY``); the
        reference instead audits mutations to a Postgres audit table
        (``src/services/audit_service.py``) — same operational need,
        storage-level here so reads can actually bind to a version."""
        out = []
        for v in self._log_versions():
            try:
                doc = self._doc(v)
            except (FileNotFoundError, json.JSONDecodeError):
                continue
            out.append(
                {
                    "version": v,
                    "updated_at": doc.get("updated_at"),
                    "n_buckets": len(doc["buckets"]),
                }
            )
        return out

    def read_changes(
        self, since_version: int, to_version: int | None = None
    ) -> DataFrame | None:
        """Change feed: the rows upserted by every **merge** commit in
        ``(since_version, to_version]``, stamped with
        ``_change_version`` — the Delta-CDF analog over the version
        log, and the input contract of the incremental materialized
        views (``streaming/incremental_view.py``).

        Cost is O(changed rows): each merge commit's ``added`` delta
        dirs are read directly — base files are never touched, no
        snapshot diff, no shuffle (the reader applies its own LWW
        fold if it needs net-effect rather than per-commit rows).
        Deletes arrive as rows with ``_cdc_deleted = true`` (the
        tombstone contract of the merge path), and so does a TRUNCATE:
        it commits as a merge of one tombstone per row it beats
        (``truncate_tombstones``).  The feed is therefore
        self-contained for downstream state maintenance.

        Compaction commits are skipped (they rewrite bytes, not
        state).  Any OTHER commit kind in the range — retention
        rewrites, GDPR erasure, TTL sweeps (``op="rewrite"``) —
        raises ``ValueError``: those change state without leaving
        per-row deltas, so a feed consumer must resync from a
        snapshot, exactly the "non-append change breaks streaming
        reads" contract of Delta/Iceberg CDF.  A range older than
        *keep_versions* raises ``FileNotFoundError``."""
        to_version = (
            self._current_version() if to_version is None else to_version
        )
        dirs: list[tuple[str, int]] = []
        for v in range(since_version + 1, to_version + 1):
            doc = self._doc(v)
            op = doc.get("op", "unknown")
            if op == "compact":
                continue
            if op != "merge":
                raise ValueError(
                    f"version {v} is a {op!r} commit — state changed "
                    "without per-row deltas; resync from read("
                    f"version={v}) and restart the feed from there"
                )
            dirs.extend((d, v) for d in doc.get("added", ()))
        if not dirs:
            return None
        # the range holds merges and compactions only, so the last doc's
        # schema covers every commit's files; older ones backfill NULL
        schema = self._schema(doc)
        out = None
        for d, v in dirs:
            part = (
                self.spark.read.schema(schema).parquet(f"{self.path}/{d}")
                .drop("bucket")
                .withColumn("_change_version", F.lit(v).cast("int"))
            )
            out = part if out is None else out.unionByName(part)
        return out

    # -- helpers ------------------------------------------------------------

    def _require_keys(self) -> None:
        # A legacy manifest without persisted key_cols plus an empty
        # constructor list would make _reduce group by NOTHING —
        # lww_latest would collapse every bucket to one row.  Refuse
        # loudly rather than silently destroy data (a maintenance verb
        # like compact() rewrites bases durably).
        if not self.key_cols:
            raise ValueError(
                f"KeyedTable at {self.path} has no key columns: the "
                "manifest predates key_cols persistence and none were "
                "passed to the constructor. Re-open the table with "
                "explicit key_cols before reading or compacting."
            )

    def _bucket_col(self):
        self._require_keys()
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.num_buckets))

    def exists(self) -> bool:
        return bool(self._doc()["buckets"])

    def bucket_ids(self, df: DataFrame) -> list[int]:
        """Distinct bucket ids of the keys in *df* (one Spark job) — the
        bucket hash stays private to this table; callers prune their
        ``read(buckets=...)`` with the ids it returns."""
        return [r[0] for r in df.select(self._bucket_col()).distinct().collect()]

    def _bucket_dirs(self, b: str, entry: dict) -> list[str]:
        dirs = []
        if entry.get("base"):
            dirs.append(f"{self.path}/{entry['base']}/bucket={b}")
        dirs.extend(f"{self.path}/{d}/bucket={b}" for d in entry.get("deltas", ()))
        return dirs

    def _reduce(self, df: DataFrame) -> DataFrame:
        self._require_keys()
        return lww_latest(
            df,
            self.key_cols,
            ts_col="_cdc_timestamp_micros",
            tiebreak_col="_last_event_id",
        )

    def _schema(self, doc: dict) -> T.StructType | None:
        """The schema *doc*'s files read with: the one its commit
        recorded, None when the doc names no file (version 0, a table
        never committed).  A doc written before schemas were recorded
        merges its files' footers instead, the one ``mergeSchema`` read
        (a Spark job); the result stays on *doc*, so a commit built on
        it records it."""
        if doc.get("schema") is None:
            dirs = [d for b, e in doc["buckets"].items() for d in self._bucket_dirs(b, e)]
            if dirs:
                doc["schema"] = self.spark.read.option("mergeSchema", "true").parquet(
                    *sorted(dirs)).schema.jsonValue()
        return None if doc.get("schema") is None else T.StructType.fromJson(doc["schema"])

    def _scan(self, entries, schema: T.StructType) -> tuple[DataFrame, bool]:
        """The unreduced union of the base and delta files of *entries*
        (``(bucket, manifest entry)`` pairs), read with *schema* (the
        doc's: files written before an ADD_COLUMN backfill NULL), and
        whether any of them carries deltas.  Entries with no files read
        as an empty frame of *schema*."""
        dirs: list[str] = []
        has_deltas = False
        for b, entry in entries:
            dirs.extend(self._bucket_dirs(b, entry))
            has_deltas = has_deltas or bool(entry.get("deltas"))
        return self.spark.read.schema(schema).parquet(*sorted(set(dirs))), has_deltas

    def _cluster(self, df: DataFrame, n_buckets: int, reduce: bool = True) -> DataFrame:
        """*df* with its ``_bucket``, shuffled once by bucket into at
        most *n_buckets* tasks and, with *reduce*, LWW-reduced grouped
        on ``("_bucket", *key_cols)`` — the input of every ``_write``
        that partitions by bucket.  The aggregate reuses the bucket
        clustering (no exchange of its own), and its sort on
        ``(_bucket, *key_cols)`` is the sort ``_write`` asks for, so
        Spark drops the writer's; without *reduce* (rows reduced
        already) the writer's sort is the one sort."""
        parts = max(1, min(n_buckets, self.spark.sparkContext.defaultParallelism))
        df = df.withColumn("_bucket", self._bucket_col()).repartition(parts, "_bucket")
        if not reduce:
            return df
        return lww_latest(
            df,
            ["_bucket", *self.key_cols],
            ts_col="_cdc_timestamp_micros",
            tiebreak_col="_last_event_id",
        )

    def read(
        self, buckets: list[int] | None = None, version: int | None = None
    ) -> DataFrame:
        """State per key (incl. soft-deleted tombstones) — the current
        snapshot, or, with *version*, a retained historical one (time
        travel: data dirs are immutable and the version log pins which
        ones each version saw, so a historical read is just a scan of
        that version's dir set; raises FileNotFoundError for a version
        GC'd past *keep_versions*).

        Merge-on-read: buckets carrying deltas are LWW-reduced; a
        fully-compacted table is a plain parquet scan.  The frame has
        the commit's schema, also when the buckets read hold no file;
        version 0 (before the first commit) has none and reads as None."""
        doc = self._doc(version)
        manifest = doc["buckets"]
        if not manifest and version != 0:
            raise FileNotFoundError(f"empty keyed table at {self.path}")
        schema = self._schema(doc)
        if schema is None:
            return None
        wanted = (
            manifest.items()
            if buckets is None
            else [(b, manifest[b]) for b in map(str, buckets) if b in manifest]
        )
        df, has_deltas = self._scan(wanted, schema)
        return self._reduce(df) if has_deltas else df

    def read_live(self) -> DataFrame:
        """Visible rows: not soft-deleted, TTL not expired (T10 view)."""
        now_us = int(time.time() * 1_000_000)
        df = self.read()
        return df.filter(~F.col("_cdc_deleted")).filter(
            F.col("_ttl_expiry_timestamp_us").isNull()
            | (F.col("_ttl_expiry_timestamp_us") >= F.lit(now_us))
        )

    # -- merge --------------------------------------------------------------

    @_writer
    def merge(
        self, batch: DataFrame | None, *, txn: dict[str, int] | None = None
    ) -> None:
        """LWW-upsert *batch* (must carry key cols + META_COLS).

        O(batch): the intra-batch LWW reduce (C1a) plus one delta
        write.  Base files are neither read nor rewritten — conflict
        resolution against existing state happens lazily at read time
        and durably at compaction (C1b), both through the same total
        order, so any interleaving/replay converges (C5/C6).

        *txn* sets consumer positions in the same commit (module
        docstring).  A merge that carries a position commits even when
        it has no rows (*batch* None or empty): the consumer then moves
        past a source range that changed nothing.  A batch column whose
        type differs from the table's raises ValueError before anything
        is written.
        """
        doc = self._doc()
        touched: list[str] = []
        if batch is not None:
            missing = [c for c in (*self.key_cols, *META_COLS)
                       if c not in batch.columns]
            if missing:
                raise ValueError(f"merge batch missing columns: {missing}")
            clustered = self._cluster(batch, self.num_buckets)
            schema = _widen(self._schema(doc), clustered)
            delta = f"delta-{uuid.uuid4().hex[:12]}"
            touched = self._write(clustered, f"{self.path}/{delta}")
            if not touched:
                shutil.rmtree(f"{self.path}/{delta}", ignore_errors=True)
        if not touched and txn is None:
            return
        manifest = doc["buckets"]
        for b in touched:
            manifest.setdefault(b, {"base": None, "deltas": []})["deltas"].append(delta)
        self._commit(doc, manifest, "merge", [delta] if touched else [],
                     {**doc.get("txn", {}), **(txn or {})}, schema if touched else None)
        self._compact_if_needed(manifest)

    def truncate_tombstones(
        self, rows: DataFrame | None, ts_us: int, event_id: str
    ) -> DataFrame | None:
        """A TRUNCATE at (*ts_us*, *event_id*) as rows to merge
        (``change_event.py:115``): one tombstone for every key whose
        LWW winner over the table state plus *rows* (the batch's row
        events, or None) the truncate beats.  A tombstone is that
        winner, payload kept, stamped ``_cdc_deleted = true`` with the
        truncate's (ts, event_id) — the same soft delete a DELETE
        merges (C4).  Rows already deleted are restamped too, so an
        event older than the truncate that arrives after it cannot
        resurrect their key; winners newer than the truncate get no
        tombstone, so out-of-order delivery converges as C1-C4 do.
        None when neither state nor *rows* exist."""
        parts = [df for df in (self.read() if self.exists() else None, rows)
                 if df is not None]
        if not parts:
            return None
        # allowMissingColumns: state files may still hold retired
        # columns the batch rows no longer carry
        both = parts[0] if len(parts) == 1 else parts[0].unionByName(
            parts[1], allowMissingColumns=True)
        beaten = (F.col("_cdc_timestamp_micros") < F.lit(ts_us)) | (
            (F.col("_cdc_timestamp_micros") == F.lit(ts_us))
            & (F.col("_last_event_id") < F.lit(event_id))
        )
        return self._reduce(both).filter(F.coalesce(beaten, F.lit(False))).withColumns(
            {
                "_cdc_deleted": F.lit(True),
                "_cdc_timestamp_micros": F.lit(ts_us).cast("long"),
                "_last_event_id": F.lit(event_id),
            }
        )

    def upsert(self, rows: DataFrame, now_us: int | None = None) -> None:
        """Q14 unconditional upsert (``postgresql_repository.py:179-247``,
        ``INSERT … ON CONFLICT DO UPDATE`` with no guard): the incoming
        rows replace current state for their keys regardless of event
        time.  Expressed in the LWW engine by stamping the batch with
        wall-clock now (which outranks any replicated event timestamp)
        — the same effective semantics as the reference's last-writer
        unconditional form.  *rows* carries key + payload columns only;
        metadata is stamped here."""
        if now_us is None:
            now_us = int(time.time() * 1_000_000)
        stamped = rows.withColumns(
            {
                "_cdc_deleted": F.lit(False),
                "_cdc_timestamp_micros": F.lit(now_us).cast("long"),
                "_last_event_id": F.expr("uuid()"),
                "_ttl_expiry_timestamp_us": F.lit(None).cast("long"),
            }
        )
        self.merge(stamped)

    @_writer
    def overwrite(
        self, state: DataFrame, *, txn: dict[str, int] | None = None
    ) -> None:
        """Replace the ENTIRE table state with *state* (key cols +
        META_COLS + payload) in ONE atomic rewrite commit — the
        restore/resync verb (consumer side of the CDF rewrite
        contract, ``streaming/follower.py``).  Every bucket is
        republished, so rows absent from *state* — e.g. GDPR
        hard-deleted upstream, with no tombstone — are gone afterward,
        which a merge could never do.  Commits as ``op="rewrite"``:
        this table's OWN feed consumers must resync in turn.  The
        commit's consumer positions are *txn* alone: every other
        position described the state this commit replaces."""
        missing = [c for c in (*self.key_cols, *META_COLS) if c not in state.columns]
        if missing:
            raise ValueError(f"overwrite state missing columns: {missing}")
        self._publish(self._doc(), self._cluster(state, self.num_buckets),
                      list(range(self.num_buckets)), op="rewrite", txn=txn or {})

    # -- compaction ---------------------------------------------------------

    def _compact_if_needed(self, manifest: dict[str, dict]) -> None:
        over = [
            int(b)
            for b, e in manifest.items()
            if len(e.get("deltas", ())) >= self.compact_threshold
        ]
        if over:
            self.compact(over)

    @_writer
    def compact(self, buckets: list[int] | None = None) -> int:
        """Fold deltas into a new base for *buckets* (default: every
        bucket carrying deltas).  Returns number of buckets compacted."""
        doc = self._doc()
        manifest = doc["buckets"]
        targets = [
            b
            for b, e in manifest.items()
            if e.get("deltas")
            and (buckets is None or int(b) in set(buckets))
        ]
        if not targets:
            return 0
        df, _ = self._scan(((b, manifest[b]) for b in targets), self._schema(doc))
        self._publish(doc, self._cluster(df, len(targets)), targets, op="compact")
        return len(targets)

    def _publish(
        self,
        doc: dict,
        df_with_bucket: DataFrame,
        buckets: list,
        op: str = "rewrite",
        txn: dict[str, int] | None = None,
    ) -> None:
        """Write *df_with_bucket* (a ``_cluster`` output) as the new
        **base** of *buckets* (deltas cleared) and commit it after
        *doc*, the doc the caller read, with *txn* (see ``_commit``).
        A bucket left with no rows keeps an entry with no dirs.  The
        written columns widen *doc*'s schema, or replace it when every
        bucket is rewritten: no older file is left then."""
        every = len(buckets) == self.num_buckets
        schema = _widen(None if every else self._schema(doc), df_with_bucket)
        snap_name = f"snap-{uuid.uuid4().hex[:12]}"
        written = set(self._write(df_with_bucket, f"{self.path}/{snap_name}"))
        manifest = doc["buckets"]
        for b in map(str, buckets):
            manifest[b] = {"base": snap_name if b in written else None, "deltas": []}
        self._commit(doc, manifest, op, [snap_name] if written else [], txn, schema)

    def _write(self, df: DataFrame, dest: str) -> list[str]:
        """Write *df*, a ``_cluster`` output, into the fresh directory
        *dest* — every data file the table holds goes through here, so
        the file format is set in one place: zstd parquet with v2 data
        pages, and no dictionary on the leading key column, which a
        sorted run stores smaller delta-encoded.  The default
        error-if-exists mode writes straight into *dest*; it is always a
        new uuid dir, so there is nothing to overwrite.

        The ``_bucket`` column partitions the output: one ``bucket=<b>``
        dir per value, one file per bucket (*df* is clustered by
        bucket), each sorted on ``(_bucket, *key_cols)``; the bucket ids
        written are returned (the written dirs ARE the touched set, no
        extra job to discover it)."""
        options = {
            "compression": "zstd",
            "parquet.writer.version": "v2",
            f"parquet.enable.dictionary#{self.key_cols[0]}": "false",
        }
        df.sortWithinPartitions("_bucket", *self.key_cols).write.options(
            **options).partitionBy("_bucket").parquet(dest)
        touched = []
        for d in os.listdir(dest):
            if d.startswith("_bucket="):
                b = d.split("=", 1)[1]
                os.rename(f"{dest}/{d}", f"{dest}/bucket={b}")
                touched.append(b)
        return touched

    def _gc(self, doc: dict) -> None:
        """Drop snapshot/delta dirs nothing points at anymore — where
        "anything" is the just-committed *doc* plus the retained
        version log: a dir referenced only by a historical version
        stays until that version ages past *keep_versions* (so time
        travel keeps working), exactly the retention/VACUUM contract of
        manifest-pointer formats.  Log files older than the retention
        window are pruned, which is what releases their dirs."""
        cur = doc["version"]
        docs = [doc]
        for v in self._log_versions():
            if v <= cur - self.keep_versions:
                try:
                    os.remove(self._log_path(v))
                except OSError:
                    pass
            elif v != cur:
                try:
                    docs.append(self._doc(v))
                except (OSError, ValueError):
                    continue
        live = set()
        for d in docs:
            for e in d["buckets"].values():
                if e["base"]:
                    live.add(e["base"])
                live.update(e["deltas"])
        for d in os.listdir(self.path):
            if (d.startswith("snap-") or d.startswith("delta-")) and d not in live:
                shutil.rmtree(f"{self.path}/{d}", ignore_errors=True)

    # -- maintenance (T10/T12/Q18/Q19) -------------------------------------

    @_writer
    def delete_where(self, predicate) -> int:
        """Hard delete (T12/Q18): rewrite buckets dropping matches.

        NULL-safe: a predicate evaluating to NULL on a row (e.g. a
        comparison against a NULL column) means "no match" — the row
        is KEPT and not counted, never silently dropped.  (GDPR-erasure
        path; silent loss here would be unrecoverable.)

        Returns number of rows removed."""
        hit = F.coalesce(predicate, F.lit(False))
        # one grouped scan finds the touched buckets and their hit counts
        per_bucket = self.read().filter(hit).groupBy(self._bucket_col()).count().collect()
        if not per_bucket:
            return 0
        touched = [r[0] for r in per_bucket]
        doc = self._doc()
        manifest = doc["buckets"]
        # reduce only where deltas remain: a base is reduced already
        df, has_deltas = self._scan(((str(b), manifest[str(b)]) for b in touched),
                                    self._schema(doc))
        self._publish(doc, self._cluster(df, len(touched), has_deltas).filter(~hit), touched)
        return sum(r["count"] for r in per_bucket)

    def expire_ttl(self, now_us: int | None = None) -> int:
        """TTL sweep (T10): hard-delete rows whose expiry passed."""
        if now_us is None:
            now_us = int(time.time() * 1_000_000)
        return self.delete_where(
            F.col("_ttl_expiry_timestamp_us").isNotNull()
            & (F.col("_ttl_expiry_timestamp_us") < F.lit(now_us))
        )
