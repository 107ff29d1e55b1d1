"""Outside-in tracing for the traced run.

``Tracer.install`` wraps the engine's public calls from this file — the
program under test is not edited.  Each wrapped call records a span
(name, parent, run id, start, end, thread); spans stay in memory and are
written out once at the end, with self time derived (duration minus the
time covered by child spans).

Spark work is attributed after the run from Spark's own status store:
every job carries the job group of the thread that submitted it, so a
job belongs to the innermost span open on that group at its submission
time.  A root span reuses the group its thread already has (a streaming
query's run id on the foreachBatch thread) and otherwise sets a fresh
one for its duration.

``NullTracer`` is what the untraced run uses: same interface, no work.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


def _table_name(path: str) -> str:
    return os.path.basename(path.rstrip("/"))


def _manifest(path: str) -> dict:
    try:
        with open(os.path.join(path, "_manifest.json")) as fh:
            return json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        return {}


def _data_dirs(path: str) -> set[str]:
    try:
        return {d for d in os.listdir(path) if d.startswith(("delta-", "snap-"))}
    except FileNotFoundError:
        return set()


def _dir_usage(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under *root*."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                try:
                    size += os.path.getsize(os.path.join(dirpath, n))
                except FileNotFoundError:
                    pass
    return files, size


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sc = self.spark.sparkContext
        sid = next(self._ids)
        own_group = False
        if stack:
            group = stack[-1]["group"]
        else:
            group = sc.getLocalProperty("spark.jobGroup.id")
            if group is None:
                group = f"bench-{self.run_id}-{sid}"
                sc.setJobGroup(group, name)
                own_group = True
        sp = {
            "id": sid,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "name": name,
            "thread": threading.get_ident(),
            "group": group,
            "attrs": attrs,
            "start": time.time(),
        }
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            if own_group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)

    # -- wrappers -----------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _simple(self, name: str):
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with self.span(name):
                    return orig(*a, **kw)

            return wrapper

        return make

    def install(self) -> None:
        """Wrap the public calls of every layer the benchmark drives."""
        from cass_cdc_pg_spark import api, monitoring
        from cass_cdc_pg_spark.operators import reconcile
        from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
        from cass_cdc_pg_spark.streaming import ingest, transforms

        self._patch(ingest.CdcIngest, "process_batch",
                    self._simple("streaming.ingest.process_batch"))
        for fn in ("add_event_id", "validation_status", "to_dlq_rows",
                   "split_convertible", "unwrap", "add_cdc_metadata"):
            self._patch(transforms, fn, self._simple(f"streaming.transforms.{fn}"))
        for fn in ("row_count_validation", "checksum_diff", "field_diff",
                   "incremental_checksum_diff", "with_checksum"):
            self._patch(reconcile, fn, self._simple(f"operators.reconcile.{fn}.plan"))
        for route in ("health", "metrics", "dlq_records", "dlq_stats",
                      "table_history", "table_changes",
                      "reconciliation_mismatches"):
            self._patch(api.CdcApiService, route, self._simple(f"api.{route}"))
        self._patch(monitoring.MetricsCollector, "render_prometheus",
                    self._simple("monitoring.render"))
        self._patch(KeyedTable, "merge", self._merge_wrapper)
        self._patch(KeyedTable, "compact", self._compact_wrapper)
        self._patch(KeyedTable, "read", self._read_wrapper)
        self._patch(KeyedTable, "read_live", self._read_named("read_live"))
        self._patch(KeyedTable, "read_changes", self._read_named("read_changes"))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _merge_wrapper(self, orig):
        tracer = self

        @functools.wraps(orig)
        def merge(kt, batch):
            before_v = _manifest(kt.path).get("version", 0)
            with tracer.span("plans.keyed_table.merge",
                             table=_table_name(kt.path)) as sp:
                sp["_known"] = _data_dirs(kt.path)
                sp["attrs"]["new_dirs"] = {}
                try:
                    return orig(kt, batch)
                finally:
                    tracer._record_new_dirs(sp, kt.path)
                    sp["attrs"]["commits"] = (
                        _manifest(kt.path).get("version", 0) - before_v
                    )
                    sp.pop("_known", None)

        return merge

    def _record_new_dirs(self, sp: dict, path: str) -> None:
        for d in _data_dirs(path) - sp["_known"]:
            if d.startswith("delta-") and d not in sp["attrs"]["new_dirs"]:
                sp["attrs"]["new_dirs"][d] = _dir_usage(os.path.join(path, d))

    def _compact_wrapper(self, orig):
        tracer = self

        @functools.wraps(orig)
        def compact(kt, buckets=None):
            # the enclosing merge's delta can be folded and collected
            # inside this call, so measure it before compaction runs
            parent = tracer._stack()[-1] if tracer._stack() else None
            if parent is not None and parent["name"] == "plans.keyed_table.merge":
                tracer._record_new_dirs(parent, kt.path)
            known = _data_dirs(kt.path)
            with tracer.span("plans.keyed_table.compact",
                             table=_table_name(kt.path)) as sp:
                n = orig(kt, buckets)
                sp["attrs"]["buckets"] = n
                snaps = [d for d in _data_dirs(kt.path) - known if d.startswith("snap-")]
                sp["attrs"]["bytes_rewritten"] = sum(
                    _dir_usage(os.path.join(kt.path, d))[1] for d in snaps
                )
                return n

        return compact

    def _read_wrapper(self, orig):
        tracer = self

        @functools.wraps(orig)
        def read(kt, buckets=None, version=None):
            with tracer.span("plans.keyed_table.read",
                             table=_table_name(kt.path)) as sp:
                df = orig(kt, buckets, version)
            # what the read scans, from the manifest and the files on disk;
            # measured after the span closes so read_ms stays the read's own
            entries = {b: e for b, e in _manifest(kt.path).get("buckets", {}).items()
                       if isinstance(e, dict)}
            wanted = entries if buckets is None else {
                str(b): entries[str(b)] for b in buckets if str(b) in entries
            }
            files = size = 0
            for b, e in wanted.items():
                for d in ([e["base"]] if e.get("base") else []) + list(e.get("deltas", ())):
                    f, n = _dir_usage(os.path.join(kt.path, d, f"bucket={b}"))
                    files, size = files + f, size + n
            sp["attrs"].update(
                buckets=len(buckets) if buckets is not None else kt.num_buckets,
                num_buckets=kt.num_buckets,
                delta_depth_max=max((len(e.get("deltas", ())) for e in entries.values()),
                                    default=0),
                files=files,
                bytes=size,
            )
            return df

        return read

    def _read_named(self, kind: str):
        def make(orig):
            tracer = self

            @functools.wraps(orig)
            def wrapper(kt, *a, **kw):
                with tracer.span(f"plans.keyed_table.{kind}",
                                 table=_table_name(kt.path)):
                    return orig(kt, *a, **kw)

            return wrapper

        return make

    # -- Spark attribution ----------------------------------------------------

    def spark_status(self) -> tuple[list[dict], dict[int, dict]]:
        """All jobs and stages in Spark's status store, as plain dicts."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), None)
        ))
        keep = ("stageId", "numTasks", "executorRunTime", "executorCpuTime",
                "jvmGcTime", "inputBytes", "inputRecords", "outputBytes",
                "outputRecords", "shuffleReadBytes", "shuffleWriteBytes",
                "shuffleWriteRecords", "submissionTime", "completionTime", "status")
        by_id: dict[int, dict] = {}
        for s in stages:
            if s.get("status") == "SKIPPED":
                continue
            by_id[s["stageId"]] = {k: s.get(k) for k in keep}
        jobs = [
            {k: j.get(k) for k in ("jobId", "jobGroup", "submissionTime",
                                   "completionTime", "stageIds", "status")}
            for j in jobs
        ]
        return jobs, by_id

    def attribute(self, jobs: list[dict], stages: dict[int, dict]) -> None:
        """Fill ``self_jobs`` / ``spark`` counters on every span, and
        ``self_s`` (duration minus child coverage)."""
        by_group: dict[str, list[dict]] = {}
        for sp in self.spans:
            sp["self_jobs"] = []
            by_group.setdefault(sp["group"], []).append(sp)
        claimed: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            cands = by_group.get(j["jobGroup"])
            if not cands or j["submissionTime"] is None:
                continue
            t = j["submissionTime"] / 1000.0
            inner = [sp for sp in cands if sp["start"] <= t <= sp["end"] + 0.002]
            if not inner:
                continue
            owner = max(inner, key=lambda sp: sp["start"])
            comp = j["completionTime"] or j["submissionTime"]
            sids = [s for s in j["stageIds"] if s in stages and s not in claimed]
            claimed.update(sids)
            owner["self_jobs"].append({
                "jobId": j["jobId"],
                "ms": comp - j["submissionTime"],
                "stages": [stages[s] for s in sids],
            })
        children: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(sp)
        for sp in self.spans:
            covered = sum(c["end"] - c["start"] for c in children.get(sp["id"], ()))
            sp["self_s"] = max(0.0, sp["end"] - sp["start"] - covered)
            sp["children"] = [c["id"] for c in children.get(sp["id"], ())]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **extra, "spans": self.spans}, fh,
                      default=str)
