"""Metric names, units, and the per-layer derivation of a traced run.

Every workload reports every metric.  End-to-end metrics are the
workload's own measurements (see README.md for what each one means per
workload).  A per-layer metric whose layer a workload does not drive
reads 0 there.
"""

from __future__ import annotations

import stats

E2E = {
    "setup_s": "s",
    "storage_bytes_per_live_row": "bytes",
    "memory_mb": "MB",
}

API_ROUTES = ("dlq_stats", "dlq_records", "table_changes", "table_history",
              "reconciliation_mismatches", "health", "metrics")
CACHED_ROUTES = ("dlq_stats", "dlq_records", "health")
SELF_LAYERS = ("streaming.ingest", "streaming.transforms", "plans.keyed_table",
               "operators.reconcile", "api", "monitoring")

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.files_per_batch": "count",
    "sources.rows_per_batch": "count",
    "streaming.wal_commit_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.trigger_idle_ms": "ms",
    "streaming.ingest.process_batch_ms": "ms",
    "streaming.ingest.spark_jobs_per_batch": "count",
    "streaming.ingest.stats_job_ms": "ms",
    "streaming.ingest.dlq_merge_ms": "ms",
    "streaming.transforms.plan_ms": "ms",
    "streaming.transforms.dlq_rows": "count",
    "operators.lww.reduce_in_rows": "count",
    "operators.lww.reduce_out_rows": "count",
    "operators.lww.shuffle_bytes": "bytes",
    "plans.keyed_table.merge_ms": "ms",
    "plans.keyed_table.merge_bytes_written": "bytes",
    "plans.keyed_table.merge_files_written": "count",
    "plans.keyed_table.manifest_commits": "count",
    "plans.keyed_table.compactions": "count",
    "plans.keyed_table.compact_ms": "ms",
    "plans.keyed_table.compact_bytes_rewritten": "bytes",
    "plans.keyed_table.write_amplification": "ratio",
    "plans.keyed_table.delta_depth_max": "count",
    "plans.keyed_table.read_ms": "ms",
    "plans.keyed_table.read_files_scanned": "count",
    "plans.keyed_table.read_bytes_scanned": "bytes",
    "plans.keyed_table.read_changes_ms": "ms",
    "operators.reconcile.row_count_ms": "ms",
    "operators.reconcile.checksum_diff_ms": "ms",
    "operators.reconcile.field_diff_ms": "ms",
    "operators.reconcile.shuffle_bytes": "bytes",
    "operators.reconcile.rows_compared": "count",
    "operators.reconcile.mismatches": "count",
    "operators.reconcile.incremental_ms": "ms",
    "operators.reconcile.incremental_buckets_read_frac": "fraction",
    **{f"api.handler_ms.{r}": "ms" for r in API_ROUTES},
    "api.cache_hit_frac": "fraction",
    "api.spark_jobs_per_request": "count",
    "api.queue_wait_ms": "ms",
    "monitoring.render_ms": "ms",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.jvm_gc_ms": "ms",
    "bench.loadgen.lateness_p95_ms": "ms",
    "bench.loadgen.files_landed": "count",
    "bench.loadgen.requests_sent": "count",
    **{f"self_s.{layer}": "s" for layer in SELF_LAYERS},
    "traced.latency_p50_ms": "ms",
    "traced.aux_latency_p50_ms": "ms",
}


def _med(xs) -> float:
    xs = list(xs)
    return stats.median(xs) if xs else 0.0


def _stage_sum(jobs, key: str) -> float:
    return sum(st.get(key) or 0 for j in jobs for st in j["stages"])


def per_layer(tracer, result, session: dict) -> dict:
    """Every ``PER_LAYER`` metric from an attributed traced run.

    Counts are totals over the measured phase (spans that started inside
    the workload's measured window); times are medians per call, self
    time where the name says so in README.md."""
    info = result.info
    measure_start, measure_end = info["measure_start"], info["measure_end"]
    spans = [s for s in tracer.spans if measure_start <= s["start"] < measure_end]
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    index = {s["id"]: s for s in tracer.spans}

    def named(name):
        return by_name.get(name, [])

    def ms(s) -> float:
        return (s["end"] - s["start"]) * 1000.0

    def descendants(s):
        todo, out = [s], []
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(index[c] for c in cur.get("children", ()))
        return out

    def jobs_of(s):
        return [j for d in descendants(s) for j in d["self_jobs"]]

    progress = info.get("progress", [])
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = session["start_s"]
    out["session.warmup_s"] = info.get("warmup_s", 0.0)

    # -- sources / streaming engine (StreamingQueryProgress) --------------
    def dur(key):
        return _med(p["durationMs"].get(key, 0) for p in progress)

    if progress:
        out["sources.latest_offset_ms"] = dur("latestOffset")
        out["sources.get_batch_ms"] = dur("getBatch")
        out["sources.rows_per_batch"] = _med(p["numInputRows"] for p in progress)
        out["streaming.wal_commit_ms"] = dur("walCommit")
        out["streaming.query_planning_ms"] = dur("queryPlanning")
        per_batch: dict[int, int] = {}
        for b in info.get("batch_files", {}).values():
            per_batch[b] = per_batch.get(b, 0) + 1
        out["sources.files_per_batch"] = _med(
            per_batch.get(p["batchId"], 0) for p in progress
        )
        idle = []
        for a, b in zip(progress, progress[1:]):
            gap = (_iso_s(b["timestamp"]) - _iso_s(a["timestamp"])) * 1000.0
            idle.append(max(0.0, gap - a["durationMs"].get("triggerExecution", 0)))
        out["streaming.trigger_idle_ms"] = _med(idle)

    # -- ingest ------------------------------------------------------------
    batches = named("streaming.ingest.process_batch")
    merges = named("plans.keyed_table.merge")
    data_merges = [m for m in merges if m["attrs"].get("table", "").startswith("cdc_")]
    dlq_merges = [m for m in merges if m["attrs"].get("table") == "dlq_records"]
    if batches:
        out["streaming.ingest.process_batch_ms"] = _med(s["self_s"] * 1000 for s in batches)
        out["streaming.ingest.spark_jobs_per_batch"] = _med(len(jobs_of(s)) for s in batches)
        out["streaming.ingest.stats_job_ms"] = _med(
            s["self_jobs"][0]["ms"] for s in batches if s["self_jobs"]
        )
        out["streaming.transforms.plan_ms"] = _med(
            sum(ms(d) for d in descendants(s)
                if d["name"].startswith("streaming.transforms.")
                and index.get(d["parent"], {}).get("name") == "streaming.ingest.process_batch")
            for s in batches
        )
    out["streaming.ingest.dlq_merge_ms"] = _med(ms(s) for s in dlq_merges)
    dlq_rows = sum(_stage_sum(m["self_jobs"], "outputRecords") for m in dlq_merges)
    out["streaming.transforms.dlq_rows"] = dlq_rows
    if progress and batches:
        out["operators.lww.reduce_in_rows"] = (
            sum(p["numInputRows"] for p in progress) - dlq_rows
        )
    out["operators.lww.reduce_out_rows"] = sum(
        _stage_sum(m["self_jobs"], "outputRecords") for m in data_merges
    )
    out["operators.lww.shuffle_bytes"] = sum(
        _stage_sum(m["self_jobs"], "shuffleWriteBytes") for m in data_merges
    )

    # -- keyed table ---------------------------------------------------------
    out["plans.keyed_table.merge_ms"] = _med(s["self_s"] * 1000 for s in merges)
    merge_bytes = sum(b for m in merges for _, b in m["attrs"].get("new_dirs", {}).values())
    out["plans.keyed_table.merge_bytes_written"] = merge_bytes
    out["plans.keyed_table.merge_files_written"] = sum(
        f for m in merges for f, _ in m["attrs"].get("new_dirs", {}).values()
    )
    out["plans.keyed_table.manifest_commits"] = sum(
        m["attrs"].get("commits", 0) for m in merges
    )
    compacts = [c for c in named("plans.keyed_table.compact") if c["attrs"].get("buckets")]
    out["plans.keyed_table.compactions"] = len(compacts)
    out["plans.keyed_table.compact_ms"] = _med(ms(s) for s in compacts)
    rewritten = sum(c["attrs"].get("bytes_rewritten", 0) for c in compacts)
    out["plans.keyed_table.compact_bytes_rewritten"] = rewritten
    if merge_bytes:
        out["plans.keyed_table.write_amplification"] = (merge_bytes + rewritten) / merge_bytes
    reads = named("plans.keyed_table.read")
    out["plans.keyed_table.delta_depth_max"] = max(
        (r["attrs"].get("delta_depth_max", 0) for r in reads), default=0
    )
    out["plans.keyed_table.read_ms"] = _med(ms(s) for s in reads)
    out["plans.keyed_table.read_files_scanned"] = _med(r["attrs"].get("files", 0) for r in reads)
    out["plans.keyed_table.read_bytes_scanned"] = _med(r["attrs"].get("bytes", 0) for r in reads)
    out["plans.keyed_table.read_changes_ms"] = _med(
        ms(s) for s in named("plans.keyed_table.read_changes")
    )

    # -- reconcile -----------------------------------------------------------
    fulls = named("bench.recon.full")
    for metric, name in (("row_count_ms", "row_count"), ("checksum_diff_ms", "checksum_diff"),
                         ("field_diff_ms", "field_diff"), ("incremental_ms", "incremental")):
        out[f"operators.reconcile.{metric}"] = _med(
            ms(s) for s in named(f"operators.reconcile.{name}")
        )
    if fulls:
        out["operators.reconcile.shuffle_bytes"] = _med(
            _stage_sum(jobs_of(s), "shuffleWriteBytes") for s in fulls
        )
        # rows the checksum diff scanned from both tables, as Spark counted them
        out["operators.reconcile.rows_compared"] = _med(
            _stage_sum(jobs_of(s), "inputRecords")
            for s in named("operators.reconcile.checksum_diff")
        )
        out["operators.reconcile.mismatches"] = info["mismatches_per_full_job"]
    scoped_reads = [
        r for s in named("operators.reconcile.incremental") for r in descendants(s)
        if r["name"] == "plans.keyed_table.read"
    ]
    out["operators.reconcile.incremental_buckets_read_frac"] = _med(
        r["attrs"]["buckets"] / r["attrs"]["num_buckets"] for r in scoped_reads
    )

    # -- api -------------------------------------------------------------------
    api_spans = [s for s in spans if s["name"].startswith("api.")]
    for route in API_ROUTES:
        out[f"api.handler_ms.{route}"] = _med(ms(s) for s in named(f"api.{route}"))
    cached = [s for s in api_spans if s["name"][4:] in CACHED_ROUTES]
    if cached:
        out["api.cache_hit_frac"] = sum(not jobs_of(s) for s in cached) / len(cached)
    if api_spans:
        out["api.spark_jobs_per_request"] = sum(len(jobs_of(s)) for s in api_spans) / len(
            api_spans
        )
    requests = [r for r in info.get("requests", []) if r["sent"] >= measure_start]
    # client latency minus the server's handler time of the calls the
    # request made, matched by the X-Request-ID each call carried
    handler_ms = info.get("handler_ms", {})
    out["api.queue_wait_ms"] = _med(
        (r["done"] - r["due"]) * 1000.0 - sum(handler_ms.get(i, 0.0) for i in r["request_ids"])
        for r in requests
    )
    out["monitoring.render_ms"] = _med(ms(s) for s in named("monitoring.render"))

    # -- spark totals over the measured phase -------------------------------
    all_jobs = [j for s in spans for j in s["self_jobs"]]
    out["spark.tasks"] = _stage_sum(all_jobs, "numTasks")
    out["spark.executor_run_ms"] = _stage_sum(all_jobs, "executorRunTime")
    out["spark.executor_cpu_ms"] = _stage_sum(all_jobs, "executorCpuTime") / 1e6
    out["spark.jvm_gc_ms"] = _stage_sum(all_jobs, "jvmGcTime")

    # -- load generator ---------------------------------------------------------
    landed = info.get("landed", {})
    late = [(actual - due) * 1000.0 for due, actual in landed.values()]
    late += [(r["sent"] - r["due"]) * 1000.0 for r in requests]
    if late:
        out["bench.loadgen.lateness_p95_ms"] = stats.percentile(late, 95)
    out["bench.loadgen.files_landed"] = len(landed)
    out["bench.loadgen.requests_sent"] = len(requests)

    for layer in SELF_LAYERS:
        out[f"self_s.{layer}"] = sum(
            s["self_s"] for s in spans
            if s["name"] == layer or s["name"].startswith(layer + ".")
        )
    return out


def _iso_s(ts: str) -> float:
    import datetime

    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
