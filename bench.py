"""Benchmark harness (driver contract, BASELINE.md §BENCH).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` plus a CDC
ingest-throughput microbench (events replayed through
parse→validate→LWW→merge), and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "sf": ..., "ingest_events_per_sec": N}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_row_count",
    "q3_checksum_diff",
    "q10_job_stats",
    "q11_listing_orders",
    "c1_lww_state",
    "q9_dlq_stats",
    "dedup_exact_groups",
    "text_token_stats",
    "text_fingerprint",
    "ann_cosine_topk",
]

#: supplementary section: the training-data-pipeline ladder, timed the
#: same way but reported under its own key so the headline total stays
#: comparable round-over-round
PIPELINE = [
    "dedup_minhash_lsh",
    "dedup_components",
    "decontam_ngram_overlap",
    "text_repetition_stats",
    "text_token_rarity",
    "docs_pack_sequences",
    "embedding_quantize_int8",
    "ann_ivf_topk",
    "events_asof_session",
    "events_interval_session",
    "docs_token_budget",
    "docs_source_stats",
    "ann_knn_within",
    "events_user_features",
    "sales_by_nation_quarter",
    "events_funnel",
    "users_retention_cohorts",
    "docs_ngram_topk",
    "embeddings_cell_stats",
    "docs_tfidf_topterms",
    "docs_source_token_quantiles",
    "ann_ivf_recall",
    "events_anomaly_stats",
    "docs_lang_mix",
    "events_type_transitions",
    "sales_rollup_totals",
    "docs_quality_tiers",
    "events_moving_stats",
    "events_props_stats",
    "events_cube_counts",
    "events_type_pivot",
    "sales_top_suppliers",
    "sales_region_share",
    "embedding_semdedup_keep",
    "dedup_cluster_sizes",
    "orders_priority_late",
    "part_min_cost_supplier",
    "customer_value_deciles",
    "sales_returns_by_brand",
    "segment_status_revenue",
    "events_daily_active",
    "lineitem_profile",
    "events_key_skew",
    # r7 additions
    "embedding_semdedup_greedy",
    "orders_fulfillment_lag",
    "docs_dup_rate_by_source",
    "customer_order_recency",
    "events_gap_stats",
    "lineitem_revenue_forecast",
    "sales_promo_share",
    "lineitem_discount_bands",
    "docs_split_stats",
    "docs_duplicated_spans",
    # r9 additions
    "docs_chunk_windows",
    "ann_ivf_incremental_assign",
    "dedup_incremental_pairs",
    "dedup_incremental_components",
    "dedup_incremental_admission",
    # r9 late additions (pipeline_total grows by these 3 entries —
    # compare older rounds against the other 58)
    "docs_block_dedup",
    "docs_quality_budget_by_source",
    "embedding_cluster_sample",
    # r9 wave-3 additions (pipeline_total grows by these 6 entries —
    # compare older rounds against the other 61)
    "lineitem_small_qty_revenue",
    "orders_big_basket_customers",
    "supplier_sole_late_blame",
    "customer_dormant_balance",
    "docs_heavy_hitters",
    "dedup_cross_source_matrix",
    # r9 wave-4 additions (pipeline_total grows by these 8 entries —
    # compare older rounds against the other 67)
    "nation_trade_flows",
    "lineitem_bracket_revenue",
    "customer_returns_ranking",
    "part_supplier_diversity",
    "nation_profit_by_year",
    "dedup_best_of_cluster",
    "docs_length_bucketing",
    "dedup_minhash_precision",
    # r10: z-order clustered read, real-codec decode, and the PQ tier
    "events_zorder_scan",
    "multimodal_real_decode",
    "ann_l2_topk",
    "ann_pq_topk",
    "ann_pq_recall",
    "embedding_pq_codes",
    "ann_ivfpq_topk",
    "nation_market_share",
    "customer_order_distribution",
    "ann_ivfpq_recall",
    "docs_weighted_sample",
    "docs_fuzzy_pairs",
    # r11 additions (pipeline_total grows by these 7 entries — compare
    # older rounds against the other 87)
    "sales_promo_bundles",
    # lineitem_part_copurchase was DEMOTED to the audit cadence in r16
    # (r15 verdict #2 disposition (a)): the exact pair count's 100×
    # wall is its own 120 M-emitted-pair output volume — linear in
    # pairs by construction after the r15 plan-optimal rewrite — so
    # the routine cadence runs the deterministic basket-sampled
    # heavy-hitter sketch below and the exact count is timed under
    # audit_lineitem_part_copurchase_sec (the
    # dedup_containment_pairs precedent); r11-r15 pipeline totals
    # include its ~1.2-1.5 s.
    "docs_vocab_coverage",
    "events_robust_outliers",
    "ann_pq_refine_topk",
    "ann_pq_refine_recall",
    "docs_ngram_novelty",
    # r12 additions (pipeline_total grows by these 5 entries — compare
    # older rounds against the other 94)
    "ann_ivfpq_append_parity",
    "docs_source_distinctive_terms",
    "events_weekly_active",
    "embedding_hard_negatives",
    "docs_packing_efficiency",
    # r13 additions (pipeline_total grows by these 6 entries — compare
    # older rounds against the other 99).  dedup_containment_pairs was
    # DEMOTED out of the routine pipeline in r15 (r14 verdict #2): the
    # full-corpus containment recompute is the weekly
    # full-reconciliation audit (SURVEY §2.4 Q3 posture), not the
    # per-batch production path — that path is
    # dedup_containment_incremental + dedup_containment_admission
    # below, reading the maintained standing index.  The audit entry
    # stays oracle-green in the registry rotation and is timed
    # separately as audit_dedup_containment_pairs_sec (its own budget
    # line, like the LM capex); r13/r14 pipeline totals include its
    # ~4-5 s.
    "weekly_active_incremental_parity",
    "embedding_cell_drift",
    "docs_unigram_logprob",
    "docs_bigram_logprob",
    "docs_shard_balance",
    # r14 additions (pipeline_total grows by these 5 entries —
    # compare older rounds against the other 105)
    "unigram_logprob_incremental_parity",
    "bigram_logprob_incremental_parity",
    "dedup_containment_incremental",
    "docs_bigram_backoff_logprob",
    "dedup_containment_admission",
    # r15 additions (pipeline_total grows by these 4 entries and
    # loses the demoted audit entry above — compare older rounds
    # against the other 109)
    "docs_lm_admission",
    "containment_index_append_parity",
    "minhash_index_append_parity",
    "dedup_containment_day2",
    # r16 additions (pipeline_total grows by these entries and loses
    # the demoted exact-copurchase entry above — compare older rounds
    # against the other 112)
    "lineitem_copurchase_sketch",
    "dedup_minhash_day2",
    "ann_ivfpq_day2",
]

#: explicitly-cadenced AUDIT entries (r15): full-recompute
#: reconciliation passes a deployment runs weekly per corpus
#: snapshot, not per batch — timed outside pipeline_total under
#: audit_* keys so the routine total reflects the daily cadence while
#: the full-recompute budget stays on the record
AUDIT = [
    "dedup_containment_pairs",
    # r16: the exact co-purchase pair count (the r15 verdict's one
    # `weak` row) — plan-optimal since the r15 rewrite; what remains
    # at 100× is the exact count's own emitted-pair volume, which is
    # the audit-budget posture, with lineitem_copurchase_sketch as
    # the routine-cadence estimate
    "lineitem_part_copurchase",
]



def force_full(df) -> int:
    """Execute a query with ALL output columns computed — the honest
    measurement action (r15).  ``.count()`` lets Catalyst prune every
    column the row count doesn't need, and for 12 registered queries
    that pruning ELIMINATES the dominant joins outright (a LEFT JOIN
    whose aggregated right side has provably-unique keys and
    unreferenced columns is dropped by the outer-join eliminator —
    the admission/decision and recall families all end in exactly
    that shape), so their timed rows measured a degenerate scan.
    The built-in `noop` sink computes every column of every row and
    discards them executor-side — full execution, no driver
    materialization, no output I/O.  Returns -1 (row counts of timed
    runs are not used)."""
    df.write.format("noop").mode("overwrite").save()
    return -1

def ingest_bench(spark, sf_dir: str, warehouse: str, num_buckets: int = 32) -> float:
    """Replay the events table as CDC CREATE events through the full
    merge path; returns events/sec."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cass_cdc_pg_spark.sources.tables import events_with_micros
    from cass_cdc_pg_spark.streaming.ingest import CdcIngest

    ev = events_with_micros(spark, sf_dir)
    n = ev.count()
    as_change_events = ev.select(
        F.concat(
            F.lit("00000000-0000-4000-8000-"), F.format_string("%012d", F.col("event_id"))
        ).alias("cdc_event_id"),
        F.lit("events").alias("source_table"),
        F.lit("CREATE").alias("operation_type"),
        F.col("ts_us").alias("timestamp_micros"),
        F.lit(None).cast("map<string,string>").alias("before"),
        F.create_map(
            F.lit("event_id"), F.col("event_id").cast("string"),
            F.lit("user_id"), F.col("user_id").cast("string"),
            F.lit("event_type"), F.col("event_type"),
            F.lit("value"), F.col("value").cast("string"),
        ).alias("after"),
        F.lit(1).alias("schema_version"),
        F.lit(None).cast("int").alias("ttl_seconds"),
        F.lit(False).alias("is_tombstone"),
    ).withColumnRenamed("cdc_event_id", "event_id")
    payload = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    ingest = CdcIngest(
        spark,
        warehouse,
        table_schemas={"events": payload},
        key_cols={"events": ["event_id"]},
        num_buckets=num_buckets,
    )
    t0 = time.time()
    ingest.process_batch(as_change_events)
    dt = time.time() - t0
    return n / dt


def _event_jsonl_rows(spark, sf_dir: str, limit: int):
    """First *limit* events as ChangeEvent JSON strings (deterministic
    order by event_id)."""
    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.sources.tables import events_with_micros

    ev = events_with_micros(spark, sf_dir).orderBy("event_id").limit(limit)
    return (
        ev.select(
            F.to_json(
                F.struct(
                    F.concat(
                        F.lit("00000000-0000-4000-8000-"),
                        F.format_string("%012d", F.col("event_id")),
                    ).alias("event_id"),
                    F.lit("events").alias("source_table"),
                    F.lit("CREATE").alias("operation_type"),
                    F.col("ts_us").alias("timestamp_micros"),
                    F.create_map(
                        F.lit("event_id"), F.col("event_id").cast("string"),
                        F.lit("user_id"), F.col("user_id").cast("string"),
                        F.lit("event_type"), F.col("event_type"),
                        F.lit("value"), F.col("value").cast("string"),
                    ).alias("after"),
                    F.lit(1).alias("schema_version"),
                    F.lit(False).alias("is_tombstone"),
                )
            ).alias("j")
        )
        .toPandas()["j"]
        .tolist()
    )


def _mk_ingest(spark, warehouse: str, num_buckets: int = 32):
    from pyspark.sql import types as T

    from cass_cdc_pg_spark.streaming.ingest import CdcIngest

    payload = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return CdcIngest(
        spark,
        warehouse,
        table_schemas={"events": payload},
        key_cols={"events": ["event_id"]},
        num_buckets=num_buckets,
    )


def streaming_bench(spark, sf_dir: str, tmp: str, n_events: int = 40000,
                    n_files: int = 20) -> dict:
    """BASELINE §BENCH streaming contracts, measured on a real
    Structured Streaming run over a file source:

    - microbatch latency percentiles (P95 ≤ 4 s contract) across the
      per-trigger ``process_batch`` wall times — 20 same-sized
      (2,000-event) batches, so the P95 discards exactly one sample:
      with 10 batches it was the 2nd-worst value and a single
      host-contention stall (observed: one 20 s batch in a run whose
      other batches matched an earlier 2.8 s-P95 run) misread as an
      engine regression;
    - kill-and-restart zero-loss (SC-007): the first run is killed by
      an injected failure mid-stream, a second run resumes from the
      checkpoint; rows lost / duplicated must both be 0 (idempotent
      LWW merge + checkpoint replay).
    """
    import math
    import os

    from cass_cdc_pg_spark.streaming.ingest import jsonl_stream

    rows = _event_jsonl_rows(spark, sf_dir, n_events)
    src_dir = os.path.join(tmp, "stream_in")
    os.makedirs(src_dir)
    per = math.ceil(len(rows) / n_files)
    for i in range(n_files):
        with open(os.path.join(src_dir, f"part-{i:04d}.jsonl"), "w") as fh:
            fh.write("\n".join(rows[i * per : (i + 1) * per]))

    wh = os.path.join(tmp, "stream_wh")
    cp = os.path.join(tmp, "stream_cp")
    ingest = _mk_ingest(spark, wh)

    latencies: list[float] = []
    fail_at = {1}  # kill the stream on its second microbatch

    def batch_fn(batch_df, batch_id):
        if batch_id in fail_at:
            fail_at.clear()
            raise RuntimeError("injected mid-stream crash (bench)")
        t0 = time.time()
        ingest.process_batch(batch_df, batch_id)
        latencies.append(time.time() - t0)

    stream = jsonl_stream(spark, src_dir, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        crashed = False
    except Exception:
        crashed = True

    # restart from the same checkpoint; the failed batch replays
    q2 = (
        jsonl_stream(spark, src_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    live = ingest.table("events").read_live().count()

    # Second, crash-free latency pass over a fresh target; keep the
    # run with the lower P95 — the same min-of-2 discipline as the
    # query timings (one-pass numbers are hostage to host-neighbor
    # contention: observed 2.99 s vs 12.5 s P95 on identical code an
    # hour apart; the contract measures the ENGINE's steady state,
    # the variance band is documented in BASELINE.md).  Kill/restart
    # stats stay from run 1, the only run with a crash injected.
    latencies2: list[float] = []
    ingest2 = _mk_ingest(spark, os.path.join(tmp, "stream_wh2"))

    def batch_fn2(batch_df, batch_id):
        t0 = time.time()
        ingest2.process_batch(batch_df, batch_id)
        latencies2.append(time.time() - t0)

    q3 = (
        jsonl_stream(spark, src_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(batch_fn2)
        .option("checkpointLocation", os.path.join(tmp, "stream_cp2"))
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination()

    def pct(sample: list[float], p: float) -> float | None:
        if not sample:
            return None
        s = sorted(sample)
        return round(s[min(len(s) - 1, int(p * len(s)))], 3)

    lat = min(
        (latencies, latencies2),
        key=lambda s: pct(s, 0.95) if s else float("inf"),
    )
    return {
        "microbatch_p50_sec": pct(lat, 0.50),
        "microbatch_p95_sec": pct(lat, 0.95),
        "microbatch_batches": len(lat),
        # BOTH runs' percentiles (r8 ADVICE): the chosen-min fields
        # above measure the engine's steady state, but publishing only
        # the winner one-sidedly biases the record — these carry the
        # actual variance band (run 1 includes the crash-injected pass
        # plus its replay, run 2 is crash-free)
        "microbatch_p50_run1_sec": pct(latencies, 0.50),
        "microbatch_p95_run1_sec": pct(latencies, 0.95),
        "microbatch_batches_run1": len(latencies),
        "microbatch_p50_run2_sec": pct(latencies2, 0.50),
        "microbatch_p95_run2_sec": pct(latencies2, 0.95),
        "microbatch_batches_run2": len(latencies2),
        "kill_restart_crash_injected": crashed,
        "kill_restart_rows_expected": len(rows),
        "kill_restart_rows_lost": len(rows) - live if live <= len(rows) else 0,
        "kill_restart_rows_duplicated": live - len(rows) if live > len(rows) else 0,
    }


def compaction_bench(spark, sf_dir: str, tmp: str, base_rows: int = 50000,
                     delta_rows: int = 2000) -> dict:
    """LSM merge-on-read cost model (plans/keyed_table.py): read
    latency vs delta depth, and after compact() — compaction must
    restore near-base read latency."""
    import os

    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    from cass_cdc_pg_spark.sources.tables import events_with_micros

    ev = events_with_micros(spark, sf_dir).limit(base_rows).select(
        "event_id", "user_id", "event_type", "value",
        F.lit(False).alias("_cdc_deleted"),
        F.col("ts_us").alias("_cdc_timestamp_micros"),
        F.lit("").alias("_last_event_id"),
        F.lit(None).cast("long").alias("_ttl_expiry_timestamp_us"),
    )
    t = KeyedTable(spark, os.path.join(tmp, "lsm"), ["event_id"],
                   num_buckets=32, compact_threshold=10**9)  # no auto-compact
    t.merge(ev)

    def timed_read() -> float:
        # min-of-2: a single read is hostage to one GC pause (observed
        # 1.2 s → 7.1 s on an otherwise-idle run)
        best = None
        for _ in range(2):
            t0 = time.time()
            t.read_live().count()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return round(best, 3)

    out = {"lsm_read_sec_depth0": timed_read()}
    delta = ev.limit(delta_rows).withColumn(
        "_cdc_timestamp_micros", F.col("_cdc_timestamp_micros") + F.lit(1)
    )
    for depth in range(1, 9):
        t.merge(delta)
        if depth in (4, 8):
            out[f"lsm_read_sec_depth{depth}"] = timed_read()
    t.compact()
    out["lsm_read_sec_compacted"] = timed_read()
    return out


def http_bench(spark, sf_dir: str, wh: str, n_requests: int = 200,
               concurrency: int = 8) -> dict:
    """Load-drive the HTTP listener the way the reference's Locust
    benchmark drives FastAPI (``scripts/benchmark.py:293-450``): a
    mixed route set over a live socket — cheap control-plane reads
    (health, metrics, jobs) and Spark-backed data-plane reads (DLQ
    stats/records, a reconciliation trigger per ~20 requests) — with
    *concurrency* client threads.  Reports requests/sec and P95
    latency so the API layer has a contract number the way ingest
    does."""
    import threading
    import urllib.request

    from cass_cdc_pg_spark.api import CdcApiServer, CdcApiService

    # small warehouse so the DLQ/data routes do real reads
    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.sources.tables import events_with_micros

    ingest = _mk_ingest(spark, wh, num_buckets=4)
    ev = events_with_micros(spark, sf_dir).orderBy("event_id").limit(2000)
    as_change_events = ev.select(
        F.concat(
            F.lit("00000000-0000-4000-8000-"),
            F.format_string("%012d", F.col("event_id")),
        ).alias("event_id"),
        F.lit("events").alias("source_table"),
        F.lit("CREATE").alias("operation_type"),
        F.col("ts_us").alias("timestamp_micros"),
        F.lit(None).cast("map<string,string>").alias("before"),
        F.create_map(
            F.lit("event_id"), F.col("event_id").cast("string"),
            F.lit("user_id"), F.col("user_id").cast("string"),
            F.lit("event_type"), F.col("event_type"),
            F.lit("value"), F.col("value").cast("string"),
        ).alias("after"),
        F.lit(1).alias("schema_version"),
        F.lit(None).cast("int").alias("ttl_seconds"),
        F.lit(False).alias("is_tombstone"),
    )
    # a few unconvertible events so the DLQ routes read real rows
    bad = spark.range(20).selectExpr(
        "CAST(NULL AS STRING) AS event_id",
        "'events' AS source_table",
        "'CREATE' AS operation_type",
        "id AS timestamp_micros",
        "CAST(NULL AS MAP<STRING,STRING>) AS before",
        "map('event_id', CONCAT('bad-', id)) AS after",
        "1 AS schema_version",
        "CAST(NULL AS INT) AS ttl_seconds",
        "FALSE AS is_tombstone",
    )
    ingest.process_batch(as_change_events.unionByName(bad))

    # the table reconciles against itself: the source warehouse is wh
    svc = CdcApiService(spark, warehouse=wh, source_warehouse=wh,
                        table_config={"tables": {"events": {
                            "ddl": "event_id long, user_id long, event_type string, value double",
                            "keys": ["event_id"]}}})
    srv = CdcApiServer(svc)
    host, port = srv.start()
    base = f"http://{host}:{port}"

    mix = [
        ("GET", "/health", None, 10),
        ("GET", "/metrics", None, 10),
        ("GET", "/reconciliation/jobs", None, 10),
        ("GET", "/dlq/stats", None, 3),
        ("GET", "/dlq/records?limit=20", None, 3),
        # async = the reference contract (trigger returns RUNNING and
        # the client polls /jobs): measures registration latency, the
        # reconcile itself runs on a worker thread
        ("POST", "/reconciliation/trigger",
         b'{"table": "events", "strategy": "row_count", "async": true}', 1),
    ]
    plan: list[tuple[str, str, bytes | None]] = []
    while len(plan) < n_requests:
        for m, p, b, w in mix:
            plan.extend([(m, p, b)] * w)
    plan = plan[:n_requests]

    # untimed warmup: one hit per GET route so the timed window
    # measures steady-state request latency, not the per-route cold
    # first-computation (same stance as the ingest warmup replay)
    for m, p, _, _ in mix:
        if m == "GET":
            try:
                with urllib.request.urlopen(base + p, timeout=60) as resp:
                    resp.read()
            except Exception:
                pass

    latencies: list[float] = []
    errors = [0]
    lock = threading.Lock()
    idx = [0]

    def worker() -> None:
        while True:
            with lock:
                if idx[0] >= len(plan):
                    return
                m, p, b = plan[idx[0]]
                idx[0] += 1
            req = urllib.request.Request(base + p, data=b, method=m)
            if b:
                req.add_header("Content-Type", "application/json")
            t0 = time.time()
            try:
                with urllib.request.urlopen(req, timeout=60) as resp:
                    resp.read()
                with lock:
                    latencies.append(time.time() - t0)
            except Exception:
                with lock:
                    errors[0] += 1

    t0 = time.time()
    threads = [threading.Thread(target=worker) for _ in range(concurrency)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.time() - t0
    srv.stop()

    latencies.sort()
    # max(0, ·): with <2 successes the naive index underflows to -1
    # and silently reports the MAX as p95 (ADVICE r5)
    p95 = (
        latencies[max(0, int(len(latencies) * 0.95) - 1)]
        if latencies
        else None
    )
    # a mostly-failing run must read as a failure, not as a healthy
    # requests_per_sec computed over the few successes: null the
    # latency-derived fields when >10% of requests errored
    failed = errors[0] > max(1, n_requests // 10)
    return {
        "http_requests": len(latencies),
        "http_errors": errors[0],
        "http_bench_failed": failed,
        "http_requests_per_sec": (
            round(len(latencies) / wall, 1) if wall and not failed else None
        ),
        "http_p95_ms": (
            round(p95 * 1000, 1) if p95 is not None and not failed else None
        ),
    }


def cdf_bench(spark, sf_dir: str, warehouse: str) -> dict:
    """Change-feed economics: build a keyed table from the events
    fixture in 10 merge commits, then time (a) the full feed read,
    (b) an incremental checksum reconcile scoped to the LAST commit
    vs (c) the full checksum diff over the same two tables — the
    measured form of the O(change)-vs-O(table) claim behind
    ``read_changes`` / ``incremental_checksum_diff``."""
    import time as _t

    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.operators.reconcile import (
        checksum_diff,
        incremental_checksum_diff,
    )
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    from cass_cdc_pg_spark.sources.tables import events_with_micros

    ev = events_with_micros(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("id"),
        F.col("event_type").alias("val"),
        F.lit(False).alias("_cdc_deleted"),
        F.col("ts_us").alias("_cdc_timestamp_micros"),
        F.col("event_id").cast("string").alias("_last_event_id"),
        F.lit(None).cast("long").alias("_ttl_expiry_timestamp_us"),
    )
    src = KeyedTable(spark, f"{warehouse}/cdf_src", ["id"],
                     num_buckets=32, keep_versions=64)
    tgt = KeyedTable(spark, f"{warehouse}/cdf_tgt", ["id"],
                     num_buckets=32, keep_versions=64)
    # 9 bulk commits land on both sides; the 10th is the realistic CDC
    # tail — a SMALL localized divergence (~0.5% of keys) only the
    # source has.  Uniformly-spread bulk changes would touch every
    # bucket and (correctly) erase the incremental win; the scoped
    # check exists for the narrow-delta steady state.
    chunks = ev.withColumn("_c", F.pmod(F.xxhash64("id"), F.lit(200)))
    bulk = chunks.filter(F.col("_c") > 0).drop("_c")
    tail = chunks.filter(F.col("_c") == 0).drop("_c")
    nine = bulk.withColumn("_i", F.pmod(F.xxhash64("id"), F.lit(9)))
    for i in range(9):
        batch = nine.filter(F.col("_i") == i).drop("_i")
        src.merge(batch)
        tgt.merge(batch)
    src.merge(tail)  # the divergent commit
    before_last = src._current_version() - 1

    t0 = _t.time()
    n_feed = src.read_changes(0).count()
    t_feed = round(_t.time() - t0, 3)
    t0 = _t.time()
    n_incr = incremental_checksum_diff(src, tgt, before_last, ["val"]).count()
    t_incr = round(_t.time() - t0, 3)
    t0 = _t.time()
    n_full = checksum_diff(
        src.read().filter(~F.col("_cdc_deleted")),
        tgt.read().filter(~F.col("_cdc_deleted")),
        ["id"], ["val"],
    ).count()
    t_full = round(_t.time() - t0, 3)
    assert n_incr == n_full, (n_incr, n_full)  # same missing set found
    return {
        "cdf_feed_rows": n_feed,
        "cdf_feed_read_sec": t_feed,
        "cdf_incr_diff_sec": t_incr,
        "cdf_full_diff_sec": t_full,
        "cdf_diff_rows": n_incr,
    }


def bucketed_join_bench(spark, sf_dir: str, warehouse: str) -> dict:
    """Co-located-join economics: time lineitem⋈orders + orderkey
    rollup three ways — plain shuffled SMJ, the same join over
    pre-bucketed tables (zero Exchange), and the write cost that buys
    it.  The ratio is the per-run saving every repeated join on the
    key banks after ONE bucketed write — the 100 TB lever
    `plans/bucketed.py` exists for."""
    import time as _t

    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.plans.bucketed import colocated_join, save_bucketed

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def shuffled():
            return (
                li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("o_orderpriority")
                .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")))
            )

        shuffled().count()  # warm
        t0 = _t.time()
        shuffled().count()
        t_shuffled = round(_t.time() - t0, 3)

        t0 = _t.time()
        save_bucketed(
            li.withColumnRenamed("l_orderkey", "k"), "bench_li", "k", 32,
            path=f"{warehouse}/bench_li", sorted_by="k",
        )
        save_bucketed(
            o.withColumnRenamed("o_orderkey", "k"), "bench_o", "k", 32,
            path=f"{warehouse}/bench_o", sorted_by="k",
        )
        t_write = round(_t.time() - t0, 3)

        def colocated():
            return (
                colocated_join(spark, "bench_li", "bench_o", "k")
                .groupBy("o_orderpriority")
                .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")))
            )

        colocated().count()  # warm
        t0 = _t.time()
        colocated().count()
        t_colocated = round(_t.time() - t0, 3)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bench_li")
        spark.sql("DROP TABLE IF EXISTS bench_o")
    return {
        "bucketed_join_shuffled_sec": t_shuffled,
        "bucketed_join_colocated_sec": t_colocated,
        "bucketed_write_once_sec": t_write,
    }


def zorder_bench(spark, sf_dir: str, out_dir: str) -> dict:
    """Z-order layout evidence (r9 wave 4): write the events fact
    twice — linearly sorted on ts vs z-ordered on (ts_epoch, user_id)
    — and report the STRUCTURAL pruning measure (candidate files per
    footer stats for a user_id band; wall-clock at toy SF is session
    floor) plus the one-time write costs."""
    import time as _t

    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.plans.bucketed import candidate_files, save_zordered
    from cass_cdc_pg_spark.sources.tables import events_with_micros

    # the dtype-dispatching loader, NOT a raw read: the driver's events
    # fixture has switched physical ts types across regenerations
    # (TIMESTAMP(NANOS)-as-bigint vs TIMESTAMP(MICROS))
    ev = events_with_micros(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("ts_epoch"),
    )
    lin = f"{out_dir}/events_linear"
    zo = f"{out_dir}/events_zordered"
    t0 = _t.time()
    (
        ev.repartitionByRange(16, "ts_epoch")
        .sortWithinPartitions("ts_epoch")
        .write.parquet(lin)
    )
    t_lin = round(_t.time() - t0, 3)
    t0 = _t.time()
    save_zordered(ev, zo, ["ts_epoch", "user_id"], n_files=16)
    t_zo = round(_t.time() - t0, 3)
    hi_u = ev.agg(F.max("user_id")).first()[0]
    lo, hi = hi_u // 4, hi_u // 4 + max(1, hi_u // 16)  # ~6% user band
    lin_u, lin_n = candidate_files(lin, "user_id", lo, hi)
    zo_u, zo_n = candidate_files(zo, "user_id", lo, hi)
    return {
        "zorder_write_sec": t_zo,
        "linear_write_sec": t_lin,
        "zorder_files_user_band": f"{zo_u}/{zo_n}",
        "linear_files_user_band": f"{lin_u}/{lin_n}",
    }


def ivf_split_bench(spark, sf_dir: str) -> dict:
    """Per-stage breakdown of the ann_ivf_topk build (r5 verdict #3:
    its local wall-clock swung 2× run-to-run; the round-over-round
    delta is only trustworthy with the build cost split out).

    Stages: ``train`` = forced k-means retrain (driver-side pyarrow +
    numpy); ``centroid_load`` = the on-disk centroid cache hit every
    fresh process now takes instead; ``build`` = DataFrame
    construction incl. plan analysis with the plan memo cleared;
    ``exec`` = three consecutive collects of the memoized plan — the
    steady-state number, which the ±10% stability check reads."""
    import time as _t

    from cass_cdc_pg_spark import registry
    from cass_cdc_pg_spark.operators import similarity

    key = registry._ivf_fixture_key(sf_dir)
    t0 = _t.time()
    similarity.train_ivf_centroids(key[0], ncentroids=registry._IVF_NC)
    train = _t.time() - t0

    registry._ivf_centroids(sf_dir)  # ensure the file cache exists
    registry._IVF_CENTROID_CACHE.clear()
    t0 = _t.time()
    registry._ivf_centroids(sf_dir)
    load = _t.time() - t0

    registry._IVF_DF_CACHE.clear()
    t0 = _t.time()
    df = registry.ann_ivf_topk_q(spark, sf_dir)
    build = _t.time() - t0
    df.collect()  # first-touch analyzer/codegen warmup, untimed
    execs = []
    for _ in range(3):
        t0 = _t.time()
        registry.ann_ivf_topk_q(spark, sf_dir).collect()
        execs.append(round(_t.time() - t0, 3))
    return {
        "ivf_train_sec": round(train, 3),
        "ivf_centroid_load_sec": round(load, 4),
        "ivf_build_sec": round(build, 3),
        "ivf_exec_sec": execs,
    }


def contract_bench(spark, sf_dir: str) -> dict:
    """The BASELINE.md ≤2× contract (Q1 row count, Q3 checksum join vs
    DuckDB), self-measured per round in a STABLE field format so a
    container-constant shift can't flip the contract verdict without a
    code change (r5 verdict item 7): both RAW ratios and
    floor-adjusted ratios are published, plus the measured per-action
    session floor itself.  Raw is wall-clock truth in this container;
    adjusted isolates the data-dependent part that scales with SF
    (Q1's Spark wall IS the floor — a parquet-footer metadata count
    has no data-dependent work left)."""
    import duckdb

    from cass_cdc_pg_spark.registry import QUERIES, oracle_sql

    probe = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .groupBy("r_regionkey")
        .count()
    )
    probe.collect()
    floor = min(_timed(lambda: probe.collect()) for _ in range(5))

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = oracle_sql(sf_dir)
    out: dict = {"contract_floor_sec": round(floor, 4)}
    for name, tag in (("q1_row_count", "q1"), ("q3_checksum_diff", "q3")):
        QUERIES[name](spark, sf_dir).collect()  # warm
        s = min(
            _timed(lambda: QUERIES[name](spark, sf_dir).collect())
            for _ in range(3)
        )
        sql = oracles[name]
        con.execute(sql).fetchall()  # warm
        d = min(_timed(lambda: con.execute(sql).fetchall()) for _ in range(3))
        adj = max(s - floor, 0.0)
        out[f"contract_{tag}_spark_sec"] = round(s, 4)
        out[f"contract_{tag}_duck_sec"] = round(d, 4)
        out[f"contract_{tag}_raw_ratio"] = round(s / d, 2) if d else None
        out[f"contract_{tag}_adj_ratio"] = round(adj / d, 2) if d else None
    con.close()
    return out


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _cpu_stat() -> tuple[float, float]:
    """(busy, total) jiffies from /proc/stat's aggregate cpu line.
    Returns (0.0, 0.0) where /proc isn't available (non-Linux)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [float(v) for v in parts[1:]]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0.0)  # idle+iowait
        return sum(vals) - idle, sum(vals)
    except (OSError, IndexError, ValueError):
        return 0.0, 0.0


def _load_telemetry_start() -> dict:
    """Ambient-load snapshot at bench start (r12 verdict #3: three
    rounds of absolute walls swinging with the container while the
    same-moment DuckDB ratios stayed flat — the machine-load diagnosis
    should be a recorded fact, not an inference)."""
    try:
        la = os.getloadavg()
    except OSError:
        la = (0.0, 0.0, 0.0)
    busy, total = _cpu_stat()
    return {"la_start": la, "busy0": busy, "total0": total}


def _load_telemetry_finish(t0: dict) -> dict:
    """bench_load_* fields: loadavg at both ends + the whole-machine
    CPU-busy fraction across the run from a /proc/stat delta.  A
    quiet dedicated run reads busy_frac ≈ this process's own usage /
    ncpu; a contended run reads close to 1.0 — the disambiguator for
    round-over-round absolute-wall swings."""
    try:
        la_end = os.getloadavg()
    except OSError:
        la_end = (0.0, 0.0, 0.0)
    busy, total = _cpu_stat()
    d_total = total - t0["total0"]
    return {
        "bench_load_start_1m": round(t0["la_start"][0], 2),
        "bench_load_start_5m": round(t0["la_start"][1], 2),
        "bench_load_end_1m": round(la_end[0], 2),
        "bench_load_end_5m": round(la_end[1], 2),
        "bench_cpu_busy_frac": round(
            (busy - t0["busy0"]) / d_total, 4
        ) if d_total > 0 else None,
    }


def main() -> None:
    # the measurement harness sizes the local JVM itself (r13 advice:
    # the library default is memory-aware-conservative; the 100x-ready
    # 24g heap belongs to bench/scale_proof, which run on the bench
    # box) — but through the same memory-aware probe (r14 advice): a
    # flat 24g on a host with a <24 GiB cgroup limit gets the JVM
    # OOM-killed, the exact failure _default_driver_memory exists to
    # avoid.  On the 128 GiB bench box the probe clamps to 24g, so
    # the measured configuration is unchanged there.
    from cass_cdc_pg_spark.session import _default_driver_memory

    os.environ.setdefault("SPARK_DRIVER_MEMORY", _default_driver_memory())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_t0 = _load_telemetry_start()
    from cass_cdc_pg_spark.registry import QUERIES
    from cass_cdc_pg_spark.session import get_spark

    spark = get_spark(app_name="cass-cdc-pg-spark-bench")
    # warm the JVM/codegen once so timings measure the plans, not startup
    spark.range(1000).selectExpr("sum(id)").collect()
    # materialize the target replicas (real deployments reconcile
    # against an existing target table, not a derived view)
    from cass_cdc_pg_spark.sources.tables import ensure_targets

    ensure_targets(spark, sf_dir)

    # one untimed warm pass (codegen + file-listing caches), then the
    # timed pass — matching how the baseline DuckDB numbers are taken
    for name in HEADLINE:
        force_full(QUERIES[name](spark, sf_dir))

    # the same per-action session floor the contract line carries,
    # measured HERE so the headline's floor-adjusted column reflects
    # this phase of the session, not the contract phase minutes later
    _floor_probe = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .groupBy("r_regionkey")
        .count()
    )
    _floor_probe.collect()
    headline_floor = round(
        min(_timed(lambda: _floor_probe.collect()) for _ in range(5)), 4
    )

    # THREE timed passes, min per query (r9 verdict #3: the previous
    # single/dual-observation format turned container-constant drift
    # into apparent ±9-35% regressions on unchanged plans every round;
    # the best-of-3 contract fields were stable for the same reason).
    # Round-over-round comparisons should read queries_best3 +
    # queries_floor_adj, not any single observation.
    timings: dict[str, float] = {}
    for _pass in range(3):
        for name in HEADLINE:
            fn = QUERIES[name]
            t0 = time.time()
            df = fn(spark, sf_dir)
            force_full(df)  # all columns, executor-side discard
            dt = round(time.time() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            print(f"# pass{_pass} {name}: {dt}s", file=sys.stderr)
    floor_adj = {
        name: round(max(t - headline_floor, 0.0), 3)
        for name, t in timings.items()
    }

    # min-of-2 like the headline pass: a single timed run is hostage
    # to one GC pause / driver-side scheduling stall, which reads as a
    # phantom round-over-round regression on an untouched code path
    pipeline: dict[str, float] = {}
    for name in PIPELINE:
        force_full(QUERIES[name](spark, sf_dir))  # warm
        for _ in range(2):
            t0 = time.time()
            force_full(QUERIES[name](spark, sf_dir))
            dt = round(time.time() - t0, 3)
            if name not in pipeline or dt < pipeline[name]:
                pipeline[name] = dt

    # Honest-cold companion numbers: the dedup/semdedup families share
    # session-scoped materialized pair/fixpoint tables (registry memos),
    # so their warm per-query walls above time reuse, as a live engine
    # would.  These fields time the FULL computation with the memo
    # bypassed so the record carries both views for EVERY memo consumer
    # (r8 verdict #2 — with only 2 of 6 published, round-over-round
    # pipeline totals quietly mixed memoized and real work), and
    # pipeline_total_cold restates the pipeline total with the
    # in-pipeline consumers swapped to their cold walls so totals stay
    # apples-to-apples across rounds (tools/scale_proof.py measures
    # scaling the same way).
    MEMO_CONSUMERS = [
        "dedup_minhash_lsh",
        "dedup_components",
        "dedup_cluster_sizes",
        "corpus_clean_keep",  # not in PIPELINE; cold wall still published
        "embedding_semdedup_keep",
        "embedding_semdedup_greedy",
        # r10: the incremental ladder reads the PERSISTED standing
        # index (band table + base assignment on disk — durable state
        # like the IVF centroid cache); cold = the daily job a fresh
        # process runs (load index + increment), and the one-time
        # index build is published separately as inc_index_build_sec
        "dedup_incremental_pairs",
        "dedup_incremental_components",
        "dedup_incremental_admission",
        # r9 wave 3: the cross-source matrix reads the same shared
        # pair materialization — cold = full pair recompute + rollup
        "dedup_cross_source_matrix",
        # r9 wave 4: quality-aware canonical selection reads the
        # shared CC materialization — cold = pairs + fixpoint + agg
        "dedup_best_of_cluster",
        # r9 wave 4: sketch precision reads the shared pair table —
        # cold = full pair recompute + exact-Jaccard joins
        "dedup_minhash_precision",
        # r13/r14: the LM scorers memoize their built plan per
        # fixture; from r14 the count tables are PERSISTED standing
        # artifacts, so cold = index-backed score (read counts +
        # explode + count-fetch join); the count build is capex,
        # published above as lm_{unigram,bigram}_build_sec
        "docs_unigram_logprob",
        "docs_bigram_logprob",
        # r14: the maintained-LM parity queries — cold = the real
        # daily job (read standing counts, count the batch, merge,
        # score the corpus)
        "unigram_logprob_incremental_parity",
        "bigram_logprob_incremental_parity",
        # r14: held-out scoring against the standing LM — cold = read
        # the base-count artifacts, score the batch through the
        # three-tier backoff
        "docs_bigram_backoff_logprob",
        # r15: the LM admission decision memoizes its backoff feed —
        # cold = the real daily job (read base-count artifacts, score,
        # tier, decide)
        "docs_lm_admission",
    ]
    # one-time standing-index build (the incremental tier's capex):
    # drop the on-disk index and rebuild it, timed, so the cold loop
    # below measures the daily job against a present index — the state
    # split a real deployment has (build once per snapshot, probe daily)
    import shutil

    from cass_cdc_pg_spark import registry as _reg

    _idx = _reg._inc_index_dir(_reg._docs_fixture_key(sf_dir))
    shutil.rmtree(_idx, ignore_errors=True)
    t0 = time.time()
    _reg._inc_standing_index(spark, sf_dir)
    inc_index_build_sec = round(time.time() - t0, 3)

    # r14: same capex split for the LM count artifacts — drop the
    # persisted count relations and rebuild them, timed, so the LM
    # cold rows below measure the index-backed daily score (r13's
    # 6.3 s bigram cold wall was the count build, now capex here)
    from cass_cdc_pg_spark import registry_corpus as _regc

    shutil.rmtree(_regc._lm_unigram_dir(sf_dir), ignore_errors=True)
    t0 = time.time()
    _regc._lm_unigram_counts(spark, sf_dir)
    lm_unigram_build_sec = round(time.time() - t0, 3)
    shutil.rmtree(_regc._lm_bigram_dir(sf_dir), ignore_errors=True)
    t0 = time.time()
    _regc._lm_bigram_counts(spark, sf_dir)
    lm_bigram_build_sec = round(time.time() - t0, 3)

    # r14: the containment standing inverted index (postings/sizes/df)
    # — same capex split; the pipeline row above then measures the
    # daily batch-vs-index feed, not the corpus re-shingle
    key = _regc._docs_fixture_key(sf_dir)
    _cidx = _reg._cache_layout_dir(
        "containment_index", key[0], key[1], _regc._CONTAINMENT_N, "inc10"
    )
    shutil.rmtree(_cidx, ignore_errors=True)
    t0 = time.time()
    _regc._containment_index(spark, sf_dir)
    containment_index_build_sec = round(time.time() - t0, 3)

    # r15 late: the day-0 (two-band) index the day-2 composition
    # query reads — same capex split, so its pipeline row measures
    # merge + feed, never the day-0 build
    _cidx0 = _reg._cache_layout_dir(
        "containment_index_d0", key[0], key[1],
        _regc._CONTAINMENT_N, "bands2",
    )
    shutil.rmtree(_cidx0, ignore_errors=True)
    t0 = time.time()
    _regc._containment_index_day0(spark, sf_dir)
    containment_index_d0_build_sec = round(time.time() - t0, 3)

    # r15: the weekly audit tier — full-recompute reconciliation
    # entries demoted from the routine pipeline (r14 verdict #2),
    # timed min-of-2 like pipeline rows but published under audit_*
    # keys so pipeline_total carries only the daily cadence
    audit: dict[str, float] = {}
    for name in AUDIT:
        force_full(QUERIES[name](spark, sf_dir))  # warm
        for _ in range(2):
            t0 = time.time()
            force_full(QUERIES[name](spark, sf_dir))
            dt = round(time.time() - t0, 3)
            k = f"audit_{name}_sec"
            if k not in audit or dt < audit[k]:
                audit[k] = dt

    cold: dict[str, float] = {}
    os.environ["SPARK_GRAFT_NO_DEDUP_MEMO"] = "1"
    os.environ["SPARK_GRAFT_NO_LM_MEMO"] = "1"  # r13: the LM scorers
    try:
        for name in MEMO_CONSUMERS:
            t0 = time.time()
            force_full(QUERIES[name](spark, sf_dir))
            cold[f"{name}_cold_sec"] = round(time.time() - t0, 3)
    finally:
        del os.environ["SPARK_GRAFT_NO_DEDUP_MEMO"]
        del os.environ["SPARK_GRAFT_NO_LM_MEMO"]
    pipeline_total_cold = round(
        sum(pipeline.values())
        - sum(pipeline[n] for n in MEMO_CONSUMERS if n in pipeline)
        + sum(
            cold[f"{n}_cold_sec"] for n in MEMO_CONSUMERS if n in pipeline
        ),
        3,
    )

    import tempfile

    # two bucket counts: merge cost is O(batch) regardless of bucket
    # count (LSM delta appends — see plans/keyed_table.py), so ev/s
    # must hold steady as buckets scale toward the thousands a 100 TB
    # table needs.  One UNTIMED warmup replay first: the very first
    # merge pays JVM/codegen/Arrow warmup worth ~2× on this container
    # (measured r7: 15.2k cold vs 32-35k warm on identical code — the
    # r5→r6 "regression" band), and a throughput contract number
    # should measure the steady state, not JIT.
    with tempfile.TemporaryDirectory() as wh:
        ingest_bench(spark, sf_dir, wh)
    # best-of-3 (r10 verdict #3): ingest was the last single-shot
    # metric — r9→r10 swung −27% on zero ingest-path commits, the same
    # measurement noise the headline had before ITS best-of-3.  Keep
    # every run's value so the record shows the spread.
    # r16 (r15 verdict #7): record the 1-minute loadavg BESIDE each
    # ingest run — best-of-3 swung 43.3k -> 36.1k r14->r15 purely with
    # ambient load, and without per-run load context every
    # round-over-round ingest comparison rides the box
    eps_runs = []
    eps_loads = []
    for _ in range(3):
        with tempfile.TemporaryDirectory() as wh:
            eps_loads.append(round(os.getloadavg()[0], 2))
            eps_runs.append(ingest_bench(spark, sf_dir, wh))
    eps = max(eps_runs)
    with tempfile.TemporaryDirectory() as wh:
        eps_256 = ingest_bench(spark, sf_dir, wh, num_buckets=256)
    with tempfile.TemporaryDirectory() as tmp:
        stream_stats = streaming_bench(spark, sf_dir, tmp)
    with tempfile.TemporaryDirectory() as tmp:
        lsm_stats = compaction_bench(spark, sf_dir, tmp)
    with tempfile.TemporaryDirectory() as wh:
        http_stats = http_bench(spark, sf_dir, wh)
    with tempfile.TemporaryDirectory() as wh:
        bucketed_stats = bucketed_join_bench(spark, sf_dir, wh)
    with tempfile.TemporaryDirectory() as wh:
        cdf_stats = cdf_bench(spark, sf_dir, wh)
    with tempfile.TemporaryDirectory() as wh:
        zorder_stats = zorder_bench(spark, sf_dir, wh)
    ivf_split = ivf_split_bench(spark, sf_dir)
    contract = contract_bench(spark, sf_dir)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        # explicit best-of-3 contract fields (r9 verdict #3): the name
        # makes the measurement discipline part of the record so a
        # future format change can't silently revert to single-shot
        # (the legacy duplicate "queries" alias was dropped per r10
        # advice — the map is carried once)
        "queries_best3": timings,
        "queries_floor_adj": floor_adj,
        # r15: every timed query action is a full-column noop-sink
        # write (see force_full) — .count() let Catalyst eliminate
        # the dominant joins of 12 queries (admission/decision +
        # recall families), so pre-r15 rows for those entries
        # measured a pruned plan; totals are comparable to r14 only
        # modulo that note
        "action": "noop_full_columns",
        "headline_floor_sec": headline_floor,
        "pipeline_queries": pipeline,
        "pipeline_total": round(sum(pipeline.values()), 3),
        "pipeline_total_cold": pipeline_total_cold,
        "inc_index_build_sec": inc_index_build_sec,
        "lm_unigram_build_sec": lm_unigram_build_sec,
        "lm_bigram_build_sec": lm_bigram_build_sec,
        "containment_index_build_sec": containment_index_build_sec,
        "containment_index_d0_build_sec": containment_index_d0_build_sec,
        **audit,
        **cold,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "warm": True,
        "ingest_events_per_sec": round(eps, 1),  # best of the 3 below
        "ingest_eps_run1": round(eps_runs[0], 1),
        "ingest_eps_run2": round(eps_runs[1], 1),
        "ingest_eps_run3": round(eps_runs[2], 1),
        "ingest_load1m_run1": eps_loads[0],
        "ingest_load1m_run2": eps_loads[1],
        "ingest_load1m_run3": eps_loads[2],
        "ingest_events_per_sec_256_buckets": round(eps_256, 1),
        **stream_stats,
        **lsm_stats,
        **http_stats,
        **bucketed_stats,
        **cdf_stats,
        **zorder_stats,
        **ivf_split,
        **contract,
        **_load_telemetry_finish(load_t0),
    }
    # Full record: first stdout line + a file next to this script.  The
    # driver keeps only the LAST ~2000 chars of stdout and json-parses
    # the final line, so the full map (which outgrew that window in r6,
    # leaving BENCH "parsed": null) must NOT be last.
    print(json.dumps(full))
    with open(os.path.join(os.path.dirname(__file__) or ".",
                           "bench_full.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    print(compact_headline(full))
    spark.stop()


#: keys the compact final stdout line carries — everything a
#: round-over-round comparison needs, nothing that can grow with the
#: query count.  The per-query evidence rides the canonical "queries"
#: map built by compact_headline (r16 verdict #1: the driver's PERF
#: tool keys per-query speedups, geomean and the low-core scaling
#: ratios off a "queries" entry, absent from the compact line since
#: the r10 alias cleanup — both bench_ok flags read false and the
#: per-query tables came back empty for six rounds).  queries_best3 /
#: queries_floor_adj stay in the FULL record (line 1 + bench_full.json)
#: — the compact "queries" map carries the identical headline
#: best-of-3 values, so nothing published was removed, only de-duped.
HEADLINE_KEYS = [
    "metric", "value", "unit", "action",
    "headline_floor_sec", "pipeline_total",
    "pipeline_total_cold", "audit_dedup_containment_pairs_sec",
    "audit_lineitem_part_copurchase_sec", "sf",
    "warm", "ingest_events_per_sec",
    "ingest_eps_run1", "ingest_eps_run2", "ingest_eps_run3",
    "ingest_load1m_run1", "ingest_load1m_run2", "ingest_load1m_run3",
    "ingest_events_per_sec_256_buckets", "microbatch_p50_sec",
    "microbatch_p95_sec", "microbatch_p95_run1_sec",
    "microbatch_p95_run2_sec", "kill_restart_crash_injected",
    "kill_restart_rows_expected", "kill_restart_rows_lost",
    "kill_restart_rows_duplicated",
    "zorder_files_user_band", "linear_files_user_band",
    "http_requests_per_sec",
    "http_p95_ms", "http_errors", "contract_floor_sec",
    "contract_q1_spark_sec", "contract_q1_duck_sec",
    "contract_q1_raw_ratio", "contract_q1_adj_ratio",
    "contract_q3_spark_sec", "contract_q3_duck_sec",
    "contract_q3_raw_ratio", "contract_q3_adj_ratio",
    "bench_load_start_1m", "bench_load_start_5m",
    "bench_load_end_1m", "bench_load_end_5m", "bench_cpu_busy_frac",
]


#: pipeline entries PINNED into the compact line's "queries" map, in
#: priority order (the heaviest tier of both the 32- and 8-core runs
#: plus the structurally-optimized families).  PINNED, not
#: dynamically-chosen-slowest, so the map's membership is identical
#: across runs and rounds — the driver's per-query and low-core/
#: high-core comparisons intersect on the full set, and an entry can
#: never silently vanish from the record by getting faster.  Additive
#: only (the r17 contract note: entries may be added, never removed
#: or renamed); the overflow guard trims from the END of this list.
COMPACT_PIPELINE = [
    "docs_fuzzy_pairs",
    "ann_ivf_recall",
    "dedup_containment_day2",
    "sales_rollup_totals",
    "decontam_ngram_overlap",
    "nation_trade_flows",
    "lineitem_bracket_revenue",
    "nation_profit_by_year",
    "dedup_best_of_cluster",
    "docs_heavy_hitters",
    "ann_ivf_topk",
    "ann_knn_within",
    "dedup_containment_incremental",
    "dedup_minhash_lsh",
    "customer_returns_ranking",
    "dedup_minhash_precision",
    "sales_by_nation_quarter",
    "docs_block_dedup",
]


def compact_headline(full: dict, limit: int = 1990) -> str:
    """Compact final-line JSON, guaranteed under *limit* chars (the
    driver keeps only the last 2000 chars of stdout — measured exact
    across every BENCH_r* tail — and parses the final line; the full
    record outgrew that in r6 and the machine-readable BENCH field was
    null for two rounds).  Carries the driver-contract "queries" map:
    all 10 headline best-of-3 walls (identical values to the full
    record's queries_best3) plus the pinned pipeline walls
    (COMPACT_PIPELINE, min-of-2, 2 dp).  Unit test:
    tests/test_cli.py::test_bench_compact_headline_bounded."""
    compact = {k: full[k] for k in HEADLINE_KEYS if k in full}
    queries = dict(full.get("queries_best3", {}))
    pipeline = full.get("pipeline_queries", {})
    pinned = [n for n in COMPACT_PIPELINE if n in pipeline]
    for n in pinned:
        queries[n] = round(pipeline[n], 2)
    compact["queries"] = queries
    compact["full_record"] = "bench_full.json"
    line = json.dumps(compact)
    # overflow: trim pinned pipeline entries from the END (lowest
    # priority first); the 10 headline entries are never trimmed
    while len(line) > limit and pinned:
        queries.pop(pinned.pop())
        line = json.dumps(compact)
    if len(line) > limit:  # belt-and-braces: pathological names
        compact.pop("queries", None)
        line = json.dumps(compact)
    return line


if __name__ == "__main__":
    main()
