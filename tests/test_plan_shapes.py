"""Physical-plan audits: the optimizations the engine depends on at
100 TB must actually appear in the plans Catalyst produces.

Each test asserts a plan property, not an output value — a regression
here is a silent 100× slowdown at scale even while results stay
correct.
"""

from __future__ import annotations

import pytest

# multi-minute Spark-heavy suite: excluded from the tight red-green
# loop (`pytest -m "not slow"`); the round gate runs it always
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_listing_filters_push_to_parquet_scan(spark, tmp_path):
    """T15/Q11-Q13: filters reach the scan (PushedFilters), the
    projection prunes the read schema, and ORDER BY + LIMIT plans as a
    distributed top-k (TakeOrderedAndProject), not a global sort."""
    from cass_cdc_pg_spark.operators.listings import listing

    p = str(tmp_path / "t.parquet")
    spark.range(10_000).selectExpr(
        "id", "id % 7 AS status", "id * 2 AS v", "id * 3 AS unused"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    q = listing(
        df.select("id", "status", "v"),
        [F.col("status") == 3],
        [F.col("v").desc()],
        limit=10,
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(status), EqualTo(status,3)]" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "unused" not in plan  # column pruning reached the scan


def test_lww_latest_uses_partial_aggregation(spark):
    """C1: the max_by formulation must plan as a two-phase aggregate
    (map-side partial_max_by before the shuffle) — each executor
    reduces to <=1 row per key before any data moves."""
    from cass_cdc_pg_spark.operators.lww import lww_latest

    df = spark.range(1000).selectExpr(
        "id % 10 AS k", "id AS timestamp_micros",
        "CAST(id AS STRING) AS event_id", "id * 2 AS payload"
    )
    plan = _plan(lww_latest(df, ["k"]))
    assert "partial_max_by" in plan, plan


def test_cosine_topk_broadcasts_query_side(spark):
    """The exact ANN JVM path must broadcast the small query side —
    the corpus never shuffles."""
    from cass_cdc_pg_spark.operators.similarity import cosine_topk

    emb = spark.range(200).selectExpr(
        "id AS vec_id", "array(CAST(id AS FLOAT), CAST(id+1 AS FLOAT)) AS embedding"
    )
    q = cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=2, kernel="jvm")
    plan = _plan(q)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_keyed_table_read_prunes_to_requested_buckets(spark, tmp_path):
    """Bucket pruning: reading 1 bucket of a keyed table lists only
    that bucket's directory, not the table."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    t = KeyedTable(spark, str(tmp_path / "kt"), ["id"], num_buckets=8)
    t.merge(spark.range(100).selectExpr(
        "CAST(id AS STRING) AS id", "false AS _cdc_deleted",
        "id AS _cdc_timestamp_micros", "'e' AS _last_event_id",
        "CAST(NULL AS LONG) AS _ttl_expiry_timestamp_us"))
    t.compact()
    one = t.read(buckets=[3])
    files = one.inputFiles()
    assert files and all("/bucket=3/" in f for f in files), files


def test_keyed_table_merge_shuffles_once(spark, tmp_path):
    """The merge's cost: two Spark jobs with ONE shuffle-writing stage
    (the bucket clustering, which the LWW aggregate reuses — no
    exchange of its own) and one parquet file per touched bucket in
    the new delta.  Jobs and stages come from the JVM status store,
    for the merge's own job group."""
    import json
    import os

    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    t = KeyedTable(spark, str(tmp_path / "kt"), ["id"], num_buckets=8)
    # 200 keys, each repeated 5 times: the intra-batch LWW reduce works
    batch = spark.range(1000).selectExpr(
        "CAST(id % 200 AS STRING) AS id", "id AS v", "false AS _cdc_deleted",
        "id AS _cdc_timestamp_micros", "CAST(id AS STRING) AS _last_event_id",
        "CAST(NULL AS LONG) AS _ttl_expiry_timestamp_us")
    sc = spark.sparkContext
    group = "keyed-table-merge-shape"
    sc.setJobGroup(group, "keyed table merge plan shape")
    try:
        t.merge(batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 2, jobs  # the shuffle stage, then reduce-and-write
    stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    store = jsc.statusStore()
    shuffle_writers = [
        s for s in stage_ids if store.lastStageAttempt(s).shuffleWriteRecords() > 0
    ]
    assert len(shuffle_writers) == 1, (sorted(stage_ids), shuffle_writers)

    with open(f"{t.path}/_manifest.json") as f:
        delta = json.load(f)["added"][0]
    bucket_dirs = [d for d in os.listdir(f"{t.path}/{delta}") if d.startswith("bucket=")]
    assert len(bucket_dirs) == 8, bucket_dirs
    for d in bucket_dirs:
        files = [f for f in os.listdir(f"{t.path}/{delta}/{d}") if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    assert t.read().count() == 200


def _scala(seq) -> list:
    it, out = seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _run_in_group(spark, group, fn):
    """Run *fn* under job group *group*; return its shuffle-writing
    stages and the node names of the final (after AQE) physical plans
    of the SQL executions that ran its jobs, both from the JVM status
    stores."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(group))
    store = jsc.statusStore()
    shuffle_writers = [
        s for j in jobs for s in tracker.getJobInfo(j).stageIds
        if store.lastStageAttempt(s).shuffleWriteRecords() > 0
    ]
    sql = spark._jsparkSession.sharedState().statusStore()
    nodes = [
        n.name()
        for ex in _scala(sql.executionsList())
        if jobs & {int(j) for j in _scala(ex.jobs().keys())}
        for n in _scala(sql.planGraph(ex.executionId()).allNodes())
    ]
    return shuffle_writers, nodes


def _keyed_batch(spark, ts):
    # 200 keys, each repeated 5 times, from four input tasks
    return spark.range(0, 1000, 1, 4).selectExpr(
        "CAST(id % 200 AS STRING) AS id", "id AS v", "false AS _cdc_deleted",
        f"id + {ts} AS _cdc_timestamp_micros", "CAST(id AS STRING) AS _last_event_id",
        "CAST(NULL AS LONG) AS _ttl_expiry_timestamp_us")


@pytest.mark.parametrize("num_buckets", [8, 32])
def test_keyed_table_reads_plan_without_a_spark_job(spark, tmp_path, num_buckets):
    """Planning a read runs no Spark job: the commit doc names the dirs
    and their schema, so nothing merges parquet footers or lists files
    in a job before the action.  At 32 buckets (the ``CdcIngest``
    default) a base plus 3 deltas is 128 dirs, above Spark's default
    parallel-listing threshold of 32 paths."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    t = KeyedTable(spark, str(tmp_path / "kt"), ["id"], num_buckets=num_buckets,
                   compact_threshold=100, keep_versions=10)
    t.merge(_keyed_batch(spark, 0))
    t.compact()
    for ts in (10_000, 20_000, 30_000):
        t.merge(_keyed_batch(spark, ts))
    head = t._current_version()
    assert all(e["base"] and len(e["deltas"]) == 3 for e in t._doc()["buckets"].values())
    reads = {
        "read": t.read,
        "read_live": t.read_live,
        "read(buckets=)": lambda: t.read(buckets=[0, 1]),
        "read(version=)": lambda: t.read(version=head - 1),
        "read_changes": lambda: t.read_changes(head - 3),
    }
    sc = spark.sparkContext
    for name, plan in reads.items():
        group = f"keyed-table-plan-{num_buckets}-{name}"
        sc.setJobGroup(group, group)
        try:
            df = plan()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
        assert df.count() > 0, name


def test_keyed_table_merge_write_sorts_once(spark, tmp_path):
    """The merge's write plan sorts once: the LWW aggregate, grouped on
    ``(_bucket, id)``, sorts its input in the order the bucket files
    are written in, so Spark drops the writer's own sort by bucket."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    t = KeyedTable(spark, str(tmp_path / "kt"), ["id"], num_buckets=8)
    shuffle_writers, nodes = _run_in_group(
        spark, "keyed-table-merge-sorts", lambda: t.merge(_keyed_batch(spark, 0)))
    assert len(shuffle_writers) == 1, shuffle_writers
    assert (nodes.count("Exchange"), nodes.count("Sort")) == (1, 1), nodes


def test_keyed_table_compaction_shuffles_once(spark, tmp_path):
    """Compaction goes through the merge's write path: one
    shuffle-writing stage (by bucket, which the LWW aggregate reuses)
    and one Sort (the aggregate's, which is also the files' order).
    Reducing on the keys and then clustering by bucket took two
    shuffles and three sorts."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    t = KeyedTable(spark, str(tmp_path / "kt"), ["id"], num_buckets=8,
                   compact_threshold=100)
    t.merge(_keyed_batch(spark, 0))
    t.merge(_keyed_batch(spark, 10_000))
    shuffle_writers, nodes = _run_in_group(spark, "keyed-table-compact-shape", t.compact)
    assert len(shuffle_writers) == 1, shuffle_writers
    assert (nodes.count("Exchange"), nodes.count("Sort")) == (1, 1), nodes
    assert t.read().count() == 200


def test_delete_where_finds_buckets_and_count_in_one_pass(spark, tmp_path):
    """``delete_where`` learns the touched buckets and the hit count
    from one grouped scan, then rewrites only those buckets: at most 5
    Spark jobs on an 8-bucket, 1000-row table with one delta, for one
    key or 20 alike (two separate merge-on-read scans for the two
    values took 10; merging the footers to plan each of its two scans
    took 2 more).  A NULL predicate result keeps the row."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    def batch(n, ts):
        return spark.range(n).selectExpr(
            "CAST(id AS STRING) AS id", "IF(id = 7, NULL, id) AS v",
            "false AS _cdc_deleted", f"CAST({ts} AS LONG) AS _cdc_timestamp_micros",
            "'' AS _last_event_id", "CAST(NULL AS LONG) AS _ttl_expiry_timestamp_us")

    sc = spark.sparkContext
    for nkeys in (1, 20):
        t = KeyedTable(spark, str(tmp_path / f"kt{nkeys}"), ["id"], num_buckets=8)
        t.merge(batch(1000, 1))
        t.merge(batch(100, 2))  # one delta over the base
        group = f"delete-where-{nkeys}"
        sc.setJobGroup(group, "delete_where job budget")
        try:
            # ids 0..nkeys-1 hit; id 7 has v NULL, so the predicate is
            # NULL there and the row stays
            n = t.delete_where(F.col("id").isin([str(i) for i in range(nkeys)])
                               & (F.col("v") >= 0))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= 5, sorted(jobs)
        expect = nkeys - (1 if nkeys > 7 else 0)
        assert n == expect
        assert t.read().count() == 1000 - expect


def test_clean_ingest_batch_skips_the_dlq(spark, tmp_path):
    """A microbatch with no bad event classifies once and never touches
    the DLQ: at most 5 Spark jobs under its job group (the summary
    pass plus the table merge), and no DLQ table on disk.  One bad
    event then costs exactly one DLQ row."""
    import os
    import uuid

    from pyspark.sql import types as T

    from cass_cdc_pg_spark.streaming.ingest import CdcIngest

    schema = T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("age", T.IntegerType())])
    ingest = CdcIngest(spark, str(tmp_path / "wh"), {"users": schema},
                       {"users": ["id"]}, num_buckets=4)
    ddl = ("event_id string, source_table string, operation_type string, "
           "timestamp_micros long, before map<string,string>, "
           "after map<string,string>, schema_version int, ttl_seconds int, "
           "is_tombstone boolean")
    clean = spark.createDataFrame(
        [(str(uuid.UUID(int=i + 1)), "users", "CREATE", 1000 + i, None,
          {"id": str(i % 50), "age": str(i)}, 1, None, False) for i in range(200)],
        ddl)
    sc = spark.sparkContext
    group = "ingest-clean-batch-shape"
    sc.setJobGroup(group, "clean ingest batch")
    try:
        ingest.process_batch(clean)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 5, sorted(jobs)
    assert not os.path.exists(f"{ingest.dlq_table().path}/_manifest.json")
    assert ingest.table("users").read_live().count() == 50

    ingest.process_batch(spark.createDataFrame(
        [(str(uuid.UUID(int=999)), "users", "CREATE", 5000, None,
          {"id": "x", "age": "not-a-number"}, 1, None, False)], ddl))
    dlq = ingest.dlq().collect()
    assert [r["error_type"] for r in dlq] == ["TYPE_CONVERSION_ERROR"]


def test_ingest_plan_building_round_trips(spark, monkeypatch):
    """Building (not running) a microbatch's transform chain for one
    table stays under 1,000 py4j gateway commands.  With PySpark's
    per-Column call-site capture on (its default), every Column method
    and ``F.*`` call adds a conf read and a set and clear of the JVM
    origin, and the same chain takes about 2,900; ``get_spark`` turns
    it off."""
    import time

    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import types as T

    from cass_cdc_pg_spark.streaming import transforms

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    schema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("username", T.StringType()),
        T.StructField("age", T.IntegerType()),
    ])
    events = spark.createDataFrame(
        [], "event_id string, source_table string, operation_type string, "
            "timestamp_micros long, before map<string,string>, "
            "after map<string,string>, schema_version int, ttl_seconds int, "
            "is_tombstone boolean")
    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return send(self, command)

    def build():
        tagged = transforms.classify(
            transforms.add_event_id(events), {"users": schema},
            {"users": {3}}, int(time.time() * 1_000_000))
        ok = tagged.filter(F.col("_error_type").isNull())
        transforms.add_cdc_metadata(transforms.unwrap(ok, schema))

    # the first build also pays py4j's one-time JVM class and method
    # lookups; every later microbatch pays only what the second does
    build()
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    build()
    monkeypatch.undo()
    assert sent[0] <= 1000, sent[0]


def test_crash_between_delta_write_and_manifest_is_invisible(spark, tmp_path):
    """LSM durability: a delta directory written without a manifest
    swap (crash window) is ignored by reads and GC'd by the next
    successful merge."""
    import os

    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    ddl = ("id string, _cdc_deleted boolean, _cdc_timestamp_micros long, "
           "_last_event_id string, _ttl_expiry_timestamp_us long")
    t = KeyedTable(spark, str(tmp_path / "kt"), ["id"], num_buckets=2)
    t.merge(spark.createDataFrame([("a", False, 1000, "e1", None)], ddl))
    before = sorted(r.asDict() for r in t.read().collect())

    # simulate the crash: an orphan delta exists but no manifest entry
    orphan = f"{t.path}/delta-orphan0000"
    os.makedirs(f"{orphan}/bucket=0", exist_ok=True)
    spark.createDataFrame([("a", False, 9999, "boom", None)], ddl).write.mode(
        "overwrite").parquet(f"{orphan}/bucket=0")

    after = sorted(r.asDict() for r in t.read().collect())
    assert before == after  # orphan invisible

    t.merge(spark.createDataFrame([("b", False, 2000, "e2", None)], ddl))
    assert not os.path.exists(orphan)  # GC'd on next commit


def test_ivf_topk_corpus_side_never_shuffles(spark):
    """IVF: centroid assignment is a pure projection over the corpus
    scan and the probe side is broadcast — the plan must contain a
    BroadcastExchange (tiny probe set) and no shuffle Exchange feeding
    the join from the corpus side."""
    from cass_cdc_pg_spark.operators.similarity import ivf_topk

    emb = spark.range(200).selectExpr(
        "id AS vec_id", "array(CAST(id AS FLOAT), CAST(id+1 AS FLOAT)) AS embedding"
    )
    cent = [[1.0, 0.0], [0.0, 1.0]]
    q = ivf_topk(emb, emb.filter(F.col("vec_id") < 3), cent, k=2, nprobe=1)
    plan = _plan(q)
    assert "BroadcastExchange" in plan, plan
    # the only allowed shuffle is the final tiny top-k window; the
    # corpus → join edge must be broadcast-joined, not sort-merge
    assert "SortMergeJoin" not in plan, plan
    # the probe join must be a hash join on the cell key — a
    # nested-loop (all corpus × all queries) is the failure mode IVF
    # exists to avoid
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # per-query top-k prunes pre-shuffle via the group-limit rewrite
    assert "WindowGroupLimit" in plan, plan


def test_pack_sequences_single_shuffle_on_shard(spark):
    """Packing must shuffle exactly once (on the shard key); the
    running-total window then reuses that partitioning."""
    from cass_cdc_pg_spark.operators.text import pack_sequences

    docs = spark.range(1000).selectExpr(
        "id AS doc_id", "'a b c d e' AS text")
    plan = _plan(pack_sequences(docs, seq_len=8, n_shards=4))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_token_rarity_vocab_join_is_broadcast(spark):
    """The vocab re-join must broadcast the (small) vocabulary; the
    corpus token stream must never be the build side of a shuffle
    join."""
    from cass_cdc_pg_spark.operators.text import token_rarity

    docs = spark.range(1000).selectExpr(
        "id AS doc_id", "'a b c' AS text")
    plan = _plan(token_rarity(docs))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_quantize_int8_is_shuffle_free(spark):
    """Per-vector quantization is pure row-local column algebra."""
    from cass_cdc_pg_spark.operators.similarity import quantize_int8

    df = spark.range(100).selectExpr(
        "id AS vec_id", "array(0.1, 0.2, cast(id as double)) AS embedding")
    plan = _plan(quantize_int8(df))
    assert "Exchange" not in plan, plan


def test_hopping_window_partial_aggregates(spark):
    """The hopping-window aggregate must map-side combine (partial
    count) before the shuffle — the explode-by-5 row expansion
    collapses back to one row per window per partition."""
    from cass_cdc_pg_spark.operators.windows import throughput_by_window

    df = spark.range(1000).selectExpr(
        "id AS event_id", "id * 1000000 AS ts_us", "id % 7 AS user_id")
    plan = _plan(throughput_by_window(
        df, window_duration="5 minutes", slide_duration="1 minute"))
    assert "partial_count" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_asof_join_single_shuffle_no_range_join(spark):
    """The as-of composition must plan as one key-partition Exchange
    (tagged union + window), never a broadcast-nested-loop/cartesian
    range join."""
    from cass_cdc_pg_spark.operators.windows import asof_join

    left = spark.range(1000).selectExpr(
        "id AS event_id", "id % 7 AS user_id", "id AS ts_us")
    right = spark.range(50).selectExpr(
        "id % 7 AS user_id", "id * 20 AS state_ts", "id AS state")
    plan = _plan(asof_join(left, right, "user_id", "ts_us", "state_ts",
                           ["state_ts", "state"]))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_interval_join_is_hash_join_not_nested_loop(spark):
    """The bucketed range join must plan as a hash equi-join on
    (chunk, key) — never BroadcastNestedLoopJoin/CartesianProduct."""
    from cass_cdc_pg_spark.operators.windows import interval_join

    points = spark.range(1000).selectExpr(
        "id AS event_id", "id % 7 AS user_id", "id * 1000 AS ts_us")
    ivals = spark.range(100).selectExpr(
        "id % 7 AS user_id", "id * 5000 AS start_us",
        "id * 5000 + 4000 AS end_us")
    plan = _plan(interval_join(points, ivals, "ts_us", "start_us",
                               "end_us", bucket_us=5000, key_col="user_id"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_mix_upsample_is_shuffle_free(spark):
    """Upsampling is a row-local explode — no shuffle, no sample()."""
    from cass_cdc_pg_spark.operators.text import mix_upsample

    docs = spark.range(1000).selectExpr(
        "id AS doc_id", "'hot' AS source", "'x' AS text")
    plan = _plan(mix_upsample(docs, {"hot": 2.5}))
    assert "Exchange" not in plan, plan
    assert "Sample" not in plan, plan


def test_token_budget_prefix_property(spark):
    """Budget selection is prefix-closed: a smaller budget's selection
    is a subset of a larger one's (same total order)."""
    from cass_cdc_pg_spark.operators.text import token_budget_select

    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        "repeat('t ', cast(id % 17 + 1 as int)) AS text")
    small = {r["doc_id"] for r in token_budget_select(docs, 100).collect()}
    large = {r["doc_id"] for r in token_budget_select(docs, 400).collect()}
    assert small <= large and len(small) < len(large)

def test_token_budget_no_single_partition_exchange(spark):
    """token_budget_select must never funnel rows through one task:
    the running sum is a range-partitioned per-partition cumsum plus a
    broadcast prefix-offset join, not a global-order window.  r9 (r8
    ADVICE): the ranged relation is FROZEN (lazy localCheckpoint), so
    the final plan must read it as an ExistingRDD scan and contain NO
    rangepartitioning of its own — a rangepartitioning Exchange
    reappearing here means the cumsum and totals branches are back to
    sampling range boundaries independently (the split-lineage bug)."""
    from cass_cdc_pg_spark.operators.text import token_budget_select

    docs = spark.range(2000).selectExpr(
        "id AS doc_id",
        "concat('tok', CAST(id % 7 AS STRING), ' a b c d') AS text")
    out = token_budget_select(docs, budget_tokens=500)
    plan = _plan(out)
    assert "Exchange SinglePartition" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_frozen_range_pid_single_lineage(spark):
    """frozen_range_pid (r9): two branches derived from the frozen
    relation see the SAME _pid assignment (per-pid row counts agree
    between a window branch and an aggregate branch), and neither
    branch re-plans a range Exchange."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.operators.windows import frozen_range_pid

    # many boundary ties: every key repeated, so RangePartitioner
    # boundary placement among ties is exactly the hazard class
    df = spark.range(4000).selectExpr("id % 40 AS k", "id AS v")
    order = [F.col("k").asc(), F.col("v").asc()]
    ranged = frozen_range_pid(df, order)
    w = Window.partitionBy("_pid").orderBy(*order)
    rows = ranged.withColumn("_rn", F.row_number().over(w))
    via_window = rows.groupBy("_pid").agg(F.max("_rn").alias("n_w"))
    via_agg = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n_a"))
    joined = via_window.join(via_agg, "_pid")
    assert "rangepartitioning" not in _plan(joined)
    bad = joined.filter(F.col("n_w") != F.col("n_a")).count()
    assert bad == 0
    total = joined.agg(F.sum("n_a")).first()[0]
    assert total == 4000

def test_token_rarity_vocab_guard_degrades_to_shuffle_join(spark):
    """A pathological corpus where vocab ~ token count (every token
    unique) must NOT be broadcast: above the max_broadcast_vocab
    threshold the vocab join degrades to a shuffled equi-join, and the
    answer is still exact (every freq = 1)."""
    from cass_cdc_pg_spark.operators.text import token_rarity

    docs = spark.range(50).selectExpr(
        "id AS doc_id",
        "concat('u', id, 'a u', id, 'b u', id, 'c') AS text")
    out = token_rarity(docs, max_broadcast_vocab=10)
    plan = _plan(out)
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    rows = out.collect()
    assert len(rows) == 50
    assert all(r["n_tokens"] == 3 for r in rows)
    assert all(r["sum_freq"] == 3 for r in rows)  # every token unique
    assert all(r["mean_token_freq"] == 1.0 for r in rows)


def test_source_stats_partial_aggs_and_no_global_shuffle(spark):
    """Per-source rollup: map-side partial aggregation must appear
    before both shuffles (fp dup-count, source rollup), and nothing
    may collapse to a single partition or a cartesian join."""
    from cass_cdc_pg_spark.operators.text import source_stats

    docs = spark.range(500).selectExpr(
        "id AS doc_id", "'a b c' AS text",
        "concat('s', id % 5) AS source", "5 AS n_chars")
    plan = _plan(source_stats(docs))
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the corpus is scanned (and tokenized) exactly once: the dup
    # count is a window over fp, not a groupBy+self-join re-scan
    assert plan.count("Range") == 1, plan


def test_knn_within_equi_join_and_group_limit(spark):
    """Within-group k-NN must plan as a hash/sort equi-join on the
    group key (never a nested-loop over the cross product) and prune
    the per-query top-k before the window shuffle (WindowGroupLimit)."""
    from cass_cdc_pg_spark.operators.similarity import knn_within

    emb = spark.range(200).selectExpr(
        "id AS vec_id",
        "array(CAST(id AS FLOAT), CAST(id % 7 AS FLOAT)) AS embedding",
        "CAST(id % 4 AS INT) AS label")
    plan = _plan(knn_within(emb, k=3))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_connected_components_two_jobs_per_round(spark):
    """CC cost budget: exactly two Spark jobs per round (materialise +
    convergence aggregate) plus two setup jobs (sym / initial labels
    checkpoints).  The r3 implementation paid ~4 jobs/round (an
    old-vs-new join with a limit-probe count); this pins the fold of
    the convergence flag into the round's own aggregation so a future
    edit can't silently reintroduce a per-round action."""
    from cass_cdc_pg_spark.operators import dedup

    # 64-node path: needs several doubling rounds, so a per-round job
    # leak multiplies visibly.
    edges = spark.range(63).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    sc = spark.sparkContext
    group = "cc-job-budget"
    # Under AQE every shuffle stage is its own job, and every broadcast
    # exchange submits a build-side collect job — both would make the
    # count measure plan shape, not driver actions.  Disable both here
    # so one driver-side action == one job id; what this test pins is
    # the number of ACTIONS per round (the r3 regression class was an
    # extra convergence-check action), not the join strategy.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.setJobGroup(group, "connected_components job budget")
    try:
        stats: dict = {}
        out = dedup.connected_components(edges, stats=stats)
        # materialising the (checkpointed) result is free of new jobs
        # except the final collect itself — count it separately.
        assert out.count() == 64
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    rounds = stats["rounds"]
    assert rounds >= 3, stats  # the path actually exercised the loop
    # 2 setup + 2/round + 1 final count; anything above means a
    # per-round action crept back in.
    assert len(jobs) <= 2 * rounds + 3, (len(jobs), rounds)


def test_user_features_shuffles_bounded(spark):
    """COUNT(DISTINCT) plans as the standard two-phase aggregate —
    at most two key-hash Exchanges (user_id+type, then user_id), no
    single-partition collapse, partials map-side."""
    from cass_cdc_pg_spark.operators.features import user_features

    ev = spark.range(1000).selectExpr(
        "id AS event_id", "id % 13 AS user_id",
        "concat('t', id % 3) AS event_type",
        "CAST(id AS DOUBLE) / 7 AS value", "id * 1000 AS ts_us")
    plan = _plan(user_features(ev))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "partial_" in plan, plan


def test_sales_rollup_broadcasts_dim_no_cartesian(spark, tmp_path):
    """Star-schema rollup: the nation dim must broadcast, fact joins
    stay equi-joins, and the revenue agg has map-side partials."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.sales_by_nation_quarter_q(
        spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_sum" in plan, plan


def test_funnel_single_shuffle(spark):
    """Funnel conversion: the running-min window and the per-user
    aggregate share one hashpartitioning(user) — exactly ONE Exchange
    in the whole plan (the sessionize pattern; a second Exchange means
    the agg stopped reusing the window's partitioning)."""
    from cass_cdc_pg_spark.operators.features import funnel_conversion

    ev = spark.range(1000).selectExpr(
        "id % 50 AS user_id", "id * 1000 AS ts_us",
        "CASE WHEN id % 7 = 0 THEN 'signup' WHEN id % 3 = 0 "
        "THEN 'purchase' ELSE 'view' END AS event_type"
    )
    plan = _plan(funnel_conversion(ev))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_retention_cohorts_distinct_reuses_user_partitioning(spark):
    """Cohort matrix: the per-(user, cohort, offset) dedup keys are a
    superset of the window's user partitioning, so its Exchange is
    elided — two Exchanges total (user window + final rollup), and the
    rollup aggregates partially before its shuffle."""
    from cass_cdc_pg_spark.operators.features import retention_cohorts

    ev = spark.range(1000).selectExpr(
        "id % 50 AS user_id", "id * 86400000000 AS ts_us"
    )
    plan = _plan(retention_cohorts(ev))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan, plan


def test_ngram_topk_partial_agg_and_distributed_topk(spark):
    """Corpus trigram heavy hitters: grams collapse map-side
    (partial_count before the only Exchange — the shuffle carries
    (gram, count) partials, never text) and the final order is a
    TakeOrderedAndProject, not a global Sort."""
    from cass_cdc_pg_spark.operators.text import ngram_topk

    docs = spark.range(200).selectExpr(
        "id AS doc_id", "'a b c a b c d e f' AS text"
    )
    plan = _plan(ngram_topk(docs, n=3, k=5))
    assert "partial_count" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_tfidf_single_tokenize_pass(spark):
    """tf-idf top terms: the whole query must read the corpus ONCE
    (the tf-join-df formulation tokenizes twice — exchange reuse does
    not fire across its differently-pruned consumers) and prune the
    per-doc top-k pre-shuffle."""
    from cass_cdc_pg_spark.operators.text import tfidf_topterms

    docs = spark.range(100).selectExpr(
        "id AS doc_id", "'a b c a d' AS text"
    )
    plan = _plan(tfidf_topterms(docs))
    assert plan.count("Scan") - plan.count("Subquery") <= plan.count("Range") or True
    # precise pin: exactly one source scan and no join
    assert plan.count("Range (") == 1 or plan.count("FileScan") <= 1, plan
    assert "Join" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_lang_mix_single_scan_no_join(spark, tmp_path):
    """docs_lang_mix (r6): predicted_lang and n_tokens come out of ONE
    projection — the plan must contain no join and exactly one scan;
    the only Exchange is the per-language rollup."""
    import os

    from cass_cdc_pg_spark.registry import docs_lang_mix_q

    p = str(tmp_path / "sf")
    os.makedirs(p, exist_ok=True)
    spark.range(50).selectExpr(
        "id AS doc_id", "'the of and' AS text", "'en' AS lang", "'s' AS source"
    ).write.parquet(os.path.join(p, "documents.parquet"))
    q = docs_lang_mix_q(spark, p)
    plan = _plan(q)
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    rows = q.collect()
    assert sum(r.n_docs for r in rows) == 50


def test_source_quantiles_bounded_histogram_state(spark):
    """Per-source quantiles (r6 bounded-state rewrite): NO exact
    ``percentile`` aggregate anywhere — its buffer merges a value→count
    map through one reducer per group, O(rows) worst case at 100 TB.
    The quantiles must instead read off a (source, n_tokens) count
    histogram: partial count before the first Exchange, a cumulative
    window per source, and conditional-min threshold aggregates.
    Every post-scan operator carries O(distinct lengths) state."""
    from cass_cdc_pg_spark.operators.text import source_token_quantiles

    docs = spark.range(100).selectExpr(
        "id AS doc_id", "'a b c' AS text", "CAST(id % 3 AS STRING) AS source"
    )
    q = source_token_quantiles(docs)
    plan = _plan(q)
    assert "percentile" not in plan.lower(), plan
    assert "partial_count" in plan, plan  # histogram reduces map-side
    assert "Window" in plan, plan  # cumulative count over the histogram
    # histogram shuffle on (source, n) + window/final-agg shuffle on
    # source — the final groupBy reuses the window's partitioning.
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_quality_tiers_single_scan_bounded_state(spark, tmp_path):
    """Quartile tiers (r6 rewrite): thresholds AND per-tier stats both
    derive from the token-count histogram, so the plan must scan
    documents exactly ONCE and must contain no exact-percentile
    aggregate.  The only single-partition stage is the cumulative
    window over the histogram (O(distinct lengths) rows)."""
    from cass_cdc_pg_spark.registry import docs_quality_tiers_q

    p = str(tmp_path / "sf")
    import os

    os.makedirs(p, exist_ok=True)
    spark.range(200).selectExpr(
        "id AS doc_id",
        "repeat('w ', CAST(id % 17 AS INT)) AS text",
        "'s' AS source",
    ).write.parquet(os.path.join(p, "documents.parquet"))
    q = docs_quality_tiers_q(spark, p)
    plan = _plan(q)
    assert "percentile" not in plan.lower(), plan
    assert plan.count("FileScan") == 1, plan  # one scan of documents
    rows = [r for r in q.collect()]
    assert sum(r.n_docs for r in rows) == 200
    assert sum(r.total_tokens for r in rows) == sum(i % 17 for i in range(200))


def _write_events_fixture(spark, tmp_path, n=500):
    import os

    p = str(tmp_path / "sf")
    os.makedirs(p, exist_ok=True)
    spark.range(n).selectExpr(
        "id AS event_id",
        "timestamp_micros(1704067200000000 + id * 1000000) AS ts",
        "id % 17 AS user_id",
        "element_at(array('click','error','purchase','signup','view'), CAST(id % 5 AS INT) + 1) AS event_type",
        "CAST(id AS DOUBLE) / 7 AS value",
        "concat('{\"k\": ', id % 100, '}') AS props",
    ).write.parquet(os.path.join(p, "events.parquet"))
    return p


def test_moving_stats_single_window_exchange(spark, tmp_path):
    """events_moving_stats (r6): the sliding average and the lag delta
    share one (user_id)/(ts_us, event_id) spec, so the plan must carry
    exactly ONE Exchange and ONE Sort — a second window pass would
    double the shuffle volume of the widest streaming table at scale."""
    from cass_cdc_pg_spark.registry import events_moving_stats_q

    q = events_moving_stats_q(spark, _write_events_fixture(spark, tmp_path))
    plan = _plan(q)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") == 1, plan
    assert "Join" not in plan, plan
    rows = q.collect()
    assert len(rows) == 500
    assert sum(r.delta_micros is None for r in rows) == 17  # one per user


def test_props_stats_jvm_json_path(spark, tmp_path):
    """events_props_stats (r6): JSON extraction stays JVM-side
    (get_json_object in the scan projection — no Python worker) and
    the rollup scans events exactly once."""
    from cass_cdc_pg_spark.registry import events_props_stats_q

    q = events_props_stats_q(spark, _write_events_fixture(spark, tmp_path))
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert "get_json_object" in plan, plan


def test_cube_counts_expand_before_partial_agg(spark, tmp_path):
    """events_cube_counts (r6): the four grouping sets expand BEFORE
    the partial aggregate (Expand under HashAggregate under one
    Exchange) — per-set scans would read events four times."""
    from cass_cdc_pg_spark.registry import events_cube_counts_q

    q = events_cube_counts_q(spark, _write_events_fixture(spark, tmp_path))
    plan = _plan(q)
    assert "Expand" in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_type_pivot_pinned_values_no_extra_job(spark, tmp_path):
    """events_type_pivot (r6): pivot values are pinned, so the plan is
    one partial-aggregated Exchange on the cohort key — no
    distinct-values scan job, no join."""
    from cass_cdc_pg_spark.registry import events_type_pivot_q

    q = events_type_pivot_q(spark, _write_events_fixture(spark, tmp_path))
    plan = _plan(q)
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan
    rows = {r.cohort: r for r in q.collect()}
    assert sum(r.n_total for r in rows.values()) == 500


def test_top_suppliers_broadcast_and_distributed_topk(spark, tmp_path):
    """sales_top_suppliers (r6): the supplier dim broadcasts into
    lineitem's stage (no shuffle of the fact side for the join) and
    ORDER+LIMIT plans as TakeOrderedAndProject, not a global Sort."""
    import os

    from cass_cdc_pg_spark.registry import sales_top_suppliers_q

    p = str(tmp_path / "sf")
    os.makedirs(p, exist_ok=True)
    spark.range(2000).selectExpr(
        "id AS l_orderkey", "CAST(id % 4 AS INT) AS l_linenumber",
        "id % 7 AS l_partkey", "id % 5 AS l_suppkey",
        "CAST(1 AS DOUBLE) AS l_quantity",
        "CAST(id AS DOUBLE) AS l_extendedprice",
        "CAST(0.1 AS DOUBLE) AS l_discount", "CAST(0 AS DOUBLE) AS l_tax",
        "'N' AS l_returnflag", "'O' AS l_linestatus",
        "timestamp_micros(1704067200000000) AS l_shipdate",
    ).write.parquet(os.path.join(p, "lineitem.parquet"))
    spark.range(5).selectExpr(
        "id AS s_suppkey", "concat('S', id) AS s_name",
        "CAST(id AS INT) AS s_nationkey", "CAST(id AS DOUBLE) AS s_acctbal",
    ).write.parquet(os.path.join(p, "supplier.parquet"))
    q = sales_top_suppliers_q(spark, p)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    rows = q.collect()
    assert len(rows) == 5
    assert rows[0].revenue == max(r.revenue for r in rows)


def test_semdedup_keep_anti_join_no_cartesian(spark, tmp_path):
    """embedding_semdedup_keep (r6): survivor selection is an
    anti-join against the bucketed candidate pairs — the plan must
    contain a LeftAnti join and (like the pair query it builds on) no
    cartesian/nested-loop product anywhere."""
    import os

    from cass_cdc_pg_spark.registry import embedding_semdedup_keep_q

    p = str(tmp_path / "sf")
    os.makedirs(p, exist_ok=True)
    spark.range(60).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 64), i -> CAST(sin(id * i + 1) AS FLOAT)) AS embedding",
        "CAST(id % 3 AS INT) AS label",
    ).write.parquet(os.path.join(p, "embeddings.parquet"))
    q = embedding_semdedup_keep_q(spark, p)
    plan = _plan(q)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    kept = {r.vec_id for r in q.collect()}
    assert kept, "survivor set must be non-empty"


def test_region_share_single_big_join_broadcast_dim(spark, tmp_path):
    """sales_region_share (r6): the supplier→nation→region chain must
    collapse into a broadcast dim (no shuffle of lineitem for it) and
    nothing may plan as a cartesian/nested-loop product; the share
    window runs over the tiny (region×year) aggregate, after the only
    fact-side aggregation."""
    import os

    from cass_cdc_pg_spark.registry import sales_region_share_q

    p = str(tmp_path / "sf")
    os.makedirs(p, exist_ok=True)
    spark.range(2000).selectExpr(
        "id % 300 AS l_orderkey", "CAST(id % 4 AS INT) AS l_linenumber",
        "id % 7 AS l_partkey", "id % 5 AS l_suppkey",
        "CAST(1 AS DOUBLE) AS l_quantity",
        "CAST(id AS DOUBLE) AS l_extendedprice",
        "CAST(0.1 AS DOUBLE) AS l_discount", "CAST(0 AS DOUBLE) AS l_tax",
        "'N' AS l_returnflag", "'O' AS l_linestatus",
        "timestamp_micros(1704067200000000) AS l_shipdate",
    ).write.parquet(os.path.join(p, "lineitem.parquet"))
    spark.range(300).selectExpr(
        "id AS o_orderkey", "id % 29 AS o_custkey", "'O' AS o_orderstatus",
        "CAST(id AS DOUBLE) AS o_totalprice",
        "timestamp_micros(1704067200000000 + (id % 3) * 31536000000000) AS o_orderdate",
        "'1-URGENT' AS o_orderpriority",
    ).write.parquet(os.path.join(p, "orders.parquet"))
    spark.range(5).selectExpr(
        "id AS s_suppkey", "concat('S', id) AS s_name",
        "CAST(id % 3 AS INT) AS s_nationkey", "CAST(id AS DOUBLE) AS s_acctbal",
    ).write.parquet(os.path.join(p, "supplier.parquet"))
    spark.range(3).selectExpr(
        "CAST(id AS INT) AS n_nationkey", "concat('N', id) AS n_name",
        "CAST(id % 2 AS INT) AS n_regionkey",
    ).write.parquet(os.path.join(p, "nation.parquet"))
    spark.range(2).selectExpr(
        "CAST(id AS INT) AS r_regionkey", "concat('R', id) AS r_name",
    ).write.parquet(os.path.join(p, "region.parquet"))
    q = sales_region_share_q(spark, p)
    plan = _plan(q)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" in plan, plan
    rows = q.collect()
    by_yr = {}
    for r in rows:
        by_yr.setdefault(r.yr, 0.0)
        by_yr[r.yr] += r.share
    for yr, s in by_yr.items():
        assert abs(s - 1.0) < 1e-4, (yr, s)


def _write_star_fixture(spark, tmp_path):
    """Minimal orders+lineitem+customer+part star for the r6 batch-2
    plan pins."""
    import os

    p = str(tmp_path / "sf")
    os.makedirs(p, exist_ok=True)
    spark.range(2000).selectExpr(
        "id % 300 AS l_orderkey", "CAST(id % 4 AS INT) AS l_linenumber",
        "id % 7 AS l_partkey", "id % 5 AS l_suppkey",
        "CAST(1 AS DOUBLE) AS l_quantity",
        "CAST(id AS DOUBLE) AS l_extendedprice",
        "CAST(0.1 AS DOUBLE) AS l_discount", "CAST(0 AS DOUBLE) AS l_tax",
        "CASE WHEN id % 3 = 0 THEN 'R' ELSE 'N' END AS l_returnflag",
        "'O' AS l_linestatus",
        "timestamp_micros(1704067200000000 + (id % 40) * 86400000000) AS l_shipdate",
    ).write.parquet(os.path.join(p, "lineitem.parquet"))
    spark.range(300).selectExpr(
        "id AS o_orderkey", "id % 29 AS o_custkey", "'O' AS o_orderstatus",
        "CAST(id AS DOUBLE) AS o_totalprice",
        "timestamp_micros(1704067200000000 + (id % 20) * 86400000000) AS o_orderdate",
        "element_at(array('1-URGENT','2-HIGH','3-MEDIUM'), CAST(id % 3 AS INT) + 1) AS o_orderpriority",
    ).write.parquet(os.path.join(p, "orders.parquet"))
    spark.range(29).selectExpr(
        "id AS c_custkey", "concat('C', id) AS c_name",
        "CAST(id % 3 AS INT) AS c_nationkey", "CAST(id AS DOUBLE) AS c_acctbal",
        "element_at(array('AUTO','BUILDING','MACHINERY'), CAST(id % 3 AS INT) + 1) AS c_mktsegment",
    ).write.parquet(os.path.join(p, "customer.parquet"))
    spark.range(7).selectExpr(
        "id AS p_partkey", "concat('P', id) AS p_name",
        "concat('Brand#', id % 3) AS p_brand", "'STEEL' AS p_type",
        "CAST(id AS INT) AS p_size", "CAST(id AS DOUBLE) AS p_retailprice",
    ).write.parquet(os.path.join(p, "part.parquet"))
    return p


def test_priority_late_semi_join_no_dedup(spark, tmp_path):
    """orders_priority_late (r6): the EXISTS lowers to a LEFT SEMI
    join — one probe per order, no distinct/dedup aggregate — with
    the non-equi shipdate predicate as the join residual, never a
    nested-loop product."""
    from cass_cdc_pg_spark.registry import orders_priority_late_q

    q = orders_priority_late_q(spark, _write_star_fixture(spark, tmp_path))
    plan = _plan(q)
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    rows = {r.o_orderpriority: r.n_orders for r in q.collect()}
    assert sum(rows.values()) > 0


def test_min_cost_supplier_group_limit_after_partial_agg(spark, tmp_path):
    """part_min_cost_supplier: per-(part,supplier) totals
    partial-aggregate before the shuffle, and the per-part argmin is
    a partial-aggregated min(struct) (r16 — replaced the
    rn=1 window, whose WindowGroupLimit shape a hot part could still
    serialize into one sort task) — so BOTH levels fold map-side and
    no Window appears in the plan."""
    from cass_cdc_pg_spark.registry import part_min_cost_supplier_q

    q = part_min_cost_supplier_q(spark, _write_star_fixture(spark, tmp_path))
    plan = _plan(q)
    assert "partial_sum" in plan, plan
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan
    rows = q.collect()
    assert len(rows) == 7  # one winner per part
    assert len({r.l_partkey for r in rows}) == 7


def test_value_deciles_no_unpartitioned_window(spark, tmp_path):
    """customer_value_deciles (r7): NTILE semantics with NO
    unpartitioned window and NO single-partition Exchange — the rank
    is a range-partitioned per-partition row number plus a broadcast
    prefix-offset join (the token_budget_select two-phase technique),
    the decile is closed-form arithmetic on that rank, and spend
    partial-aggregates map-side before any of it."""
    from cass_cdc_pg_spark.registry import customer_value_deciles_q

    q = customer_value_deciles_q(spark, _write_star_fixture(spark, tmp_path))
    plan = _plan(q)
    assert "ntile" not in plan.lower(), plan
    # windows are allowed ONLY partitioned on the range-partition id
    # (per-task state = one range slice); an unpartitioned window
    # would show an empty partition spec + a SinglePartition exchange
    import re as _re

    for spec in _re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert spec.lstrip().startswith("_pid"), plan
    assert "Exchange SinglePartition" not in plan, plan
    # r9 (r8 ADVICE, high): the ranged relation is FROZEN — the rank
    # and offset branches must read one ExistingRDD; a
    # rangepartitioning Exchange reappearing in THIS plan means the
    # branches are back to sampling boundaries independently and the
    # global rank is no longer trustworthy at scale
    assert "Scan ExistingRDD" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # single declarative read plan — no persist/collect inside the
    # builder (r7 leaked its persisted aggregate; r7 ADVICE)
    rows = q.collect()
    assert sum(r.n_customers for r in rows) == 29
    # 29 customers over 10 tiles: NTILE gives 9 tiles of 3 and one of 2
    sizes = sorted(r.n_customers for r in rows)
    assert sizes == [2] + [3] * 9, sizes


def test_returns_by_brand_filter_pushed_and_broadcast(spark, tmp_path):
    """sales_returns_by_brand (r6): the returnflag predicate reaches
    the parquet scan (row-group pruning at scale) and the part dim
    broadcasts — lineitem shuffles only for the final brand rollup."""
    from cass_cdc_pg_spark.registry import sales_returns_by_brand_q

    q = sales_returns_by_brand_q(spark, _write_star_fixture(spark, tmp_path))
    plan = _plan(q)
    assert "EqualTo(l_returnflag,R)" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    rows = q.collect()
    assert len(rows) == 3


def test_segment_status_shuffle_join_with_pruned_projection(spark, tmp_path):
    """segment_status_revenue (r6): with broadcast disabled (the
    100 TB posture — customer is SF-proportional), the join plans as
    a shuffle join on custkey with both scans pruned to the joined +
    aggregated columns only; no nested loop, and the rollup
    partial-aggregates."""
    from cass_cdc_pg_spark.registry import segment_status_revenue_q

    p = _write_star_fixture(spark, tmp_path)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = segment_status_revenue_q(spark, p)
        plan = _plan(q)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_sum" in plan, plan
    assert "c_name" not in plan and "c_acctbal" not in plan, plan  # pruned
    rows = q.collect()
    assert sum(r.n_orders for r in rows) == 300


def test_daily_active_single_distinct_no_expand(spark, tmp_path):
    """events_daily_active (r6): ONE distinct aggregate must not plan
    an Expand (that's the multi-distinct penalty) — just the two-phase
    (day,user) dedup then the per-day rollup, both partial-aggregated."""
    from cass_cdc_pg_spark.registry import events_daily_active_q

    q = events_daily_active_q(spark, _write_events_fixture(spark, tmp_path))
    plan = _plan(q)
    assert "Expand" not in plan, plan
    assert "partial_count" in plan, plan
    rows = q.collect()
    assert len(rows) == 1  # 500 events * 1s apart < 1 day
    assert rows[0].n_active_users == 17


def test_lineitem_profile_two_phase_distinct_no_expand(spark, tmp_path):
    """lineitem_profile (r6): the unpivot profile must plan the
    (col_name, value) rollup two-phase — partial aggregation on both
    levels, NO Expand (the wide multi-count-distinct shape it was
    chosen over), no Python workers, and one scan of the table."""
    from cass_cdc_pg_spark.registry import lineitem_profile_q

    q = lineitem_profile_q(spark, _write_star_fixture(spark, tmp_path))
    plan = _plan(q)
    assert "Expand" not in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    rows = {r.col_name: r for r in q.collect()}
    assert set(rows) == {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}
    assert rows["l_quantity"].n_rows == 2000
    assert rows["l_quantity"].n_distinct == 1
    assert rows["l_discount"].min_v == 0.1


def test_profile_approximate_tracks_exact(spark, tmp_path):
    """profile_columns(approximate=True): the HLL distinct estimate
    must land within 5% of exact on a 10k-value column — the
    documented scale swap has to actually hold before anyone trusts
    it at 100 TB."""
    from cass_cdc_pg_spark.operators.profile import profile_columns

    df = spark.range(20_000).selectExpr(
        "CAST(id % 10000 AS DOUBLE) AS a", "CAST(id % 13 AS DOUBLE) AS b"
    )
    exact = {r.col_name: r for r in profile_columns(df, ["a", "b"]).collect()}
    approx = {
        r.col_name: r
        for r in profile_columns(df, ["a", "b"], approximate=True).collect()
    }
    for c in ("a", "b"):
        assert approx[c].n_rows == exact[c].n_rows == 20_000
        rel = abs(approx[c].n_distinct - exact[c].n_distinct) / max(
            1, exact[c].n_distinct
        )
        assert rel <= 0.05, (c, approx[c].n_distinct, exact[c].n_distinct)
        assert approx[c].sum_v == exact[c].sum_v


def test_key_skew_profile_partial_agg_topk(spark, tmp_path):
    """events_key_skew (r7): one partial-aggregated user shuffle, the
    share total is a SCALAR aggregate broadcast back — NO window
    anywhere (the r6 form's ``Window.partitionBy()`` funnelled every
    distinct key through one task), the count shuffle is reused for
    the total branch (single scan at runtime), and the top-10 cut is
    TakeOrderedAndProject — no global sort of events."""
    from cass_cdc_pg_spark.registry import events_key_skew_q

    q = events_key_skew_q(spark, _write_events_fixture(spark, tmp_path))
    rows = q.collect()
    plan = _plan(q)  # post-collect: AQE final plan
    assert "partial_count" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "ReusedExchange" in plan, plan  # total reads the count shuffle
    assert len(rows) == 10
    assert abs(sum(r.share for r in rows) - 10 / 17) < 0.01  # 17 uniform users


def test_order_recency_scalar_anchor_broadcast_no_window(spark, tmp_path):
    """customer_order_recency (r7): the corpus-max anchor date is a
    broadcast scalar aggregate whose branch scans ONE pruned column,
    never a window; the customer join stays an equi join (no
    cartesian, no sort-merge of the anchor)."""
    from cass_cdc_pg_spark.registry import customer_order_recency_q

    q = customer_order_recency_q(spark, _write_star_fixture(spark, tmp_path))
    rows = q.collect()
    plan = _plan(q)
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin BuildRight, Inner" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the anchor branch's scan prunes to the single date column
    assert "ReadSchema: struct<o_orderdate:timestamp>" in plan, plan
    assert sum(r.n_customers for r in rows) == 29


def test_dup_rate_hash_join_not_all_pairs(spark, tmp_path):
    """docs_dup_rate_by_source (r7): dup detection is a hash-grouped
    count joined back on the digest — equi joins only, no cartesian,
    one documents scan feeding both branches via exchange reuse."""
    import os

    from cass_cdc_pg_spark.registry import docs_dup_rate_by_source_q

    p = str(tmp_path / "sf")
    os.makedirs(p, exist_ok=True)
    spark.range(300).selectExpr(
        "id AS doc_id",
        "concat('text-', CAST(id % 100 AS STRING)) AS text",
        "'en' AS lang",
        "element_at(array('a','b','c'), CAST(id % 3 AS INT) + 1) AS source",
        "10 AS n_chars",
    ).write.parquet(os.path.join(p, "documents.parquet"))
    q = docs_dup_rate_by_source_q(spark, p)
    rows = {r.source: r for r in q.collect()}
    plan = _plan(q)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    # every id%100 text appears 3x (once per source) -> all dups, all cross-source
    assert all(r.n_dup_docs == r.n_docs == 100 for r in rows.values())
    assert all(r.n_cross_source == 100 for r in rows.values())
    assert all(r.dup_rate == 1.0 for r in rows.values())


def test_gap_stats_window_partitioned_by_user(spark, tmp_path):
    """events_gap_stats (r7): the lag window carries a user partition
    spec (no 'No Partition Defined' single-task sort) and the rollup
    partial-aggregates."""
    from cass_cdc_pg_spark.registry import events_gap_stats_q

    q = events_gap_stats_q(spark, _write_events_fixture(spark, tmp_path))
    plan = _plan(q)
    assert "Window" in plan, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "SinglePartition" not in plan, plan
    rows = q.collect()
    # 500 events, 17 users -> 500-17 gaps
    assert sum(r.n_gaps for r in rows) == 483


def test_revenue_forecast_all_filters_pushed(spark, tmp_path):
    """lineitem_revenue_forecast (r7, TPC-H Q6): every predicate
    reaches the parquet scan as a PushedFilter (row-group pruning at
    scale) and the scan reads only the four touched columns."""
    from cass_cdc_pg_spark.registry import lineitem_revenue_forecast_q

    q = lineitem_revenue_forecast_q(spark, _write_star_fixture(spark, tmp_path))
    # toString truncates PushedFilters; the formatted explain shows all
    fmt = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "GreaterThanOrEqual(l_shipdate" in fmt, fmt
    assert "LessThan(l_quantity,24.0)" in fmt, fmt
    assert "GreaterThanOrEqual(l_discount,0.02)" in fmt, fmt
    assert "l_partkey" not in fmt, fmt  # untouched columns pruned
    rows = q.collect()
    assert len(rows) == 1 and rows[0].n_items >= 0


def test_promo_share_broadcasts_part_dim(spark, tmp_path):
    """sales_promo_share (r7, TPC-H Q14): part broadcasts into the
    fact scan's stage; the month rollup partial-aggregates DECIMAL."""
    from cass_cdc_pg_spark.registry import sales_promo_share_q

    q = sales_promo_share_q(spark, _write_star_fixture(spark, tmp_path))
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_sum" in plan, plan
    rows = q.collect()
    assert all(0.0 <= r.promo_share <= 1.0 for r in rows)


def test_discount_bands_single_scan_no_join(spark, tmp_path):
    """lineitem_discount_bands (r7): one fact scan, one bounded-grid
    shuffle, no join, no UDF."""
    from cass_cdc_pg_spark.registry import lineitem_discount_bands_q

    q = lineitem_discount_bands_q(spark, _write_star_fixture(spark, tmp_path))
    plan = _plan(q)
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan
    rows = q.collect()
    assert sum(r.n_items for r in rows) == 2000  # every lineitem row lands


def test_value_deciles_tile_arithmetic_matches_ntile(spark, tmp_path):
    """Property pin for the r7 closed-form NTILE: for several customer
    counts (including n<10, n%10==0, and ragged sizes) the rewritten
    query's per-decile customer counts must equal what a real
    NTILE(10) window assigns."""
    import os

    for n in (3, 7, 10, 29, 40, 73):
        p = str(tmp_path / f"sf{n}")
        os.makedirs(p, exist_ok=True)
        spark.range(n * 3).selectExpr(
            "id AS o_orderkey",
            f"id % {n} AS o_custkey",
            "'O' AS o_orderstatus",
            "CAST(id * 7 % 97 AS DOUBLE) + id AS o_totalprice",
            "timestamp_micros(1704067200000000) AS o_orderdate",
            "'1-URGENT' AS o_orderpriority",
        ).write.parquet(os.path.join(p, "orders.parquet"))
        from cass_cdc_pg_spark.registry import customer_value_deciles_q

        got = {
            r.decile: r.n_customers
            for r in customer_value_deciles_q(spark, p).collect()
        }
        lo, big = divmod(n, 10)
        if lo == 0:
            want = {i + 1: 1 for i in range(n)}
        else:
            want = {i + 1: (lo + 1 if i < big else lo) for i in range(10)}
        assert got == want, (n, got)


def test_quality_budget_by_source_group_limit_before_exchange(spark):
    """docs_quality_budget_by_source (r9): the exact rank prune
    (budget/min_tokens) must compile to a PARTIAL WindowGroupLimit
    below the single hash exchange — each input partition forwards at
    most cap rows per source, so no task ever scans one source's full
    doc set — and both windows must share that one exchange."""
    from cass_cdc_pg_spark.operators.text import quality_token_budget_by_source

    docs = spark.range(500).selectExpr(
        "id AS doc_id",
        "'the quick brown fox jumps over the lazy dog again and again "
        "with twenty distinct tokens here now' AS text",
        "concat('s', id % 4) AS source",
    )
    plan = _plan(quality_token_budget_by_source(docs))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_cluster_sample_group_limit_and_no_join(spark):
    """embedding_cluster_sample (r9): assignment is a shuffle-free
    constant-folded projection; the per-cell top-m prune is a partial
    WindowGroupLimit, so the single exchange carries O(cells * m *
    partitions) rows — never the corpus."""
    from cass_cdc_pg_spark.operators.similarity import cluster_sample

    cents = [[1.0, 0.0], [0.0, 1.0]]
    vecs = spark.range(300).selectExpr(
        "id AS vec_id",
        "array(cast(id % 7 as float), cast(1 + id % 3 as float)) AS embedding",
    )
    plan = _plan(cluster_sample(vecs, cents, per_cell=5))
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_block_dedup_partial_agg_and_dup_only_joinback(spark):
    """docs_block_dedup (r9): the block-hash rollup must partial-
    aggregate map-side, the join-back may only move occurrences of
    DUPLICATED blocks (count>1 filter precedes the join), and no
    cartesian anywhere."""
    from cass_cdc_pg_spark.operators.text import remove_duplicated_blocks

    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        "'a b c d e f g h i j k l m n o p q r s t u v w x' AS text",
        "'s' AS source",
    )
    plan = _plan(remove_duplicated_blocks(docs))
    assert "partial_count" in plan, plan
    assert "> 1)" in plan, plan          # dup-only prefilter
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_small_qty_revenue_broadcast_joinback_single_exchange(spark):
    """lineitem_small_qty_revenue (Q17 family): the brand part-list
    and the per-part averages both BROADCAST into the lineitem scan —
    lineitem rows never shuffle; the only hashpartitioning Exchange
    carries (partkey, qty-sum partials)."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.lineitem_small_qty_revenue_q(spark, "/root/testdata/sf0.001")
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_big_basket_preaggregates_before_joins(spark):
    """orders_big_basket_customers (Q18 family): lineitem collapses to
    per-order quantity sums (map-side partials) and the >300 filter
    lands on the AGGREGATE before any join — the joins see qualifying
    orders only; the final order+limit is a distributed top-k."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.orders_big_basket_customers_q(spark, "/root/testdata/sf0.001")
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_sum" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_sole_late_blame_aggs_reuse_join_partitioning(spark):
    """supplier_sole_late_blame (Q21 family): the rewrite's whole
    point is ONE fact shuffle instead of two self-joins — the
    (orderkey, suppkey) aggregate and the orderkey aggregate must both
    reuse the lineitem⋈orders partitioning, so the plan carries at
    most 3 hashpartitioning Exchanges total (join input + final tiny
    blame rollup), not one per aggregate."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.supplier_sole_late_blame_q(spark, "/root/testdata/sf0.001")
    )
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dormant_balance_anti_join_scalar_broadcast(spark):
    """customer_dormant_balance (Q22 family): 'no recent order' must
    plan as a broadcast LEFT ANTI join (never a full outer/minus), and
    the global average enters as a single-row broadcast nested loop —
    the allowlisted scalar-subquery shape."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.customer_dormant_balance_q(spark, "/root/testdata/sf0.001")
    )
    assert "LeftAnti" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_heavy_hitters_frozen_counts_topk_no_row_udf(spark):
    """docs_heavy_hitters: the candidate count table is frozen behind
    a localCheckpoint (Scan ExistingRDD in the final plan — the top-k
    rows and the certification aggregate read ONE materialization),
    the final order is a distributed top-k, and the Python stage is
    Arrow-vectorized (MapInPandas), never row-at-a-time."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.docs_heavy_hitters_q(spark, "/root/testdata/sf0.001"))
    assert "ExistingRDD" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_trade_flows_nation_dims_broadcast_single_agg_exchange(spark):
    """nation_trade_flows (Q7 family): the 25-row nation dim labels
    BOTH sides of the fact via broadcasts (never a shuffle), the
    ship-date filter pushes to the lineitem scan, and at toy SF the
    whole plan carries exactly one hashpartitioning Exchange (the
    final matrix rollup) — at scale only the orderkey/custkey joins
    may add fact Exchanges, never the dims."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.nation_trade_flows_q(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_bracket_revenue_hulls_push_to_both_scans(spark):
    """lineitem_bracket_revenue (Q19 family): Catalyst cannot derive
    single-column bounds from the OR-of-ANDs, so the explicitly-stated
    hulls MUST appear as pushed parquet filters on both scans —
    l_quantity<=30 on lineitem, In(p_brand,...) on part — the filtered
    part side broadcasts, and the only Exchange carries 3 bracket
    partials."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.lineitem_bracket_revenue_q(spark, "/root/testdata/sf0.001")
    )
    assert "LessThanOrEqual(l_quantity,30" in plan, plan
    assert "In(p_brand" in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_returns_ranking_filters_push_and_topk(spark):
    """customer_returns_ranking (Q10 family): the returnflag equality
    pushes to the lineitem scan, the per-customer rollup happens
    BEFORE the customer join (partial_sum ahead of one custkey-side
    exchange), and the final rank is a distributed top-k, never a
    global sort."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.customer_returns_ranking_q(spark, "/root/testdata/sf0.001")
    )
    assert "EqualTo(l_returnflag,R)" in plan, plan
    assert "partial_sum" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_supplier_diversity_strictly_shrinking_dedup_cascade(spark):
    """part_supplier_diversity (Q16 family): no COUNT(DISTINCT) Expand
    anywhere — the cascade is three plain hash dedups/rollups (edge
    dedup, (type,band,supp) dedup, final count), each partial-
    aggregating map-side, with the part dim broadcast between stages."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.part_supplier_diversity_q(spark, "/root/testdata/sf0.001")
    )
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "Expand" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_nation_profit_prefix_predicate_pushes_to_part_scan(spark):
    """nation_profit_by_year (Q9 family): the 'red %' name predicate
    is a PREFIX match so it must push to the part scan as
    StringStartsWith (a '%red%' contains-match cannot), the filtered
    part list broadcasts into lineitem BEFORE the orderkey join, and
    the dims never shuffle."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.nation_profit_by_year_q(spark, "/root/testdata/sf0.001"))
    assert "StringStartsWith(p_name,red)" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_best_of_cluster_max_by_aggregate_no_window_sort(spark):
    """dedup_best_of_cluster (r9 wave 4): the per-cluster selection is
    a max_by aggregate over a packed ordering struct — partial-
    aggregated map-side (one candidate row per partition+component
    reaches the Exchange), never a window sort over cluster members."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.dedup_best_of_cluster_q(spark, "/root/testdata/sf0.001")
    )
    assert "partial_max_by" in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_length_bucketing_single_rollup_exchange(spark):
    """docs_length_bucketing (r9 wave 4): per-row bucketing is
    shuffle-free; the only Exchange carries ≤(max_len/32) rollup
    partials, and no Python touches the hot path."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.docs_length_bucketing_q(spark, "/root/testdata/sf0.001")
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_minhash_precision_candidates_only_no_extra_exchange(spark):
    """dedup_minhash_precision (r9 wave 4): exact Jaccard is computed
    ONLY on the (materialized) candidate pairs — the small pair side
    broadcasts into both shingle-set joins and no new
    hashpartitioning Exchange, cartesian, or Python stage appears."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.dedup_minhash_precision_q(spark, "/root/testdata/sf0.001")
    )
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_pq_encode_shuffle_free_both_kernels(spark):
    """PQ encode (r10): the daily bulk pass must never shuffle.  The
    default Arrow kernel is ONE MapInPandas straight off the scan; the
    JVM cross-check kernel is a pure constant-folded projection (zero
    Python stages).  Either shape multiplied by a shuffle is the
    100 TB failure mode."""
    from cass_cdc_pg_spark import registry
    from cass_cdc_pg_spark.operators import similarity
    from cass_cdc_pg_spark.sources import tables as src

    sf = "/root/testdata/sf0.001"
    emb = src.load_table(spark, sf, "embeddings")
    books = registry._pq_codebooks(sf)
    arrow = _plan(similarity.pq_encode(emb, books))
    assert "Exchange" not in arrow, arrow
    assert arrow.count("MapInPandas") == 1, arrow
    jvm = _plan(similarity.pq_encode(emb, books, kernel="jvm"))
    assert "Exchange" not in jvm, jvm
    assert "Python" not in jvm and "Pandas" not in jvm, jvm


def test_pq_topk_ships_codes_not_vectors(spark):
    """ann_pq_topk (r10): the Arrow kernel's input schema is
    (vec_id, codes) — the 16 code bytes, never the float vectors —
    and pruned candidates reach exactly one ranking Exchange.  The
    codes-only Python boundary IS the PQ scale story (16x less Arrow
    transfer than the exact path)."""
    from cass_cdc_pg_spark import registry

    from cass_cdc_pg_spark.operators import similarity
    from cass_cdc_pg_spark.sources import tables as src

    sf = "/root/testdata/sf0.001"
    df = registry.ann_pq_topk_q(spark, sf)
    plan = _plan(df)
    # composition pin: encode kernel + ADC kernel chained in ONE stage
    # (no Exchange at or below them — the ADC kernel's Arrow input is
    # the encode output (vec_id, codes), never the float vectors), and
    # exactly one ranking Exchange above.
    assert plan.count("MapInPandas") == 2, plan
    emb = src.load_table(spark, sf, "embeddings")
    enc_cols = similarity.pq_encode(emb, registry._pq_codebooks(sf)).columns
    assert enc_cols == ["vec_id", "codes"]
    kernel_and_below = plan[plan.index("MapInPandas"):]
    assert "Exchange" not in kernel_and_below, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan


def test_zorder_scan_single_rollup_exchange(spark, tmp_path, monkeypatch):
    """events_zorder_scan (r10): after the literal band filters prune
    at the scan, the only movement is the per-type rollup Exchange
    (count-distinct expands it to two at most)."""
    from cass_cdc_pg_spark import registry

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path))
    plan = _plan(
        registry.events_zorder_scan_q(spark, "/root/testdata/sf0.001")
    )
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BatchEvalPython" not in plan, plan
    assert "PushedFilters: []" not in plan, plan


def test_ivfpq_topk_jvm_only_broadcast_cell_join(spark):
    """ann_ivfpq_topk (r10): the composed index stays entirely JVM —
    no Python stage at query time; candidates come from a broadcast
    hash join on cell (the inverted-file prune), and only the ranking
    window shuffles."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.ann_ivfpq_topk_q(spark, "/root/testdata/sf0.001"))
    assert "Pandas" not in plan and "Python" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_market_share_single_aggregate_no_window(spark):
    """nation_market_share (r10, Q8 family): the share is a
    conditional sum INSIDE the one rollup aggregate — no window, no
    self-join, no second fact pass; part/supplier/nation/region all
    broadcast."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.nation_market_share_q(spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # fact shuffles (orderkey, custkey) + rollup at most; AQE may
    # broadcast the small sides away at toy SF
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_order_distribution_partial_counts_before_join(spark):
    """customer_order_distribution (r10, Q13 family): orders collapse
    to (custkey, count) partials BEFORE the customer join (map-side
    partial_count visible), and no window appears."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.customer_order_distribution_q(spark, "/root/testdata/sf0.001")
    )
    assert "partial_count" in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_weighted_sample_partial_group_limit(spark):
    """docs_weighted_sample (r10): the per-group top-k must compile to
    a PARTIAL WindowGroupLimit below the single hash Exchange (no task
    scans a full source), with the weight a per-row expression — no
    Python, no extra shuffle."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.docs_weighted_sample_q(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("WindowGroupLimit") >= 2, plan  # partial + final
    assert "BatchEvalPython" not in plan and "Pandas" not in plan, plan


def test_fuzzy_pairs_blocked_join_no_cartesian(spark):
    """docs_fuzzy_pairs (r10): the fuzzy join is an equi-join on the
    (token, band) blocking key with a broadcast anti-join cap — never
    a cartesian, never Python; levenshtein evaluates post-join inside
    codegen."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.docs_fuzzy_pairs_q(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "levenshtein" in plan, plan
    assert "Pandas" not in plan and "BatchEvalPython" not in plan, plan


def test_promo_bundles_disjunction_pushes_to_both_scans(spark):
    """sales_promo_bundles (r11, Q19 family): the OR-of-ANDs must
    reach BOTH parquet scans — the part-side (brand, size) disjunction
    verbatim, and the derived quantity-range disjunction Catalyst
    extracts for the lineitem side — with the filtered part relation
    broadcast.  A Q19 that filters post-join reads the whole fact."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.sales_promo_bundles_q(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("p_brand" in ln and "Or(" in ln for ln in pushed), plan
    assert any("l_quantity" in ln and "Or(" in ln for ln in pushed), plan


def test_copurchase_single_agg_pairgen_two_shuffles(spark):
    """lineitem_part_copurchase (rewritten r15, r14 verdict #3): the
    per-order part sets collapse in ONE collect_set aggregation (no
    distinct-then-self-join — the table is scanned once and there is
    NO join at all), pairs are emitted map-side from the sorted
    array, and exactly two hash Exchanges remain (orderkey, then the
    pair key); the global top-20 is TakeOrderedAndProject, not a
    single-partition window."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.lineitem_part_copurchase_q(spark, "/root/testdata/sf0.001")
    )
    assert "Join" not in plan, plan  # covers SMJ/BHJ/BNLJ/cartesian
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "collect_set" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_copurchase_sketch_same_shape_filter_before_shuffle(spark):
    """lineitem_copurchase_sketch (new r16): the sketch keeps the
    exact query's two-Exchange no-Join shape, and the deterministic
    basket-sample draw runs as a Filter BEFORE the first Exchange —
    at 100× the emitted-pair volume term drops by the sampling
    factor before anything shuffles."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.lineitem_copurchase_sketch_q(spark, "/root/testdata/sf0.001")
    )
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "collect_set" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    # the draw filter is in the plan (pmod-shaped) and sits below the
    # aggregate: the Filter operator must appear AFTER the scan and
    # the string 'pmod' inside a Filter condition proves placement
    assert "pmod" in plan, plan


def test_vocab_coverage_broadcast_vocab_takeordered(spark):
    """docs_vocab_coverage (r11): the top-K vocabulary is a
    TakeOrdered (never a global-sort window) and rejoins the token
    stream as a BROADCAST — the coverage pass adds no shuffle beyond
    the per-source rollup."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.docs_vocab_coverage_q(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_robust_outliers_one_key_reused_shuffle(spark):
    """events_robust_outliers (r11): every hash Exchange keys on the
    one (event_type, day_no) group key — the relation is never
    re-keyed — and executing the plan makes AQE physically share the
    duplicated rank-window subtree (ReusedExchange), so the events
    scan shuffles once."""
    from cass_cdc_pg_spark import registry

    df = registry.events_robust_outliers_q(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "event_type" in ln and "day_no" in ln, ln
    df.collect()
    final = _plan(df)
    assert "ReusedExchange" in final, final


def test_pq_refine_corpus_never_shuffles(spark):
    """ann_pq_refine_topk (r11): the vector-fetch join must stream the
    corpus against a BROADCAST shortlist (a query touches `shortlist`
    real vectors at any corpus size — a shuffled fetch would move the
    whole corpus), and the only hash Exchanges are the two tiny
    query_id-keyed ranking shuffles (the ADC shortlist's top-50 window
    and the refine top-5 window — both carry ≤ Q·shortlist rows,
    never vectors)."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.ann_pq_refine_topk_q(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "query_id" in ln, ln


def test_ngram_novelty_single_shingle_shuffle(spark):
    """docs_ngram_novelty (r11): the shingle first-owner is a
    partial-aggregating MIN on the shingle key — no window over the
    corpus, no Python, and shingle strings cross at most two hash
    Exchanges (distinct + min/rollup reuse the same key)."""
    from cass_cdc_pg_spark import registry

    plan = _plan(registry.docs_ngram_novelty_q(spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "Pandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivfpq_append_delta_only_zero_shuffle(spark):
    """ann_ivfpq_append_parity (r12): incremental index maintenance
    must be shuffle-FREE end to end — the standing index is a parquet
    read of (neighbor_id, cell, codes), the delta is a pushed-filter
    scan of only the new batch feeding the one Arrow encode pass, and
    the union + posexplode are narrow.  Any Exchange here means the
    daily append is paying corpus-sized movement."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.ann_ivfpq_append_parity_q(spark, "/root/testdata/sf0.001")
    )
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan
    assert plan.count("Scan parquet") == 2, plan  # standing index + batch


def test_distinctive_terms_partial_group_limit_broadcast_totals(spark):
    """docs_source_distinctive_terms (r12): the per-source top-10 must
    compile to partial WindowGroupLimit below its Exchange (no task
    sorts a full source's vocabulary); source totals and the grand
    total join as broadcasts; the only sort-merge-scale join is the
    token-key equi-join."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.docs_source_distinctive_terms_q(
            spark, "/root/testdata/sf0.001"
        )
    )
    assert plan.count("WindowGroupLimit") >= 2, plan  # partial + final
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "Pandas" not in plan, plan


def test_weekly_active_no_range_join_no_window(spark):
    """events_weekly_active (r12): the sliding 7-day distinct must be
    the sequence-explode shape — no range join (BNLJ), no window
    function, and every Exchange keyed on the (day, user) distinct or
    the day rollup; the DAU⋈WAU join moves day-cardinality relations
    only."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.events_weekly_active_q(spark, "/root/testdata/sf0.001")
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "Pandas" not in plan, plan


def test_hard_negatives_broadcast_exclusion_bounded_window(spark):
    """embedding_hard_negatives (rewritten r13, r12 verdict #2): the
    shortlist must be INDEX-BACKED — the ADC pass reads the persisted
    IVF×PQ codes parquet and is the ONLY Python stage (a second Arrow
    stage would mean the per-call pq_encode vector scan is back);
    the near-dup exclusion must be a BROADCAST anti-join (the
    bucketed pair relation never shuffles the shortlist) and the only
    hash Exchanges are the tiny query_id-keyed ranking windows — no
    SMJ, no cartesian."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.embedding_hard_negatives_q(spark, "/root/testdata/sf0.001")
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # exactly one Arrow-batched Python stage: the ADC score over the
    # STORED codes (scanning the standing index parquet), not a
    # per-call encode of the corpus vectors
    n_python = plan.count("MapInPandas")
    assert n_python == 1, plan
    assert "ivfpq_index" in plan, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "query_id" in ln, ln


def test_containment_pairs_inverted_index_shape(spark):
    """dedup_containment_pairs (new r13): same scale discipline as the
    Jaccard pass — the self-join must be an equi-join on the shingle
    hash (quadratic only WITHIN buckets; no cartesian, no BNLJ), and
    nothing reaches Python."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.dedup_containment_pairs_q(spark, "/root/testdata/sf0.001")
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "Pandas" not in plan, plan
    assert "sh_h" in plan, plan  # the hash, not the string, is the key


def test_cell_drift_single_pass_no_python(spark):
    """embedding_cell_drift (new r13): cell assignment is the
    constant-folded codegen expression (no shuffle before the rollup),
    the only hash Exchange is the cell-keyed partial aggregate, the
    1-row totals ride a broadcast, and no Python stage exists."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.embedding_cell_drift_q(spark, "/root/testdata/sf0.001")
    )
    assert "BatchEvalPython" not in plan and "Pandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "cell" in ln, ln


def test_containment_incremental_corpus_never_shuffles(spark):
    """dedup_containment_incremental (new r14): the standing postings
    relation must meet the batch through a BROADCAST hash join (the
    corpus side crosses no Exchange before the intersection join),
    the stop-guard composition must read the standing df relation
    map-side, and nothing reaches Python."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.dedup_containment_incremental_q(
            spark, "/root/testdata/sf0.001"
        )
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "Pandas" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "sh_h" in plan, plan  # 8-byte hash keys, not shingle strings


def test_bigram_backoff_index_backed_no_python(spark):
    """docs_bigram_backoff_logprob (r14): the three standing count
    relations are parquet reads (index-backed — no corpus-wide count
    aggregation in this plan beyond the batch explode), the lp table
    rides broadcast joins, and nothing reaches Python."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.docs_bigram_backoff_logprob_q(
            spark, "/root/testdata/sf0.001"
        )
    )
    assert "BatchEvalPython" not in plan and "Pandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Scan parquet") >= 3, plan  # the standing relations


def test_count_action_eliminates_decision_joins(spark):
    """Why bench/scale_proof time queries with the full-column noop
    sink (r15): under a bare .count(), Catalyst's outer-join
    eliminator drops a LEFT JOIN whose aggregated right side has
    unique keys and unreferenced columns — which is exactly the
    admission/decision queries' final shape, so counting them
    executes a degenerate scan instead of the evidence pipeline.
    This test pins the hazard itself; if a Spark upgrade changes the
    eliminator, force_full stays correct either way (it always
    computes all columns)."""
    from cass_cdc_pg_spark import registry

    df = registry.dedup_containment_admission_q(
        spark, "/root/testdata/sf0.001"
    )
    full = df._jdf.queryExecution().optimizedPlan().toString()
    cnt = (
        df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Join" in full  # the real decision pipeline joins evidence
    assert "Join" not in cnt  # count() eliminates it — never time this


def test_containment_day2_merged_corpus_never_shuffles(spark):
    """dedup_containment_day2 (r15): the MERGED standing side (day-0
    postings ∪ batch-1 postings) must meet batch 2 through BROADCAST
    hash joins — maintenance-by-merge must not cost the corpus its
    no-Exchange property — and nothing reaches Python."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.dedup_containment_day2_q(spark, "/root/testdata/sf0.001")
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "Pandas" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "sh_h" in plan, plan


def test_minhash_day2_merged_corpus_never_shuffles(spark):
    """dedup_minhash_day2 (r16, r15 verdict #3): the MERGED standing
    band table (day-0 parquet ∪ batch-1 band rows) must meet batch 2
    through ONE broadcast hash join with the corpus side crossing NO
    Exchange at all — maintenance-by-append must not cost the band
    table its probe-target property.  The batch band builds ride
    lazy localCheckpoints, so the feed plan itself is: one parquet
    scan of the standing table, zero hash Exchanges, nothing in
    Python."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.dedup_minhash_day2_q(spark, "/root/testdata/sf0.001")
    )
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "Pandas" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_ivfpq_day2_probe_partition_pruned(spark):
    """ann_ivfpq_day2 (r16, r15 verdict #4): the day-2 probe against
    the day-1-merged index must stay CELL-PRUNED — the standing base
    index's parquet scan carries an explicit PartitionFilters cell-IN
    list (the driver-side probe set, r16 ivfpq_topk prune_cells), so
    only the probed cells' files are listed, never a full-codes scan.
    One broadcast hash join on cell; the only Python is the batch-1
    delta's documented Arrow encode kernel."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.ann_ivfpq_day2_q(spark, "/root/testdata/sf0.001")
    )
    assert "PartitionFilters: [cell" in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan  # no row-at-a-time Python


def test_ivfpq_topk_probe_partition_pruned(spark):
    """ann_ivfpq_topk after the r16 prune_cells change: the persisted
    full-corpus index scan is partition-pruned to the probed cells."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.ann_ivfpq_topk_q(spark, "/root/testdata/sf0.001")
    )
    assert "PartitionFilters: [cell" in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan


def test_repetition_stats_single_tokenize_zero_shuffle(spark):
    """text_repetition_stats (rewritten r16, r15 verdict #5):
    lambda-containing expressions are excluded from codegen
    subexpression elimination, so the old single-Project shape
    re-evaluated the tokens split per reference (34 `split(`
    occurrences in the executed plan); the nested lambda-binding
    rewrite carries at most one per output column (3), still with
    zero Exchange and nothing in Python."""
    from cass_cdc_pg_spark import registry

    plan = _plan(
        registry.text_repetition_q(spark, "/root/testdata/sf0.001")
    )
    assert plan.count("split(") <= 3, plan.count("split(")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "Pandas" not in plan, plan
