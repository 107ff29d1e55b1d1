"""Stream/batch-parity query tier of the declared-query registry
(split from ``registry.py`` in r13, the second tranche of r12 verdict
#6 after ``registry_ann.py``): the Structured-Streaming parity twins
(sessionize / enrich / funnel / dedup / hopping), the incremental
materialized-view parity, and the r13 maintained DAU/WAU view, plus
their replay plumbing (event chunking, availableNow microbatch
replays, the per-(session, fixture) parity memo).  ``registry.py``
re-exports every name unchanged.

Helpers that live in ``registry.py`` (``_ev``, ``_fixture_key``,
``_lru_hit``, ``_evict_oldest``) are reached through the same
call-time module proxy as ``registry_ann`` — see ``_RegistryProxy``
there for why the deferred access keeps the circular import safe in
both directions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cass_cdc_pg_spark.sources import tables as src


class _RegistryProxy:
    def __getattr__(self, name: str):
        from cass_cdc_pg_spark import registry

        return getattr(registry, name)


_reg = _RegistryProxy()


# ---------------------------------------------------------------------------
# r9 — stream/batch parity for the custom stateful operators, as
# declared queries (r8 verdict #7: sessionize_stream / funnel_stream
# were pytest-only; these make their batch-twin convergence a
# driver-visible hash fact, the way embedding_semdedup_greedy_stats
# closed the greedy-MIS gap)
# ---------------------------------------------------------------------------

#: (applicationId, events fixture key) → {"sessionize": rows,
#: "funnel": rows}.  The replay is a real Structured Streaming run
#: (file source, checkpointed applyInPandasWithState state, one
#: availableNow pass per chunk) and therefore driver-side by nature;
#: memoized per session+fixture like the greedy fixpoint so repeated
#: builds pay it once.
_STREAM_PARITY_CACHE: dict[tuple, dict] = {}

#: real event chunks per replay — each becomes exactly one microbatch,
#: so cross-batch state survival is genuinely exercised
_PARITY_CHUNKS = 4


def _events_fixture_key(sf_dir: str) -> tuple[str, int]:
    return _reg._fixture_key(sf_dir, "events")


def _stream_parity_slot(spark: SparkSession, sf_dir: str) -> dict:
    key = (spark.sparkContext.applicationId, _events_fixture_key(sf_dir))
    hit = _reg._lru_hit(_STREAM_PARITY_CACHE, key)
    if hit is None:
        _reg._evict_oldest(_STREAM_PARITY_CACHE)
        hit = _STREAM_PARITY_CACHE[key] = {}
    return hit


def _event_chunks(
    spark: SparkSession, sf_dir: str, cols: list[str]
) -> tuple[list[list[str]], list[int], int]:
    """The events fixture as ``_PARITY_CHUNKS`` jsonl chunk bodies,
    split by TIMESTAMP RANGE — equal timestamps never straddle a
    chunk boundary, so per-user event-time order holds ACROSS
    microbatches (the stateful operators' exactness contract) even
    for same-microsecond ties.  Returns (chunks, user ids, max ts)."""
    import json as _json

    pdf = _reg._ev(spark, sf_dir).select(*cols).toPandas()
    mn, mx = int(pdf["ts_us"].min()), int(pdf["ts_us"].max())
    span = (mx - mn) + 1
    chunks: list[list[str]] = [[] for _ in range(_PARITY_CHUNKS)]
    for rec in pdf.to_dict("records"):
        c = min(
            _PARITY_CHUNKS - 1,
            (int(rec["ts_us"]) - mn) * _PARITY_CHUNKS // span,
        )
        chunks[c].append(
            _json.dumps(
                {
                    # floats keep json's shortest round-trip repr (the
                    # stream-side double is bit-equal to the parquet
                    # value); everything else is an integer column
                    k: (
                        v
                        if isinstance(v, str)
                        else float(v) if isinstance(v, float) else int(v)
                    )
                    for k, v in rec.items()
                }
            )
        )
    users = sorted(int(u) for u in pdf["user_id"].unique())
    return chunks, users, mx


def _replay_chunks(
    spark: SparkSession,
    chunks: list[list[str]],
    schema: str,
    make_writer,
) -> None:
    """One availableNow pass per chunk against ONE checkpoint: chunk i
    is written only after pass i-1 terminated, so microbatch order is
    deterministic by construction (no reliance on the file source's
    mtime ordering) and operator state provably crosses a real
    stop/restart boundary each time."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        cp = os.path.join(tmp, "cp")
        for i, lines in enumerate(chunks):
            with open(
                os.path.join(in_dir, f"chunk-{i:02d}.jsonl"), "w"
            ) as fh:
                fh.write("\n".join(lines))
            q = (
                make_writer(spark.readStream.schema(schema).json(in_dir))
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            # bounded wait: a pass that can't finish one small chunk
            # in 10 min is wedged (e.g. a processing-time timer
            # reintroduced — availableNow then polls timers forever,
            # the r9 finding) — fail THIS query loudly instead of
            # hanging the whole correctness harness
            try:
                if not q.awaitTermination(600):
                    raise TimeoutError(
                        f"stream replay pass {i} did not terminate in "
                        "600s — availableNow is wedged (timer "
                        "polling?); see sessionize_stream docstring"
                    )
            finally:
                if q.isActive:
                    q.stop()


_SESSION_GAP_US = 30 * 60 * 1_000_000


def stream_sessionize_parity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING sessionizer's emitted sessions over the events
    fixture, replayed as 4 time-ordered microbatches + a per-user
    far-future sentinel batch (every real session is strictly more
    than one gap before it, so all of them close and emit; the
    sentinel's own 1-event sessions stay open in state and are never
    emitted).

    Oracle: ``SESSIONIZE_SQL`` — the BATCH gaps-and-islands answer.
    A hash match is therefore the stream/batch parity statement
    itself: per-key state survived 4 stop/restart boundaries and
    reproduced the batch sessions row for row.

    Plan-tool caveat (accepted, unlike the greedy-stats case): the
    returned DataFrame is a local relation of the streamed rows, so
    plan lint has nothing to inspect HERE by construction — the
    compute surface is a real streaming job whose plan the streaming
    engine executes, and collapsing it into a lazy batch plan would
    erase exactly the stream-side evidence this query exists to
    produce.  The replay is memoized per (session, fixture), so a
    lint/dump pass over the whole registry pays it once, and each
    pass is bounded at 600 s (see ``_replay_chunks``)."""
    from cass_cdc_pg_spark.streaming.stateful import sessionize_stream

    slot = _stream_parity_slot(spark, sf_dir)
    if "sessionize" not in slot:
        import json as _json

        chunks, users, mx = _event_chunks(spark, sf_dir, ["user_id", "ts_us"])
        sentinel_ts = mx + _SESSION_GAP_US + 1_000_000
        chunks.append(
            [
                _json.dumps({"user_id": u, "ts_us": sentinel_ts})
                for u in users
            ]
        )
        rows: list[tuple] = []

        def fn(bdf, _bid):
            rows.extend(
                (
                    r["user_id"],
                    r["session_start_us"],
                    r["session_end_us"],
                    r["n_events"],
                )
                for r in bdf.collect()
            )

        _replay_chunks(
            spark,
            chunks,
            "user_id long, ts_us long",
            # idle_timeout_ms=None: a processing-time timer would keep
            # the availableNow replay alive forever (timer-poll
            # batches); the sentinel chunk does the flushing instead
            lambda s: sessionize_stream(
                s, gap_us=_SESSION_GAP_US, idle_timeout_ms=None
            )
            .writeStream.foreachBatch(fn)
            .outputMode("append"),
        )
        slot["sessionize"] = rows
    return spark.createDataFrame(
        slot["sessionize"],
        "user_id long, session_start_us long, session_end_us long, "
        "n_events long",
    )


def stream_enrich_parity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension enrichment parity — the canonical
    Structured Streaming enrichment shape the parity set lacked: each
    microbatch of the events stream broadcast-joins the static nation
    dim (re-resolved per batch, as Spark contracts for stream-static
    joins) and the enriched rows are folded across 4 time-ordered
    microbatches, each separated by a REAL stop/restart boundary
    (`_replay_chunks`: one availableNow pass per chunk against one
    checkpoint).

    Oracle: the same join + per-nation rollup as plain batch SQL — a
    hash match states that the streamed union of per-batch join
    results IS the batch join, with the value sums exact (decimal
    accumulation; the JSON chunk writer round-trips doubles
    bit-exactly).  Same plan-tool caveat as the other parity twins:
    the returned relation is the collected stream output by
    construction."""
    slot = _stream_parity_slot(spark, sf_dir)
    if "enrich" not in slot:
        chunks, _users, _mx = _event_chunks(
            spark, sf_dir, ["user_id", "ts_us", "value"]
        )
        n = src.load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name"
        )
        rows: list[tuple] = []

        def fn(bdf, _bid):
            joined = (
                bdf.withColumn("nk", F.col("user_id") % F.lit(25))
                .join(F.broadcast(n), F.col("nk") == F.col("n_nationkey"))
                .select("n_name", "value")
            )
            rows.extend((r["n_name"], r["value"]) for r in joined.collect())

        _replay_chunks(
            spark,
            chunks,
            "user_id long, ts_us long, value double",
            lambda s: s.writeStream.foreachBatch(fn).outputMode("append"),
        )
        slot["enrich"] = rows
    return (
        spark.createDataFrame(slot["enrich"], "n_name string, value double")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


STREAM_ENRICH_SQL = """
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events JOIN nation ON user_id % 25 = n_nationkey
GROUP BY 1
"""


def stream_funnel_parity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING funnel's FINAL per-user state over the events
    fixture (update semantics: last emission per user wins, tracked
    through a foreachBatch fold so batch order is explicit), replayed
    as 4 time-ordered microbatches.

    Oracle: ``FUNNEL_SQL`` — the batch signup→purchase answer.  The
    replay is in event-time order (the documented exactness regime of
    the O(1)-state fold; retrograde arrival is pinned separately by
    tests), so a hash match asserts the stream converged to the batch
    answer across real restart boundaries.  Same plan-tool caveat as
    ``stream_sessionize_parity_q`` — local-relation output by
    construction, replay memoized per session+fixture."""
    from cass_cdc_pg_spark.streaming.stateful import funnel_stream

    slot = _stream_parity_slot(spark, sf_dir)
    if "funnel" not in slot:
        final: dict[int, tuple] = {}

        def fn(bdf, _bid):
            for r in bdf.collect():
                final[r["user_id"]] = (
                    r["user_id"],
                    r["signup_ts_us"],
                    r["first_purchase_ts_us"],
                    r["converted"],
                    r["secs_to_convert"],
                )

        chunks, _users, _mx = _event_chunks(
            spark, sf_dir, ["user_id", "ts_us", "event_type"]
        )
        _replay_chunks(
            spark,
            chunks,
            "user_id long, ts_us long, event_type string",
            lambda s: funnel_stream(s)
            .writeStream.foreachBatch(fn)
            .outputMode("update"),
        )
        slot["funnel"] = sorted(final.values())
    from cass_cdc_pg_spark.streaming.stateful import FUNNEL_SCHEMA

    return spark.createDataFrame(slot["funnel"], FUNNEL_SCHEMA)


_DEDUP_WM_US = 3_600 * 1_000_000  # 1 hour, matches the declared watermark


def stream_dedup_parity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exactly-once dedup as a driver-checked fact (r9 late
    addition — C5's first dedup line was pytest-only, like the greedy
    MIS before r8): the events fixture replayed through the real
    ``deduplicate_stream`` (``dropDuplicatesWithinWatermark``) with
    duplicates INJECTED two ways — every ``event_id % 7 == 0`` event
    is retransmitted adjacently in its own chunk (the CDC retry
    shape; ``% 21 == 0`` arrives three times), and every %7 event
    whose timestamp falls within the 1-hour watermark horizon of its
    chunk's maximum is retransmitted again in the NEXT chunk, so
    dropping it requires the dedup STATE to survive a real
    stop/restart boundary (each chunk is its own availableNow pass
    against one checkpoint).

    Oracle: the plain DISTINCT projection of the fixture — a hash
    match states every original event was emitted exactly once and
    every injected duplicate (same-batch AND cross-restart) was
    dropped.  No event is ever late by construction: chunks are
    time-range splits, so a pass's rows are never below the watermark
    the previous pass left behind.

    Same plan-tool caveat as the other two parity queries: the
    returned DataFrame is a local relation of the streamed rows;
    the compute surface is the streaming job itself, memoized per
    (session, fixture)."""
    from cass_cdc_pg_spark.streaming.stateful import deduplicate_stream

    slot = _stream_parity_slot(spark, sf_dir)
    if "dedup" not in slot:
        import json as _json

        chunks, _users, _mx = _event_chunks(
            spark, sf_dir, ["user_id", "ts_us", "event_id", "event_type"]
        )
        replay: list[list[str]] = [list(c) for c in chunks]
        for i, lines in enumerate(chunks):
            if not lines:
                continue
            mx_i = max(_json.loads(ln)["ts_us"] for ln in lines)
            for ln in lines:
                rec = _json.loads(ln)
                if rec["event_id"] % 7 != 0:
                    continue
                # adjacent retransmit(s) in the same microbatch
                replay[i].append(ln)
                if rec["event_id"] % 21 == 0:
                    replay[i].append(ln)
                # cross-restart retransmit: still inside the horizon
                # when the next pass starts (watermark = mx_i - 1h)
                if i + 1 < len(chunks) and rec["ts_us"] >= mx_i - _DEDUP_WM_US:
                    replay[i + 1].append(ln)
        rows: list[tuple] = []

        def fn(bdf, _bid):
            rows.extend(
                (r["event_id"], r["ts_us"], r["event_type"])
                for r in bdf.collect()
            )

        def writer(s):
            ev = s.withColumn("_ts", F.timestamp_micros(F.col("ts_us")))
            return (
                deduplicate_stream(
                    ev, ["event_id"], ts_col="_ts", watermark="1 hour"
                )
                .select("event_id", "ts_us", "event_type")
                .writeStream.foreachBatch(fn)
                .outputMode("append")
            )

        _replay_chunks(
            spark,
            replay,
            "user_id long, ts_us long, event_id long, event_type string",
            writer,
        )
        slot["dedup"] = rows
    return spark.createDataFrame(
        slot["dedup"], "event_id long, ts_us long, event_type string"
    )


STREAM_DEDUP_SQL = """
SELECT DISTINCT event_id, epoch_us(ts) AS ts_us, event_type FROM events
"""


_HOP_WM_US = 3_600 * 1_000_000  # 1 hour, matches the declared watermark


def stream_hopping_parity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING hopping-window throughput (5-min window / 1-min
    slide) with a CHAINED second stateful aggregation for per-window
    distinct users, replayed over the events fixture as 4
    time-ordered microbatches + a watermark-advancing sentinel.

    Streaming aggregations cannot COUNT(DISTINCT), so the distinct-
    user count is a second stateful aggregation chained on the window
    struct (multiple stateful operators, append mode — the window
    column keeps its event-time marker after the first aggregation):
    level 1 groups (window, user_id) and counts; level 2 groups the
    window and folds sum(n) + count(*) into (n_events, n_users).
    BOTH levels' state must survive the 5 stop/restart boundaries for
    the hash to match.

    Oracle: ``HOPPING_SQL`` verbatim — the batch epoch-µs window
    arithmetic; a hash match IS the stream/batch parity statement for
    built-in windowed aggregation (the other three parity queries
    cover the custom stateful operators).  The far-future sentinel
    (one event at mx + watermark + 10 min) advances the watermark past
    every real window's end so append mode finalizes them all; the
    sentinel's own windows stay open in state and are never emitted.
    Same plan-tool caveat as ``stream_sessionize_parity_q`` —
    local-relation output by construction, replay memoized per
    session+fixture and bounded at 600 s per pass."""
    import json as _json

    slot = _stream_parity_slot(spark, sf_dir)
    if "hopping" not in slot:
        chunks, _users, mx = _event_chunks(spark, sf_dir, ["user_id", "ts_us"])
        sentinel_ts = mx + _HOP_WM_US + 600 * 1_000_000
        chunks.append([_json.dumps({"user_id": 0, "ts_us": sentinel_ts})])
        rows: list[tuple] = []

        def fn(bdf, _bid):
            rows.extend(
                (r["window_start_us"], r["n_events"], r["n_users"])
                for r in bdf.collect()
            )

        def writer(s):
            ev = s.withColumn(
                "ts", F.timestamp_micros(F.col("ts_us"))
            ).withWatermark("ts", "1 hour")
            lvl1 = ev.groupBy(
                F.window("ts", "5 minutes", "1 minute"), "user_id"
            ).agg(F.count(F.lit(1)).alias("_n"))
            lvl2 = lvl1.groupBy("window").agg(
                F.sum("_n").cast("long").alias("n_events"),
                F.count(F.lit(1)).cast("long").alias("n_users"),
            )
            out = lvl2.select(
                F.unix_micros(F.col("window.start")).alias("window_start_us"),
                "n_events",
                "n_users",
            )
            return out.writeStream.foreachBatch(fn).outputMode("append")

        _replay_chunks(spark, chunks, "user_id long, ts_us long", writer)
        slot["hopping"] = rows
    return spark.createDataFrame(
        slot["hopping"], "window_start_us long, n_events long, n_users long"
    )


def view_incremental_parity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance as a driver-checked
    fact: an ``IncrementalAggView`` (count/sum-micros per event_type)
    synced from a ``KeyedTable``'s change feed after each of 5 CDC
    batch merges of the events fixture, with cross-batch UPDATEs
    injected for every ``event_id % 5 == 0`` key
    (group moves to 'updated', value +1, later timestamp — the view
    must RETRACT the old group's contribution) and DELETEs for every
    ``% 17 == 0`` key (tombstone, even later timestamp — full
    retraction; ``% 85`` keys get both in ONE batch, so intra-batch
    LWW must keep only the delete).  The view syncs from the table's
    change feed after every batch; the returned rows are
    ``view.read()`` — the maintained totals, never a recompute.

    Oracle: the closed-form final LWW state aggregated directly from
    the fixture — a hash match states the delta-maintenance ledger
    (insert + update-retract + delete-retract across batch and
    restart boundaries) equals full recomputation.  Same plan-tool
    caveat as the stream-parity queries: local-relation output, the
    compute surface is the batch replay, memoized per
    (session, fixture)."""
    slot = _stream_parity_slot(spark, sf_dir)
    if "view" not in slot:
        import tempfile

        from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
        from cass_cdc_pg_spark.streaming.incremental_view import (
            IncrementalAggView,
        )

        base = _reg._ev(spark, sf_dir).select(
            "event_id",
            "event_type",
            "value",
            F.lit(False).alias("_cdc_deleted"),
            F.col("ts_us").alias("_cdc_timestamp_micros"),
            F.concat(F.lit("e"), F.col("event_id")).alias("_last_event_id"),
            F.lit(None).cast("long").alias("_ttl_expiry_timestamp_us"),
        )
        chunk = F.col("event_id") % 4
        with tempfile.TemporaryDirectory() as tmp:
            table = KeyedTable(spark, f"{tmp}/t", ["event_id"], num_buckets=8)
            view = IncrementalAggView(
                spark, f"{tmp}/v", table, ["event_type"], "value"
            )
            for i in range(5):
                parts = []
                if i < 4:
                    parts.append(base.filter(chunk == i))
                if i > 0:
                    prev = base.filter(chunk == i - 1)
                    parts.append(
                        prev.filter(F.col("event_id") % 5 == 0).select(
                            "event_id",
                            F.lit("updated").alias("event_type"),
                            (F.col("value") + 1.0).alias("value"),
                            F.lit(False).alias("_cdc_deleted"),
                            (F.col("_cdc_timestamp_micros") + 1_000_000_000)
                            .alias("_cdc_timestamp_micros"),
                            F.concat(F.lit("u"), F.col("event_id"))
                            .alias("_last_event_id"),
                            F.lit(None).cast("long")
                            .alias("_ttl_expiry_timestamp_us"),
                        )
                    )
                    parts.append(
                        prev.filter(F.col("event_id") % 17 == 0).select(
                            "event_id",
                            "event_type",
                            "value",
                            F.lit(True).alias("_cdc_deleted"),
                            (F.col("_cdc_timestamp_micros") + 2_000_000_000)
                            .alias("_cdc_timestamp_micros"),
                            F.concat(F.lit("d"), F.col("event_id"))
                            .alias("_last_event_id"),
                            F.lit(None).cast("long")
                            .alias("_ttl_expiry_timestamp_us"),
                        )
                    )
                batch = parts[0]
                for p in parts[1:]:
                    batch = batch.unionByName(p)
                table.merge(batch)
                view.sync()
            slot["view"] = [
                (r["event_type"], r["n_rows"], r["sum_micros"])
                for r in view.read().collect()
            ]
    return spark.createDataFrame(
        slot["view"], "event_type string, n_rows long, sum_micros long"
    ).orderBy("event_type")


VIEW_PARITY_SQL = """
WITH final AS (
  SELECT CASE WHEN event_id % 5 = 0 THEN 'updated' ELSE event_type END AS grp,
         CASE WHEN event_id % 5 = 0 THEN value + 1.0 ELSE value END AS v
  FROM events
  WHERE event_id % 17 <> 0)
SELECT grp AS event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CAST(v AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
         AS sum_micros
FROM final GROUP BY 1 ORDER BY 1
"""


def weekly_active_incremental_parity_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAU/WAU as a MAINTAINED view on the CDC ingest path (r12
    verdict #5 — ``events_weekly_active`` was batch-only; this ties
    the sliding-distinct analytics back to the CDC engine): the
    events fixture replayed as 5 CDC batches against a real
    ``KeyedTable`` + ``IncrementalAggView`` whose groups are the
    (day_no, user_id) DISTINCT-CONTRIBUTION pairs — the level the
    sliding COUNT DISTINCT is additive-with-retraction at (a (day,
    user) pair enters DAU/WAU when its visible-event count rises
    from 0 and leaves when it returns to 0; the view maintains
    exactly that count per pair).  Cross-batch UPDATEs move every
    ``event_id % 5 == 0`` event ONE DAY LATER (the pair retracts
    from its old day and lands on the next — a user's last event
    moving re-draws both day memberships), DELETEs tombstone every
    ``% 17 == 0`` event (full retraction; ``% 85`` keys get both in
    one batch, intra-batch LWW keeps the delete).  The DAU/WAU
    rollup then reads ``view.read()`` — O(active pairs), never the
    fact table — through the same constant-7 sequence-explode as the
    batch query.

    Oracle: the closed-form final LWW state aggregated directly from
    the fixture through the batch WEEKLY_ACTIVE derivation — a hash
    match states that per-pair delta maintenance (insert +
    day-move-retract + delete-retract across batch boundaries)
    composes with the sliding distinct to equal full recomputation.
    Same plan-tool caveat as the stream-parity queries: local-
    relation output, the compute surface is the batch replay,
    memoized per (session, fixture)."""
    slot = _stream_parity_slot(spark, sf_dir)
    if "weekly_view" not in slot:
        import tempfile

        from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
        from cass_cdc_pg_spark.streaming.incremental_view import (
            IncrementalAggView,
        )

        day = F.expr("ts_us DIV 86400000000")
        base = _reg._ev(spark, sf_dir).select(
            "event_id",
            day.alias("day_no"),
            "user_id",
            "value",
            F.lit(False).alias("_cdc_deleted"),
            F.col("ts_us").alias("_cdc_timestamp_micros"),
            F.concat(F.lit("e"), F.col("event_id")).alias("_last_event_id"),
            F.lit(None).cast("long").alias("_ttl_expiry_timestamp_us"),
        )
        chunk = F.col("event_id") % 4
        with tempfile.TemporaryDirectory() as tmp:
            table = KeyedTable(spark, f"{tmp}/t", ["event_id"], num_buckets=8)
            view = IncrementalAggView(
                spark, f"{tmp}/v", table, ["day_no", "user_id"], "value"
            )
            for i in range(5):
                parts = []
                if i < 4:
                    parts.append(base.filter(chunk == i))
                if i > 0:
                    prev = base.filter(chunk == i - 1)
                    parts.append(
                        prev.filter(F.col("event_id") % 5 == 0).select(
                            "event_id",
                            (F.col("day_no") + 1).alias("day_no"),
                            "user_id",
                            "value",
                            F.lit(False).alias("_cdc_deleted"),
                            (F.col("_cdc_timestamp_micros") + 1_000_000_000)
                            .alias("_cdc_timestamp_micros"),
                            F.concat(F.lit("u"), F.col("event_id"))
                            .alias("_last_event_id"),
                            F.lit(None).cast("long")
                            .alias("_ttl_expiry_timestamp_us"),
                        )
                    )
                    parts.append(
                        prev.filter(F.col("event_id") % 17 == 0).select(
                            "event_id",
                            "day_no",
                            "user_id",
                            "value",
                            F.lit(True).alias("_cdc_deleted"),
                            (F.col("_cdc_timestamp_micros") + 2_000_000_000)
                            .alias("_cdc_timestamp_micros"),
                            F.concat(F.lit("d"), F.col("event_id"))
                            .alias("_last_event_id"),
                            F.lit(None).cast("long")
                            .alias("_ttl_expiry_timestamp_us"),
                        )
                    )
                batch = parts[0]
                for p in parts[1:]:
                    batch = batch.unionByName(p)
                table.merge(batch)
                view.sync()
            # the rollup reads the VIEW STATE (one row per active
            # (day, user) pair), never the table or the fixture
            du = view.read().select("day_no", "user_id")
            dau = du.groupBy("day_no").agg(
                F.count(F.lit(1)).cast("long").alias("n_daily")
            )
            wau = (
                du.select(
                    F.explode(
                        F.sequence(
                            F.col("day_no"), F.col("day_no") + F.lit(6)
                        )
                    ).alias("day_no"),
                    "user_id",
                )
                .distinct()
                .groupBy("day_no")
                .agg(F.count(F.lit(1)).cast("long").alias("n_weekly"))
            )
            out = dau.join(wau, "day_no").select(
                "day_no",
                "n_daily",
                "n_weekly",
                F.round(
                    F.col("n_daily").cast("double")
                    / F.col("n_weekly").cast("double"),
                    6,
                ).alias("dau_wau_ratio"),
            )
            slot["weekly_view"] = [
                (r["day_no"], r["n_daily"], r["n_weekly"], r["dau_wau_ratio"])
                for r in out.collect()
            ]
    return spark.createDataFrame(
        slot["weekly_view"],
        "day_no long, n_daily long, n_weekly long, dau_wau_ratio double",
    ).orderBy("day_no")


WEEKLY_VIEW_PARITY_SQL = """
WITH final AS (
  SELECT CASE WHEN event_id % 5 = 0
              THEN epoch_us(ts) // 86400000000 + 1
              ELSE epoch_us(ts) // 86400000000 END AS day_no,
         user_id
  FROM events
  WHERE event_id % 17 <> 0),
du AS (SELECT DISTINCT day_no, user_id FROM final),
dau AS (
  SELECT day_no, CAST(COUNT(*) AS BIGINT) AS n_daily
  FROM du GROUP BY 1),
contrib AS (
  SELECT DISTINCT day_no + i AS day_no, user_id
  FROM du, (SELECT unnest(range(0, 7)) AS i) ii),
wau AS (
  SELECT day_no, CAST(COUNT(*) AS BIGINT) AS n_weekly
  FROM contrib GROUP BY 1)
SELECT d.day_no, d.n_daily, w.n_weekly,
       ROUND(CAST(d.n_daily AS DOUBLE) / CAST(w.n_weekly AS DOUBLE), 6)
           AS dau_wau_ratio
FROM dau d JOIN wau w USING (day_no)
"""
