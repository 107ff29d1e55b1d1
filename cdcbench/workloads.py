"""The three CDC-path workloads.

Each drives the engine only through its public entry points and returns
a ``Result``: end-to-end samples, correctness checks, attempted/failed
counts, and the raw material the per-layer metrics are derived from.

- ``cdc_steady``: open loop.  Files land at a fixed rate into a
  ``CdcIngest.start`` stream with a processing-time trigger, beside an
  open-loop dashboard client on ``CdcApiServer``.
- ``cdc_backlog``: closed loop.  Pre-staged backlog segments land one at
  a time and each is drained by ``CdcIngest.start(trigger_once=True)``.
- ``reconcile_audit``: closed loop, read-only.  Full and scoped
  reconciliation jobs alternate over two seeded ``KeyedTable``s.
"""

from __future__ import annotations

import gc
import http.client
import json
import math
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

import gen
import oracle
import stats

#: timed set-ups per run, after one untimed set-up that pays the JVM's
#: warm-up; ``setup_s`` is their median
SETUP_REPS = 3
#: files landed and drained before the measured phase
WARM_FILES = 2
#: the DLQ routes answer 500 until the DLQ holds a record, so the
#: warm-up files of ``cdc_steady`` carry a higher invalid share
WARM_INVALID_FRAC = 0.05
#: how long a stream may take to commit every landed file
DRAIN_TIMEOUT_S = 40
REQUEST_TIMEOUT_S = 10
#: the dashboard's keep-alive connections; at most the 4 cores the
#: benchmark was tuned on, so the client never outnumbers Spark's cores
API_CONNECTIONS = min(4, os.cpu_count() or 1)
#: the landing schedule starts this long after a trigger fires
PHASE_S = 0.1
#: most full collections ``memory_mb`` waits through for the heap to settle
MEMORY_GC_ROUNDS = 10
#: ``read_live().count()`` calls timed after the backlog drain
READ_BACK_REPS = 3


@dataclass
class Result:
    setup_samples: list[float]
    latency_ms: list[float]
    aux_latency_ms: list[float]
    storage_bytes_per_live_row: float
    memory_mb: float
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    #: figures printed for the reader but not part of the JSON result:
    #: name -> (value, unit, samples)
    extra: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(c["ok"] for c in self.checks.values())


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 params: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.p = params


def _check(checks: dict, name: str, got, want) -> None:
    checks[name] = {"ok": got == want, "got": got, "want": want}


def _parquet_bytes(root: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(root):
        total += sum(
            os.path.getsize(os.path.join(dirpath, n))
            for n in names if n.endswith(".parquet")
        )
    return total


def _compacted_bytes_per_row(table, live_rows: int) -> float:
    """Parquet bytes of the table's current snapshot after a full
    compaction, per live row: the physical cost of the state itself,
    independent of where the run's compaction cycle happened to stop."""
    table.compact()
    with open(os.path.join(table.path, "_manifest.json")) as fh:
        buckets = json.load(fh)["buckets"]
    total = sum(
        _parquet_bytes(os.path.join(table.path, d, f"bucket={b}"))
        for b, e in buckets.items()
        for d in ([e["base"]] if e.get("base") else []) + list(e.get("deltas", ()))
    )
    return total / max(live_rows, 1)


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of *pid* in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _memory_mb(spark) -> tuple[float, dict]:
    """Peak resident set of this process, plus what the JVM holds: live
    heap after full collections and the used non-heap memory outside the
    JIT's code cache (metaspace: loaded and generated classes).  Unlike
    the JVM's resident set this does not follow when the collector chose
    to grow the heap, nor how far the JIT compiler has got, so it repeats
    run to run and moves with what the program keeps in memory.
    Workloads take it once warm, before the measured window, so it does
    not grow with the number of operations the window happens to fit.
    Returns the total in MB and a record of its parts."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    mem = mgmt.getMemoryMXBean()
    # Python's collector releases the JVM objects its dead proxies pin; a
    # JVM collection then lets Spark's context cleaner drop unreferenced
    # broadcasts and shuffles, asynchronously, so collect until the live
    # heap reads the same three times running
    gc.collect()
    heap: list[float] = []
    for _ in range(MEMORY_GC_ROUNDS):
        mem.gc()
        heap.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
        if len(heap) >= 3 and max(heap[-3:]) - min(heap[-3:]) < 0.5:
            break
        time.sleep(0.5)
    non_heap = {
        pool.getName(): pool.getUsage().getUsed() / 2**20
        for pool in mgmt.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Non-heap memory"
    }
    python = hwm_mb(os.getpid())
    total = python + heap[-1] + sum(v for k, v in non_heap.items()
                                    if not k.startswith("CodeHeap"))
    return total, {"python_peak_rss": python, "jvm_heap_readings": heap, **non_heap}


def _timed_setups(ctx: Ctx, build, discard) -> tuple[object, list[float], float]:
    """Run ``build(rep)`` once untimed, then ``SETUP_REPS`` times timed,
    each on fresh storage; ``discard(result)`` drops a replaced result.
    Returns the last result, the timed samples, and the first (cold)
    set-up's seconds."""
    samples, out, cold = [], None, 0.0
    for rep in range(SETUP_REPS + 1):
        if out is not None:
            discard(out)
        t = time.perf_counter()
        with ctx.tracer.span("bench.setup", rep=rep):
            out = build(rep)
        if rep:
            samples.append(time.perf_counter() - t)
        else:
            cold = time.perf_counter() - t
    return out, samples, cold


def _sleep_until(t: float) -> None:
    d = t - time.time()
    if d > 0:
        time.sleep(d)


# ---------------------------------------------------------------------------
# ingest shared pieces
# ---------------------------------------------------------------------------


def _new_ingest(ctx: Ctx, warehouse: str, snapshot_rows: int):
    from pyspark.sql import types as T

    from cass_cdc_pg_spark.streaming.ingest import CdcIngest

    ing = CdcIngest(
        ctx.spark, warehouse,
        {gen.TABLE: T.StructType.fromDDL(gen.PAYLOAD_DDL)},
        {gen.TABLE: gen.KEY_COLS},
        num_buckets=int(ctx.p["num_buckets"]),
    )
    snap = ctx.spark.range(snapshot_rows).selectExpr(
        "id", "concat('s', id) AS name",
        "CAST((id % 1000) * 0.25 AS DOUBLE) AS amount",
        "CAST(id % 100 AS INT) AS qty", "'seed' AS status",
    )
    ing.seed_snapshot(gen.TABLE, snap)
    return ing


def _setup_ingest(ctx: Ctx):
    """Seed a fresh warehouse (the set-up a user pays per pipeline), see
    ``_timed_setups``; the last one is kept."""
    return _timed_setups(
        ctx,
        lambda rep: _new_ingest(ctx, os.path.join(ctx.work, f"wh{rep}"),
                                int(ctx.p["snapshot_rows"])),
        lambda ing: shutil.rmtree(ing.warehouse, ignore_errors=True),
    )


def _checkpoint_batches(ck: str) -> tuple[dict[str, int], dict[int, float]]:
    """From the stream checkpoint: landed file name -> batch id, and
    batch id -> commit time (mtime of the commit-log entry)."""
    files: dict[str, int] = {}
    src = os.path.join(ck, "sources", "0")
    for fn in os.listdir(src) if os.path.isdir(src) else ():
        if fn.startswith("."):
            continue
        with open(os.path.join(src, fn)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    files[os.path.basename(e["path"])] = int(e["batchId"])
    commits: dict[int, float] = {}
    cdir = os.path.join(ck, "commits")
    for fn in os.listdir(cdir) if os.path.isdir(cdir) else ():
        if fn.isdigit():
            commits[int(fn)] = os.stat(os.path.join(cdir, fn)).st_mtime_ns / 1e9
    return files, commits


def _verify_ingest(ctx: Ctx, ing, landing: str, checks: dict) -> int:
    """Final state and DLQ against the DuckDB replay; returns live rows."""
    from pyspark.sql import functions as F

    files = sorted(os.path.join(landing, f) for f in os.listdir(landing))
    want = oracle.replay(files, int(ctx.p["snapshot_rows"]), int(time.time() * 1e6))
    got_rows = ing.table(gen.TABLE).read_live().select(*gen.PAYLOAD_COLS).collect()
    got = oracle.state_digest(tuple(r) for r in got_rows)
    _check(checks, "live_state", list(got), list(oracle.state_digest(want["live"])))
    dlq = {
        r["error_type"]: r["n"]
        for r in ing.dlq().groupBy("error_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    _check(checks, "dlq_by_error_type", dict(sorted(dlq.items())),
           dict(sorted(want["dlq"].items())))
    return got[0]


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


# ---------------------------------------------------------------------------
# cdc_steady
# ---------------------------------------------------------------------------


class DashboardClient:
    """Open-loop API client.  ``API_CONNECTIONS`` worker threads, each with
    one keep-alive connection, take requests in schedule order; a request
    waits for a free connection only when all are busy.  Latency runs
    from the request's due time, so a stall is charged to every request
    queued behind it.  Every HTTP call carries its own ``X-Request-ID``,
    which the server records on its request span, so handler time can be
    matched to the request that caused it."""

    def __init__(self, host: str, port: int, schedule: list[tuple[float, str]],
                 version: int, seed: int) -> None:
        self.host, self.port = host, port
        self.schedule = schedule
        self.version = version
        self.rnd = random.Random(seed)
        self.records: list[dict] = []
        self._next = 0
        self._lock = threading.Lock()
        self._threads = [threading.Thread(target=self._worker, daemon=True)
                         for _ in range(API_CONNECTIONS)]

    def start(self) -> None:
        for t in self._threads:
            t.start()

    def join(self, timeout: float) -> None:
        deadline = time.time() + timeout
        for t in self._threads:
            t.join(max(0.0, deadline - time.time()))

    def run(self) -> None:
        self.start()
        self.join(REQUEST_TIMEOUT_S * len(self.schedule) + 5)

    def _path(self, route: str) -> str:
        if route == "dlq_records":
            with self._lock:
                offset = self.rnd.randrange(10) * 10
            return f"/dlq/records?limit=10&offset={offset}"
        if route == "table_changes":
            return f"/tables/{gen.TABLE}/changes?since={max(self.version - 1, 0)}&limit=100"
        return {
            "dlq_stats": "/dlq/stats",
            "table_history": f"/tables/{gen.TABLE}/history",
            "reconciliation_mismatches": "/reconciliation/mismatches?limit=10",
            "health": "/health",
            "metrics": "/metrics",
        }[route]

    def _take(self):
        with self._lock:
            if self._next >= len(self.schedule):
                return None
            self._next += 1
            return self._next - 1, self.schedule[self._next - 1]

    def _worker(self) -> None:
        conn = None

        def get(path: str, rid: str) -> tuple[int, bytes]:
            nonlocal conn
            try:
                if conn is None:
                    conn = http.client.HTTPConnection(self.host, self.port,
                                                      timeout=REQUEST_TIMEOUT_S)
                conn.request("GET", path, headers={"X-Request-ID": rid})
                resp = conn.getresponse()
                return resp.status, resp.read()
            except (OSError, http.client.HTTPException) as e:
                if conn is not None:
                    conn.close()
                conn = None
                return 0, str(e).encode()

        try:
            while (item := self._take()) is not None:
                i, (due, route) = item
                _sleep_until(due)
                sent = time.time()
                ids = [f"bench-{i}"]
                if route == "table_changes":
                    # one tailing read: learn the head version, then read
                    # the commits since the one before it
                    status, body = get(self._path("table_history"), ids[0])
                    if status == 200:
                        versions = [h["version"] for h in json.loads(body)]
                        self.version = max(versions, default=self.version)
                        ids.append(f"bench-{i}-changes")
                        status, body = get(self._path(route), ids[1])
                else:
                    status, body = get(self._path(route), ids[0])
                rec = {"route": route, "due": due, "sent": sent, "done": time.time(),
                       "status": status, "request_ids": ids}
                if status != 200:
                    rec["detail"] = body[:300].decode(errors="replace")
                with self._lock:
                    self.records.append(rec)
        finally:
            if conn is not None:
                conn.close()


def _api_schedule(ctx: Ctx, t0: float) -> list[tuple[float, str]]:
    """Requests at a fixed rate; the route mix is allotted exactly by
    weight (largest remainder) and only its order is drawn from the seed,
    so every run sends the same number of each route."""
    mix = ctx.p["api_mix"]
    rate = float(ctx.p["api_rate_per_s"])
    n = int(ctx.seconds * rate)
    total = sum(mix.values())
    exact = {r: n * w / total for r, w in mix.items()}
    counts = {r: int(x) for r, x in exact.items()}
    for r in sorted(exact, key=lambda r: counts[r] - exact[r])[: n - sum(counts.values())]:
        counts[r] += 1
    routes = [r for r in mix for _ in range(counts[r])]
    random.Random(ctx.seed * 7919 + 1).shuffle(routes)
    return [(t0 + i / rate, r) for i, r in enumerate(routes)]


def run_cdc_steady(ctx: Ctx) -> Result:
    from cass_cdc_pg_spark.api import CdcApiServer, CdcApiService
    from cass_cdc_pg_spark.streaming.ingest import jsonl_stream

    p = ctx.p
    ing, setup_samples, cold_setup_s = _setup_ingest(ctx)
    lander = gen.Lander(os.path.join(ctx.work, "staging"), os.path.join(ctx.work, "landing"))
    n_files = int(ctx.seconds * float(p["files_per_s"]))
    warm = [f"w{i:03d}.jsonl" for i in range(WARM_FILES)]
    names = [f"f{i:05d}.jsonl" for i in range(n_files)]
    g_warm = gen.EventGen(ctx.seed + 1_000_003, dict(p, invalid_frac=WARM_INVALID_FRAC))
    for name in warm:
        lander.stage(name, g_warm.lines(int(p["events_per_file"])))
    g = gen.EventGen(ctx.seed, p)
    for name in names:
        lander.stage(name, g.lines(int(p["events_per_file"])))

    t_warm = time.perf_counter()
    ck = os.path.join(ctx.work, "checkpoint")
    period = float(p["trigger_s"])
    # the stream's first microbatch runs at once and takes the warm-up files
    for name in warm:
        lander.land(name)
    q = ing.start(jsonl_stream(ctx.spark, lander.landing), ck,
                  processing_time=f"{period:g} seconds")
    server = CdcApiServer(CdcApiService(
        ctx.spark, warehouse=ing.warehouse,
        table_config={"tables": {gen.TABLE: {"ddl": gen.PAYLOAD_DDL, "keys": gen.KEY_COLS}}},
    ))
    host, port = server.start()
    client = None
    try:
        _await_files(q, ck, warm, DRAIN_TIMEOUT_S)
        version = ing.table(gen.TABLE).history()[-1]["version"]
        DashboardClient(host, port, [(time.time(), r) for r in p["api_mix"]],
                        version, ctx.seed).run()
        warmup_s = time.perf_counter() - t_warm
        n_warm_batches = len(q.recentProgress)
        memory_mb, memory_parts = _memory_mb(ctx.spark)

        # processing-time triggers fire on multiples of the period since
        # the epoch; locking the landing schedule to that grid removes a
        # random phase from every lag
        t0 = (math.floor(time.time() / period) + 1) * period + PHASE_S
        client = DashboardClient(host, port, _api_schedule(ctx, t0), version, ctx.seed)
        client.start()
        landed: dict[str, tuple[float, float]] = {}
        with ctx.tracer.span("bench.loadgen"):
            for i, name in enumerate(names):
                due = t0 + i / float(p["files_per_s"])
                _sleep_until(due)
                lander.land(name)
                landed[name] = (due, time.time())
        drained = _await_files(q, ck, names, DRAIN_TIMEOUT_S)
        client.join(timeout=REQUEST_TIMEOUT_S + 5)
        progress = _progress(q)[n_warm_batches:]
        measure_end = time.time()
    finally:
        q.stop()
        server.stop()
    # the server's own request spans: handler time per X-Request-ID
    handler_ms = {sp["attributes"].get("request_id"): sp["duration_ms"]
                  for sp in server.tracer.spans if sp["name"].startswith("http.")}

    files, commits = _checkpoint_batches(ck)
    lags, failed = [], 0
    for name in names:
        b = files.get(name)
        if b is None or b not in commits:
            failed += 1
            continue
        lags.append((commits[b] - landed[name][0]) * 1000.0)
    # 410 is the change feed's documented answer when the requested
    # range has aged out of retention between the two calls of a tail
    api_lat, feed_gone = [], 0
    for r in client.records:
        ok = r["status"] == 200 or (r["route"] == "table_changes" and r["status"] == 410)
        feed_gone += r["status"] == 410
        if ok:
            api_lat.append((r["done"] - r["due"]) * 1000.0)
        else:
            failed += 1
    checks: dict = {}
    _check(checks, "all_files_committed", drained, True)
    _check(checks, "stream_healthy", q.exception() is None, True)
    live = _verify_ingest(ctx, ing, lander.landing, checks)
    failed += sum(not c["ok"] for c in checks.values())
    return Result(
        setup_samples=setup_samples,
        latency_ms=lags,
        aux_latency_ms=api_lat,
        storage_bytes_per_live_row=_compacted_bytes_per_row(ing.table(gen.TABLE), live),
        memory_mb=memory_mb,
        attempted=len(names) + len(client.records) + len(checks),
        failed=failed,
        checks=checks,
        info={
            "measure_start": t0,
            "measure_end": measure_end,
            "cold_setup_s": cold_setup_s,
            "memory_parts_mb": memory_parts,
            "warmup_s": warmup_s,
            "progress": progress,
            "batch_files": files,
            "landed": landed,
            "requests": client.records,
            "handler_ms": handler_ms,
            "changes_gone": feed_gone,
            "measured_batches": len(progress),
        },
    )


def _await_files(q, ck: str, names: list[str], timeout_s: float) -> bool:
    """Wait until every file in *names* is in a committed batch."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if q.exception() is not None:
            return False
        files, commits = _checkpoint_batches(ck)
        if all(files.get(n) in commits for n in names):
            return True
        time.sleep(0.05)
    return False


# ---------------------------------------------------------------------------
# cdc_backlog
# ---------------------------------------------------------------------------


def run_cdc_backlog(ctx: Ctx) -> Result:
    from cass_cdc_pg_spark.streaming.ingest import jsonl_stream

    p = ctx.p
    ing, setup_samples, cold_setup_s = _setup_ingest(ctx)
    lander = gen.Lander(os.path.join(ctx.work, "staging"), os.path.join(ctx.work, "landing"))
    g = gen.EventGen(ctx.seed, p)
    per_file = int(p["events_per_file"])
    warm = [f"w{i:03d}.jsonl" for i in range(WARM_FILES)]
    for name in warm:
        lander.stage(name, g.lines(per_file))
    segments = []
    for s in range(int(p["max_segments"])):
        seg = [f"s{s:02d}f{i:02d}.jsonl" for i in range(int(p["files_per_segment"]))]
        for name in seg:
            lander.stage(name, g.lines(per_file))
        segments.append(seg)

    ck = os.path.join(ctx.work, "checkpoint")

    def drain() -> tuple[float, list[dict]]:
        t = time.perf_counter()
        q = ing.start(
            jsonl_stream(ctx.spark, lander.landing,
                         max_files_per_trigger=1),
            ck, trigger_once=True,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t
        if q.exception() is not None:
            raise RuntimeError(f"backlog drain failed: {q.exception()}")
        return wall, _progress(q)

    # warm-up batches also bring every bucket closer to its compaction
    # threshold, so the measured drain crosses a compaction
    t_warm = time.perf_counter()
    for name in warm:
        lander.land(name)
    drain()
    warmup_s = time.perf_counter() - t_warm
    memory_mb, memory_parts = _memory_mb(ctx.spark)

    walls, progress, done = [], [], 0
    measure_start = time.time()
    t_end = measure_start + ctx.seconds
    with ctx.tracer.span("bench.backlog"):
        for seg in segments:
            # start a segment only if it should end inside the window
            if walls and time.time() + walls[-1] > t_end:
                break
            for name in seg:
                lander.land(name)
            wall, prog = drain()
            walls.append(wall)
            progress.extend(prog)
            done += 1
    events = done * len(segments[0]) * per_file
    commit_ms = [pr["durationMs"]["triggerExecution"] for pr in progress]

    # the first query a user runs on the caught-up table
    reads = []
    for _ in range(READ_BACK_REPS):
        t = time.perf_counter()
        with ctx.tracer.span("bench.read_back"):
            ing.table(gen.TABLE).read_live().count()
        reads.append((time.perf_counter() - t) * 1000.0)
    measure_end = time.time()

    checks: dict = {}
    _check(checks, "events_drained", sum(pr["numInputRows"] for pr in progress), events)
    live = _verify_ingest(ctx, ing, lander.landing, checks)
    failed = sum(not c["ok"] for c in checks.values())
    return Result(
        setup_samples=setup_samples,
        latency_ms=commit_ms,
        aux_latency_ms=reads,
        storage_bytes_per_live_row=_compacted_bytes_per_row(ing.table(gen.TABLE), live),
        memory_mb=memory_mb,
        attempted=len(progress) + len(reads) + len(checks),
        failed=failed,
        checks=checks,
        info={
            "measure_start": measure_start,
            "measure_end": measure_end,
            "cold_setup_s": cold_setup_s,
            "memory_parts_mb": memory_parts,
            "warmup_s": warmup_s,
            "progress": progress,
            "batch_files": _checkpoint_batches(ck)[0],
            "segments": done,
            "segment_walls_s": walls,
            "measured_batches": len(progress),
        },
        extra={"ingest_events_per_s": (events / sum(walls), "events/s", done)},
    )


# ---------------------------------------------------------------------------
# reconcile_audit
# ---------------------------------------------------------------------------

PK = ["l_orderkey", "l_linenumber"]
MUTATED_COLS = ("l_quantity", "l_comment")
COMPARE_COLS = (
    "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
    "l_tax", "l_returnflag", "l_linestatus", "l_shipdate", "l_commitdate",
    "l_receiptdate", "l_shipinstruct", "l_shipmode", "l_comment",
)


def _u(seed: int, salt: int, i: int) -> int:
    """Per-key uniform draw in [0, 10000), computed identically here and
    (by ``_u_col``) inside Spark, so perturbation sets need no literals."""
    return ((i + 1) * 2654435761 + seed * 40503 + salt * 97) % (1 << 32) % 10000


def _u_col(seed: int, salt: int):
    from pyspark.sql import functions as F

    return F.pmod((F.col("id") + 1) * F.lit(2654435761) + F.lit(seed * 40503 + salt * 97),
                  F.lit(1 << 32)) % 10000


def _lineitem(ids, seed: int, version, ts: int | None = None, mutated=None,
              deleted: bool = False):
    """lineitem-shaped rows for the ids in *ids* (a DataFrame of ``id``)
    at *version* (an int or a Column); rows whose id is in *mutated*
    differ in ``MUTATED_COLS`` where the Column *mutated* holds.  The LWW
    timestamp is *ts*, default version + 1."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    ver = version if isinstance(version, Column) else F.lit(version)

    def h(salt: int, *cols):
        return F.pmod(F.xxhash64(F.lit(seed), F.lit(salt), *cols), F.lit(1 << 30))

    def pick(salt: int, choices):
        return F.element_at(F.array(*map(F.lit, choices)), (h(salt, "id") % len(choices) + 1)
                            .cast("int"))

    def day(salt: int):
        return F.date_add(F.lit("1992-01-01").cast("date"), (h(salt, "id") % 2500).cast("int"))

    hit = mutated if mutated is not None else F.lit(False)
    qty = (h(3, "id", ver) % 50 + 1).cast("double")
    comment = F.concat(F.lit("c"), ver.cast("string"), F.lit("-"),
                       (h(14, "id", ver) % 100000).cast("string"))
    return ids.select(
        (F.col("id") / 4).cast("long").alias("l_orderkey"),
        (F.col("id") % 4 + 1).cast("int").alias("l_linenumber"),
        (h(1, "id") % 200000 + 1).alias("l_partkey"),
        (h(2, "id") % 10000 + 1).alias("l_suppkey"),
        F.when(hit, qty + 1000).otherwise(qty).alias("l_quantity"),
        (h(4, "id", ver) % 10000000 / 100.0).alias("l_extendedprice"),
        (h(5, "id") % 11 / 100.0).alias("l_discount"),
        (h(6, "id") % 9 / 100.0).alias("l_tax"),
        pick(7, "ANR").alias("l_returnflag"),
        pick(8, "FO").alias("l_linestatus"),
        day(9).alias("l_shipdate"),
        day(10).alias("l_commitdate"),
        day(11).alias("l_receiptdate"),
        pick(12, ("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"))
        .alias("l_shipinstruct"),
        pick(13, ("AIR", "FOB", "MAIL", "RAIL", "SHIP", "TRUCK")).alias("l_shipmode"),
        F.when(hit, F.concat(comment, F.lit("!"))).otherwise(comment).alias("l_comment"),
        F.lit(deleted).alias("_cdc_deleted"),
        (F.lit(ts).cast("long") if ts is not None else (ver + 1).cast("long"))
        .alias("_cdc_timestamp_micros"),
        F.lit("").alias("_last_event_id"),
        F.lit(None).cast("long").alias("_ttl_expiry_timestamp_us"),
    )


def _perturbation(seed: int, p: dict) -> dict:
    """Key sets of the seeded perturbation.  Draw ``_u(seed, 0, id)``
    picks missing (below ``missing_bp``) and mutated (the next
    ``mutated_bp``) keys; draw ``_u(seed, 1, id)`` below ``delta_bp``
    puts a key in the source's delta commit.  Rates are in basis points."""
    n, m, x = int(p["rows"]), int(p["missing_bp"]), int(p["mutated_bp"])
    draw0 = [_u(seed, 0, i) for i in range(n)]
    return {
        "n": n,
        "missing_bp": m,
        "mutated_bp": x,
        "missing": {i for i, u in enumerate(draw0) if u < m},
        "mutated": {i for i, u in enumerate(draw0) if m <= u < m + x},
        "extra": n * int(p["extra_bp"]) // 10000,
        "delta_bp": int(p["delta_bp"]),
        "changed": {i for i in range(n) if _u(seed, 1, i) < int(p["delta_bp"])},
    }


def _build_pair(ctx: Ctx, root: str, pert: dict):
    """Source: a base commit (version 0 of every row), then a delta
    commit rewriting the changed keys (version 1).  Target: a base commit
    holding the source's final state plus the extra keys, then a delta
    commit carrying the perturbation (mutated rows, and tombstones for
    the missing keys).  Neither table reaches the compaction threshold.
    Returns (source, target, source version before its delta commit)."""
    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    spark, seed, nb = ctx.spark, ctx.seed, int(ctx.p["num_buckets"])
    n, m, x = pert["n"], pert["missing_bp"], pert["mutated_bp"]
    src = KeyedTable(spark, os.path.join(root, "source"), PK, nb)
    tgt = KeyedTable(spark, os.path.join(root, "target"), PK, nb)
    every = spark.range(n)
    changed = _u_col(seed, 1) < pert["delta_bp"]
    src.merge(_lineitem(every, seed, 0))
    since = src.history()[-1]["version"]
    src.merge(_lineitem(every.filter(changed), seed, 1))
    final = F.when(changed, F.lit(1)).otherwise(F.lit(0))
    draw0 = _u_col(seed, 0)
    tgt.merge(_lineitem(spark.range(n + pert["extra"]), seed, final))
    # timestamp 3 is newer than both source commits (timestamps 1 and 2)
    tgt.merge(
        _lineitem(every.filter((draw0 >= m) & (draw0 < m + x)), seed, final, 3,
                  mutated=F.lit(True))
        .unionByName(_lineitem(every.filter(draw0 < m), seed, final, 3, deleted=True))
    )
    return src, tgt, since


def run_reconcile_audit(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.operators import reconcile
    from cass_cdc_pg_spark.plans.keyed_table import META_COLS

    p = ctx.p
    pert = _perturbation(ctx.seed, p)
    (src_t, tgt_t, since), setup_samples, cold_setup_s = _timed_setups(
        ctx,
        lambda rep: _build_pair(ctx, os.path.join(ctx.work, f"pair{rep}"), pert),
        lambda pair: shutil.rmtree(os.path.dirname(pair[0].path), ignore_errors=True),
    )
    compare = list(COMPARE_COLS)
    changed = pert["changed"]
    want = oracle.expected_recon(pert["n"], pert["missing"], pert["mutated"],
                                 pert["extra"], changed, len(MUTATED_COLS))

    def key_id(r) -> int:
        return r["l_orderkey"] * 4 + r["l_linenumber"] - 1

    def counts(rows) -> dict:
        out = {k: 0 for k in want["full"]}
        for r in rows:
            out[r["mismatch_type"]] += 1
        return out

    checks = {"full_job": {"ok": True}, "scoped_job": {"ok": True}}
    failures = 0

    def full_job() -> tuple[set, int]:
        nonlocal failures
        tr = ctx.tracer
        with tr.span("bench.recon.full"):
            src = src_t.read_live().drop(*META_COLS)
            tgt = tgt_t.read_live().drop(*META_COLS)
            with tr.span("operators.reconcile.row_count"):
                rc = reconcile.row_count_validation(src, tgt).collect()[0]
            with tr.span("operators.reconcile.checksum_diff"):
                diff = reconcile.checksum_diff(src, tgt, PK, compare).persist()
                rows = diff.collect()
            try:
                with tr.span("operators.reconcile.field_diff"):
                    dm = diff.filter(F.col("mismatch_type") == reconcile.DATA_MISMATCH)
                    fd = reconcile.field_diff(
                        src.join(dm.select(*PK), PK, "left_semi"),
                        tgt.join(dm.select(*PK), PK, "left_semi"), PK, compare,
                    ).collect()
            finally:
                diff.unpersist()
        ok = (
            (rc["src_count"], rc["tgt_count"]) == (want["src_count"], want["tgt_count"])
            and counts(rows) == want["full"]
            and len(fd) == want["field_diff_rows"]
            and {r["column"] for r in fd} == set(MUTATED_COLS)
        )
        if not ok:
            failures += 1
            _check(checks, "full_job", {"rc": [rc["src_count"], rc["tgt_count"]],
                                        "counts": counts(rows), "field_diff": len(fd)},
                   {"rc": [want["src_count"], want["tgt_count"]],
                    "counts": want["full"], "field_diff": want["field_diff_rows"]})
            checks["full_job"]["ok"] = False
        return {key_id(r) for r in rows}, len(rows)

    def scoped_job(full_keys: set) -> None:
        nonlocal failures
        with ctx.tracer.span("bench.recon.scoped"):
            with ctx.tracer.span("operators.reconcile.incremental"):
                rows = reconcile.incremental_checksum_diff(src_t, tgt_t, since, compare).collect()
        got_keys = {key_id(r) for r in rows}
        if counts(rows) != want["scoped"] or got_keys != full_keys & changed:
            failures += 1
            _check(checks, "scoped_job", counts(rows), want["scoped"])
            checks["scoped_job"]["ok"] = False

    t_warm = time.perf_counter()
    full_keys, _ = full_job()
    scoped_job(full_keys)
    warmup_s = time.perf_counter() - t_warm
    memory_mb, memory_parts = _memory_mb(ctx.spark)

    full_ms, scoped_ms, mismatches = [], [], []
    measure_start = time.time()
    t_end = measure_start + ctx.seconds
    # start a pair only if it should end inside the window
    while time.time() + (full_ms[-1] + scoped_ms[-1] if full_ms else 0.0) / 1000.0 < t_end:
        t = time.perf_counter()
        full_keys, n_mm = full_job()
        full_ms.append((time.perf_counter() - t) * 1000.0)
        mismatches.append(n_mm)
        t = time.perf_counter()
        scoped_job(full_keys)
        scoped_ms.append((time.perf_counter() - t) * 1000.0)
    measure_end = time.time()
    return Result(
        setup_samples=setup_samples,
        latency_ms=full_ms,
        aux_latency_ms=scoped_ms,
        storage_bytes_per_live_row=_compacted_bytes_per_row(tgt_t, want["tgt_count"]),
        memory_mb=memory_mb,
        attempted=len(full_ms) + len(scoped_ms),
        failed=failures,
        checks=checks,
        info={
            "measure_start": measure_start,
            "measure_end": measure_end,
            "cold_setup_s": cold_setup_s,
            "memory_parts_mb": memory_parts,
            "warmup_s": warmup_s,
            "mismatches_per_full_job": stats.median(mismatches),
        },
    )


WORKLOADS = {
    "cdc_steady": run_cdc_steady,
    "cdc_backlog": run_cdc_backlog,
    "reconcile_audit": run_reconcile_audit,
}
