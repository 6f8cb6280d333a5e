"""``cdc_live``: the paper's CDC path, end to end.

Wire-format ticks (``wire.py``) land in watched directories, the file
stream stand-in for Kafka (the Kafka jar is absent). Each of six
pipelines reads its own source frames through
``kafka_avro.decode_avro_auto`` → ``normalize_cdc`` and is started with
the ``jobs.start_*_pipeline`` entry points with the default trigger,
writing to one kv sink whose publishes feed ``serve_ws``. Health is left
out: the generator emits no ``system_metrics`` rows.

The run has two measured phases in one session:

* live — open loop at the ``high`` preset: one feeder thread lands tick
  k's file per table at ``t0 + k`` seconds regardless of how the
  pipelines keep up; two WebSocket clients; and one thread making REST
  snapshot reads at a fixed rate through ``create_app(kv).test_client()``.
  A result's freshness is timed from when the newest tick its
  micro-batch read was *due* to land, so a stall counts against the
  results after it.
* drain — once every pipeline has consumed the last live tick, a burst
  of ``extreme``-rate traffic lands at once, one file per table, and is
  timed until every pipeline has consumed it: catch-up throughput, where
  per-row work (the pure-Python Avro decode) weighs more than the fixed
  per-trigger cost that dominates the live phase.

The set-up starts a Spark session and all six queries on the prelude
tick 0, and ends when each query has committed its first trigger. It
runs once per run: it costs 20-30 s cold on a 4-core host, and three of
them would not fit the benchmark's run budget.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import socket
import statistics
import threading
import time

from cdc_pipeline_spark.streaming.sinks import InMemoryKV
from common import StatusApi, Tracer, hd_median, log as _log, median, operator_totals, quantile, spark_time
import wire

CHANNEL = {
    "kpi": "nexus:kpi", "activity": "nexus:activity", "region": "nexus:regions",
    "traffic": "nexus:traffic", "geo": "nexus:geo", "platform": "nexus:platform",
}
SNAPSHOT_ROUTES = ("metrics", "traffic", "activities", "regions", "platform", "geo")
WS_CLIENTS = 2
# One dashboard re-reading the six snapshot routes once per tick, the
# feed's time step (an assumption: the reference dashboard reads
# snapshots once on connect and then follows pushes).
REST_PER_S = len(SNAPSHOT_ROUTES)
LIVE_WARMUP_TICKS = 2
BURST_SECONDS = 2
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets", "triggerExecution")
# order in which MicroBatchExecution runs the phases (for span layout)
PHASE_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class TimedKV(InMemoryKV):
    """InMemoryKV that stamps every write and publish."""

    def __init__(self) -> None:
        super().__init__()
        self.writes: list[tuple[str, str, float, float]] = []
        self.publishes: list[tuple[str, float, int]] = []

    def _timed(self, method: str, key: str, fn, *args) -> None:
        t0 = time.time()
        fn(*args)
        self.writes.append((method, key, t0, time.time()))

    def write_hash(self, key, mapping, channel=None, ttl=None):
        self._timed("write_hash", key, super().write_hash, key, mapping, channel, ttl)

    def write_json(self, key, data, channel=None, ttl=None):
        self._timed("write_json", key, super().write_json, key, data, channel, ttl)

    def push_to_list(self, key, item, max_len, channel=None):
        self._timed("push_to_list", key, super().push_to_list, key, item, max_len, channel)

    def replace_list(self, key, items, channel=None):
        self._timed("replace_list", key, super().replace_list, key, items, channel)

    def publish(self, channel, payload):
        self.publishes.append((channel, time.time(), len(payload)))
        super().publish(channel, payload)


# ---------------------------------------------------------------------------
# Pipelines
# ---------------------------------------------------------------------------


def _source(spark, in_dir: str, table: str):
    from cdc_pipeline_spark.operators.cdc import normalize_cdc
    from cdc_pipeline_spark.sources.files import stream_parquet
    from cdc_pipeline_spark.sources.kafka_avro import decode_avro_auto

    raw = stream_parquet(spark, os.path.join(in_dir, table), wire.VALUE_SCHEMA, None)
    return normalize_cdc(decode_avro_auto(raw, wire.reader_schema(table)), wire.ts_cols(table))


def _region_frame(events):
    from pyspark.sql import functions as F

    return events.select(
        F.col("created_at").alias("event_time"),
        F.col("region_name"),
        F.coalesce(F.col("amount"), F.lit(0.0)).alias("sales"),
        F.lit(1).alias("request_count"),
    )


def start_pipelines(spark, in_dir: str, kv, ckpt: str) -> dict:
    """Six queries, each over its own source frames (the multi-query
    isolation rule of ``jobs.start_transaction_job``)."""
    from cdc_pipeline_spark.streaming import jobs
    from cdc_pipeline_spark.streaming.generator import kpi_components_from_cdc

    def src(table):
        return _source(spark, in_dir, table)

    fused = kpi_components_from_cdc(src("orders"), src("user_events"), src("request_log"))
    kpi, activity, region = jobs.start_transaction_job(
        fused, src("user_events"), _region_frame(src("user_events")), kv, ckpt
    )
    return {
        "kpi": kpi, "activity": activity, "region": region,
        "traffic": jobs.start_traffic_pipeline(src("request_log"), kv, f"{ckpt}/traffic"),
        "geo": jobs.start_geo_pipeline(src("request_log"), kv, f"{ckpt}/geo"),
        "platform": jobs.start_platform_pipeline(src("sessions"), kv, f"{ckpt}/platform"),
    }


# sessions first: the KPI query reads the other three, which then land
# back to back and are rarely split across two of its triggers
LAND_ORDER = ("sessions", "orders", "user_events", "request_log")


def _land(wire_dir: str, in_dir: str, tick: int) -> None:
    """Make tick ``tick`` visible to the file source: a hard link per
    table (atomic, and the cached wire file stays). The file source
    orders files by modification time in milliseconds, so consecutive
    ticks get mtimes at least 10 ms apart to keep them in tick order."""
    stamp = max(time.time(), _land.last + 0.01)
    _land.last = stamp
    for table in LAND_ORDER:
        dest = os.path.join(in_dir, table, f"{tick:05d}.parquet")
        os.link(wire.tick_file(wire_dir, table, tick), dest)
        os.utime(dest, (stamp, stamp))


_land.last = 0.0


def _wait_first_commit(queries: dict, timeout: float) -> None:
    deadline = time.time() + timeout
    pending = dict(queries)
    while pending:
        for name, q in list(pending.items()):
            if q.exception() is not None:
                raise RuntimeError(f"{name} failed: {q.exception()}")
            if q.lastProgress is not None:
                del pending[name]
        if time.time() > deadline:
            raise TimeoutError(f"first trigger not committed: {sorted(pending)}")
        time.sleep(0.02)


def _stop_all(queries: dict) -> None:
    for q in queries.values():
        try:
            q.stop()
        except Exception:  # stopping a failed query re-raises its error
            pass


# ---------------------------------------------------------------------------
# Serving side: WebSocket clients and the REST reader
# ---------------------------------------------------------------------------


class WsClient(threading.Thread):
    """Minimal RFC 6455 client recording (event, receive time, bytes)
    for every frame after the snapshot-on-connect burst."""

    def __init__(self, port: int, n_snapshot_frames: int) -> None:
        super().__init__(name="ws-client", daemon=True)
        self.frames: list[tuple[str, float, int]] = []
        self._skip = n_snapshot_frames
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        key = base64.b64encode(os.urandom(16)).decode("ascii")
        self.sock.sendall(
            (f"GET /ws HTTP/1.1\r\nHost: 127.0.0.1:{port}\r\nUpgrade: websocket\r\n"
             f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
             "Sec-WebSocket-Version: 13\r\n\r\n").encode("ascii")
        )
        head = b""
        while b"\r\n\r\n" not in head:
            chunk = self.sock.recv(1)
            if not chunk:
                raise ConnectionError("websocket handshake closed")
            head += chunk
        if b" 101 " not in head.split(b"\r\n", 1)[0]:
            raise ConnectionError(f"websocket upgrade refused: {head[:80]!r}")
        self.sock.settimeout(None)

    def run(self) -> None:
        from cdc_pipeline_spark.serving.ws import OP_TEXT, decode_frame

        try:
            while True:
                opcode, payload = decode_frame(self.sock)
                now = time.time()
                if opcode != OP_TEXT:
                    return
                if self._skip:
                    self._skip -= 1
                    continue
                self.frames.append((json.loads(payload)["event"], now, len(payload)))
        except (ConnectionError, OSError):
            return

    def close(self) -> None:
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()
        self.join(timeout=10)


class RestReader(threading.Thread):
    """Open-loop REST snapshot reads: request i is due at t0 + i/rate and
    is timed from its due time, so a stalled reader counts the wait."""

    def __init__(self, kv, t0: float) -> None:
        super().__init__(name="rest-reader", daemon=True)
        from cdc_pipeline_spark.serving.app import create_app

        self.client = create_app(kv).test_client()
        self.t0 = t0
        self.latencies: list[float] = []
        self.failed = 0
        self._halt = threading.Event()

    def run(self) -> None:
        i = 0
        while not self._halt.is_set():
            due = self.t0 + i / REST_PER_S
            delay = due - time.time()
            if delay > 0 and self._halt.wait(delay):
                return
            route = SNAPSHOT_ROUTES[i % len(SNAPSHOT_ROUTES)]
            try:
                resp = self.client.get(f"/api/snapshots/{route}")
                ok = resp.status_code == 200 and resp.get_json() is not None
            except Exception:  # a failed read is counted, the loop keeps its schedule
                ok = False
            if ok:
                self.latencies.append(time.time() - due)
            else:
                self.failed += 1
            i += 1

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


# ---------------------------------------------------------------------------
# Progress → batches
# ---------------------------------------------------------------------------


def _iso(ts: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def _source_ticks(ckpt_q: str) -> dict[tuple[int, int], set[int]]:
    """(source index, source log id) → ticks listed in that log entry."""
    out: dict[tuple[int, int], set[int]] = {}
    root = os.path.join(ckpt_q, "sources")
    for src in os.listdir(root):
        for fname in os.listdir(os.path.join(root, src)):
            if fname.startswith(".") or fname.endswith(".tmp"):
                continue
            with open(os.path.join(root, src, fname)) as fh:
                for line in fh.read().splitlines()[1:]:
                    entry = json.loads(line)
                    tick = int(os.path.basename(entry["path"]).split(".")[0])
                    out.setdefault((int(src), int(entry["batchId"])), set()).add(tick)
    return out


def _log_offset(offset) -> int:
    if not offset:
        return -1
    return (json.loads(offset) if isinstance(offset, str) else offset)["logOffset"]


def batches(query, ckpt_q: str) -> list[dict]:
    """Completed micro-batches of a query. ``newest_tick`` is the newest
    tick k such that every source of the query has read ticks 0..k by
    the end of the batch."""
    ticks = _source_ticks(ckpt_q)
    seen: dict[int, set[int]] = {}
    out = []
    for p in query.recentProgress:
        prog = json.loads(p.json)
        read: set[int] = set()
        for i, s in enumerate(prog["sources"]):
            lo, hi = _log_offset(s.get("startOffset")), _log_offset(s.get("endOffset"))
            for log_id in range(lo + 1, hi + 1):
                read |= ticks.get((i, log_id), set())
                seen.setdefault(i, set()).update(ticks.get((i, log_id), set()))
        complete = min((_prefix(seen.get(i, set())) for i in range(len(prog["sources"]))), default=-1)
        start = _iso(prog["timestamp"])
        out.append({
            "batch": prog["batchId"], "start": start,
            "end": start + prog["durationMs"].get("triggerExecution", 0) / 1000.0,
            "rows": prog["numInputRows"], "newest_tick": complete, "ticks": sorted(read),
            "duration": prog["durationMs"], "state": prog.get("stateOperators", []),
        })
    return out


def _prefix(ticks: set[int]) -> int:
    """Largest k with 0..k all in ``ticks`` (-1 if tick 0 is missing)."""
    k = -1
    while k + 1 in ticks:
        k += 1
    return k


# ---------------------------------------------------------------------------
# Correctness: final kv snapshots vs the same builders run in batch
# ---------------------------------------------------------------------------


def _norm(value):
    return json.loads(json.dumps(value, default=str))


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            return abs(float(a) - float(b)) <= 1e-6 * max(1.0, abs(float(b)))
        except (TypeError, ValueError):
            return False
    return a == b


def check_snapshots(spark, in_dir: str, kv, activity_ticks: list[int]) -> dict[str, dict]:
    """Recompute each pipeline's serving snapshot with the
    ``operators.aggregates`` builders in batch over the landed ticks and
    return the snapshots that differ from the kv, with both sides.

    The activity feed is a ring buffer that each micro-batch overwrites
    with its own newest rows, so its reference is the top 15 of the
    ticks the last activity batch read."""
    from pyspark.sql import functions as F

    from cdc_pipeline_spark.operators import aggregates
    from cdc_pipeline_spark.operators.activity import enrich_activity
    from cdc_pipeline_spark.operators.cdc import normalize_cdc
    from cdc_pipeline_spark.sources.kafka_avro import decode_avro_auto
    from cdc_pipeline_spark.streaming.generator import kpi_components_from_cdc

    decoded: dict = {}

    def src(table, ticks=None):
        if ticks is None and table in decoded:
            return decoded[table]
        paths = ([os.path.join(in_dir, table)] if ticks is None
                 else [os.path.join(in_dir, table, f"{t:05d}.parquet") for t in ticks])
        raw = spark.read.schema(wire.VALUE_SCHEMA).parquet(*paths)
        df = normalize_cdc(decode_avro_auto(raw, wire.reader_schema(table)), wire.ts_cols(table))
        if ticks is None:
            decoded[table] = df = df.cache()
        return df

    def latest(df):
        return df.orderBy(F.col("window_end").desc()).limit(1).collect()[0].asDict()

    bad: dict[str, dict] = {}

    def expect(name, got, want, equal):
        if not equal:
            bad[name] = {"got": got, "want": want}

    kpi = latest(aggregates.windowed_kpi(kpi_components_from_cdc(src("orders"), src("user_events"), src("request_log"))))
    got = kv.read_hash("nexus:kpi:current")
    fields = ("window_end", "active_users", "revenue", "orders", "error_rate")
    expect("kpi", got, _norm(kpi), all(f in got and _close(float(got[f]), float(kpi[f])) for f in fields)
           # percentile_approx merges per-batch digests in streaming:
           # hold the median to 5% rather than to equality
           and abs(float(got.get("latency_p50", "nan")) - kpi["latency_p50"]) <= 0.05 * max(1.0, kpi["latency_p50"]))

    traffic = aggregates.tumbling_traffic(src("request_log"), time_col="created_at")
    want = [_norm(r.asDict()) for r in traffic.orderBy(F.col("window_end").desc()).limit(21).collect()]
    got = [json.loads(i) for i in kv.read_list("nexus:traffic:timeseries")]
    expect("traffic", got, want, got == want)

    regions = aggregates.windowed_region(_region_frame(src("user_events")))
    end = regions.agg(F.max("window_end")).collect()[0][0]
    want = sorted((_norm(r.asDict()) for r in regions.filter(F.col("window_end") == end).collect()),
                  key=lambda r: r["region_name"])
    got = sorted(kv.read_json("nexus:regions:current") or [], key=lambda r: r["region_name"])
    expect("regions", got, want, len(got) == len(want) and all(
        all(_close(g.get(k), w[k]) for k in w) for g, w in zip(got, want)))

    want = {r["platform"]: r["count"] for r in aggregates.platform_breakdown(src("sessions")).collect()}
    got = {r["platform"]: r["count"] for r in kv.read_json("nexus:platform:breakdown") or []}
    expect("platform", got, want, got == want)

    want = {k: str(v) for k, v in latest(aggregates.windowed_geo_header(src("request_log"))).items()}
    got = kv.read_hash("nexus:geo:header")
    expect("geo", got, want, got == want)

    activity = enrich_activity(src("user_events", activity_ticks))
    want = [_norm(r.asDict()) for r in
            activity.orderBy(F.col("timestamp").desc(), F.col("id").desc()).limit(15).collect()]
    got = [json.loads(i) for i in kv.read_list("nexus:activity:feed")]
    expect("activity", got, want, got == want)
    return bad


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------


def _last_commit(ckpt_q: str) -> int:
    return max((int(f) for f in os.listdir(os.path.join(ckpt_q, "commits")) if f.isdigit()), default=-1)


def _committed_tick(ckpt_q: str, last: int) -> int:
    """Newest tick k such that every source of the query has read ticks
    0..k in batches up to the committed batch ``last``."""
    read: dict[int, set[int]] = {}
    for (src, batch), ticks in _source_ticks(ckpt_q).items():
        if batch <= last:
            read.setdefault(src, set()).update(ticks)
    n_sources = len(os.listdir(os.path.join(ckpt_q, "sources")))
    return min(_prefix(read.get(i, set())) for i in range(n_sources))


def _wait_consumed(queries: dict, ckpt: str, tick: int, timeout: float) -> dict[str, list[dict]]:
    """Wait until every query has committed a batch that read ticks
    0..``tick``; return the batches of each query.

    The wait reads the checkpoint files, and re-reads a query's source
    logs only when it has committed a new batch: polling the progress
    reports instead would put hundreds of py4j calls a second on the
    driver whose latency and throughput are being measured."""
    deadline = time.time() + timeout
    seen: dict[str, tuple[int, int]] = {}  # query → (last commit, its tick)

    def consumed(name: str) -> int:
        q_dir = os.path.join(ckpt, name)
        last = _last_commit(q_dir)
        if seen.get(name, (None,))[0] != last:
            seen[name] = (last, _committed_tick(q_dir, last) if last >= 0 else -1)
        return seen[name][1]

    polls = 0
    while not all(consumed(name) >= tick for name in queries):
        if time.time() > deadline:
            raise TimeoutError(f"pipelines did not consume tick {tick}")
        polls += 1
        if polls % 20 == 0:  # once a second
            failed_q = [n for n, q in queries.items() if q.exception() is not None]
            if failed_q:
                raise RuntimeError(f"pipelines failed: {failed_q}")
        time.sleep(0.05)
    while True:  # a progress report follows its commit by a moment
        per_query = {name: batches(q, os.path.join(ckpt, name)) for name, q in queries.items()}
        if all(any(b["newest_tick"] >= tick for b in bs) for bs in per_query.values()):
            return per_query
        if time.time() > deadline:
            raise TimeoutError(f"no progress report for tick {tick}")
        time.sleep(0.05)


def _consumed_at(per_query: dict[str, list[dict]], tick: int) -> float:
    """End of the batch by which the last query had read ticks 0..``tick``."""
    return max(next(b["end"] for b in bs if b["newest_tick"] >= tick) for bs in per_query.values())


def run(ctx) -> dict:
    from cdc_pipeline_spark.serving.service import CHANNEL_TO_EVENT
    from cdc_pipeline_spark.serving.ws import serve_ws

    tracer: Tracer = ctx.tracer
    # tick 0 is the prelude the set-up commits its first trigger on;
    # ticks 1..last_live are fed live; tick burst is the drain's burst
    last_live = LIVE_WARMUP_TICKS + ctx.seconds
    burst = last_live + 1
    wire_dir = wire.build(ctx.work_dir, ctx.seed, burst, BURST_SECONDS)
    manifest = wire.load_manifest(wire_dir)
    run_dir = os.path.join(ctx.work_dir, "runs", f"live-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.join(run_dir, "in")
    for table in wire.TABLES:
        os.makedirs(os.path.join(in_dir, table))
    _land(wire_dir, in_dir, 0)

    kv = TimedKV()
    spark, queries = None, {}
    server = hub = rest = None
    clients: list[WsClient] = []
    if ctx.counter:
        ctx.counter.install()
    try:
        server, hub = serve_ws(kv)
        clients = [WsClient(server.server_address[1], len(CHANNEL_TO_EVENT)) for _ in range(WS_CLIENTS)]
        for c in clients:
            c.start()
        ckpt = os.path.join(run_dir, "ckpt")
        t0 = time.perf_counter()
        spark = ctx.new_session("perfbench-cdc")
        t1 = time.perf_counter()
        calls0 = ctx.counter.calls if ctx.counter else 0
        queries = start_pipelines(spark, in_dir, kv, ckpt)
        t2 = time.perf_counter()
        build_calls = (ctx.counter.calls if ctx.counter else 0) - calls0
        _wait_first_commit(queries, timeout=120)
        setup_s = time.perf_counter() - t0
        _log(f"setup: create {t1 - t0:.2f} s, build {t2 - t1:.2f} s, ready {setup_s:.2f} s")
        if ctx.trace:
            _wrap_fetch(hub)

        landed: dict[int, float] = {}
        t_feed = time.time() + 0.2
        due = {tick: t_feed + tick - 1 for tick in range(1, last_live + 1)}
        rest = RestReader(kv, t_feed)
        rest.start()
        for tick in range(1, last_live + 1):
            delay = due[tick] - time.time()
            if delay > 0:
                time.sleep(delay)
            _land(wire_dir, in_dir, tick)
            landed[tick] = time.time()
        _wait_consumed(queries, ckpt, last_live, timeout=90)
        rest.stop()
        _log("live phase done")

        t_burst = time.time()
        _land(wire_dir, in_dir, burst)
        landed[burst] = time.time()
        per_query = _wait_consumed(queries, ckpt, burst, timeout=120)
        drain_end = _consumed_at(per_query, burst)
        time.sleep(0.5)  # let the last fan-out frames arrive
        _stop_all(queries)
        for c in clients:
            c.close()
        server.shutdown()
        server.server_close()
        hub.close()
        server = None
        _log("drain done")

        last_activity = [b for b in per_query["activity"] if b["ticks"]][-1]
        mismatches = check_snapshots(spark, in_dir, kv, last_activity["ticks"])
        _log("snapshot check done")
        fresh_snap, fresh_push, pairs, lost = _freshness(per_query, kv, clients, due)
        layers = {}
        if ctx.trace:
            layers = _streaming_layers(spark, per_query, kv, hub, clients, pairs, tracer, landed, last_live,
                                       (t_feed, drain_end))
            layers["session.create_s"] = t1 - t0
            layers["workload.build_s"] = t2 - t1
            layers["workload.py4j_calls"] = build_calls
            layers["generator.late_max_s"] = max(landed[t] - due[t] for t in due)
            layers["generator.rows"] = manifest["total_rows"]
            layers["sources.decode_rows_per_s"], layers["sources.decode_dropped_rows"] = _decode_rate(spark, in_dir, manifest)
    finally:
        if ctx.counter:
            ctx.counter.uninstall()
        if rest is not None:
            rest.stop()
        _stop_all(queries)
        for c in clients:
            c.close()
        if server is not None:
            server.shutdown()
            server.server_close()
            hub.close()
        if spark is not None:
            spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    if not fresh_push:
        raise RuntimeError("no WebSocket frames were received")
    burst_rows = sum(rows[burst] for rows in manifest["rows"].values())
    live_rows = sum(sum(rows[1:burst]) for rows in manifest["rows"].values())
    attempted = len(fresh_snap) + sum(len(c.frames) for c in clients) + len(CHANNEL)
    attempted += len(rest.latencies) + rest.failed
    failed = lost + len(mismatches) + rest.failed
    metrics = {
        "setup_s": (setup_s, "s"),
        "result_p50_s": (hd_median(fresh_push), "s"),
        "result_mean_s": (statistics.fmean(fresh_push), "s"),
        "rate_per_s": (burst_rows / (drain_end - t_burst), "1/s"),
    }
    if ctx.trace:
        layers["sinks.fresh_snapshot_p50_s"] = median(fresh_snap)
        layers["sinks.fresh_snapshot_p90_s"] = quantile(fresh_snap, 0.9)
        layers["serving.fanout_s"] = median([recv - pub for _, pub, recv in pairs])
        layers["serving.rest_read_p50_s"] = median(rest.latencies)
        layers["serving.rest_read_p99_s"] = quantile(rest.latencies, 0.99)
    notes = {"mismatches": mismatches, "lost_frames": lost, "live_ticks": last_live, "live_rows": live_rows,
             "offered_rows_per_s": live_rows / last_live,
             "live_rows_per_s": _live_rate(per_query, 1 + LIVE_WARMUP_TICKS, last_live),
             "burst_rows": burst_rows, "drain_s": drain_end - t_burst,
             "drain_batches": {name: sum(1 for b in bs if b["start"] >= t_burst - 0.05 and b["rows"] > 0)
                               for name, bs in per_query.items()},
             "push_samples": len(fresh_push), "rest_reads": len(rest.latencies)}
    return {"attempted": attempted, "failed": failed, "correct": not mismatches and not lost,
            "metrics": metrics, "layers": layers, "notes": notes}


def _freshness(per_query, kv, clients, due):
    """Snapshot freshness (due → kv publish) per emitted result, push
    freshness (due → WS frame) by matching the k-th live frame of an
    event to the k-th publish on its channel, and the matched
    (channel, publish time, receive time) pairs. Only live ticks after
    the warm-up have a due time; the drain's results are not sampled."""
    from cdc_pipeline_spark.serving.service import CHANNEL_TO_EVENT

    pubs_by_channel: dict[str, list[float]] = {}
    for channel, t, _ in kv.publishes:
        pubs_by_channel.setdefault(channel, []).append(t)
    fresh_snap, fresh_push, pairs = [], [], []
    lost = 0
    # due time of each publish: the newest tick read by the batch it ran in
    pub_due: dict[str, list[tuple[float | None, int | None]]] = {}
    for name, channel in CHANNEL.items():
        bs = per_query[name]
        seen_batches = set()
        pub_due[channel] = []
        for t in pubs_by_channel.get(channel, []):
            b = next((b for b in bs if b["start"] - 0.05 <= t <= b["end"] + 0.05), None)
            tick = b["newest_tick"] if b else -1
            d = due.get(tick) if tick > LIVE_WARMUP_TICKS else None
            pub_due[channel].append((d, b["batch"] if b else None))
            if d is not None and b["batch"] not in seen_batches:
                seen_batches.add(b["batch"])
                fresh_snap.append(t - d)
    for c in clients:
        k_by_event: dict[str, int] = {}
        pushed: set[tuple[str, int]] = set()
        for event, t, _ in c.frames:
            channel = next(ch for ch, ev in CHANNEL_TO_EVENT.items() if ev == event)
            k = k_by_event.get(event, 0)
            k_by_event[event] = k + 1
            pubs = pubs_by_channel.get(channel, [])
            if k >= len(pubs):
                lost += 1
                continue
            pairs.append((channel, pubs[k], t))
            d, batch = pub_due[channel][k]
            # one sample per client, channel and batch: the frame that
            # first shows the batch's result (activity publishes a
            # frame per row)
            if d is not None and (channel, batch) not in pushed:
                pushed.add((channel, batch))
                fresh_push.append(t - d)
        for channel in CHANNEL.values():
            lost += max(0, len(pubs_by_channel.get(channel, [])) - k_by_event.get(CHANNEL_TO_EVENT[channel], 0))
    return fresh_snap, fresh_push, pairs, lost


def _live_rate(per_query, first_tick: int, last_tick: int) -> float:
    """Rows the six pipelines consume per second of trigger time in the
    live phase, summed over pipelines. While triggers take longer than a
    tick this is the offered rate times the tables each pipeline reads,
    so it is a check that the pipelines kept up, not a throughput."""
    total = 0.0
    for bs in per_query.values():
        measured = [b for b in bs if first_tick <= b["newest_tick"] <= last_tick and b["rows"] > 0]
        busy = sum(b["end"] - b["start"] for b in measured)
        if busy > 0:
            total += sum(b["rows"] for b in measured) / busy
    return total


def _wrap_fetch(hub) -> None:
    """Time ``SnapshotService.fetch`` calls made by the WS broadcaster."""
    service = hub.service
    orig = service.fetch
    service.fetch_times = []

    def fetch(event):
        t0 = time.time()
        out = orig(event)
        service.fetch_times.append(time.time() - t0)
        return out

    service.fetch = fetch


def _decode_rate(spark, in_dir: str, manifest: dict) -> tuple[float, int]:
    """Batch ``decode_avro_auto`` over the workload's own wire files."""
    from pyspark.sql import functions as F

    from cdc_pipeline_spark.sources.kafka_avro import decode_avro_auto

    rows = decoded = 0
    t0 = time.perf_counter()
    for table in wire.TABLES:
        raw = spark.read.schema(wire.VALUE_SCHEMA).parquet(os.path.join(in_dir, table))
        decoded += decode_avro_auto(raw, wire.reader_schema(table)).agg(F.count(F.lit(1))).collect()[0][0]
        rows += sum(manifest["rows"][table])
    return rows / (time.perf_counter() - t0), rows - decoded


def _streaming_layers(spark, per_query, kv, hub, clients, pairs, tracer: Tracer, landed, last_live: int,
                      window: tuple[float, float]) -> dict:
    """Trigger phases, state, sinks and fan-out; one span tree per trigger.
    Operator totals count the jobs submitted inside ``window`` (the live
    and drain phases), not the set-up's or the snapshot check's. The
    input lag is taken over the live phase."""
    measured = [b for bs in per_query.values() for b in bs if b["rows"] > 0]
    layers = {f"streaming.{p}_ms": median([b["duration"].get(p, 0) for b in measured]) for p in PHASES}
    layers["streaming.batches"] = len(measured)
    layers["streaming.rows_per_batch"] = median([b["rows"] for b in measured])
    last = [bs[-1] for bs in per_query.values() if bs]
    layers["streaming.state_rows"] = sum(s.get("numRowsTotal", 0) for b in last for s in b["state"])
    layers["streaming.state_memory_bytes"] = sum(s.get("memoryUsedBytes", 0) for b in last for s in b["state"])
    layers["streaming.rows_dropped_by_watermark"] = sum(
        s.get("numRowsDroppedByWatermark", 0) for bs in per_query.values() for b in bs for s in b["state"]
    )
    lags = []
    for b in measured:
        newest_landed = max((t for t, at in landed.items() if at <= b["end"]), default=None)
        if newest_landed is not None and 0 <= b["newest_tick"] <= last_live and newest_landed <= last_live:
            lags.append(float(newest_landed - b["newest_tick"]))
    layers["streaming.input_lag_s"] = median(lags) if lags else 0.0
    layers["sinks.write_s"] = sum(t1 - t0 for _, _, t0, t1 in kv.writes)
    layers["sinks.writes"] = len(kv.writes)
    layers["sinks.publishes"] = len(kv.publishes)
    layers["sinks.payload_bytes"] = sum(n for _, _, n in kv.publishes)
    layers["serving.frames"] = sum(len(c.frames) for c in clients)
    layers["serving.frame_bytes"] = sum(n for c in clients for _, _, n in c.frames)
    layers["serving.fetch_s"] = median(getattr(hub.service, "fetch_times", []))
    try:
        api = StatusApi(spark)
        jobs = [j for j in api.jobs()
                if window[0] <= (spark_time(j.get("submissionTime")) or 0.0) <= window[1]]
        ops = operator_totals(jobs, api.stages())
        ops.pop("intervals")
        layers.update({f"operators.{k}": v for k, v in ops.items()})
    except OSError:
        pass
    for name, bs in per_query.items():
        for b in bs:
            root = tracer.add(f"{name}#{b['batch']}", "trigger", b["start"], b["end"], None,
                              rows=b["rows"], newest_tick=b["newest_tick"])
            cursor, add_batch = b["start"], root
            for phase in PHASE_ORDER:
                dur = b["duration"].get(phase, 0) / 1000.0
                span = tracer.add(phase, "streaming", cursor, cursor + dur, root)
                add_batch = span if phase == "addBatch" else add_batch
                cursor += dur
            for method, key, t0, t1 in kv.writes:
                if b["start"] <= t0 <= b["end"] and key.startswith(CHANNEL[name]):
                    write = tracer.add(method, "sinks", t0, t1, add_batch)
                    for channel, pub, recv in pairs:
                        if channel == CHANNEL[name] and t0 <= pub <= t1:
                            tracer.add("fanout", "serving", pub, recv, write)
    return layers
