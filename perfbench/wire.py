"""Seeded wire-format input builder and cache for the CDC workloads.

``JourneyGenerator`` traffic → one Confluent-framed Avro message per CDC
row (magic byte 0, 4-byte big-endian schema id, Avro body from
``avro_codec.compile_encoder``) → one parquet file with a single binary
``value`` column per table per one-second tick. That is the shape a
Kafka ``value`` column has, so the file-stream stand-in for Kafka feeds
``kafka_avro.decode_avro_auto`` exactly what a broker would.

A run's input is ``live_ticks`` one-second ticks at the ``high`` preset
(100 journey cycles per second) followed by one burst file per table:
``burst_seconds`` seconds of traffic at the ``extreme`` preset's cycle
rate (1000 per second), which the drain phase lands at once. The
virtual event clock runs on through the burst, and the whole stream
keeps the ``high`` preset's error rate.

Encoding happens here, before any timed region, and the result is
cached under the work directory keyed by seed and shape.
A manifest records the row count per table per tick, and a decoded
sample of every table is compared with the generator's source rows
before the cache is marked complete.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import struct

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import BinaryType, StructField, StructType, TimestampType

from cdc_pipeline_spark.sources.avro_codec import compile_decoder, compile_encoder
from cdc_pipeline_spark.sources.kafka_avro import CONFLUENT_HEADER_BYTES, avro_reader_schema
from cdc_pipeline_spark.streaming.generator import PRESETS, TABLE_SCHEMAS, JourneyGenerator

VERSION = 2
LIVE_PRESET, BURST_PRESET = "high", "extreme"
TABLES = ("user_events", "orders", "sessions", "request_log")
SCHEMA_IDS = {"user_events": 9001, "orders": 9002, "sessions": 9003, "request_log": 9004}
VALUE_SCHEMA = StructType([StructField("value", BinaryType())])
# Virtual event clock of the generator: tick k's cycles are stamped
# BASE + k seconds (+ the cycle's offset within the tick).
BASE = dt.datetime(2024, 1, 1)


def ts_cols(table: str) -> list[str]:
    return [f.name for f in TABLE_SCHEMAS[table].fields if isinstance(f.dataType, TimestampType)]


def reader_schema(table: str) -> str:
    """Debezium-style Avro schema: timestamps ride as ZonedTimestamp
    ISO strings, which ``normalize_cdc`` parses back."""
    return avro_reader_schema(TABLE_SCHEMAS[table], f"{table}_value", zoned_ts_cols=tuple(ts_cols(table)))


def _wire_record(row: dict, tcols: list[str]) -> dict:
    out = dict(row)
    for c in tcols:
        if out.get(c) is not None:
            out[c] = out[c].strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    return out


def tick_rows(gen: JourneyGenerator, start: int, seconds: int, rate: int) -> dict[str, list[dict]]:
    """``seconds`` seconds of traffic from virtual second ``start``:
    ``rate`` journey cycles per second, spread evenly."""
    rows: dict[str, list[dict]] = {t: [] for t in TABLES}
    for c in range(seconds * rate):
        now = BASE + dt.timedelta(seconds=start + c / rate)
        for table, out in gen.cycle(now).items():
            rows[table].extend(out)
    return rows


def tick_file(wire_dir: str, table: str, tick: int) -> str:
    return os.path.join(wire_dir, table, f"{tick:05d}.parquet")


def build(work_dir: str, seed: int, live_ticks: int, burst_seconds: int) -> str:
    """Encode ticks ``0..live_ticks - 1`` and the burst (tick
    ``live_ticks``) once; return the directory holding
    ``<table>/<tick>.parquet`` and ``manifest.json``."""
    wire_dir = os.path.join(work_dir, f"wire-v{VERSION}-s{seed}-t{live_ticks}-b{burst_seconds}")
    manifest_path = os.path.join(wire_dir, "manifest.json")
    if os.path.exists(manifest_path):
        return wire_dir
    live_rate, burst_rate = int(PRESETS[LIVE_PRESET]["rate"]), int(PRESETS[BURST_PRESET]["rate"])
    gen = JourneyGenerator(seed=seed, error_rate=PRESETS[LIVE_PRESET]["error_rate"])
    encoders = {t: compile_encoder(reader_schema(t)) for t in TABLES}
    headers = {t: b"\x00" + struct.pack(">I", SCHEMA_IDS[t]) for t in TABLES}
    tcols = {t: ts_cols(t) for t in TABLES}
    for t in TABLES:
        os.makedirs(os.path.join(wire_dir, t), exist_ok=True)
    counts: dict[str, list[int]] = {t: [] for t in TABLES}
    samples: dict[tuple[str, int], list[dict]] = {}
    n_ticks = live_ticks + 1
    for tick in range(n_ticks):
        if tick < live_ticks:
            rows = tick_rows(gen, tick, 1, live_rate)
        else:
            rows = tick_rows(gen, tick, burst_seconds, burst_rate)
        for t in TABLES:
            records = [_wire_record(r, tcols[t]) for r in rows[t]]
            values = [headers[t] + encoders[t](r) for r in records]
            pq.write_table(pa.table({"value": pa.array(values, pa.binary())}), tick_file(wire_dir, t, tick))
            counts[t].append(len(values))
            if tick in (0, n_ticks - 1):
                samples[(t, tick)] = records[:25]
    _check_roundtrip(wire_dir, samples)
    manifest = {
        "seed": seed, "live_ticks": live_ticks, "live_rate": live_rate,
        "burst_seconds": burst_seconds, "burst_rate": burst_rate, "n_ticks": n_ticks,
        "schema_ids": SCHEMA_IDS, "rows": counts,
        "total_rows": sum(sum(v) for v in counts.values()),
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, manifest_path)
    return wire_dir


def _check_roundtrip(wire_dir: str, samples: dict[tuple[str, int], list[dict]]) -> None:
    """Decode the first rows of the first and last tick back from disk
    and require them equal to the records they were encoded from."""
    for (t, tick), expected in samples.items():
        decode = compile_decoder(reader_schema(t))
        values = pq.read_table(tick_file(wire_dir, t, tick)).column("value").to_pylist()
        got = [decode(v[CONFLUENT_HEADER_BYTES:]) for v in values[: len(expected)]]
        if got != expected:
            raise RuntimeError(f"wire round-trip mismatch: {t} tick {tick}")


def load_manifest(wire_dir: str) -> dict:
    with open(os.path.join(wire_dir, "manifest.json")) as fh:
        return json.load(fh)
