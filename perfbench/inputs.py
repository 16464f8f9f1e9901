"""Seeded input generation. Everything the program under test receives is made
here, before any timing starts: the gateway traffic schedule with every
request body, cut from the sf0.1 `events.parquet` committed under data/."""
import functools
import json
import os
import random
import struct
import zlib

N_PARTITIONS = 8  # EventLog.NumPartitions
RETRY_EVERY = 97  # EventLog.raw: event_id % 97 == 0 re-sends event_id - 1
TOPIC = "events"  # the gateway topic and committed table every workload uses
EVENTS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def is_retry(event_id):
    return event_id > 0 and event_id % RETRY_EVERY == 0


@functools.lru_cache(maxsize=1)
def events_rows():
    """The rows of `EVENTS_DIR/events.parquet` in file order, as tuples
    (event_id, ts_us, user_id, event_type, value, props). The file's event ids
    are 0..n-1 in row order, which the retry rule relies on."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(EVENTS_DIR, "events.parquet"))
    cols = [t.column("event_id").to_pylist(), t.column("ts").cast(pa.timestamp("us")).cast(pa.int64()).to_pylist(),
            t.column("user_id").to_pylist(), t.column("event_type").to_pylist(),
            t.column("value").to_pylist(), t.column("props").to_pylist()]
    rows = list(zip(*cols))
    if [r[0] for r in rows] != list(range(len(rows))):
        raise ValueError("events.parquet: event ids are not 0..n-1 in row order")
    return rows


def distinct_keys():
    """Idempotency keys in one copy of the events: EventLog.raw keys a retry
    with its predecessor's id, so every retry adds no key."""
    return sum(1 for r in events_rows() if not is_retry(r[0]))


# ---------------------------------------------------------------- protobuf


def _varint(v):
    out = bytearray()
    while v & ~0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _field_bytes(num, b):
    return _varint((num << 3) | 2) + _varint(len(b)) + b


def _field_int(num, v):
    return _varint(num << 3) + _varint(v) if v else b""


def proto_event(payload, ts_ms, key):
    """ProtoCodec.decodeEvent's wire shape."""
    return _field_bytes(1, payload) + _field_int(2, ts_ms) + _field_bytes(3, key.encode())


def proto_bulk(records):
    """ProtoCodec.decodeBulkRequest's wire shape; records are wire events."""
    out = bytearray()
    for e in records:
        inner = (_field_bytes(1, e["payload"]) + _field_int(2, e["partition"]) +
                 _field_int(3, e["ts_ms"]) + _field_bytes(4, e["key"].encode()))
        out += _field_bytes(1, inner)
    return bytes(out)


def _json_record(e):
    return {"payload": e["payload"].decode(), "partition": e["partition"],
            "timestamp_ms": e["ts_ms"], "idempotency_key": e["key"]}


# ------------------------------------------------------------ wire events


def wire_events(seed, n, key_prefix="k"):
    """`n` events of the gateway's stream: the sf0.1 rows in file order from a
    seeded start row, wrapping to the first row after the last. Payload = the
    row as JSON, partition = user_id mod 8, key <key_prefix><event_id> (a
    wrapped pass adds r<pass>: before the id, as stageChunks' replicas do).
    An event whose id is a retry under EventLog.raw's rule re-sends its
    predecessor (same key, partition and payload); the start row is never
    such a retry, so every predecessor is in the stream."""
    rows = events_rows()
    start = random.Random(seed).randrange(len(rows))
    start += is_retry(start)
    out = []
    for i in range(start, start + n):
        lap, j = divmod(i, len(rows))
        eid, ts_us, user, etype, value, props = rows[j]
        if is_retry(eid):
            out.append(dict(out[-1], retry=True, event_id=eid))
            continue
        payload = json.dumps({"event_id": eid, "user_id": user, "event_type": etype, "value": value,
                              "props": props}, separators=(",", ":")).encode()
        out.append({"event_id": eid, "key": f"{key_prefix}{f'r{lap}:' if lap else ''}{eid}",
                    "partition": user % N_PARTITIONS, "payload": payload, "ts_ms": ts_us // 1000,
                    "retry": False, "crc": zlib.crc32(payload)})
    return out


# ------------------------------------------------------- gateway schedule


def request(kind, events=None, partition=None, offset=None, fmt="json"):
    """One HTTP request: method, path, headers, body, plus what it carries."""
    if kind == "bulk":
        if fmt == "proto":
            body = proto_bulk(events)
            ctype = "application/x-protobuf"
        else:
            body = json.dumps({"records": [_json_record(e) for e in events]},
                              separators=(",", ":")).encode()
            ctype = "application/json"
        return {"kind": "bulk", "fmt": fmt, "method": "POST", "path": f"/tables/{TOPIC}/bulk",
                "headers": {"Content-Type": ctype}, "body": body, "events": events}
    if kind == "single":
        e = events[0]
        if fmt == "proto":
            body = proto_event(e["payload"], e["ts_ms"], e["key"])
            headers = {"Content-Type": "application/x-protobuf", "X-Partition": str(e["partition"])}
        else:
            body = json.dumps(_json_record(e), separators=(",", ":")).encode()
            headers = {"Content-Type": "application/json"}
        return {"kind": "single", "fmt": fmt, "method": "POST", "path": f"/tables/{TOPIC}",
                "headers": headers, "body": body, "events": events}
    tier = "&tier=cold" if kind == "cold" else ""
    accept = "application/vnd.apache.arrow.stream" if fmt == "arrow" else "application/json"
    return {"kind": kind, "fmt": fmt, "method": "GET",
            "path": f"/tables/{TOPIC}?partition={partition}&offset={offset}&limit=100{tier}",
            "headers": {"Accept": accept}, "body": None, "partition": partition, "offset": offset}


def gateway_schedule(seed, rate, seconds, hot_reads_per_s, cold_reads_per_s, single_share=0.03,
                     bulk_min=10, bulk_max=50, read_start_s=1.0, key_prefix="k", base_offsets=None):
    """Open-loop schedule: (due_s, request) sorted by due time. Events are due
    at `rate` per second; a bulk request is due when its last event is. Half
    of the bulk requests are protobuf, half JSON; `single_share` of requests
    are single writes. Hot reads (half JSON, half Arrow) and cold reads ask
    for a partition near the offset its writes have reached by then, counting
    from `base_offsets` (events already in each partition)."""
    rng = random.Random(seed * 7919 + 1)
    n = int(rate * seconds)
    evs = wire_events(seed, n, key_prefix)
    sched, i = [], 0
    while i < n:
        if rng.random() < single_share:
            size, kind = 1, "single"
        else:
            size, kind = rng.randint(bulk_min, bulk_max), "bulk"
        batch = evs[i:i + size]
        i += len(batch)
        fmt = "proto" if rng.random() < 0.5 else "json"
        sched.append(((i - 1) / rate, request(kind, batch, fmt=fmt)))
    # offsets a partition has reached by a time, from the events due before it
    reached = [list(base_offsets or [0] * N_PARTITIONS)]
    for e in evs:
        row = list(reached[-1])
        if not e["retry"]:
            row[e["partition"]] += 1
        reached.append(row)

    def near(t, back):
        row = reached[min(n, int(t * rate))]
        p = rng.randrange(N_PARTITIONS)
        return p, max(0, row[p] - back)

    for kind, per_s, back in (("hot", hot_reads_per_s, 50), ("cold", cold_reads_per_s, 200)):
        k = int(per_s * (seconds - read_start_s))
        for j in range(k):
            t = read_start_s + (j + rng.random()) * (seconds - read_start_s) / max(1, k)
            p, off = near(t, back)
            fmt = ("arrow" if rng.random() < 0.5 else "json") if kind == "hot" else "json"
            sched.append((t, request(kind, partition=p, offset=off, fmt=fmt)))
    sched.sort(key=lambda x: x[0])
    return sched


def partition_counts(sched):
    """Distinct events each partition holds after `sched` is written."""
    counts = [0] * N_PARTITIONS
    for _, r in sched:
        for e in r.get("events", []):
            counts[e["partition"]] += not e["retry"]
    return counts


def write_bodies(sched, path):
    """Bulk request bodies, for the host's layer-by-layer replay:
    kind byte (1 = protobuf, 0 = JSON), big-endian int32 length, body."""
    with open(path, "wb") as fh:
        for _, r in sched:
            if r["kind"] == "bulk":
                fh.write(struct.pack(">bi", 1 if r["fmt"] == "proto" else 0, len(r["body"])))
                fh.write(r["body"])
