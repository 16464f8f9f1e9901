"""Open-loop load generator for the gateway: a fixed schedule of pre-built
requests, sent by worker threads from when each is due, plus one poller that
watches the REST catalog's committed watermarks and the flush lag. Every
request is timed from its due time, so a stall shows as latency on the
requests queued behind it."""
import http.client
import json
import threading
import time

import pyarrow as pa

import inputs
import stats


def _ns():
    return time.monotonic_ns()


class Conn:
    def __init__(self, port):
        self.port = port
        self.c = None

    def call(self, method, path, body=None, headers=None):
        for attempt in (0, 1):
            try:
                if self.c is None:
                    self.c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
                self.c.request(method, path, body=body, headers=headers or {})
                r = self.c.getresponse()
                data = r.read()
                return r.status, r.getheader("Content-Type") or "", data
            except (http.client.HTTPException, ConnectionError, OSError):
                # a kept-alive connection the server closed: reconnect once
                if self.c is not None:
                    self.c.close()
                self.c = None
                if attempt:
                    raise

    def close(self):
        if self.c is not None:
            self.c.close()


def scrape(conn):
    """Samples of the Prometheus text at /metrics, keyed by name{labels}."""
    _, _, body = conn.call("GET", "/metrics")
    out = {}
    for line in body.decode().splitlines():
        if line and not line.startswith("#"):
            k, v = line.rsplit(" ", 1)
            out[k] = float(v)
    return out


CATALOG_PATH = f"/v1/namespaces/zombi/tables/{inputs.TOPIC}"


def catalog_watermarks(conn):
    """Committed per-partition watermarks of the table's current snapshot,
    as the REST catalog serves them ({} before the first commit)."""
    status, _, body = conn.call("GET", CATALOG_PATH)
    if status == 404:
        return {}
    if status != 200:
        raise RuntimeError(f"catalog GET returned {status}")
    meta = json.loads(body)["metadata"]
    cur = meta.get("current-snapshot-id")
    for s in meta.get("snapshots", []):
        if s.get("snapshot-id") == cur:
            return {int(k[len("zombi.watermark."):]): int(v)
                    for k, v in s.get("summary", {}).items() if k.startswith("zombi.watermark.")}
    return {}


def read_page(req, ctype, body):
    """(partition, sequence) of every record of a read's answer, decoded as
    the asked format; a problem string when it does not decode as one."""
    if req["fmt"] == "arrow":
        if "arrow" not in ctype:
            return f"Content-Type {ctype!r} for an Arrow read"
        try:
            t = pa.ipc.open_stream(body).read_all()
            return list(zip(t.column("partition").to_pylist(), t.column("sequence").to_pylist()))
        except (pa.ArrowInvalid, KeyError) as e:
            return f"not an Arrow stream of events: {e}"
    try:
        d = json.loads(body)
    except ValueError:
        return "not a JSON page"
    recs = d.get("records", [])
    if d.get("count") != len(recs):
        return "count differs from the records"
    return [(r["partition"], r["sequence"]) for r in recs]


def check_read(req, status, ctype, body):
    """A read is correct when it answers 200 with at most 100 records, every
    one from the asked partition at or past the asked offset, in JSON or in
    Arrow as asked."""
    if status != 200:
        return f"status {status}"
    page = read_page(req, ctype, body)
    if isinstance(page, str):
        return page
    if len(page) > 100:
        return "bad page size"
    for part, seq in page:
        if part != req["partition"] or seq < req["offset"]:
            return "record outside the asked range"
    return None


def check_write(req, status, body):
    """Returns (problem or None, [(key, partition, offset, crc)] acked)."""
    if status != 202:
        return f"status {status}", []
    d = json.loads(body)
    evs = req["events"]
    offs = d["offsets"] if req["kind"] == "bulk" else [d["offset"]]
    if len(offs) != len(evs):
        return "offset count differs from event count", []
    return None, [(e["key"], e["partition"], o, e["crc"]) for e, o in zip(evs, offs)]


def run(port, sched, workers, poll_ms, trace, settle_s):
    """Drives `sched` [(due_s, request)] open-loop. Returns a dict of raw
    observations; run.py turns them into metrics. `problems` maps a request's
    index in `sched` to what was wrong with its answer; `writes[k]` is the
    acknowledged write `sched[write_req[k]]`."""
    lock = threading.Lock()
    nxt = [0]
    results = [None] * len(sched)
    spans = []
    wm = stats.WatermarkLog()
    lag = []
    polls = [0]
    stop_poll = threading.Event()
    t_start = _ns() + 200_000_000  # first request due 0.2 s from now

    def worker():
        conn = Conn(port)
        try:
            while True:
                with lock:
                    i = nxt[0]
                    nxt[0] += 1
                if i >= len(sched):
                    return
                due_rel, req = sched[i]
                due = t_start + int(due_rel * 1e9)
                now = _ns()
                if due > now:
                    time.sleep((due - now) / 1e9)
                sent = _ns()
                try:
                    status, ctype, body = conn.call(req["method"], req["path"], req["body"], req["headers"])
                    err = None
                except Exception as e:  # noqa: BLE001 - a transport failure is a failed op
                    status, ctype, body, err = 0, "", b"", f"transport: {e}"
                done = _ns()
                results[i] = (due, sent, done, status, ctype, body, err)
                if trace:
                    spans.append({"id": f"g{i}", "name": f"http.{req['kind']}", "start_ns": sent,
                                  "end_ns": done, "parent": "", "rid": f"req-{i}"})
        finally:
            conn.close()

    def poller():
        conn = Conn(port)
        k = 0
        try:
            while not stop_poll.is_set():
                t0 = _ns()
                try:
                    wm.add(t0, catalog_watermarks(conn))
                    if k % 10 == 0:
                        m = scrape(conn)
                        lag.append((t0, m.get("zombi_flush_lag", 0.0)))
                except Exception:  # noqa: BLE001 - a missed poll only coarsens freshness
                    pass
                t1 = _ns()
                polls[0] += 1
                if trace:
                    spans.append({"id": f"p{k}", "name": "catalog.poll", "start_ns": t0, "end_ns": t1,
                                  "parent": "", "rid": ""})
                k += 1
                left = poll_ms / 1000.0 - (t1 - t0) / 1e9
                if left > 0:
                    stop_poll.wait(left)
        finally:
            conn.close()

    pt = threading.Thread(target=poller, daemon=True)
    pt.start()
    ts = [threading.Thread(target=worker, daemon=True) for _ in range(workers)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()

    # keep polling until every acknowledged write is visible, or settle_s passes
    acks, writes, write_req, problems = [], [], [], {}
    for i, ((_, req), (due, _, _, status, ctype, body, err)) in enumerate(zip(sched, results)):
        if req["kind"] in ("bulk", "single"):
            prob, a = (err, []) if err else check_write(req, status, body)
            if prob is None:
                acks += a
                writes.append((due, [(p, o) for _, p, o, _ in a]))
                write_req.append(i)
        else:
            prob = err or check_read(req, status, ctype, body)
        if prob:
            problems[i] = f"{req['kind']} {req['path']}: {prob}"
    deadline = _ns() + int(settle_s * 1e9)
    while _ns() < deadline:
        _, unseen = stats.freshness(writes[-50:], wm)
        if not unseen:
            break
        time.sleep(poll_ms / 1000.0)
    stop_poll.set()
    pt.join()
    return {"results": results, "acks": acks, "writes": writes, "write_req": write_req, "problems": problems, "wm": wm, "lag": lag, "polls": polls[0],
            "spans": spans}
