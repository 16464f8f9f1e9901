"""The benchmark's arithmetic: percentiles, geomean, span self time, freshness
matching and the output checkers. Kept free of I/O so `test_stats.py` can pin
every rule on hand-built cases."""
import bisect
import math

MIN_BEYOND = 10  # samples a reported percentile must have beyond it


def percentile(xs, p):
    """Nearest-rank p-th percentile, capped at the highest percentile that
    still has at least MIN_BEYOND samples beyond it, and never below the
    median rank (with too few samples for any tail, the tail is the median).
    Returns (value, the percentile actually reported); (None, None) for no
    samples."""
    n = len(xs)
    if n == 0:
        return None, None
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * n))  # 1-based rank
    k = max(math.ceil(n / 2.0), min(k, n - MIN_BEYOND))
    return s[k - 1], 100.0 * k / n


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children (overlapping children counted once, clipped to
    the parent). `spans` are dicts with id, parent, start_ns, end_ns."""
    kids = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"])) for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans):
    """Sum of self time (ms) and span count per span name."""
    st = self_times(spans)
    agg = {}
    for s in spans:
        ms, n = agg.get(s["name"], (0.0, 0))
        agg[s["name"]] = (ms + st[s["id"]] / 1e6, n + 1)
    return agg


class WatermarkLog:
    """Per-partition committed watermarks as polled from the catalog, in
    poll-time order: `first_at(p, off)` is the first poll time whose
    watermark for p is >= off (None when no poll ever saw it)."""

    def __init__(self):
        self._t = {}
        self._wm = {}

    def add(self, t, watermarks):
        for p, w in watermarks.items():
            ts, ws = self._t.setdefault(p, []), self._wm.setdefault(p, [])
            if ws and w <= ws[-1]:
                continue  # keep only the points where a watermark advanced
            ts.append(t)
            ws.append(w)

    def first_at(self, p, off):
        ws = self._wm.get(p)
        if not ws:
            return None
        i = bisect.bisect_left(ws, off)
        return self._t[p][i] if i < len(ws) else None


def freshness(writes, wmlog):
    """Per acknowledged write: time from when it was due until the catalog
    first showed every one of its events committed. `writes` holds
    (due_t, [(partition, offset), ...]). Returns (freshness list, indices
    into `writes` of the writes the catalog never showed)."""
    out, unseen = [], []
    for k, (due, events) in enumerate(writes):
        ts = [wmlog.first_at(p, o) for p, o in events]
        if not ts or any(t is None for t in ts):
            unseen.append(k)
            continue
        out.append(max(ts) - due)
    return out, unseen


def dense_problems(rows_by_partition):
    """Partitions whose sequences are not dense: each partition's sequences
    must be distinct and consecutive. Returns a list of (partition, why)."""
    bad = []
    for p, seqs in sorted(rows_by_partition.items()):
        s = sorted(seqs)
        if len(set(s)) != len(s):
            bad.append((p, "duplicate sequence"))
        elif s and s[-1] - s[0] + 1 != len(s):
            bad.append((p, f"gap: {len(s)} rows span {s[0]}..{s[-1]}"))
    return bad


def exactly_once_problems(acks, committed):
    """Checks a committed table against what the gateway acknowledged.

    `acks`: (key, partition, offset, crc) for every acknowledged event,
    retries included (a retry carries its original's key and content, and
    the gateway must answer it with the original's offset).
    `committed`: list of (partition, sequence, key, crc) rows.
    Every acknowledged key must be committed exactly once, in its acked
    partition at its acked offset with its content; nothing else may be
    committed; sequences must be dense. Returns a list of (key, problem); the
    key is None for a problem of a whole partition."""
    probs = []
    acked = {}
    for key, p, off, crc in acks:
        if key in acked and acked[key] != (p, off, crc):
            probs.append((key, f"key {key} acknowledged as {acked[key]} and as {(p, off, crc)}"))
        acked.setdefault(key, (p, off, crc))
    seen = {}
    by_part = {}
    for p, seq, key, crc in committed:
        by_part.setdefault(p, []).append(seq)
        if key in seen:
            probs.append((key, f"key {key} committed twice"))
            continue
        seen[key] = (p, seq, crc)
    for key, want in acked.items():
        got = seen.get(key)
        if got is None:
            probs.append((key, f"key {key} acknowledged but not committed"))
        elif got != want:
            probs.append((key, f"key {key} committed as {got}, acknowledged as {want}"))
    for key in seen:
        if key not in acked:
            probs.append((key, f"key {key} committed but never acknowledged"))
    probs += [(None, f"partition {p}: {why}") for p, why in dense_problems(by_part)]
    return probs


def failed_operations(request_problems, key_problems, requests_of_key):
    """Counts each request at most once. A request fails when its own answer
    was wrong (`request_problems`: request id -> problem) or when any key it
    carried has an exactly-once problem (`key_problems`: (key, problem) as
    `exactly_once_problems` returns them; `requests_of_key`: key -> ids of
    the requests that sent it). A problem no request carried (a partition's
    gap, a key nobody sent) fails the committed-table check, one operation
    of its own. Returns ({request id: first problem}, [table problems])."""
    failed = dict(request_problems)
    table = []
    for key, why in key_problems:
        reqs = requests_of_key.get(key, ()) if key is not None else ()
        if not reqs:
            table.append(why)
        for r in reqs:
            failed.setdefault(r, why)
    return failed, table
