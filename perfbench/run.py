#!/usr/bin/env python3
"""The repository's benchmark. One run measures one workload end to end:

    python3 perfbench/run.py --workload <gateway_mixed|stream_backlog|query_sweep> \
        --seed <n> --seconds <s> --trace <0|1>

It builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed, hosts the program through its public entry
points (perfbench/scala/Host.scala), checks the outputs, and prints one JSON
object as the last line of stdout: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Run records (metrics, evidence, spans) are
kept under <build dir>/results; README.md in this directory defines every
metric and which workload moves it."""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import inputs  # noqa: E402
import loadgen  # noqa: E402
import stats  # noqa: E402

CFG = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
DEADLINE_S = 170  # a run must end within 180 s
# op_tail_ms's percentile: a run's few stalls (GC, a flush saturating the 4
# cores) decide its p99 and p95 and swing them from run to run; p90 is the
# tail a 10 s run measures steadily. The ≥10-samples-beyond cap still applies.
TAIL = 90
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]
CLK_TCK = os.sysconf("SC_CLK_TCK")


class BenchError(Exception):
    pass


T0 = time.monotonic()
MARKS = {}


def mark(name):
    MARKS[name] = round(time.monotonic() - T0, 3)


# ------------------------------------------------------------------ host


def cpu_jiffies():
    """(steal, idle + iowait, total) jiffies of the whole host."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, v[3] + (v[4] if len(v) > 4 else 0), sum(v)


def proc_jiffies(pid):
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return int(f[11]) + int(f[12])


class HostWindow:
    """CPU steal % and external busy-CPU % over a window: host busy jiffies
    minus the benchmark's own (the process under test and this generator),
    as a share of host capacity; the same terms BenchRegime stamps."""

    def __init__(self, pid):
        self.pid = pid
        self.a = cpu_jiffies()
        self._self_a = self._self()
        self.own_a = proc_jiffies(pid) + self._self_a

    @staticmethod
    def _self():
        t = os.times()
        return int((t.user + t.system) * CLK_TCK)

    def close(self, host_cpu_ms=None):
        """`host_cpu_ms`: the host's own total, for a host that has exited."""
        b = cpu_jiffies()
        if host_cpu_ms is None:
            own_b = proc_jiffies(self.pid) + self._self()
        else:
            own_b = self.own_a + int(host_cpu_ms * CLK_TCK / 1000) + self._self() - self._self_a
        steal, idle, total = (b[i] - self.a[i] for i in range(3))
        total = max(1, total)
        busy = total - idle - steal
        return {"steal_pct": round(100.0 * steal / total, 3),
                "ext_busy_pct": round(100.0 * (busy - (own_b - self.own_a)) / total, 3),
                "loadavg": open("/proc/loadavg").read().split()[0]}


class Host:
    """The JVM hosting the program under test."""

    def __init__(self, mode, work, trace, opts, stdin=False):
        self.work = work
        cp = build.build()
        heap = CFG["jvm"]["heap"]
        # a fixed-size heap, so peak RSS does not hinge on heap-growth timing
        cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}", "-Xss4m"] +
               [a for o in JDK17_OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")] +
               [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Host",
                f"mode={mode}", f"work={work}", f"trace={trace}"] +
               [f"{k}={v}" for k, v in opts.items()])
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        self.log = open(os.path.join(work, "host.log"), "w")
        self.t0 = time.monotonic()
        self.p = subprocess.Popen(cmd, cwd=work, stdout=self.log, stderr=subprocess.STDOUT,
                                  stdin=subprocess.PIPE if stdin else subprocess.DEVNULL)

    def send(self, line):
        self.p.stdin.write((line + "\n").encode())
        self.p.stdin.flush()

    def wait_file(self, name, deadline):
        path = os.path.join(self.work, name)
        while not os.path.exists(path):
            if self.p.poll() is not None:
                raise BenchError(f"host exited with {self.p.returncode} before writing {name}")
            if time.monotonic() > deadline:
                raise BenchError(f"host did not write {name} in time")
            time.sleep(0.05)
        return path

    def result(self, deadline):
        try:
            if self.p.stdin:
                self.p.stdin.close()
            self.p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError("host did not finish in time")
        path = os.path.join(self.work, "host_result.json")
        if not os.path.exists(path):
            raise BenchError(f"host exited with {self.p.returncode} and no result")
        with open(path) as fh:
            r = json.load(fh)
        if "fatal" in r:
            raise BenchError(f"host failed: {r['fatal']}")
        return r

    def stop(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()
        self.log.close()


def load_spans(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(x) for x in fh if x.strip()]


def p(xs, q):
    """The median for q = 50, else the capped tail percentile."""
    return stats.median(xs) if q == 50 else stats.percentile(xs, q)[0]


def ms(ns_list):
    return [x / 1e6 for x in ns_list]


# ------------------------------------------------------------- workloads


def gateway_mixed(args, work, deadline):
    c = CFG["gateway_mixed"]
    # set-up rounds write the measured table itself, so its creation and
    # first commits are set-up, under keys of their own
    warm = [inputs.gateway_schedule(args.seed * 31 + i + 1, c["rate_ev_s"], c["setup_round_s"], 0, 0,
                                    key_prefix=f"s{i}-") for i in range(c["setup_rounds"])]
    base = [sum(x) for x in zip(*(inputs.partition_counts(w) for w in warm))]
    sched = inputs.gateway_schedule(args.seed, c["rate_ev_s"], args.seconds, c["hot_reads_per_s"],
                                    c["cold_reads_per_s"], single_share=c["single_share"],
                                    bulk_min=c["bulk_min"], bulk_max=c["bulk_max"], base_offsets=base)
    if args.trace:
        inputs.write_bodies(sched, os.path.join(work, "requests.bin"))
    table = f"/tables/{inputs.TOPIC}"
    extra = (("GET", f"{table}?partition=0&offset=0&limit=100", "application/json"),
             ("GET", f"{table}?partition=1&offset=0&limit=100", "application/vnd.apache.arrow.stream"),
             ("POST", f"{table}/flush", "application/json"),
             ("GET", f"{table}?partition=0&tier=cold&limit=10", "application/json"),
             ("GET", loadgen.CATALOG_PATH, "application/json"))
    mark("inputs")
    host = Host("gateway", work, args.trace, {"flush_ms": c["flush_ms"]}, stdin=True)
    try:
        ready = host.wait_file("ready.json", deadline)
        ready_s = time.monotonic() - host.t0
        port = json.load(open(ready))["port"]
        conn = loadgen.Conn(port)
        # set-up rounds: write, flush, cold-read and catalog-read the table;
        # their requests are ids s<round>.<n>, the measured ones their index
        rounds, setup_problems, setup_acks = [], {}, []
        for k, ws in enumerate(warm):
            t0 = time.monotonic()
            for j, (_, r) in enumerate(ws):
                st, _, body = conn.call(r["method"], r["path"], r["body"], r["headers"])
                prob, acks = loadgen.check_write(r, st, body)
                setup_acks += acks
                if prob:
                    setup_problems[f"s{k}.{j}"] = f"setup write {r['path']}: {prob}"
            for j, (method, path, accept) in enumerate(extra, len(ws)):
                st, _, _ = conn.call(method, path, headers={"Accept": accept})
                if st != 200:
                    setup_problems[f"s{k}.{j}"] = f"setup {method} {path}: status {st}"
            rounds.append(time.monotonic() - t0)
        mark("setup")
        m0 = loadgen.scrape(conn)
        win = HostWindow(host.p.pid)
        host.send("mark")
        host.wait_file("marked", deadline)
        obs = loadgen.run(port, sched, c["workers"], c["poll_ms"], args.trace,
                          settle_s=3 * c["flush_ms"] / 1000.0 + 3)
        mark("load")
        m1 = loadgen.scrape(conn)
        conn.close()
        evidence = win.close()
        host.send("finish")
        r = host.result(deadline)
    finally:
        host.stop()

    mark("host_done")
    # ---- output checks
    committed = []
    with open(os.path.join(work, "committed.csv")) as fh:
        for line in fh:
            if line.strip():
                part, seq, key, crc = line.strip().split(",")
                committed.append((int(part), int(seq), key, int(crc)))
    eo = stats.exactly_once_problems(setup_acks + obs["acks"], committed)
    fresh, unseen = stats.freshness(obs["writes"], obs["wm"])
    own = dict(setup_problems)
    own.update((obs["write_req"][k], "acknowledged but never shown in the catalog") for k in unseen)
    own.update(obs["problems"])
    requests_of_key = {}
    for rid, req in [(f"s{k}.{j}", r) for k, ws in enumerate(warm) for j, (_, r) in enumerate(ws)] + \
            list(enumerate(r for _, r in sched)):
        for e in req.get("events", []):
            requests_of_key.setdefault(e["key"], []).append(rid)
    bad, table_problems = stats.failed_operations(own, eo, requests_of_key)
    problems = [f"request {rid}: {why}" for rid, why in bad.items()] + table_problems
    # every request, set-up ones included, plus the committed-table check
    attempted = len(sched) + sum(len(w) + len(extra) for w in warm) + 1
    failed = len(bad) + bool(table_problems)

    # ---- latencies, timed from when each request was due
    lat = {"bulk": [], "single": [], "hot": [], "cold": []}
    server_side, late, timeline = [], [], {}
    for (due_rel, req), (due, sent, done, status, _, _, err) in zip(sched, obs["results"]):
        late.append((sent - due) / 1e6)
        if not err and status in (200, 202):
            lat[req["kind"]].append((done - due) / 1e6)
            if req["kind"] in ("bulk", "single"):
                server_side.append((done - sent) / 1e6)
                timeline.setdefault(int(due_rel), []).append((done - due) / 1e6)
    writes = lat["bulk"] + lat["single"]
    d = {k: m1.get(k, 0.0) - m0.get(k, 0.0) for k in set(m0) | set(m1)}
    server_mean = d.get("zombi_write_latency_ms_sum", 0) / max(1, d.get("zombi_write_latency_ms_count", 0))
    retries = sum(1 for _, req in sched if req["kind"] in ("bulk", "single") for e in req["events"] if e["retry"])
    flushes = d.get("zombi_flushes_total", 0)
    # the slowest flush lies in the smallest cumulative bucket holding every flush
    buckets = sorted((float(k.split('"')[1]), n) for k, n in d.items()
                     if k.startswith("zombi_flush_latency_ms_bucket") and "Inf" not in k)
    flush_max = next((le for le, n in buckets if n >= flushes), buckets[-1][0] if buckets else 0.0)
    n_writes = len(writes)
    spark = r["spark_run"]
    payload_bytes = sum(len(e["payload"]) for w in warm + [sched] for _, req in w
                        if req["kind"] in ("bulk", "single") for e in req["events"] if not e["retry"])
    replay = r.get("replay") or {}
    e2e = {
        "setup_s": ready_s + sum(rounds),
        "peak_rss_mb": r["peak_rss_mb"],
        "op_p50_ms": p(writes, 50),
        "op_tail_ms": p(writes, TAIL),
        "cpu_ms_per_op": r["timed_cpu_ms"] / max(1, n_writes),
    }
    named = {
        "write_p50_ms": p(writes, 50), "write_p99_ms": p(writes, 99),
        "hot_read_p99_ms": p(lat["hot"], 99), "cold_read_p50_ms": p(lat["cold"], 50),
        "freshness_p50_ms": p(ms(fresh), 50), "freshness_p99_ms": p(ms(fresh), 99),
        "gen.late_ms_p99": p(late, 99),
    }
    layer = {
        "serve.server_write_ms_mean": server_mean,
        "serve.client_wait_ms_mean": (sum(server_side) / max(1, len(server_side))) - server_mean,
        "serve.rejects_503": sum(1 for x in obs["results"] if x[3] == 503),
        "serve.dup_absorb_ratio": d.get("zombi_duplicate_writes_total", 0) / max(1, retries),
        "serve.flush_lag_max": max((v for _, v in obs["lag"]), default=0.0),
        "serve.proto_decode_us_per_ev": replay.get("proto_decode_ns", 0) / 1e3 / max(1, replay.get("proto_events", 0)),
        "hotbuffer.insert_us_per_ev": replay.get("insert_ns", 0) / 1e3 / max(1, replay.get("events", 0)),
        "wal.append_us_per_ev": replay.get("wal_ns", 0) / 1e3 / max(1, replay.get("stored", 0)),
        "wal.bytes_per_ev": replay.get("wal_bytes", 0) / max(1, replay.get("stored", 0)),
        "arrow.encode_us_per_ev": replay.get("arrow_ns", 0) / 1e3 / max(1, replay.get("arrow_events", 0)),
        "flush.calls": flushes,
        "flush.ms_mean": d.get("zombi_flush_latency_ms_sum", 0) / max(1, flushes),
        "flush.ms_max": flush_max,
        "flush.events_per_call": d.get("zombi_flush_events_total", 0) / max(1, flushes),
        "spark.jobs_per_flush": spark["jobs"] / max(1, flushes),
        "spark.tasks_per_flush": spark["tasks"] / max(1, flushes),
        "maint.auto_vacuums": r["counters"]["auto_vacuums"],
        "maint.compactions": r["counters"]["compactions"],
        "iceberg.snapshots": r["shape"]["snapshots"],
        "iceberg.manifests": r["shape"]["manifests"],
        "iceberg.metadata_bytes": r["shape"]["metadata_bytes"],
        "table.data_files": r["shape"]["data_files"],
        "table.bytes_per_user_byte": r["shape"]["data_bytes"] / max(1, payload_bytes),
    }
    layer.update(spark_layers(spark))
    evidence.update({"requests": len(sched), "write_requests": n_writes, "retries_sent": retries,
                     "catalog_polls": obs["polls"], "setup_rounds_s": rounds, "ready_s": ready_s,
                     "committed_rows": len(committed), "final_flush_s": r["final_flush_s"],
                     "write_samples": n_writes, "fresh_samples": len(fresh),
                     "write_ms_by_second": {k: [round(stats.median(v), 3), round(max(v), 3)]
                                            for k, v in sorted(timeline.items())}})
    spans = obs["spans"] + load_spans(os.path.join(work, "spans_host.jsonl"))
    return e2e, named, layer, evidence, attempted, failed, problems, spans


def spark_layers(c, per=1.0):
    """Spark work counters and phase sums (`per` divides them per pass)."""
    keys = ["analysis_ms", "optimization_ms", "planning_ms", "execution_ms", "jobs", "stages", "tasks",
            "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "result_bytes",
            "executor_cpu_ms", "gc_ms"]
    return {f"spark.{k}": c.get(k, 0) / per for k in keys}


def stream_backlog(args, work, deadline):
    c = CFG["stream_backlog"]
    host = Host("stream", work, args.trace, {"data": inputs.EVENTS_DIR, "chunks": c["chunks"],
                                             "replicate": c["replicate"]})
    try:
        win = HostWindow(host.p.pid)
        r = host.result(deadline)
        evidence = win.close(r["total_cpu_ms"])
    finally:
        host.stop()
    # each copy of the source holds one key per event that is not a retry
    staged = c["replicate"] * len(inputs.events_rows())
    keys = c["replicate"] * inputs.distinct_keys()
    problems = []
    if sum(r["trigger_rows"]) != staged:
        problems.append(f"the stream read {sum(r['trigger_rows'])} rows of {staged} staged")
    if r["pre_rows"] != keys:
        problems.append(f"committed {r['pre_rows']} rows for {keys} distinct staged keys")
    parts = {x["partition"]: x for x in r["partitions"]}
    for part, x in sorted(parts.items()):
        if x["keys"] != x["rows"]:
            problems.append(f"partition {part}: {x['rows']} rows but {x['keys']} keys")
        if x["max"] - x["min"] + 1 != x["rows"]:
            problems.append(f"partition {part}: sequences {x['min']}..{x['max']} not dense over {x['rows']} rows")
    if (r["post_rows"], r["post_hash"]) != (r["pre_rows"], r["pre_hash"]):
        problems.append("compaction changed the table's rows or content hash")
    if r["compaction"]["files_out"] < 1:
        problems.append("compaction rewrote no files")
    trig = r["triggers"]
    if len(trig) != c["chunks"]:
        problems.append(f"{len(trig)} triggers for {c['chunks']} chunks")
    attempted = len(trig) + 3  # triggers, two scans, one compaction
    e2e = {
        "setup_s": stats.median(r["setup_s"]),
        "peak_rss_mb": r["peak_rss_mb"],
        "op_p50_ms": p(trig, 50),
        "op_tail_ms": p(trig, TAIL),
        "cpu_ms_per_op": r["timed_cpu_ms"] / max(1, len(trig)),
    }
    named = {"ingest_ev_s": staged / r["ingest_s"], "compact_s": r["compact_s"],
             "post_compact_scan_ms": r["post_scan_s"] * 1000.0}
    ph = r["phases_ms"]
    fp = r["flush_phase_ms"]
    layer = {
        "stream.triggers": len(trig),
        "stream.trigger_ms_p50": p(trig, 50),
        "stream.trigger_ms_max": max(trig) if trig else 0,
        "stream.latest_offset_ms": ph["latestOffset"], "stream.get_batch_ms": ph["getBatch"],
        "stream.query_planning_ms": ph["queryPlanning"], "stream.add_batch_ms": ph["addBatch"],
        "stream.wal_commit_ms": ph["walCommit"], "stream.commit_offsets_ms": ph["commitOffsets"],
        "state.commit_ms": r["state_commit_ms"], "state.memory_bytes": r["state_memory_bytes"],
        "state.rows": r["state_rows"],
        "ingestphase.sequence_ms": fp.get("sequence", 0), "ingestphase.write_ms": fp.get("write", 0),
        "ingestphase.footers_ms": fp.get("footers", 0),
        "ingestphase.other_ms": ph["addBatch"] - sum(fp.get(k, 0) for k in ("sequence", "write", "footers")),
        "compaction.files_in": r["compaction"]["files_in"],
        "compaction.files_out": r["compaction"]["files_out"],
        "compaction.bytes_rewritten": r["compaction"]["bytes_rewritten"],
        "scan.pre_compact_ms": r["pre_scan_s"] * 1000.0,
        "table.data_files": r["shape_after"]["data_files"],
        "iceberg.snapshots": r["shape_after"]["snapshots"],
        "iceberg.manifests": r["shape_after"]["manifests"],
        "iceberg.metadata_bytes": r["shape_after"]["metadata_bytes"],
    }
    layer.update(spark_layers(r["spark_ingest"]))
    evidence.update({"staged_rows": staged, "committed_rows": r["pre_rows"],
                     "ingest_s": r["ingest_s"], "setup_s_each": r["setup_s"],
                     "files_before": r["shape_before"]["data_files"]})
    spans = load_spans(os.path.join(work, "spans_host.jsonl"))
    return e2e, named, layer, evidence, attempted, len(problems), problems, spans


def query_sweep(args, work, deadline):
    c = CFG["query_sweep"]
    pins = json.load(open(os.path.join(HERE, "pins.json")))
    host = Host("sweep", work, args.trace, {"data": os.path.join(ROOT, c["data"]), "seconds": args.seconds,
                                            "min_reps": c["min_reps"], "only": ",".join(c["queries"])})
    try:
        win = HostWindow(host.p.pid)
        r = host.result(deadline)
        evidence = win.close(r["total_cpu_ms"])
    finally:
        host.stop()
    problems, samples, medians, ctor, by_module = [], [], {}, {}, {}
    attempted = failed = 0
    for q in r["queries"]:
        name, pin = q["name"], pins.get(q["name"])
        runs = [(None, None, q["first_rows"], q["first_hash"], q["first_error"])] + \
               list(zip(q["warm_s"], q["ctor_s"], q["rows"], q["hash"], q["errors"]))
        good, good_ctor = [], []
        for t, ctor_s, n, h, err in runs:
            attempted += 1
            if err:
                failed += 1
                problems.append(f"{name}: {err}")
            elif pin is None or (n, h) != (pin["rows"], pin["hash"]):
                failed += 1
                problems.append(f"{name}: got {n} rows / {h}, pinned {pin}")
            elif t is not None:  # only correct warm runs contribute a time
                good.append(t * 1000.0)
                good_ctor.append(ctor_s * 1000.0)
        samples += good
        if good:
            medians[name] = stats.median(good)
            ctor[name] = stats.median(good_ctor)
            by_module[q["module"]] = by_module.get(q["module"], 0.0) + medians[name] / 1000.0
    missing = set(c["queries"]) - {q["name"] for q in r["queries"]}
    for name in sorted(missing):
        attempted += 1
        failed += 1
        problems.append(f"{name}: not registered in SparkEntry.queries")
    reps = max(1, r["warm_reps"])
    med = list(medians.values())
    e2e = {
        "setup_s": stats.median(r["setup_s"]),
        "peak_rss_mb": r["peak_rss_mb"],
        "op_p50_ms": p(samples, 50),
        "op_tail_ms": p(samples, TAIL),
        "cpu_ms_per_op": r["timed_cpu_ms"] / max(1, len(samples)),
    }
    named = {"sweep_s": sum(med) / 1000.0, "query_geomean_ms": stats.geomean(med) if med else 0.0,
             "query_p90_ms": p(med, 90)}
    layer = {"query.build_ms": sum(ctor.values()), "memo.warm_builds": r["memo_warm_builds"]}
    layer.update(spark_layers(r["spark_warm"], per=reps))
    for m in ("core", "table", "llm", "corpus", "extract", "streaming", "serve", "sources", "analytics"):
        layer[f"module.{m}_s"] = by_module.get(m, 0.0)
    evidence.update({"queries": len(r["queries"]), "warm_reps": r["warm_reps"],
                     "first_touch_s": r["first_touch_s"], "samples": len(samples),
                     "per_query_ms": {k: round(v, 3) for k, v in sorted(medians.items())}})
    spans = load_spans(os.path.join(work, "spans_host.jsonl"))
    return e2e, named, layer, evidence, attempted, failed, problems, spans


WORKLOADS = {"gateway_mixed": gateway_mixed, "stream_backlog": stream_backlog, "query_sweep": query_sweep}


# ------------------------------------------------------------------ main


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the host it started (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    build.build()  # exits non-zero, printing no result, when the program cannot be built
    bdir = build.build_dir()
    work = os.path.join(bdir, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(work)
    try:
        e2e, named, layer, evidence, attempted, failed, problems, spans = \
            WORKLOADS[args.workload](args, work, deadline)
    except (BenchError, OSError, KeyError, ValueError) as e:
        sys.stderr.write(f"perfbench: {args.workload} failed: {e}\n")
        shutil.rmtree(work, ignore_errors=True)
        return 1
    error_ratio = failed / max(1, attempted)
    named["error_ratio"] = error_ratio
    if args.trace:
        layer.update(named)
        wanted = [m["name"] for m in BENCH["per_layer"]]
    else:
        wanted = [m["name"] for m in BENCH["end_to_end"]]
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    source = layer if args.trace else e2e
    metrics = {k: {"value": float(source.get(k) or 0.0), "unit": units[k]} for k in wanted}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
              "attempted": attempted, "failed": failed, "problems": problems[:50],
              "end_to_end": e2e, "named": named, "evidence": evidence,
              "wall_s": time.monotonic() - t_start, "marks": MARKS}
    rdir = os.path.join(bdir, "results")
    os.makedirs(rdir, exist_ok=True)
    stem = os.path.join(rdir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        record["layers"] = layer
        record["self_ms"] = {k: {"self_ms": round(v[0], 3), "spans": v[1]}
                             for k, v in sorted(stats.self_time_by_name(spans).items())}
        untraced = stem.replace("-trace1", "-trace0") + ".json"
        if os.path.exists(untraced):
            base = json.load(open(untraced))["end_to_end"]
            traced = e2e
            record["tracing_overhead"] = {k: traced[k] - base[k] for k in base if k in traced}
        with open(stem + ".spans.jsonl", "w") as fh:
            fh.writelines(json.dumps(s) + "\n" for s in spans)
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"evidence": evidence, "named": named, "problems": problems[:10],
                      "tracing_overhead": record.get("tracing_overhead")}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
