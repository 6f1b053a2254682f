"""Traced run: per-layer metrics and spans, all measured from outside the
program — the service harness's listener records (progress events, Spark
jobs), client-side stamps, /proc reads, and timed calls into layer entry
points.

Spans: every message (a 1-in-20 sample of the live_tail window), replay
cycle or batch query is one trace. A span has a name, start, end and the
span that caused it; a layer's self time is its span's duration minus the
part of that interval its child spans cover. Spans stay in memory and are
written to .bench_build/perfbench/traces/ at the end of the run. Inside a
trigger, Spark reports phase durations but not their start times, so the
phases are laid end to end in execution order (latestOffset, walCommit,
getBatch, queryPlanning, addBatch, commitOffsets).
"""
import bisect
import datetime
import json
import os
import socket
import struct
import time

from ws import FrameParser

QUERIES = sorted([
    "p_enrich_json", "p_enrich_json_wire", "p_enrich_prototext", "p_json_tuple",
    "p_merchant_decode", "p_forward_filter", "s_seek_ordinal", "s_seek_timestamp",
    "s_seek_datetime", "r_latest_per_user", "r_gap_detect", "r_gap_detect_per_stream",
    "r_stats_every_800", "r_correlate_attrib", "s_registry_join",
    "p_variant_extract", "p_prototext_roundtrip"])

LAYER_METRICS = [
    ("GraftLogSource.latest_offset_ms", "ms"),
    ("GraftLogSource.segments_per_trigger", "count"),
    ("GraftLogSource.read_ms_per_krow", "ms"),
    ("GraftLogSource.rows_read_per_delivered", "ratio"),
    ("EventStreamPipeline.query_start_ms", "ms"),
    ("EventStreamPipeline.trigger_ms", "ms"),
    ("EventStreamPipeline.planning_ms", "ms"),
    ("EventStreamPipeline.wal_ms", "ms"),
    ("EventStreamPipeline.add_batch_ms", "ms"),
    ("EventStreamPipeline.wait_ms", "ms"),
    ("EventStreamPipeline.batches_per_s", "1/s"),
    ("EventStreamPipeline.rows_per_batch", "count"),
    ("EventStreamPipeline.collect_job_ms", "ms"),
    ("EventStreamPipeline.result_kb_per_krow", "KB"),
    ("Envelope.enrich_krows_per_s", "1/s"),
    ("ServiceShell.handshake_ms", "ms"),
    ("ServiceShell.deliver_ms_per_krow", "ms"),
    ("ServiceShell.write_syscalls_per_frame", "count"),
    ("ServiceShell.client_frames_per_s", "1/s"),
    ("Tables.build_s", "s"),
    ("Tables.build_jobs", "count"),
    ("EventQueries.plan_s", "s"),
    ("EventQueries.execute_s", "s"),
    ("EventQueries.jobs", "count"),
    ("EventQueries.stages", "count"),
    ("EventQueries.tasks", "count"),
    ("EventQueries.executor_cpu_s", "s"),
] + [(f"query.{q}_s", "s") for q in QUERIES] + [("jvm.gc_ms_per_s", "ms/s")]

# trigger phases in execution order, with the span name each becomes
PHASES = [("latestOffset", "GraftLogSource.latestOffset"),
          ("walCommit", "EventStreamPipeline.walCommit"),
          ("getBatch", "EventStreamPipeline.getBatch"),
          ("queryPlanning", "EventStreamPipeline.queryPlanning"),
          ("addBatch", "EventStreamPipeline.addBatch"),
          ("commitOffsets", "EventStreamPipeline.commitOffsets")]


def pct(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return float("nan")
    x = (len(v) - 1) * q / 100.0
    i = int(x)
    return v[i] if i + 1 >= len(v) else v[i] + (v[i + 1] - v[i]) * (x - i)


def median(values):
    return pct(values, 50)


def info(**kw):
    """A diagnostic line on stdout, before the result line."""
    print("[perfbench] " + json.dumps(kw, sort_keys=True), flush=True)


def proc_io(pid):
    """Write syscalls made so far by a process (/proc/<pid>/io), or None."""
    try:
        with open(f"/proc/{pid}/io") as f:
            d = dict(l.split(":") for l in f.read().split("\n") if ":" in l)
        return int(d["syscw"])
    except (OSError, KeyError, ValueError):
        return None


def server_frame(payload):
    n = len(payload)
    if n <= 125:
        return bytes([0x81, n]) + payload
    if n <= 0xFFFF:
        return bytes([0x81, 126]) + struct.pack(">H", n) + payload
    return bytes([0x81, 127]) + struct.pack(">Q", n) + payload


def client_capacity(msgs):
    """Calibration: frames per second this process's client code receives
    and parses when the sender is not the bottleneck — the expected frames
    of `msgs`, pushed through a local socket pair."""
    from selftest import good_frame
    data = b"".join(server_frame(good_frame(m)) for m in msgs if m.forwardable)
    want = sum(1 for m in msgs if m.forwardable)
    a, b = socket.socketpair()
    a.setblocking(False)
    b.setblocking(False)
    parser, frames, sent = FrameParser(), [], 0
    t0 = time.monotonic()
    try:
        while len(frames) < want:
            if sent < len(data):
                try:
                    sent += a.send(data[sent:sent + (1 << 18)])
                except BlockingIOError:
                    pass
            try:
                chunk = b.recv(1 << 20)
            except BlockingIOError:
                continue
            now = time.monotonic()
            for _, p in parser.feed(chunk):
                frames.append((now, p))
    finally:
        a.close()
        b.close()
    return want / (time.monotonic() - t0)


# ---------------------------------------------------------------- records

def _ord(offset):
    if offset is None:
        return None
    if isinstance(offset, str):
        offset = json.loads(offset)
    return offset["ord"]


def load_dump(ctx, svc):
    path = os.path.join(ctx.work, "trace.json")
    svc.call(f"dump\t{path}", 120)
    with open(path) as f:
        d = json.load(f)
    batches = []
    for p in d["progress"]:
        src = p["sources"][0] if p.get("sources") else {}
        ts = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        batches.append({"name": p["name"], "id": p["id"], "batch": p["batchId"],
                        "start": ts - ctx.epoch_off, "dur": p.get("durationMs", {}),
                        "rows": p.get("numInputRows", 0),
                        "from": _ord(src.get("startOffset")), "to": _ord(src.get("endOffset"))})
    jobs = {}
    for j in d["jobs"]:
        j["start_m"] = ctx.mono(j["start"])
        j["end_m"] = ctx.mono(j["end"]) if j["end"] >= 0 else j["start_m"]
        if j["query"]:
            jobs.setdefault((j["query"], j["batch"]), []).append(j)
    started = [dict(s, start_m=ctx.mono(s["wall_ms"])) for s in d["started"]]
    return batches, jobs, d["jobs"], started


def read_ranges(ctx, svc, ranges):
    """Time GraftLogReaderFactory.createReader over each (dir, from, to)."""
    fin = os.path.join(ctx.work, "ranges.in")
    fout = os.path.join(ctx.work, "ranges.out")
    with open(fin, "w") as f:
        f.write("\n".join(f"{d}\t{a}\t{b}" for d, a, b in ranges))
    svc.call(f"readranges\t{fin}\t{fout}", 300)
    with open(fout) as f:
        return [(int(r), float(s)) for r, s in (l.split() for l in f.read().split("\n") if l)]


def enrich_rate(svc, log_dir):
    r = svc.call(f"enrich\t{log_dir}\t5", 300)
    return r["enrich_rows"] / r["enrich_s"] / 1000.0


def gc_rate(mark0, mark1):
    return (mark1["gc_ms"] - mark0["gc_ms"]) / ((mark1["wall_ms"] - mark0["wall_ms"]) / 1000.0)


class Spans:
    def __init__(self):
        self.spans = []

    def add(self, trace, parent, name, start, end):
        self.spans.append({"id": len(self.spans), "trace": trace, "parent": parent,
                           "name": name, "start": start, "end": max(start, end)})
        return len(self.spans) - 1

    def trigger(self, trace, parent, b, jobs):
        """A trigger span with its phases, sink jobs and frame delivery."""
        d = b["dur"]
        tid = self.add(trace, parent, "EventStreamPipeline.trigger", b["start"],
                       b["start"] + d.get("triggerExecution", 0) / 1000.0)
        t = b["start"]
        for key, name in PHASES:
            dt = d.get(key, 0) / 1000.0
            sid = self.add(trace, tid, name, t, t + dt)
            if key == "addBatch":
                js = jobs.get((b["id"], str(b["batch"])), [])
                for j in js:
                    self.add(trace, sid, "EventStreamPipeline.collect_job", j["start_m"], j["end_m"])
                self.add(trace, sid, "ServiceShell.deliver",
                         max([j["end_m"] for j in js], default=t), t + dt)
            t += dt
        return tid

    def self_times(self):
        """Mean self time per trace, in ms, for each span name."""
        kids = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        total, traces = {}, {}
        for s in self.spans:
            iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                        for c in kids.get(s["id"], []))
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in iv:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            total[s["name"]] = total.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
            traces.setdefault(s["name"], set()).add(s["trace"])
        n = len({s["trace"] for s in self.spans}) or 1
        return {k: round(v * 1000 / n, 3) for k, v in sorted(total.items())}

    def write(self, ctx, workload):
        d = os.path.join(os.path.dirname(ctx.work), "traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{workload}-seed{ctx.seed}.json")
        with open(path, "w") as f:
            json.dump(self.spans, f)
        return path


def result(values, spans, ctx, workload, not_exercised):
    """Per-layer metrics with units; layers this workload does not run
    report 0 and are listed on the diagnostic line."""
    out = {}
    for name, unit in LAYER_METRICS:
        v = values.get(name)
        out[name] = (0 if v is None else v, unit)
    info(workload=workload, traced=True, spans_file=os.path.relpath(spans.write(ctx, workload)),
         self_ms_per_trace=spans.self_times(), not_exercised=not_exercised)
    return out


def _delivery_common(v, wb, jobs, frames_in):
    """Metrics shared by the two delivery workloads, over data batches `wb`
    (dicts with dur/rows/id/batch) and frames delivered per batch."""
    d = [b["dur"] for b in wb]
    v["GraftLogSource.latest_offset_ms"] = median([x.get("latestOffset", 0) for x in d])
    v["EventStreamPipeline.trigger_ms"] = median([x.get("triggerExecution", 0) for x in d])
    v["EventStreamPipeline.planning_ms"] = median([x.get("getBatch", 0) + x.get("queryPlanning", 0) for x in d])
    v["EventStreamPipeline.wal_ms"] = median([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d])
    v["EventStreamPipeline.add_batch_ms"] = median([x.get("addBatch", 0) for x in d])
    v["EventStreamPipeline.rows_per_batch"] = median([b["rows"] for b in wb])
    sink = [jobs.get((b["id"], str(b["batch"])), []) for b in wb]
    job_ms = [sum(j["end"] - j["start"] for j in js) for js in sink]
    v["EventStreamPipeline.collect_job_ms"] = median(job_ms)
    rows = sum(b["rows"] for b in wb)
    v["EventStreamPipeline.result_kb_per_krow"] = (
        sum(j["result_bytes"] for js in sink for j in js) / 1024.0 / (rows / 1000.0))
    deliver = sum(x.get("addBatch", 0) - jm for x, jm in zip(d, job_ms))
    v["ServiceShell.deliver_ms_per_krow"] = deliver / (sum(frames_in) / 1000.0)


DELIVERY_ONLY = [n for n, _ in LAYER_METRICS if n.split(".")[0] in
                 ("GraftLogSource", "EventStreamPipeline", "Envelope", "ServiceShell")]
BATCH_ONLY = [n for n, _ in LAYER_METRICS if n.split(".")[0] in ("Tables", "EventQueries", "query")]


def live_tail(ctx, svc, dirs, ticks, clients, recv, window, win, mark0, mark1):
    w0, w1 = win
    batches, jobs, _, _ = load_dump(ctx, svc)
    S = len(dirs)
    per = {}
    for s in range(S):
        bs = sorted((b for b in batches if b["name"].startswith(f"es-rk{s}-")), key=lambda b: b["start"])
        # the stream's measured consumer is the last to connect (probe
        # consumers come and go before it)
        per[s] = [b for b in bs if bs and b["id"] == bs[-1]["id"]]
    data = {s: [b for b in per[s] if b["rows"] > 0 and b["from"] is not None] for s in range(S)}
    wb = [(s, b) for s in range(S) for b in data[s] if w0 <= b["start"] < w1]
    got = {s: sorted(o for (ss, o) in recv if ss == s) for s in range(S)}

    def delivered(s, b):
        return bisect.bisect_right(got[s], b["to"]) - bisect.bisect_right(got[s], b["from"])
    frames_in = [delivered(s, b) for s, b in wb]
    v = {}
    _delivery_common(v, [b for _, b in wb], jobs, frames_in)
    pub = {s: sorted(w for (ss, _, w, _, _) in ticks if ss == s) for s in range(S)}
    v["GraftLogSource.segments_per_trigger"] = median(
        [bisect.bisect_right(pub[s], b["start"]) for s, b in wb])
    rr = read_ranges(ctx, svc, [(dirs[s], b["from"], b["to"]) for s, b in wb])
    v["GraftLogSource.read_ms_per_krow"] = sum(t for _, t in rr) * 1000 / (sum(r for r, _ in rr) / 1000.0)
    v["GraftLogSource.rows_read_per_delivered"] = sum(r for r, _ in rr) / sum(frames_in)
    v["EventStreamPipeline.query_start_ms"] = median(
        [(per[s][0]["start"] - clients[s].t_upgraded) * 1000 for s in range(S) if per[s]])
    ends = {s: [b["to"] for b in data[s]] for s in range(S)}

    def batch_of(s, o):
        i = bisect.bisect_left(ends[s], o)
        return data[s][i] if i < len(data[s]) else None
    waits = []
    spans = Spans()
    for n, (s, m, due) in enumerate(window):
        b = batch_of(s, m.ordinal)
        if b is None:
            continue
        waits.append((b["start"] - due) * 1000)
        if n % 20 == 0 and (s, m.ordinal) in recv:
            root = spans.add(n, None, "message", due, recv[(s, m.ordinal)])
            spans.add(n, root, "EventStreamPipeline.wait", due, b["start"])
            spans.trigger(n, root, b, jobs)
    v["EventStreamPipeline.wait_ms"] = median(waits)
    v["EventStreamPipeline.batches_per_s"] = len(wb) / (w1 - w0)
    v["Envelope.enrich_krows_per_s"] = enrich_rate(svc, dirs[0])
    v["ServiceShell.handshake_ms"] = median([(c.t_upgraded - c.t_connect) * 1000 for c in clients])
    io0, io1 = mark0.get("io"), mark1.get("io")
    if io0 is not None and io1 is not None:
        v["ServiceShell.write_syscalls_per_frame"] = (io1 - io0) / len(window)
    v["ServiceShell.client_frames_per_s"] = sum(
        1 for c in clients for t, _ in c.frames if w0 <= t < w1) / (w1 - w0)
    v["jvm.gc_ms_per_s"] = gc_rate(mark0, mark1)
    return result(v, spans, ctx, "live_tail", BATCH_ONLY)


def replay_catchup(ctx, svc, log_dir, mid, cycles, mark0, mark1):
    batches, jobs, _, started = load_dump(ctx, svc)
    by_query = {}
    for b in batches:
        by_query.setdefault(b["id"], []).append(b)
    starts = sorted(started, key=lambda s: s["start_m"])
    v, wb, frames_in, rr_in, spans = {}, [], [], [], Spans()
    qstart, waits = [], []
    for n, cy in enumerate(cycles):
        q = next((s for s in starts if s["start_m"] >= cy["start"]), None)
        bs = sorted(by_query.get(q["id"], []) if q else [], key=lambda b: b["start"])
        data = [b for b in bs if b["rows"] > 0]
        if not bs or not data or not cy["frames"]:
            continue
        ords = sorted(o for o in cy["ords"] if o is not None)
        for b in data:
            lo = b["from"] if b["from"] is not None else 0
            wb.append(b)
            frames_in.append(bisect.bisect_right(ords, b["to"]) - bisect.bisect_right(ords, lo))
            rr_in.append((log_dir, lo, b["to"]))
        qstart.append((bs[0]["start"] - cy["upgraded"]) * 1000)
        waits.append((data[0]["start"] - cy["connect"]) * 1000)
        root = spans.add(n, None, "replay.cycle", cy["connect"], cy["frames"][-1][0])
        spans.add(n, root, "ServiceShell.handshake", cy["connect"], cy["upgraded"])
        spans.add(n, root, "EventStreamPipeline.query_start", cy["upgraded"], bs[0]["start"])
        for b in data:
            spans.trigger(n, root, b, jobs)
    _delivery_common(v, wb, jobs, frames_in)
    rr = read_ranges(ctx, svc, rr_in)
    v["GraftLogSource.segments_per_trigger"] = len([f for f in os.listdir(log_dir) if f.endswith(".log")])
    v["GraftLogSource.read_ms_per_krow"] = sum(t for _, t in rr) * 1000 / (sum(r for r, _ in rr) / 1000.0)
    v["GraftLogSource.rows_read_per_delivered"] = sum(r for r, _ in rr) / sum(frames_in)
    v["EventStreamPipeline.query_start_ms"] = median(qstart)
    v["EventStreamPipeline.wait_ms"] = median(waits)
    window_s = (mark1["wall_ms"] - mark0["wall_ms"]) / 1000.0
    v["EventStreamPipeline.batches_per_s"] = len(wb) / window_s
    v["Envelope.enrich_krows_per_s"] = enrich_rate(svc, log_dir)
    v["ServiceShell.handshake_ms"] = median([(cy["upgraded"] - cy["connect"]) * 1000 for cy in cycles])
    sysc = [(cy["io"][1] - cy["io"][0]) / len(cy["frames"])
            for cy in cycles if cy["frames"] and None not in cy["io"]]
    if sysc:
        v["ServiceShell.write_syscalls_per_frame"] = median(sysc)
    v["ServiceShell.client_frames_per_s"] = median(
        [len(cy["frames"]) / (cy["frames"][-1][0] - cy["frames"][0][0])
         for cy in cycles if len(cy["frames"]) > 1])
    v["jvm.gc_ms_per_s"] = gc_rate(mark0, mark1)
    return result(v, spans, ctx, "replay_catchup", BATCH_ONLY)


def event_batch(ctx, svc, passes, rows, mark0, mark1):
    _, _, jobs, _ = load_dump(ctx, svc)
    per_pass = {}
    for j in jobs:
        if j["phase"]:
            p, name, phase = j["phase"].split(":")
            per_pass.setdefault(int(p), []).append((name, phase, j))
    n = len(passes)
    ok = [p for p in passes if all(not isinstance(x, dict) for x in p.values())]

    def per(f):
        return sum(f(i) for i in range(n)) / n
    v = {
        "Tables.build_s": median([sum(x[0] for x in p.values()) for p in ok]),
        "EventQueries.plan_s": median([sum(x[1] for x in p.values()) for p in ok]),
        "EventQueries.execute_s": median([sum(x[2] for x in p.values()) for p in ok]),
        "Tables.build_jobs": per(lambda i: sum(1 for _, ph, _ in per_pass.get(i, []) if ph == "build")),
        "EventQueries.jobs": per(lambda i: len(per_pass.get(i, []))),
        "EventQueries.stages": per(lambda i: sum(j["stages"] for _, _, j in per_pass.get(i, []))),
        "EventQueries.tasks": per(lambda i: sum(j["tasks"] for _, _, j in per_pass.get(i, []))),
        "EventQueries.executor_cpu_s": per(lambda i: sum(j["cpu_ns"] for _, _, j in per_pass.get(i, [])) / 1e9),
        "jvm.gc_ms_per_s": gc_rate(mark0, mark1),
    }
    for q in QUERIES:
        v[f"query.{q}_s"] = median([sum(p[q][:3]) for p in ok if q in p])
    spans = Spans()
    for i, p in enumerate(ok):
        for q, (b, pl, ex, wall) in p.items():
            t = ctx.mono(wall)
            tid = f"{i}:{q}"
            root = spans.add(tid, None, "EventQueries.query", t, t + b + pl + ex)
            phase_span = {
                "build": spans.add(tid, root, "Tables.build", t, t + b),
                "plan": spans.add(tid, root, "EventQueries.plan", t + b, t + b + pl),
                "execute": spans.add(tid, root, "EventQueries.execute", t + b + pl, t + b + pl + ex)}
            for name, phase, j in per_pass.get(i, []):
                if name == q:
                    spans.add(tid, phase_span[phase], "spark.job", j["start_m"], j["end_m"])
    return result(v, spans, ctx, "event_batch", DELIVERY_ONLY)
