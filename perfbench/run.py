"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program (first run of a checkout), launches the service JVM,
drives the workload from this process, checks every output against
computations made apart from the program, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics; with --trace 1 the per-layer metrics of a
separate traced run. See perfbench/README.md.
"""
import argparse
import json
import os
import select
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import selftest  # noqa: E402
import trace  # noqa: E402
from trace import info, median, pct  # noqa: E402
from service import Service  # noqa: E402
from ws import WsClient, create_stream, delete_stream  # noqa: E402


class Context:
    def __init__(self, args, classes, work):
        self.seed, self.seconds, self.trace = args.seed, float(args.seconds), args.trace == 1
        self.classes, self.work = classes, work
        self.cpus = len(os.sched_getaffinity(0))
        self.epoch_off = time.time() - time.monotonic()
        self.errors = []

    def service(self, workload):
        return Service(self.classes, workload, self.work, self.trace, self.cpus)

    def mono(self, epoch_ms):
        """Epoch milliseconds (service clock) to this process's monotonic seconds."""
        return epoch_ms / 1000.0 - self.epoch_off


def wait_frames(clients, until, timeout):
    """Pump clients until `until()` holds or `timeout` seconds pass."""
    deadline = time.monotonic() + timeout
    while not until() and time.monotonic() < deadline:
        live = [c for c in clients if c is not None]
        r, _, _ = select.select(live, [], [], min(0.05, max(0.0, deadline - time.monotonic())))
        for c in r:
            c.pump()


class LiveTail:
    """Consumers at the head of 4 streams; an open-loop generator appends
    4 messages per stream every 20 ms (800 msgs/s in all), each append one
    bounds-named segment. Latency runs from a message's due time to the
    receipt of its frame. The consumers connect one after another; before
    the last one, a probe consumer on its stream connects, takes its first
    frame and leaves, 4 times. At most 4 connections are open at once."""
    STREAMS, TICK, PER_TICK, WINDOW_AT, PROBES = 4, 0.020, 4, 20.0, 4

    def __init__(self, ctx):
        self.ctx = ctx

    def run(self):
        ctx, S = self.ctx, self.STREAMS
        dirs = [os.path.join(ctx.work, "logs", f"rk{s}") for s in range(S)]
        for d in dirs:
            os.makedirs(d)
        mixes = [gen.MessageMix(ctx.seed, s) for s in range(S)]
        svc = ctx.service("live_tail")
        self.svc = svc
        ready = svc.read(180)
        msgs = [[] for _ in range(S)]
        ticks = []  # (stream, due, written, first ordinal, last ordinal)
        clients, ids = [None] * S, [None] * S
        k, next_ord = [0] * S, [1] * S
        # connection steps, each once the previous one has its first frame:
        # the consumers of rk0..rk2, PROBES probe consumers on the last
        # stream (first frame, then close and DELETE), then its consumer
        steps = list(range(S - 1)) + ["probe"] * self.PROBES + [S - 1]
        probe, probe_first, connected = None, [], None
        G = time.monotonic() + 0.05
        w0, w1 = G + self.WINDOW_AT, G + self.WINDOW_AT + ctx.seconds

        def due(s, i):
            return G + s * self.TICK / S + i * self.TICK

        def ready_for_next():
            if probe is not None:
                return False
            prev = [c for c in clients if c is not None]
            return not prev or prev[-1].frames

        mark0 = None
        while True:
            now = time.monotonic()
            for s in range(S):
                while due(s, k[s]) <= now and due(s, k[s]) < w1:
                    d = due(s, k[s])
                    ts_ms = int((ctx.epoch_off + d) * 1000)
                    batch = [mixes[s].message(next_ord[s] + j, ts_ms) for j in range(self.PER_TICK)]
                    next_ord[s] += self.PER_TICK
                    gen.publish_segment(dirs[s], f"seg-{k[s]:08d}", batch)
                    msgs[s].extend(batch)
                    ticks.append((s, d, time.monotonic(), batch[0].ordinal, batch[-1].ordinal))
                    k[s] += 1
            if probe is not None and probe[1].frames:
                sid, c = probe
                probe_first.append(c.frames[0][0] - c.t_connect)
                c.close()
                delete_stream(ready["http"], sid)
                errs, _ = checks.check_frames(msgs[S - 1], [p for _, p in c.frames])
                ctx.errors += [f"probe: {e}" for e in errs[:3]]
                probe = None
            if steps and ready_for_next():
                step = steps.pop(0)
                if step == "probe":
                    sid, loc = create_stream(ready["http"], f"rk{S - 1}")
                    probe = (sid, WsClient(loc))
                else:
                    ids[step], loc = create_stream(ready["http"], f"rk{step}")
                    clients[step] = WsClient(loc)
            if connected is None and not steps and probe is None and clients[-1].frames:
                connected = now - G
            if mark0 is None and now >= w0:
                # the window opens WINDOW_AT s after the first append, so
                # every run measures the same log sizes
                if steps or probe is not None or not clients[-1].frames:
                    raise RuntimeError("consumers were not all connected when the window opened")
                mark0 = svc.call("mark")
                mark0["io"] = trace.proc_io(ready["pid"])
            if now >= w1:
                break
            nxt = min(due(s, k[s]) for s in range(S))
            live = [c for c in clients if c is not None] + ([probe[1]] if probe else [])
            r, _, _ = select.select(live, [], [], max(0.0, min(nxt - time.monotonic(), 0.05)))
            for c in r:
                c.pump()
        mark1 = svc.call("mark")
        mark1["io"] = trace.proc_io(ready["pid"])

        def drained():
            for s in range(S):
                fr = clients[s].frames
                if not fr:
                    return False
                first, _ = checks.frame_ordinal(fr[0][1])
                want = sum(1 for m in msgs[s] if m.forwardable and (first is None or m.ordinal >= first))
                if len(fr) < want:
                    return False
            return True
        wait_frames(clients, drained, 30.0)
        heap = svc.call("gc")

        # checks, and the receipt time of every (stream, ordinal)
        recv = {}
        for s in range(S):
            fr = clients[s].frames
            if not fr:
                ctx.errors.append(f"rk{s}: no frame received")
                continue
            first, _ = checks.frame_ordinal(fr[0][1])
            errs, ords = checks.check_delivery(msgs[s], [p for _, p in fr], first or 0)
            ctx.errors += [f"rk{s}: {e}" for e in errs[:5]]
            for (t, _), o in zip(fr, ords):
                if o is not None:
                    recv.setdefault((s, o), t)
        window = [(s, m, d) for (s, d, _, a, b) in ticks if w0 <= d < w1
                  for m in msgs[s][a - 1:b] if m.forwardable]
        lat = [(recv[(s, m.ordinal)] - d) * 1000 for s, m, d in window if (s, m.ordinal) in recv]
        missing = len(window) - len(lat)
        late = [(w - d) * 1000 for _, d, w, _, _ in ticks if w0 <= d < w1]
        last = max((recv[(s, m.ordinal)] for s, m, _ in window if (s, m.ordinal) in recv), default=w1)
        e2e = {
            "setup_s": w0 - svc.t_launch,
            "heap_live_mb": heap["heap_mb"],
            "latency_p50_ms": median(lat),
            "latency_tail_ms": pct(lat, 99),
            # the first consumer also pays the JVM's first streaming-query start
            "first_frame_ms": median([(c.frames[0][0] - c.t_connect) * 1000 for c in clients[1:]]
                                     + [t * 1000 for t in probe_first]),
            "replay_msgs_per_s": len(lat) / ctx.seconds,
            "batch_pass_s": last - w0,
        }
        info(workload="live_tail", samples=len(lat), tail_percentile=99,
             generator_late_ms={"p50": round(median(late), 3), "p99": round(pct(late, 99), 3),
                                "max": round(max(late), 3)},
             segments_per_stream=k, messages_per_stream=[n - 1 for n in next_ord],
             probe_first_frame_ms=[round(t * 1000) for t in probe_first],
             all_connected_after_s=round(connected, 3))
        layer = None
        if ctx.trace:
            layer = trace.live_tail(ctx, svc, dirs, ticks, clients, recv, window, (w0, w1), mark0, mark1)
        for c in clients:
            c.close()
        for i in ids:
            delete_stream(ready["http"], i)
        return len(window), missing, e2e, layer


class ReplayCatchup:
    """One consumer at a time resumes from the midpoint ordinal of a
    retained 40,000-message log (8 bounds-named segments): POST, connect
    with ?stream_from_ordinal=<mid>, drain to the last ordinal, close,
    DELETE. A closed loop; each cycle is one operation."""
    MESSAGES, SEGMENT, WARMUP_CYCLES = 40000, 5000, 6
    TS0 = 1_746_000_000_000

    def __init__(self, ctx):
        self.ctx = ctx

    def cycle(self, http, mid, want, pid):
        c0 = {"start": time.monotonic()}
        sid, loc = create_stream(http, "replay")
        traced = self.ctx.trace
        if traced:
            seen = self.svc.call("batches\t0\t0")["batches"]
            io0 = trace.proc_io(pid)
        c = WsClient(loc, f"stream_from_ordinal={mid}")
        wait_frames([c], lambda: len(c.frames) >= want or c.close_code is not None, 60.0)
        io1 = None
        if traced:
            io1 = trace.proc_io(pid)
            # let the trigger finish and report before the close stops it
            self.svc.call(f"batches\t{seen + 1}\t5000")
        c.close()
        delete_stream(http, sid)
        c0.update(end=time.monotonic(), connect=c.t_connect, upgraded=c.t_upgraded,
                  frames=c.frames, io=(io0 if traced else None, io1))
        return c0

    def run(self):
        ctx = self.ctx
        d = os.path.join(ctx.work, "logs", "replay")
        os.makedirs(d)
        mix = gen.MessageMix(ctx.seed, 0)
        msgs = [mix.message(o, self.TS0 + 7 * o) for o in range(1, self.MESSAGES + 1)]
        for i in range(0, self.MESSAGES, self.SEGMENT):
            gen.publish_segment(d, f"seg-{i // self.SEGMENT:04d}", msgs[i:i + self.SEGMENT])
        mid = self.MESSAGES // 2 + 1
        want = sum(1 for m in msgs if m.forwardable and m.ordinal >= mid)
        svc = ctx.service("replay_catchup")
        self.svc = svc
        ready = svc.read(180)
        for _ in range(self.WARMUP_CYCLES):
            self.cycle(ready["http"], mid, want, ready["pid"])
        w0 = time.monotonic()
        mark0 = svc.call("mark")
        cycles = []
        while time.monotonic() < w0 + ctx.seconds:
            cycles.append(self.cycle(ready["http"], mid, want, ready["pid"]))
        mark1 = svc.call("mark")
        heap = svc.call("gc")

        failed = 0
        for i, cy in enumerate(cycles):
            errs, ords = checks.check_delivery(msgs, [p for _, p in cy["frames"]], mid)
            cy["ords"] = ords
            if errs:
                failed += 1
                ctx.errors += [f"cycle {i}: {e}" for e in errs[:3]]
        ok = [cy for cy in cycles if cy["frames"]]
        frame_lat = [(t - cy["connect"]) * 1000 for cy in ok for t, _ in cy["frames"]]
        e2e = {
            "setup_s": w0 - svc.t_launch,
            "heap_live_mb": heap["heap_mb"],
            "latency_p50_ms": median(frame_lat),
            "latency_tail_ms": pct(frame_lat, 90),
            "first_frame_ms": median([(cy["frames"][0][0] - cy["connect"]) * 1000 for cy in ok]),
            "replay_msgs_per_s": median([len(cy["frames"]) / (cy["frames"][-1][0] - cy["connect"]) for cy in ok]),
            "batch_pass_s": median([cy["end"] - cy["start"] for cy in cycles]),
        }
        cal = trace.client_capacity(msgs[mid - 1:])
        info(workload="replay_catchup", cycles=len(cycles), frames_per_cycle=want, samples=len(frame_lat),
             first_frame_per_cycle_ms=[round((cy["frames"][0][0] - cy["connect"]) * 1000) for cy in ok],
             tail_percentile=90, client_capacity_frames_per_s=round(cal),
             client_headroom=round(cal / e2e["replay_msgs_per_s"], 1))
        if cal < 2 * e2e["replay_msgs_per_s"]:
            ctx.errors.append("client receive capacity is under twice the replay drain rate")
        layer = None
        if ctx.trace:
            layer = trace.replay_catchup(ctx, svc, d, mid, cycles, mark0, mark1)
        return len(cycles), failed, e2e, layer


class EventBatch:
    """The 17 event-family queries, each fully materialized with the noop
    sink, over a generated events table of 10,000 rows. A cold pass writes
    every result for the DuckDB oracle during set-up; each timed pass runs
    the whole set. Each query execution is one operation."""
    ROWS, MIN_PASSES = 10000, 2

    def __init__(self, ctx):
        self.ctx = ctx

    def run(self):
        ctx = self.ctx
        data = os.path.join(ctx.work, "data")
        gen.write_events(ctx.seed, self.ROWS, data)
        svc = ctx.service("event_batch")
        self.svc = svc
        ready = svc.read(600)
        w0 = time.monotonic()
        mark0 = svc.call("mark")
        svc.send(f"passes\t{ctx.seconds}\t{self.MIN_PASSES}")
        passes = []
        while True:
            m = svc.read(600)
            if "passes_done" in m:
                break
            passes.append(m["queries"])
        mark1 = svc.call("mark")
        heap = svc.call("gc")

        import duckdb
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{data}/events.parquet'")
        out = os.path.join(ctx.work, "out")
        oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
        errs, rows = checks.check_oracle(con, out, oracle)
        con.close()
        ctx.errors += errs
        failed = sum(1 for p in passes for v in p.values() if isinstance(v, dict))
        ctx.errors += [f"{n}: {v['error']}" for p in passes[:1] for n, v in p.items() if isinstance(v, dict)]
        ctx.errors += [f"cold pass: {e}" for e in ready["cold_errors"]]
        names = sorted(passes[0])
        qt = [sum(v[:3]) for p in passes for v in p.values() if not isinstance(v, dict)]
        pass_s = [sum(sum(v[:3]) for v in p.values() if not isinstance(v, dict)) for p in passes]
        total_rows = sum(rows.values())
        e2e = {
            "setup_s": w0 - svc.t_launch,
            "heap_live_mb": heap["heap_mb"],
            "latency_p50_ms": median(qt) * 1000,
            "latency_tail_ms": pct(qt, 70) * 1000,
            "first_frame_ms": median([sum(p[names[0]][:3]) for p in passes]) * 1000,
            "replay_msgs_per_s": median([total_rows / s for s in pass_s]),
            "batch_pass_s": median(pass_s),
        }
        info(workload="event_batch", passes=len(passes), pass_s=[round(x, 3) for x in pass_s],
             queries=len(names), samples=len(qt),
             tail_percentile=70, cold_pass_s=ready["cold_pass_s"], result_rows_per_pass=total_rows)
        layer = None
        if ctx.trace:
            layer = trace.event_batch(ctx, svc, passes, rows, mark0, mark1)
        return len(passes) * len(names), failed, e2e, layer


WORKLOADS = {"live_tail": LiveTail, "replay_catchup": ReplayCatchup, "event_batch": EventBatch}
UNITS = {"setup_s": "s", "heap_live_mb": "MB", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
         "first_frame_ms": "ms", "replay_msgs_per_s": "1/s", "batch_pass_s": "s"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Context(args, classes, work)
    wl = WORKLOADS[args.workload](ctx)
    try:
        bad = selftest.run(work)
        ctx.errors += [f"check self-test: {b}" for b in bad]
        attempted, failed, e2e, layer = wl.run()
    finally:
        if getattr(wl, "svc", None) is not None:
            wl.svc.stop()
        shutil.rmtree(work, ignore_errors=True)
    for e in ctx.errors[:20]:
        print("[perfbench] check failed: " + e, file=sys.stderr)
    if args.trace:
        info(traced_end_to_end=e2e)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in UNITS}
    print(json.dumps({"correct": not ctx.errors, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
