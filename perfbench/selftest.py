"""Self-test of the output checks: correct output passes, and each injected
fault fails. Run directly (`python3 perfbench/selftest.py`) or through
run.py, which runs it before every measurement.
"""
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402


def good_frame(m):
    """The generator's own rendering of the documented wire format."""
    if m.kind == "json":
        obj = {"ess_ordinal": m.ordinal, "ess_timestamp": m.ts_ms}
        obj.update(m.payload)
        return json.dumps(obj, ensure_ascii=False).encode()
    return m.expected_proto_frame()


def delivery_cases():
    mix = gen.MessageMix(12345, 0)
    msgs = [mix.message(o, 1_700_000_000_000 + 10 * o) for o in range(1, 401)]
    fwd = [m for m in msgs if m.forwardable]
    good = [good_frame(m) for m in fwd]
    assert any(m.kind == "json" for m in fwd) and any(m.kind == "proto" for m in fwd)
    assert any(not m.forwardable for m in msgs)
    j = next(i for i, m in enumerate(fwd) if m.kind == "json")
    p = next(i for i, m in enumerate(fwd) if m.kind == "proto")

    no_ordinal = list(good)
    obj = json.loads(good[j])
    del obj["ess_ordinal"]
    no_ordinal[j] = json.dumps(obj).encode()

    bad_ts = list(good)
    bad_ts[p] = good[p].rsplit(b"|", 1)[0] + b"|timestamp: " + str(fwd[p].ts_ms + 1).encode()

    swapped = list(good)
    swapped[5], swapped[6] = swapped[6], swapped[5]

    dropped = good[:10] + good[11:]

    dropped_body = next(m for m in msgs if not m.forwardable)
    leaked = list(good) + [dropped_body.body.encode() + b"|ordinal: %d|timestamp: %d"
                           % (dropped_body.ordinal, dropped_body.ts_ms)]
    return msgs, good, {
        "frame missing ess_ordinal": no_ordinal,
        "protobuf-text suffix with the wrong timestamp": bad_ts,
        "two frames swapped": swapped,
        "one message dropped": dropped,
        "a dropped body delivered": leaked,
    }


def oracle_case(tmp):
    import duckdb
    gen.write_events(7, 500, tmp)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp}/events.parquet'")
    sql = {"q_sel": "SELECT event_id, event_type, value FROM events WHERE event_id >= 100 ORDER BY event_id"}
    os.makedirs(f"{tmp}/good/q_sel")
    os.makedirs(f"{tmp}/bad/q_sel")
    con.sql(sql["q_sel"]).write_parquet(f"{tmp}/good/q_sel/part-0.parquet")
    con.sql("SELECT event_id, event_type, CASE WHEN event_id = 250 THEN value + 0.01 ELSE value END AS value "
            "FROM events WHERE event_id >= 100").write_parquet(f"{tmp}/bad/q_sel/part-0.parquet")
    ok, _ = checks.check_oracle(con, f"{tmp}/good", sql)
    bad, _ = checks.check_oracle(con, f"{tmp}/bad", sql)
    con.close()
    return ok, bad


def run(tmp_parent=None):
    """Returns a list of failures of the self-test (empty when it passes)."""
    failures = []
    msgs, good, bad_cases = delivery_cases()
    errs, _ = checks.check_delivery(msgs, good, 1)
    if errs:
        failures.append(f"correct delivery output was rejected: {errs[:2]}")
    for name, frames in bad_cases.items():
        errs, _ = checks.check_delivery(msgs, frames, 1)
        if not errs:
            failures.append(f"delivery check accepted: {name}")
    with tempfile.TemporaryDirectory(dir=tmp_parent) as tmp:
        ok, bad = oracle_case(tmp)
    if ok:
        failures.append(f"correct oracle output was rejected: {ok}")
    if not bad:
        failures.append("oracle check accepted: one oracle row altered")
    return failures


if __name__ == "__main__":
    scratch = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    f = run(scratch)
    for x in f:
        print("FAIL", x)
    print("self-test", "FAILED" if f else "passed: every injected fault is caught")
    sys.exit(1 if f else 0)
