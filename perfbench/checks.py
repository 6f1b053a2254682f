"""Output checks, computed apart from the program.

Delivery: every forwardable ordinal arrives exactly once and in increasing
order, no dropped body arrives, JSON frames hold exactly the generated
payload plus `ess_ordinal`/`ess_timestamp`, and protobuf-text frames equal
the documented `body|ordinal: N|timestamp: T` wire format byte for byte.

Batch: each query's parquet result equals DuckDB running the program's
oracle SQL over the same input, compared the way the repository's oracle
check compares (columns by name, rows sorted, values stringified, floats
to 10 significant digits).
"""
import json
import math


class _DupKey(Exception):
    pass


def _no_dups(pairs):
    d = {}
    for k, v in pairs:
        if k in d:
            raise _DupKey(k)
        d[k] = v
    return d


def frame_ordinal(payload):
    """The ordinal a frame claims, or (None, reason)."""
    if payload[:1] == b"{":
        try:
            obj = json.loads(payload, object_pairs_hook=_no_dups)
        except _DupKey as e:
            return None, f"duplicate key {e}"
        except ValueError as e:
            return None, f"frame is not JSON: {e}"
        if not isinstance(obj.get("ess_ordinal"), int):
            return None, "JSON frame without an integer ess_ordinal"
        return obj["ess_ordinal"], obj
    parts = payload.rsplit(b"|", 2)
    if len(parts) != 3 or not parts[1].startswith(b"ordinal: "):
        return None, "protobuf-text frame without an |ordinal: suffix"
    try:
        return int(parts[1][9:]), None
    except ValueError:
        return None, "protobuf-text frame with a non-integer ordinal"


def check_frame(msg, payload, parsed):
    """Content check of one frame against the message it claims to carry."""
    if msg.kind == "json":
        if not isinstance(parsed, dict):
            return f"ordinal {msg.ordinal}: expected a JSON frame"
        want = dict(msg.payload)
        want["ess_ordinal"] = msg.ordinal
        want["ess_timestamp"] = msg.ts_ms
        if parsed != want:
            extra = sorted(set(parsed) - set(want))
            missing = sorted(set(want) - set(parsed))
            return f"ordinal {msg.ordinal}: JSON frame differs (extra {extra}, missing {missing})"
        return None
    if msg.kind == "proto":
        if payload != msg.expected_proto_frame():
            return f"ordinal {msg.ordinal}: protobuf-text frame differs: {payload[-60:]!r}"
        return None
    return f"ordinal {msg.ordinal}: a {msg.kind} body must be dropped, but it arrived"


def check_frames(msgs, payloads):
    """Content check of each received frame against the message whose
    ordinal it claims. Returns (errors, ordinals in arrival order, None for
    a frame whose ordinal could not be read)."""
    by_ord = {m.ordinal: m for m in msgs}
    errors, ords = [], []
    for p in payloads:
        o, parsed = frame_ordinal(p)
        ords.append(o)
        if o is None:
            errors.append(parsed)
            continue
        m = by_ord.get(o)
        if m is None:
            errors.append(f"frame for unknown ordinal {o}")
            continue
        e = check_frame(m, p, parsed)
        if e:
            errors.append(e)
    return errors, ords


def check_delivery(msgs, payloads, first_ordinal):
    """Check one consumer's received frames.

    msgs: every generated message of the stream, by ordinal.
    payloads: the frames the consumer received, in arrival order.
    first_ordinal: the consumer's start position; every forwardable
    message at or after it must arrive, exactly once and in order.
    Returns (errors, ordinals) as check_frames does.
    """
    errors, ords = check_frames(msgs, payloads)
    want = [m.ordinal for m in msgs if m.forwardable and m.ordinal >= first_ordinal]
    got = [o for o in ords if o is not None]
    if got != want:
        seen = set()
        dups = sorted({o for o in got if o in seen or seen.add(o)})
        missing = sorted(set(want) - set(got))
        disorder = sum(1 for a, b in zip(got, got[1:]) if b <= a)
        if dups:
            errors.append(f"{len(dups)} ordinals arrived more than once, first {dups[:3]}")
        if missing:
            errors.append(f"{len(missing)} forwardable ordinals never arrived, first {missing[:3]}")
        if disorder:
            errors.append(f"{disorder} frames arrived out of ordinal order")
        if not (dups or missing or disorder):
            errors.append("received ordinals differ from the forwardable ordinals")
    return errors, ords


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            return "%.10g" % v if not math.isnan(v) else "nan"
        return str(v)
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def compare_rows(name, srows, scols, orows, ocols):
    """One query's result against its oracle; None when they agree."""
    if sorted(scols) != sorted(ocols):
        return f"{name}: columns spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return f"{name}: rows spark={len(srows)} oracle={len(orows)}"
    a, b = _norm(srows, scols), _norm(orows, ocols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"{name}: value diff, first {diff}"
    return None


def check_oracle(con, out_dir, oracle_sql):
    """Compare every `<out_dir>/<name>/*.parquet` with its oracle SQL.
    `con` is a DuckDB connection with the input tables as views.
    Returns (errors, {name: oracle row count})."""
    errors, counts = [], {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            s = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            srows, scols = s.fetchall(), [d[0] for d in s.description]
            o = con.sql(sql)
            orows, ocols = o.fetchall(), [d[0] for d in o.description]
        except Exception as e:  # a failing query or oracle is a failed check
            errors.append(f"{name}: {e}")
            continue
        counts[name] = len(orows)
        e = compare_rows(name, srows, scols, orows, ocols)
        if e:
            errors.append(e)
    return errors, counts
