"""Seeded input generation. The same seed gives the same inputs.

- `events_table`: an `events` table in the shape of the program's sf
  fixtures (event_id, ts, user_id, event_type, value, props), written as
  parquet for the batch workload.
- `Message`/`MessageMix`: delivery-workload messages drawn from such rows:
  reference-shaped JSON bodies, protobuf-text `<class>|<fields>` bodies,
  sizes on both sides of the 125-byte frame-length boundary, and a small
  share of bodies the pipeline must drop (empty; starts with `{` but is not
  JSON). No POISON: it would latch the service's poison-taken state.
- `publish_segment`: the GraftLog on-disk format, one
  bounds-named segment per append, staged under a `.tmp` name and renamed
  into place.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
JAN_2024_US = 1704067200 * 1_000_000
MONTH_US = 30 * 86400 * 1_000_000


def events_table(seed, rows):
    rng = np.random.default_rng(seed)
    users = max(1, rows * 15 // 1000)
    ts = np.sort(rng.integers(0, MONTH_US, rows)) + JAN_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, rows, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, rows)]),
    })


def write_events(seed, rows, data_dir):
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(events_table(seed, rows), os.path.join(data_dir, "events.parquet"))


class Message:
    """One generated message and the frame the service must deliver for it.

    `kind` is json | proto | empty | malformed. The last two are dropped by
    the pipeline. `payload` is the parsed JSON body for kind json.
    """
    __slots__ = ("ordinal", "ts_ms", "body", "kind", "payload")

    def __init__(self, ordinal, ts_ms, body, kind, payload=None):
        self.ordinal, self.ts_ms, self.body = ordinal, ts_ms, body
        self.kind, self.payload = kind, payload

    @property
    def forwardable(self):
        return self.kind in ("json", "proto")

    def expected_proto_frame(self):
        """The documented protobuf-text wire format: body|ordinal: N|timestamp: T."""
        return f"{self.body}|ordinal: {self.ordinal}|timestamp: {self.ts_ms}".encode()


_NOTE_CHARS = "abcdefghijklmnopqrstuvwxyz 0123456789-é✓\"\\"


class MessageMix:
    """Seeded message bodies for one stream, built from `events` rows."""

    def __init__(self, seed, stream):
        self.rng = np.random.default_rng([seed, stream, 7])
        self.table = events_table(seed * 31 + stream, 4096).to_pylist()
        self.i = 0

    def body(self):
        rng = self.rng
        row = self.table[self.i % len(self.table)]
        self.i += 1
        u = rng.random()
        ts_iso = row["ts"].replace(tzinfo=datetime.timezone.utc).isoformat(timespec="milliseconds")
        if u < 0.025:
            return "", "empty", None
        if u < 0.05:
            return '{"message_type": "broken", "message_body": {"k": ' + str(row["event_id"]), "malformed", None
        if u < 0.55:
            note = "".join(_NOTE_CHARS[j] for j in rng.integers(0, len(_NOTE_CHARS), int(rng.integers(0, 120))))
            payload = {"message_type": "accountserver." + row["event_type"].capitalize(),
                       "message_body": {"timestamp": ts_iso, "user_id": row["user_id"],
                                        "value": row["value"], "k": json.loads(row["props"])["k"],
                                        "note": note}}
            return json.dumps(payload, ensure_ascii=False), "json", payload
        if u < 0.75:
            return f"accountserver.Ping|sqn: {row['event_id']}", "proto", None
        fields = (f'timestamp: "{ts_iso}" merchant_kind: "{row["event_type"].upper()}" '
                  f'merchant_name: "squonk" merchant_id: {row["user_id"]} '
                  f'operation: OPERATION_ENUM_PROCESSING auth_code: {row["event_id"] % 900000 + 100000} '
                  f'value: "{row["value"]:.2f}" sqn: {row["event_id"]}')
        return "accountserver.MerchantCharge|" + fields, "proto", None

    def message(self, ordinal, ts_ms):
        body, kind, payload = self.body()
        return Message(ordinal, ts_ms, body, kind, payload)


def escape_body(s):
    """GraftLog's line framing: backslash first, then tab / LF / CR."""
    return s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r")


def publish_segment(log_dir, name, msgs):
    """Write `<name>.o<min>-<max>.log` under a staging name, then rename it
    into the log directory so a concurrent reader never sees it torn."""
    final = os.path.join(log_dir, f"{name}.o{msgs[0].ordinal}-{msgs[-1].ordinal}.log")
    tmp = final + ".tmp"
    with open(tmp, "wb") as f:
        f.write("\n".join(f"{m.ordinal}\t{m.ts_ms}\t{escape_body(m.body)}" for m in msgs).encode())
    os.rename(tmp, final)
    return final
