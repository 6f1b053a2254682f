"""Minimal RFC 6455 client and HTTP helpers for driving the service shell.

The client reads frames with non-blocking sockets from one thread, so the
load generator and every client share a single thread of the benchmark
process.
"""
import base64
import hashlib
import http.client
import json
import os
import socket
import struct
import time

GUID = b"258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def http_request(port, method, path, body=None):
    c = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        c.request(method, path, body=body, headers={"Content-Type": "application/json"} if body else {})
        r = c.getresponse()
        return r.status, r.read().decode()
    finally:
        c.close()


def create_stream(port, routing_key):
    status, body = http_request(port, "POST", "/event-stream/", json.dumps({"routing_key": routing_key}))
    if status != 201:
        raise RuntimeError(f"POST /event-stream/ answered {status}: {body}")
    d = json.loads(body)
    return d["id"], d["location"]


def delete_stream(port, stream_id):
    status, body = http_request(port, "DELETE", f"/event-stream/{stream_id}")
    if status != 204:
        raise RuntimeError(f"DELETE /event-stream/{stream_id} answered {status}: {body}")


class FrameParser:
    """Incremental parser for unmasked server frames. `feed` returns the
    complete frames as (opcode, payload bytes)."""

    def __init__(self):
        self.buf = bytearray()

    def feed(self, data):
        buf = self.buf
        buf += data
        out = []
        pos, n = 0, len(buf)
        while n - pos >= 2:
            b1, b2 = buf[pos], buf[pos + 1]
            ln = b2 & 0x7F
            hdr = 2
            if ln == 126:
                if n - pos < 4:
                    break
                ln = (buf[pos + 2] << 8) | buf[pos + 3]
                hdr = 4
            elif ln == 127:
                if n - pos < 10:
                    break
                ln = struct.unpack_from(">Q", buf, pos + 2)[0]
                hdr = 10
            if n - pos < hdr + ln:
                break
            out.append((b1 & 0x0F, bytes(buf[pos + hdr:pos + hdr + ln])))
            pos += hdr + ln
        del buf[:pos]
        return out


class WsClient:
    """One consumer connection. Timestamps are time.monotonic() seconds."""

    def __init__(self, location, query=""):
        assert location.startswith("ws://")
        hostport, _, path = location[5:].partition("/")
        host, _, port = hostport.partition(":")
        self.path = "/" + path + (("?" + query) if query else "")
        self.t_connect = time.monotonic()
        self.sock = socket.create_connection((host, int(port)), timeout=30)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        key = base64.b64encode(os.urandom(16))
        req = (f"GET {self.path} HTTP/1.1\r\nHost: {hostport}\r\nUpgrade: websocket\r\n"
               f"Connection: Upgrade\r\nSec-WebSocket-Key: {key.decode()}\r\n"
               "Sec-WebSocket-Version: 13\r\n\r\n").encode()
        self.sock.sendall(req)
        head = b""
        while b"\r\n\r\n" not in head:
            chunk = self.sock.recv(4096)
            if not chunk:
                raise RuntimeError("connection closed during the WebSocket handshake")
            head += chunk
        self.t_upgraded = time.monotonic()
        head, _, rest = head.partition(b"\r\n\r\n")
        lines = head.decode().split("\r\n")
        if " 101 " not in lines[0] + " ":
            raise RuntimeError(f"handshake refused: {lines[0]}")
        accept = base64.b64encode(hashlib.sha1(key + GUID).digest()).decode()
        if not any(l.lower().startswith("sec-websocket-accept:") and l.split(":", 1)[1].strip() == accept
                   for l in lines[1:]):
            raise RuntimeError("bad Sec-WebSocket-Accept")
        self.parser = FrameParser()
        self.frames = []  # (monotonic receipt time, payload bytes)
        self.close_code = None
        self.sock.setblocking(False)
        if rest:
            self._take(rest, self.t_upgraded)

    def fileno(self):
        return self.sock.fileno()

    def _take(self, data, now):
        for op, payload in self.parser.feed(data):
            if op == 0x1:
                self.frames.append((now, payload))
            elif op == 0x8:
                self.close_code = struct.unpack(">H", payload[:2])[0] if len(payload) >= 2 else 1005

    def pump(self):
        """Read whatever is available; returns False once the peer closed."""
        while True:
            try:
                data = self.sock.recv(1 << 20)
            except (BlockingIOError, InterruptedError):
                return True
            except OSError:
                return False
            if not data:
                return False
            self._take(data, time.monotonic())

    def close(self, timeout=10.0):
        """Send a masked close frame (1000) and wait for the echo or EOF."""
        mask = os.urandom(4)
        payload = struct.pack(">H", 1000)
        frame = bytes([0x88, 0x80 | len(payload)]) + mask + bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        try:
            self.sock.setblocking(True)
            self.sock.settimeout(timeout)
            self.sock.sendall(frame)
            deadline = time.monotonic() + timeout
            while self.close_code is None and time.monotonic() < deadline:
                data = self.sock.recv(1 << 16)
                if not data:
                    break
                self._take(data, time.monotonic())
        except OSError:
            pass
        finally:
            self.sock.close()
