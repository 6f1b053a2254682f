"""The service JVM as a child process: launch, line protocol, stop."""
import json
import os
import select
import subprocess
import time

import build


class ServiceError(Exception):
    pass


class Service:
    def __init__(self, classes, workload, work, trace, cpus):
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        self.log_path = os.path.join(work, "service.log")
        self.log = open(self.log_path, "w")
        cmd = build.java_command(classes, tmpdir=os.path.join(work, "tmp")) + [
            "perfbench.BenchService", workload, work, "1" if trace else "0", str(cpus)]
        self.t_launch = time.monotonic()
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.log, cwd=work)
        self.buf = b""

    def _line(self, deadline):
        fd = self.p.stdout.fileno()
        while b"\n" not in self.buf:
            left = deadline - time.monotonic()
            if left <= 0:
                raise ServiceError("timed out waiting for the service")
            r, _, _ = select.select([fd], [], [], left)
            if r:
                chunk = os.read(fd, 65536)
                if not chunk:
                    raise ServiceError("service exited; log tail:\n" + self.log_tail())
                self.buf += chunk
        line, _, self.buf = self.buf.partition(b"\n")
        return line.decode("utf-8", "replace")

    def read(self, timeout=120.0):
        """The next protocol message (a dict); other stdout lines are skipped."""
        deadline = time.monotonic() + timeout
        while True:
            line = self._line(deadline)
            if line.startswith("@@ "):
                msg = json.loads(line[3:])
                if "error" in msg:
                    raise ServiceError(msg["error"])
                return msg

    def send(self, command):
        self.p.stdin.write((command + "\n").encode())
        self.p.stdin.flush()

    def call(self, command, timeout=120.0):
        self.send(command)
        return self.read(timeout)

    def log_tail(self, n=3000):
        try:
            with open(self.log_path, "rb") as f:
                return f.read()[-n:].decode("utf-8", "replace")
        except OSError:
            return ""

    def stop(self, timeout=30.0):
        if self.p.poll() is None:
            try:
                self.send("stop")
                self.p.stdin.close()
            except OSError:
                pass
            try:
                self.p.wait(timeout)
            except subprocess.TimeoutExpired:
                self.p.kill()
                self.p.wait()
        self.log.close()
