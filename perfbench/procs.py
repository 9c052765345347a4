"""Child JVMs: started in their own process group, read line by line,
and always stopped (group-wide, then waited for) when a run ends."""
import json
import os
import queue
import signal
import subprocess
import threading
import time


class Child:
    live = []

    def __init__(self, cmd, cwd, env):
        self.err_path = os.path.join(cwd, f"child-{len(Child.live)}.err")
        self.err = open(self.err_path, "w")
        self.proc = subprocess.Popen(
            cmd, cwd=cwd, env=env, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self.err, text=True, bufsize=1,
            start_new_session=True)
        self.lines = queue.Queue()
        Child.live.append(self)
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def _fail(self, why):
        self.err.flush()
        with open(self.err_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"{why}\n--- child stderr ---\n{tail}")

    def _next(self, deadline):
        try:
            line = self.lines.get(timeout=max(0.0, deadline - time.monotonic()))
        except queue.Empty:
            self._fail("timed out waiting for the child")
        if line is None:
            self._fail(f"child exited with {self.proc.wait()}")
        return line

    def expect(self, event, timeout=90):
        """Next `@@` message whose event is `event`."""
        deadline = time.monotonic() + timeout
        while True:
            line = self._next(deadline)
            if not line.startswith("@@ "):
                continue
            msg = json.loads(line[3:])
            if msg.get("event") == "error":
                self._fail(f"child error: {msg.get('message')}")
            if msg.get("event") == event:
                return msg

    def expect_raw(self, needle, timeout=120):
        deadline = time.monotonic() + timeout
        while needle not in self._next(deadline):
            pass

    def send(self, line):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")

    def quit(self):
        """Ask the harness to exit, then make sure it did."""
        try:
            self.send("quit")
            self.proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            pass
        self.stop()

    def stop(self):
        if self.proc.poll() is None:
            for sig, wait in ((signal.SIGTERM, 15), (signal.SIGKILL, 15)):
                try:
                    os.killpg(self.proc.pid, sig)
                except ProcessLookupError:
                    break
                try:
                    self.proc.wait(timeout=wait)
                    break
                except subprocess.TimeoutExpired:
                    continue
        # a JVM may leave forked helpers in its group
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
        self.proc.wait()
        self.err.close()
        if self in Child.live:
            Child.live.remove(self)

    @classmethod
    def stop_all(cls):
        for c in list(cls.live):
            c.stop()
