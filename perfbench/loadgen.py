"""Open-loop load generator of the online_tail workload.

Runs as its own process, separate from the engine. It loads the
pre-encoded segment files, then releases them on a fixed schedule of the
system-wide monotonic clock, whether or not the engine keeps up: each
file is written under a hidden temporary name in the watched directory
and renamed into place. The same process tails the
engine's sink file and stamps, on the same clock, when each complete
line first became readable.

Control is line-based on stdin/stdout:

    -> ready                              segments loaded
    <- release <first> <last> <t0> <period>
                                          release segments first..last
                                          (0-based, sorted by name), the
                                          i-th due at t0 + (i - first) *
                                          period
    <- finish                             wait for the releases, make a
                                          final tail read, write --out
    -> done

The --out JSON holds ``releases`` ([index, due, actual] per released
segment) and ``stamps`` ([lines_readable, t] per read that found new
complete lines).

Run: python3 perfbench/loadgen.py --staging D --watch D --sink F --out F
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time


class Tail:
    """Polls a growing file and stamps each read that found new complete
    lines."""

    def __init__(self, path: str, period: float = 0.005):
        self.path = path
        self.period = period
        self.stamps: list[tuple[int, float]] = []
        self._lines = 0
        self._pos = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def read_once(self) -> None:
        try:
            with open(self.path, "rb") as fh:
                fh.seek(self._pos)
                chunk = fh.read()
        except FileNotFoundError:
            return
        now = time.monotonic()
        end = chunk.rfind(b"\n")
        if end < 0:
            return
        self._pos += end + 1
        self._lines += chunk.count(b"\n", 0, end + 1)
        self.stamps.append((self._lines, now))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.read_once()
            self._stop.wait(self.period)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(10)
        self.read_once()


class Releaser:
    """Releases staged segments on a fixed schedule."""

    def __init__(self, segments: list[tuple[str, bytes]], watch: str):
        self.segments = segments
        self.watch = watch
        self.releases: list[tuple[int, float, float]] = []
        self._threads: list[threading.Thread] = []

    def release(self, first: int, last: int, t0: float,
                period: float) -> None:
        t = threading.Thread(target=self._run, args=(first, last, t0, period),
                             daemon=True)
        t.start()
        self._threads.append(t)

    def _run(self, first: int, last: int, t0: float, period: float) -> None:
        for i in range(first, min(last, len(self.segments) - 1) + 1):
            name, data = self.segments[i]
            due = t0 + (i - first) * period
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            tmp = os.path.join(self.watch, f".{name}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.rename(tmp, os.path.join(self.watch, name))
            self.releases.append((i, due, time.monotonic()))

    def join(self) -> None:
        for t in self._threads:
            t.join()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--staging", required=True)
    ap.add_argument("--watch", required=True)
    ap.add_argument("--sink", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    names = sorted(n for n in os.listdir(a.staging) if n.endswith(".olrs"))
    segments = []
    for n in names:
        with open(os.path.join(a.staging, n), "rb") as fh:
            segments.append((n, fh.read()))
    tail = Tail(a.sink)
    rel = Releaser(segments, a.watch)
    tail.start()
    print("ready", flush=True)
    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "release":
            rel.release(int(cmd[1]), int(cmd[2]), float(cmd[3]),
                        float(cmd[4]))
        elif cmd[0] == "finish":
            break
    rel.join()
    tail.stop()
    with open(a.out, "w") as fh:
        json.dump({"releases": rel.releases, "stamps": tail.stamps}, fh)
    print("done", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
