"""Host canaries that bracket each workload run. They are recorded for
attribution, never used as gates: a slow run beside a slow canary points
at the host, not at the engine.

The CPU pair (one thread, then eight) is the engine's own
graft.Measure.canaryPair, run inside the harness JVM. The I/O canary here
covers the path the CPU pair cannot see: a digest over bytes sent
through a pipe, and a short loop of small writes each followed by fsync.
"""
import hashlib
import os
import threading
import time

PIPE_BYTES = 64 * 1024 * 1024
FSYNC_WRITES = 32


def pipe_digest_s() -> float:
    r, w = os.pipe()
    block = bytes(range(256)) * 4096  # 1 MiB

    def feed():
        with os.fdopen(w, "wb") as f:
            for _ in range(PIPE_BYTES // len(block)):
                f.write(block)
    t0 = time.perf_counter()
    th = threading.Thread(target=feed)
    th.start()
    h = hashlib.sha256()
    with os.fdopen(r, "rb") as f:
        while True:
            chunk = f.read(1 << 16)
            if not chunk:
                break
            h.update(chunk)
    th.join()
    return time.perf_counter() - t0


def fsync_s(directory: str) -> float:
    path = os.path.join(directory, "fsync.canary")
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(FSYNC_WRITES):
            f.write(b"x" * 4096)
            f.flush()
            os.fsync(f.fileno())
    dt = time.perf_counter() - t0
    os.remove(path)
    return dt


def io_canary(directory: str) -> dict:
    return {"pipe_digest": pipe_digest_s(), "fsync": fsync_s(directory)}
