"""Host context: phase probe, memory sampler, run context, teardown."""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time

# single-process probe docs/s of this mix on a 4-core x86-64 VM in a calm
# phase; a probe below SLOW_PHASE_SHARE of it flags the run (never drops it)
PROBE_CALM_DOCS_PER_S = 1200.0
SLOW_PHASE_SHARE = 0.6


def host_probe(n_docs: int = 256) -> float:
    """Single-process kernel docs/s, the kernel mix of ``bench.host_probe``
    (per-doc shingling, fused HLL p=14 fold+encode, SMH m=64) on a smaller
    fixed batch. Tracks the VM's speed phase, which drifts from minute to
    minute independently of the code."""
    import numpy as np

    from cuda_selection_criteria_spark.corpus import generate_pages
    from cuda_selection_criteria_spark.sketchlib.batch import (
        hll_cards_encode_batch,
        superminhash_batch,
    )
    from cuda_selection_criteria_spark.sketchlib.hashes import shingle_hashes

    texts = [r.text for r in generate_pages(n_docs, 42)[0]]
    t0 = time.perf_counter()
    sets = [shingle_hashes(t, 31) for t in texts]
    counts = np.array([s.size for s in sets], dtype=np.int64)
    items = np.concatenate([s for s in sets if s.size])
    didx = np.repeat(np.arange(len(texts), dtype=np.int64), counts)
    hll_cards_encode_batch(items, didx, len(texts), 14)
    superminhash_batch(items, didx, len(texts), 64)
    return len(texts) / (time.perf_counter() - t0)


def slow_phase(probes: list[float]) -> bool:
    return min(probes) < SLOW_PHASE_SHARE * PROBE_CALM_DOCS_PER_S


def source_digest(root: str) -> str:
    """sha256 over the package's python sources (the checkout may not be a
    git repository, so this identifies the code measured)."""
    pkg = os.path.join(root, "cuda_selection_criteria_spark")
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_rev(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants_rss_bytes(pid: int) -> int:
    """Summed RSS of every process below ``pid`` (driver JVM and its
    Python workers)."""
    kids = _children()
    total = 0
    todo = list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Background peak of ``descendants_rss_bytes`` while active."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = descendants_rss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval_s)

    def take_peak(self) -> int:
        """Peak since the last call, in bytes."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
