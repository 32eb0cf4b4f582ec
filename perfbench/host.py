"""Host facts, provenance stamps and the process-tree memory sampler."""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """Driver heap from host RAM: a quarter of it, 1-4 GiB. The largest
    input here is ~70 MB raw, and the host is shared."""
    return f"{max(1, min(4, ram_bytes() // 4 >> 30))}g"


def _shm_bytes() -> int | None:
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return None
    return st.f_blocks * st.f_frsize


def _git(root: str, *args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, *args], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_fingerprint(root: str) -> str:
    """sha256 over the program's sources (colcrush/ and bench.py): the
    benchmark may run in a checkout that is not a git repository, where
    this is the only identity of the code measured."""
    h = hashlib.sha256()
    files = [os.path.join(root, "bench.py")]
    for d, _, names in os.walk(os.path.join(root, "colcrush")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def provenance(root: str) -> dict:
    import pyarrow
    import pyspark

    status = _git(root, "status", "--porcelain")
    return {
        "commit": _git(root, "rev-parse", "HEAD"),
        "dirty": None if status is None else bool(status),
        "source_sha256": source_fingerprint(root),
        "nproc": nproc(),
        "ram_bytes": ram_bytes(),
        "shm_bytes": _shm_bytes(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with pages shared between
    processes split among them. The Python workers are forked from one
    daemon, so summing plain RSS would count the shared interpreter,
    numpy and pyarrow pages once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def proc_stats():
    """(pid, command name, /proc/<pid>/stat fields after the name) of
    every live process; fields[0] is the state, [1] the parent pid, [3]
    the session id."""
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                name, rest = f.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:  # exited since the listing
            continue
        yield int(d), name, rest.split()


def tree_pss_bytes(root_pid: int) -> tuple[int, int]:
    """PSS of ``root_pid`` and all its live descendants (the JVM and
    its Python workers): (total, the JVM's share)."""
    children: dict[int, list[int]] = {}
    is_jvm: dict[int, bool] = {}
    for pid, name, fields in proc_stats():
        children.setdefault(int(fields[1]), []).append(pid)
        is_jvm[pid] = name == "java"
    total = jvm = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        try:
            b = _pss_bytes(pid)
        except OSError:  # exited since the listing
            b = 0
        total += b
        jvm += b if is_jvm.get(pid) else 0
        stack.extend(children.get(pid, []))
    return total, jvm


class PeakMemory:
    """Background sampler of the process tree's PSS; ``peak`` is the
    largest sum seen, ``peak_jvm`` and ``peak_python`` the largest of
    each side. Sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.peak = 0
        self.peak_jvm = 0
        self.peak_python = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            total, jvm = tree_pss_bytes(pid)
            self.peak = max(self.peak, total)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_python = max(self.peak_python, total - jvm)
            if self._stop.wait(self._interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
