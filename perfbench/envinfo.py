"""Environment record and host-speed probe.

Every result records the core count (from the process's CPU affinity, not
``nproc`` — a child ``nproc`` prints 1 once the session has set
``OMP_NUM_THREADS=1``), the source revision, library versions and the
OpenBLAS kernel in use, plus a fixed single-thread NumPy probe timed before
each pass so that host-speed drift is visible next to the walls it skews.
"""

from __future__ import annotations

import ctypes
import glob
import hashlib
import os
import platform
import subprocess
import time

import numpy as np


def cores() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started (from /proc), so set-up time
    includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def openblas_coretype() -> str:
    libs = glob.glob(os.path.join(os.path.dirname(np.__file__), "..", "numpy.libs", "libopenblas*"))
    for path in libs:
        lib = ctypes.CDLL(path)
        for sym in ("openblas_get_corename64_", "openblas_get_corename"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn.restype = ctypes.c_char_p
                return fn().decode()
    return os.environ.get("OPENBLAS_CORETYPE", "unknown")


def source_revision(repo_root: str) -> dict[str, str | None]:
    """The git commit when the checkout is a repository, and always a digest
    of the program's sources (the benchmark may run in a plain export)."""
    commit = None
    if os.path.isdir(os.path.join(repo_root, ".git")):
        r = subprocess.run(
            ["git", "-C", repo_root, "rev-parse", "HEAD"],
            capture_output=True, text=True, check=False,
        )
        commit = r.stdout.strip() or None
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(repo_root, "bran_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, repo_root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def env_record(repo_root: str) -> dict:
    import pyspark

    return {
        "cores": cores(),
        **source_revision(repo_root),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": np.__version__,
        "openblas_coretype": openblas_coretype(),
    }


def host_probe_s() -> float:
    """Median wall time of three runs of a fixed single-thread NumPy loop
    (≈0.05 s each on a 4-core SapphireRapids VM). Runs in the driver, where
    BLAS is pinned to one thread."""
    runs = []
    for _ in range(3):
        a = np.random.default_rng(0).random((160, 160))
        t0 = time.perf_counter()
        for _ in range(120):
            a = np.tanh(a @ a.T / 160.0)
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[1]
