"""Host fingerprint recorded in every result.

Results are comparable only when the host part matches: core count,
CPU model, memory and the Python, pyspark, pyarrow and Java versions.
The source digest and seed identify what ran; they differ between the
two sides of a comparison by design.
"""

from __future__ import annotations

import glob
import hashlib
import os
import platform

HOST_KEYS = ("nproc", "cpu_model", "mem_total_mb", "python", "pyspark",
             "pyarrow", "java")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _proc_field(path: str, key: str) -> str | None:
    try:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.startswith(key):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return None


def _git_sha(root: str) -> str | None:
    try:
        with open(os.path.join(root, ".git", "HEAD"), encoding="utf-8") as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(root, ".git", head[5:]),
                      encoding="utf-8") as f:
                return f.read().strip()
        return head
    except OSError:
        return None


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources (the checkout the
    benchmark runs in is not a git repository)."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "html_parser_spark", "**",
                                          "*.py"), recursive=True))
    files.append(os.path.join(root, "scripts", "run_curation.py"))
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def fingerprint(root: str, seed: int, java: str) -> dict:
    import pyarrow
    import pyspark

    mem = _proc_field("/proc/meminfo", "MemTotal")
    return {
        "nproc": nproc(),
        "cpu_model": _proc_field("/proc/cpuinfo", "model name"),
        "mem_total_mb": int(mem.split()[0]) // 1024 if mem else None,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java,
        "git_sha": _git_sha(root),
        "source_digest": source_digest(root),
        "seed": seed,
    }


def same_host(a: dict, b: dict) -> list[str]:
    """Host keys on which two fingerprints differ (empty = comparable)."""
    return [k for k in HOST_KEYS if a.get(k) != b.get(k)]
