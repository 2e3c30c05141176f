"""The stamp every artifact carries, and the rule for comparing two.

Two artifacts are comparable only when every stamp field other than the
code under test (``git_commit``, ``source_digest``) is equal: same box
shape, same software versions, same benchmark code, same workload,
seed and input sizes.
"""

from __future__ import annotations

import hashlib
import os
import platform

CODE_FIELDS = ("git_commit", "source_digest")


def _ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def tree_digest(root: str, suffixes: tuple = (".py",)) -> str:
    """sha256 over the relative paths and bytes of the files under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__" and d != "work")
        for name in sorted(filenames):
            if name.endswith(suffixes):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    """HEAD commit read from ``.git`` without running git; None outside
    a git work tree."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        return None
    return None


def make_stamp(root: str, workload: str, seed: int, sizes: dict, nproc: int,
               seconds: int, driver_memory: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "ram_mb": _ram_mb(),
        "driver_memory": driver_memory,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": git_commit(root),
        "source_digest": tree_digest(os.path.join(root, "mini_html_parser_spark")),
        "harness_digest": tree_digest(os.path.join(root, "layerbench")),
        "workload": workload,
        "seed": seed,
        "sizes": sizes,
        "run_seconds": seconds,
        # the benchmark never reads the external wiki fixture
        "wiki_fixture": "absent",
    }


def stamp_differences(a: dict, b: dict) -> list[str]:
    """Stamp fields, other than the code under test, that differ."""
    keys = (a.keys() | b.keys()) - set(CODE_FIELDS)
    return sorted(k for k in keys if a.get(k) != b.get(k))
