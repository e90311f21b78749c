"""Process-tree CPU, JVM peak RSS and the host fingerprint, read from /proc."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state); utime, stime, cutime, cstime are 14..17
    return int(fields[1]), comm, sum(int(x) for x in fields[11:15]) / _TICK


def _tree(root: int) -> dict[int, tuple[int, str, float]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            procs[int(name)] = st
    keep, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs:
            keep[pid] = procs[pid]
            frontier.extend(p for p, st in procs.items() if st[0] == pid)
    return keep


def tree_pids(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process)."""
    root = root or os.getpid()
    return [pid for pid in _tree(root) if pid != root]


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` and all its descendants: this
    process, the Spark JVM and its Python workers."""
    return sum(st[2] for st in _tree(root or os.getpid()).values())


class Meter:
    """Wall seconds and process-tree CPU seconds of the ``with`` body."""

    def __enter__(self) -> "Meter":
        self.cpu_s = -tree_cpu_s()
        self.wall_s = -time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s += time.perf_counter()
        self.cpu_s += tree_cpu_s()


def jvm_peak_rss_mb(root: int | None = None) -> float:
    """VmHWM of the JVM child (the largest ``java`` process in the tree)."""
    best = 0.0
    for pid, (_, comm, _) in _tree(root or os.getpid()).items():
        if comm == "java":
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024.0)
    return best


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def source_digest(root: str) -> str:
    """sha256 over the engine's and the benchmark's tracked source files, so
    a result names the code it measured even outside a git checkout."""
    h = hashlib.sha256()
    for sub in ("opentelemetry_collector_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, sub))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith((".py", ".yaml")):
                    p = os.path.join(d, name)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def fingerprint(spark, root: str, seed: int, cores: int, jvm_options: str) -> dict:
    """Everything a number depends on besides the code: host, versions, conf."""
    import duckdb
    import pyspark

    jvm = spark.sparkContext._jvm
    conf = {
        k: v for k, v in spark.sparkContext.getConf().getAll()
        if not k.startswith(("spark.app.", "spark.driver.host", "spark.driver.port"))
        and k not in ("spark.executor.id", "spark.sql.warehouse.dir", "spark.local.dir",
                      "spark.eventLog.dir", "spark.driver.extraJavaOptions")
        and "java.options" not in k
    }
    return {
        "nproc": cores,
        "mem_total_kb": _mem_total_kb(),
        "machine": platform.machine(),
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "spark_conf": dict(sorted(conf.items())),
        "jvm_options": jvm_options,
        "seed": seed,
    }


def fingerprint_key(fp: dict) -> str:
    """Hash of the fields two results must share to be compared (not the
    seed, not the code)."""
    keep = {k: fp[k] for k in ("nproc", "mem_total_kb", "machine", "spark", "java", "python",
                               "duckdb", "spark_conf", "jvm_options")}
    return hashlib.sha256(repr(sorted(keep.items())).encode()).hexdigest()[:16]
