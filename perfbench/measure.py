"""Small measurement helpers: percentiles, the file -> micro-batch latency
join read from a streaming checkpoint, and peak resident memory."""

from __future__ import annotations

import json
import math
import os
import statistics


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def median(xs) -> float:
    return float(statistics.median(xs))


def drift(xs) -> float:
    """Median of the last third of ``xs`` over the median of the first
    third: > 1 means later repetitions got slower."""
    k = max(1, len(xs) // 3)
    return median(xs[-k:]) / median(xs[:k])


def _log_entries(log_dir: str):
    """JSON entries of a Structured Streaming metadata log directory
    (``sources/0``, ``offsets``, ...). Batch files and ``.compact`` files
    both hold one JSON object per line after a version header."""
    for fname in os.listdir(log_dir):
        path = os.path.join(log_dir, fname)
        if fname.startswith(".") or not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    yield json.loads(line)


def file_batches(ckpt_dir: str) -> dict[str, int]:
    """File basename -> id of the micro-batch that read it, from the file
    source's commit log ``sources/0``."""
    out: dict[str, int] = {}
    for entry in _log_entries(os.path.join(ckpt_dir, "sources", "0")):
        out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def batch_commit_times(ckpt_dir: str) -> dict[int, float]:
    """Batch id -> wall-clock time (epoch s) its commit file was written,
    from the checkpoint's ``commits/`` log."""
    d = os.path.join(ckpt_dir, "commits")
    return {
        int(f): os.stat(os.path.join(d, f)).st_mtime
        for f in os.listdir(d)
        if f.isdigit()
    }


def committed_files(ckpt_dir: str) -> set[str]:
    """Basenames of the files read by committed micro-batches."""
    if not os.path.isdir(os.path.join(ckpt_dir, "commits")):
        return set()
    done = batch_commit_times(ckpt_dir)
    return {f for f, b in file_batches(ckpt_dir).items() if b in done}


def file_latencies(ckpt_dir: str, due: dict[str, float]) -> dict[str, float]:
    """Seconds from each file's scheduled drop time to the commit of the
    micro-batch that served it. Files not yet committed are absent."""
    batch_of = file_batches(ckpt_dir)
    committed = batch_commit_times(ckpt_dir)
    out = {}
    for name, t_due in due.items():
        b = batch_of.get(name)
        if b is not None and b in committed:
            out[name] = committed[b] - t_due
    return out


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine in jiffies, from /proc/stat.
    Steal is time the hypervisor ran other guests on this VM's CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user and nice
    return fields[7], sum(fields[:8])
