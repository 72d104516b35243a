"""Observers that run in their own processes, so that their work does not
compete for the interpreter lock with the driver process they observe.

- ``memory``: samples the proportional set size (PSS) summed over the
  observed process tree (Python driver, driver JVM and the Python
  workers: the pyspark daemon and its forks) and keeps the peak of the
  whole tree and, apart, of the workers. PSS instead of RSS: forked
  workers share pages with their daemon, and summing RSS would count
  those pages once per worker. One sample reads every process's
  ``smaps_rollup`` (about 10 ms with the driver JVM up), so it samples
  only twice a second to keep off the CPUs it measures; a peak shorter
  than that can be missed.
- ``scrape``: one ``/metrics`` scraper at a fixed rate (open loop). Each
  GET is timed from the moment it was due, so a stall also counts against
  the scrapes queued behind it.

Each child runs until its stdin closes, then prints one JSON line.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time
from urllib.parse import urlsplit

_MARK = os.path.basename(__file__).encode()
_WORKER_MARK = b"pyspark.daemon"


def http_get(url: str, timeout: float = 10.0) -> tuple[int, bytes]:
    parts = urlsplit(url)
    conn = http.client.HTTPConnection(parts.hostname, parts.port, timeout=timeout)
    try:
        conn.request("GET", parts.path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def _tree_pss_bytes(root: int, kinds: dict[int, str]) -> dict[str, int]:
    """PSS of ``root`` and its descendants: the Python workers (the
    pyspark daemon and its forks) apart from the rest; observers are left
    out."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            stat = _read(f"/proc/{entry}/stat")
            if stat:
                # the command name may hold spaces: fields resume after ')'
                ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
                children.setdefault(ppid, []).append(int(entry))
    total = {"driver": 0, "workers": 0}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid not in kinds:
            cmdline = _read(f"/proc/{pid}/cmdline") or b""
            kinds[pid] = (
                "observer" if _MARK in cmdline
                else "workers" if _WORKER_MARK in cmdline
                else "driver"
            )
        if kinds[pid] == "observer":
            continue
        for line in (_read(f"/proc/{pid}/smaps_rollup") or b"").splitlines():
            if line.startswith(b"Pss:"):
                total[kinds[pid]] += int(line.split()[1]) * 1024
                break
    return total


def _until_stdin_closes() -> threading.Event:
    done = threading.Event()

    def wait() -> None:
        sys.stdin.read()
        done.set()

    threading.Thread(target=wait, daemon=True).start()
    return done


def _memory(pid: int, period: float = 0.5) -> dict:
    done = _until_stdin_closes()
    kinds: dict[int, str] = {}
    peak_tree = peak_workers = 0
    while True:
        sizes = _tree_pss_bytes(pid, kinds)
        peak_tree = max(peak_tree, sizes["driver"] + sizes["workers"])
        peak_workers = max(peak_workers, sizes["workers"])
        if done.wait(period):
            return {"peak_tree_bytes": peak_tree, "peak_workers_bytes": peak_workers}


def _scrape(url: str, rate_hz: float) -> dict:
    done = _until_stdin_closes()
    latencies, failed, late_max, k = [], 0, 0.0, 0
    start = time.perf_counter()
    while True:
        due = start + k / rate_hz
        wait = due - time.perf_counter()
        if done.wait(max(0.0, wait)) or done.is_set():
            break
        late_max = max(late_max, time.perf_counter() - due)
        try:
            status, _ = http_get(url)
        except OSError:
            status = 0
        if status == 200:
            latencies.append(time.perf_counter() - due)
        else:
            failed += 1
        k += 1
    return {"attempted": k, "failed": failed, "late_max_s": late_max, "latencies_s": latencies}


class Observer:
    """Parent side: start a child observer, ``finish()`` stops it and
    returns its JSON result."""

    def __init__(self, *args: str) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *args],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def finish(self) -> dict:
        out, _ = self._proc.communicate(timeout=60)
        return json.loads(out.strip().splitlines()[-1])

    def kill(self) -> None:
        if self._proc.poll() is None:
            self._proc.kill()
            self._proc.wait(timeout=10)


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "memory":
        result = _memory(int(sys.argv[2]))
    elif mode == "scrape":
        result = _scrape(sys.argv[2], float(sys.argv[3]))
    else:
        sys.exit(f"unknown observer {mode!r}")
    print(json.dumps(result), flush=True)
