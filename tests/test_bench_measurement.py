"""bench.py's contention measurement: CPU burnt by the bench's own
process tree is not external, CPU burnt outside it is."""

from __future__ import annotations

import os
import signal
import subprocess
import time

import pytest
from bench import EXTERNAL_SHARE_BOUND, cpu_sample, external_share

_LOOP = "while :; do :; done"
_WINDOW_S = 2.0


def _share_over_window() -> float:
    before = cpu_sample()
    t0 = time.perf_counter()
    time.sleep(_WINDOW_S)
    return external_share(before, cpu_sample(), time.perf_counter() - t0)


def test_busy_loops_count_only_outside_the_process_tree():
    ncpu = os.cpu_count() or 1

    own = [subprocess.Popen(["sh", "-c", _LOOP]) for _ in range(ncpu)]
    try:
        own_share = _share_over_window()
    finally:
        for p in own:
            p.kill()
            p.wait(timeout=10)
    assert own_share < EXTERNAL_SHARE_BOUND, own_share

    # each loop is forked by a shell that exits at once, so the loops
    # are reparented away from this process and are not descendants
    spawn = (
        f"for i in $(seq {ncpu}); do "
        f"sh -c '{_LOOP}' >/dev/null 2>&1 </dev/null & echo $!; done"
    )
    pids: list[int] = []
    try:
        out = subprocess.run(
            ["sh", "-c", spawn], capture_output=True, text=True, timeout=10
        ).stdout
        pids = [int(p) for p in out.split()]
        assert len(pids) == ncpu
        detached_share = _share_over_window()
    finally:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    assert detached_share > EXTERNAL_SHARE_BOUND, detached_share


def test_external_share_floors_short_walls():
    ncpu = os.cpu_count() or 1
    # 40 ms of external CPU over a 10 ms pass: one tick of jitter, not
    # a storm — the 0.25 s floor divides it by ncpu x 0.25 s
    a, b = (100.0, 50.0), (100.05, 50.01)
    assert external_share(a, b, 0.01) == pytest.approx(0.04 / (ncpu * 0.25))
    assert external_share(a, b, 0.01) == external_share(a, b, 0.25)
    assert external_share(a, b, 2.0) == pytest.approx(0.04 / (ncpu * 2.0))
