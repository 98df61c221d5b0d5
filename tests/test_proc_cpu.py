"""tree_cpu_s contract: the interference-resistant per-query signal
bench.py stamps beside every wall (BASELINE.md c4: walls inflate 13-230x
under neighbor load; this process tree's CPU accounting barely moves).

Pure /proc arithmetic — no Spark session needed.
"""

from __future__ import annotations

import subprocess
import sys
import time

from perfbench.procstat import tree_cpu_s


def _burn(seconds: float) -> None:
    end = time.process_time() + seconds
    x = 1.0
    while time.process_time() < end:
        x = x * 1.000001 + 1e-9


def test_counts_own_cpu():
    c0 = tree_cpu_s()
    _burn(0.3)
    delta = tree_cpu_s() - c0
    # /proc ticks are 10 ms; allow generous slack both ways (other threads
    # in this test process may add CPU, the burn itself is >= 0.3)
    assert 0.2 <= delta <= 5.0, delta


def test_counts_live_child_subtree():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\n"
         "end = time.process_time() + 0.5\n"
         "x = 1.0\n"
         "while time.process_time() < end: x = x * 1.000001\n"
         "time.sleep(30)"],
    )
    try:
        # wait until the child has burned its 0.5 s and is parked in sleep
        deadline = time.time() + 20
        c0 = tree_cpu_s()
        while tree_cpu_s() - c0 < 0.4:
            assert time.time() < deadline, "child CPU never appeared in tree"
            time.sleep(0.1)
    finally:
        child.kill()
        child.wait()


def test_dead_children_fold_into_cutime():
    c0 = tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c",
         "import time\n"
         "end = time.process_time() + 0.4\n"
         "x = 1.0\n"
         "while time.process_time() < end: x = x * 1.000001"],
        check=True,
    )
    # reaped child's CPU must survive via the parent's cutime/cstime
    assert tree_cpu_s() - c0 >= 0.3
