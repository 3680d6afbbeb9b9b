"""Process-tree CPU accounting against busy children of known cost.

    python3 -m pytest perfbench/test_proctree.py -q
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import proctree  # noqa: E402

BURN_S = 1.0
TOL_S = 0.25

#: burns BURN_S of CPU, then idles so the parent can sample it live
_BUSY = (
    "import time\n"
    "t = time.process_time()\n"
    f"while time.process_time() - t < {BURN_S}: pass\n"
    "time.sleep(30)\n"
)
#: spawns a busy grandchild, waits for it (reaping it), then idles
_REAPER = (
    "import subprocess, sys, time\n"
    "subprocess.run([sys.executable, '-c', "
    f"'import time\\nt = time.process_time()\\nwhile time.process_time() - t < {BURN_S}: pass'])\n"
    "print('reaped', flush=True)\n"
    "time.sleep(30)\n"
)


def _wait_for_cpu(pid: int, want: float, timeout: float = 20.0) -> float:
    deadline = time.time() + timeout
    got = 0.0
    while time.time() < deadline:
        got = proctree.tree_cpu_seconds(pid)
        if got >= want:
            break
        time.sleep(0.05)
    return got


def test_live_busy_child_is_counted():
    me = os.getpid()
    base = proctree.tree_cpu_seconds(me)
    child = subprocess.Popen([sys.executable, "-c", _BUSY])
    try:
        assert child.pid in proctree.descendants(me)
        got = _wait_for_cpu(child.pid, BURN_S)
        assert abs(got - BURN_S) < TOL_S + 0.1  # interpreter start-up adds a little
        time.sleep(0.2)
        tree = proctree.tree_cpu_seconds(me) - base
        assert tree >= BURN_S - TOL_S
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


def test_reaped_grandchild_is_counted_through_its_parent():
    child = subprocess.Popen(
        [sys.executable, "-c", _REAPER], stdout=subprocess.PIPE, text=True
    )
    try:
        assert child.stdout.readline().strip() == "reaped"
        # the grandchild is gone; its CPU lives on in the child's cstime/cutime
        assert len(proctree.descendants(child.pid)) == 1
        got = proctree.tree_cpu_seconds(child.pid)
        assert abs(got - BURN_S) < TOL_S + 0.1
    finally:
        child.kill()
        child.wait(timeout=10)


def test_steal_and_load_are_readable():
    steal, total = proctree.cpu_times()
    assert 0 <= steal <= total
    assert proctree.load_average() >= 0.0
    assert proctree.tree_pss_mb(os.getpid()) > 1.0
