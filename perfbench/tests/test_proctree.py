"""The /proc process-tree CPU and RSS sums."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench import proctree

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def _tree_cpu(pid):
    return sum(proctree.cpu_split(pid).values())


def test_tree_cpu_counts_live_and_reaped_children():
    me = os.getpid()
    before = _tree_cpu(me)
    # a reaped child moves its CPU into this process's cutime
    subprocess.run([sys.executable, "-c", _BURN.format(s=0.4)], check=True)
    mid = _tree_cpu(me)
    assert mid - before >= 0.35
    # a live grandchild (child of a child) is found by walking ppid links
    code = (
        "import subprocess, sys\n"
        f"p = subprocess.Popen([sys.executable, '-c', {_BURN.format(s=0.4) + 'import time; time.sleep(30)'!r}])\n"
        "sys.stdout.write(str(p.pid) + '\\n'); sys.stdout.flush(); p.wait()\n"
    )
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        grandchild = int(child.stdout.readline())
        deadline = time.monotonic() + 20
        while _tree_cpu(me) - mid < 0.35 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert {child.pid, grandchild} <= set(proctree.tree(me))
        assert _tree_cpu(me) - mid >= 0.35
    finally:
        child.kill()
        subprocess.run(["kill", str(grandchild)], check=False)
        child.wait(timeout=10)


def test_tree_rss_sums_children():
    me = os.getpid()
    code = "b = bytearray(64 << 20)\nimport sys, time\nprint('ready', flush=True)\ntime.sleep(30)\n"
    base = proctree.rss_bytes(me)
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        assert proctree.rss_bytes(me) - base >= 60 << 20
        with proctree.RssSampler(me, interval_s=0.05) as s:
            time.sleep(0.3)
        assert s.peak >= base + (60 << 20)
    finally:
        child.kill()
        child.wait(timeout=10)


def test_cpu_split_has_the_three_groups():
    split = proctree.cpu_split(os.getpid())
    assert set(split) == {"driver_python", "jvm", "python_worker"}
    assert split["driver_python"] > 0
