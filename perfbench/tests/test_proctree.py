"""Whole-tree CPU and memory accounting (perfbench/proctree.py)."""

import os
import subprocess
import sys
import time

import proctree

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_cpu_of_exited_children_and_grandchildren_is_kept():
    before = proctree.cpu_s()
    # a child that burns CPU itself and runs a grandchild that burns too;
    # both exit (and are reaped) before the second reading
    grandchild = BURN.format(s=0.3)
    child = (BURN.format(s=0.3)
             + f"import subprocess, sys\nsubprocess.run([sys.executable, '-c', {grandchild!r}])\n")
    subprocess.run([sys.executable, "-c", child], check=True)
    assert proctree.cpu_s() - before >= 0.55


def test_cpu_never_goes_down_while_a_child_exits():
    proc = subprocess.Popen([sys.executable, "-c", BURN.format(s=0.4)])
    readings = []
    while proc.poll() is None:
        readings.append(proctree.cpu_s())
        time.sleep(0.02)
    readings.append(proctree.cpu_s())
    assert all(b >= a for a, b in zip(readings, readings[1:]))
    assert readings[-1] - readings[0] >= 0.3


def test_peak_rss_counts_live_children():
    base = proctree.hwm_mb()
    proc = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time\nb = bytearray(120 * 2**20)\nb[::4096] = b'x' * len(b[::4096])\n"
         "print('ready', flush=True)\ntime.sleep(30)\n"],
        stdout=subprocess.PIPE, text=True)
    try:
        assert proc.stdout.readline().strip() == "ready"
        peak = proctree.PeakRss()
        assert peak.sample() >= base + 100
    finally:
        proc.kill()
        proc.wait(timeout=10)
        proc.stdout.close()


def test_reap_descendants_ends_leftover_processes():
    proc = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    left = proctree.reap_descendants(timeout_s=0.5)
    assert left == [proc.pid]
    # reaped by reap_descendants itself, so nothing of it is left
    assert not os.path.exists(f"/proc/{proc.pid}")
    assert proctree.tree() == [os.getpid()]
