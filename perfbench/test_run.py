"""Unit tests for the process-tree CPU clock behind the pass metrics; no
Spark needed."""

from __future__ import annotations

import os
import subprocess
import sys

from run import tree_cpu_s


def test_tree_cpu_counts_a_live_child():
    before = tree_cpu_s(os.getpid())
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time\n"
         "t = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass\n"
         "print(flush=True); sys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        child.stdout.readline()  # the child has burnt its 0.5 s and still runs
        assert tree_cpu_s(os.getpid()) - before >= 0.3
    finally:
        child.stdin.close()
        child.wait()


def test_tree_cpu_keeps_a_reaped_child():
    before = tree_cpu_s(os.getpid())
    subprocess.run(
        [sys.executable, "-c",
         "import time\n"
         "t = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass"],
        check=True,
    )
    assert tree_cpu_s(os.getpid()) - before >= 0.3
