"""Tests for the stopping of every process a benchmark run starts."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# A child shell starts a grandchild that ignores SIGTERM and exits at once,
# orphaning it.  A spawn pool runs first, as the image_tiles input generator
# does, with its resource tracker stopped the same way.  After the clean-up
# the grandchild must be gone and no child may be left.
SCRIPT = """
import multiprocessing, os, subprocess, sys, time
from multiprocessing import resource_tracker
from perfbench.procmon import adopt_orphans, stop_children, _children

adopt_orphans()
with multiprocessing.get_context("spawn").Pool(1) as pool:
    pool.map(abs, [1])
resource_tracker._resource_tracker._stop()
out = subprocess.run(["sh", "-c", "trap '' TERM; sleep 300 >/dev/null 2>&1 & echo $!"],
                     capture_output=True, text=True).stdout
grandchild = int(out.split()[0])
time.sleep(0.2)
adopted = grandchild in _children().get(os.getpid(), [])
stopped = stop_children(grace_s=0.5)
print(adopted, grandchild in stopped, os.path.exists(f"/proc/{grandchild}"),
      _children().get(os.getpid(), []))
"""


def test_stop_children_ends_adopted_orphans_and_leaves_nothing():
    out = subprocess.run([sys.executable, "-c", SCRIPT], cwd=ROOT, capture_output=True,
                         text=True, timeout=60, check=True).stdout
    assert out.split() == ["True", "True", "False", "[]"]

