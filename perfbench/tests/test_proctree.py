import subprocess
import sys
import time

from proctree import ProcTree

# A stand-in for the JVM: it forks short-lived CPU-burning workers one
# after another, reaps each, then idles so the test can sample the tree
# after every worker has exited.
_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.25: pass\n"
_MIDDLE = f"""
import subprocess, sys, time
for _ in range(3):
    subprocess.run([sys.executable, "-c", {_BURN!r}], check=True)
time.sleep(1.0)
"""


def test_cpu_counter_never_decreases_when_children_exit():
    tree = ProcTree()
    base = tree.cpu_s()
    mid = subprocess.Popen([sys.executable, "-c", _MIDDLE])
    samples = []
    try:
        deadline = time.monotonic() + 30
        while mid.poll() is None and time.monotonic() < deadline:
            samples.append(tree.cpu_s())
            time.sleep(0.005)
    finally:
        mid.kill()
        mid.wait(timeout=10)
    assert len(samples) > 10
    assert all(b >= a for a, b in zip(samples, samples[1:]))
    # the three exited workers burned 0.75 s; their CPU is still counted
    # (through the middle process's reaped-children time) while it idles
    assert samples[-1] - base >= 0.6


def test_rss_of_descendants():
    tree = ProcTree()
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time; b = bytearray(64 << 20); time.sleep(2)"])
    try:
        peak = 0
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and peak < 64 << 20:
            peak = max(peak, tree.sample()[1])
            time.sleep(0.02)
    finally:
        child.kill()
        child.wait(timeout=10)
    assert peak >= 64 << 20
