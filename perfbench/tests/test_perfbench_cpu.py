"""The CPU-time probe behind ``lap_cpu_s``. Each case runs in a session of
its own, as the engine process does, so nothing else counts."""

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import subprocess, sys, time
from workloads import tree_cpu_s

def burn(seconds):
    end = time.process_time() + seconds
    while time.process_time() < end:
        pass

before = tree_cpu_s()
{body}
print(tree_cpu_s() - before)
"""


def measured(body: str) -> float:
    out = subprocess.run([sys.executable, "-c", PROBE.format(body=body)],
                         cwd=HERE, capture_output=True, text=True, timeout=60,
                         start_new_session=True, check=True)
    return float(out.stdout)


def test_counts_this_process():
    assert 0.2 <= measured("burn(0.3)") < 1.0


def test_counts_a_child_in_its_own_process_group():
    # PySpark's worker daemon calls setpgid; its CPU time must still count
    body = ("p = subprocess.Popen([sys.executable, '-c', "
            "'import time\\nend = time.process_time() + 0.3\\n"
            "while time.process_time() < end: pass'], process_group=0)\n"
            "p.wait()")
    assert measured(body) >= 0.2


def test_leaves_out_other_sessions():
    # read before the busy child is reaped: once waited for, a child's time
    # counts as the parent's
    body = ("p = subprocess.Popen([sys.executable, '-c', 'while True: pass'], "
            "start_new_session=True)\n"
            "time.sleep(0.5)\n"
            "during = tree_cpu_s() - before\n"
            "p.kill(); p.wait()\n"
            "before = tree_cpu_s() - during")
    assert measured(body) < 0.2
