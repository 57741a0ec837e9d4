"""A run leaves no process behind: ``reap_descendants`` waits for every
descendant, also one orphaned when its parent ended first (as the JVM's
Python worker daemon is when the JVM exits).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# runs in its own interpreter: becoming a subreaper is for the whole process
_SCRIPT = """
import subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import procstat
procstat.become_subreaper()
# a child that starts a long-lived grandchild and exits at once
child = subprocess.Popen(
    [sys.executable, "-c",
     "import subprocess; print(subprocess.Popen(['sleep', '60']).pid, flush=True)"],
    stdout=subprocess.PIPE, text=True)
grandchild = int(child.stdout.readline())
child.wait()
print(grandchild, procstat.reap_descendants(grace_s=0.5))
"""


def test_reap_kills_and_waits_for_an_orphaned_grandchild():
    p = subprocess.run([sys.executable, "-c", _SCRIPT, ROOT], capture_output=True,
                       text=True, timeout=60, check=True)
    grandchild, killed = map(int, p.stdout.split())
    assert killed == 1
    assert not os.path.exists(f"/proc/{grandchild}")


def test_reap_returns_at_once_without_children():
    code = ("import sys; sys.path.insert(0, sys.argv[1]); from perfbench import procstat; "
            "procstat.become_subreaper(); print(procstat.reap_descendants(grace_s=30))")
    p = subprocess.run([sys.executable, "-c", code, ROOT], capture_output=True,
                       text=True, timeout=20, check=True)
    assert p.stdout.strip() == "0"
