import subprocess
import sys
import time

import procs

# a child that starts a grandchild and then waits on its stdin, like the
# Spark JVM and its Python workers
TREE = """
import subprocess, sys
subprocess.Popen([sys.executable, "-c", "import time; time.sleep(600)"])
print("up", flush=True)
sys.stdin.read()
"""


def test_stop_all_ends_children_and_grandchildren():
    child = subprocess.Popen([sys.executable, "-c", TREE],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    assert child.stdout.readline() == b"up\n"
    tree = procs.descendants()
    assert child.pid in tree and len(tree) >= 2
    t = time.monotonic()
    signalled = procs.stop_all()
    assert set(signalled) <= set(tree)
    assert procs.descendants() == []
    assert time.monotonic() - t < procs.SWEEP_S + 2 * procs.TERM_S
    child.stdin.close()
    child.stdout.close()


def test_stop_all_without_children_is_a_no_op():
    assert procs.descendants() == []
    assert procs.stop_all() == []
