"""Process-tree accounting."""

import os
import time

from perfbench import proctree

MB = 2**20


def test_tree_pss_counts_pages_shared_with_a_forked_child_once():
    blob = bytearray(64 * MB)
    blob[::4096] = b"x" * len(blob[::4096])  # make every page resident
    alone = proctree.tree_pss_bytes(os.getpid())
    pid = os.fork()
    if pid == 0:
        time.sleep(30)
        os._exit(0)
    try:
        assert pid in proctree.tree_pids(os.getpid())
        # summed RSS would count the 64 MB twice
        assert alone > 64 * MB
        assert proctree.tree_pss_bytes(os.getpid()) < alone + 16 * MB
    finally:
        os.kill(pid, 9)
        os.waitpid(pid, 0)
