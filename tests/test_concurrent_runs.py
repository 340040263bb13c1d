"""Live concurrency pin for the per-run scratch/hand-off namespaces
(ADVICE r3 item 5 → VERDICT r4 item 4, closed in r5): two concurrent
runner PROCESSES at the SAME sf must not interfere. The r5 live
double-sweep found exactly this: index_level_histogram's up-front rmtree
on the old fixed per-(uid, sf) index path deleted the sibling run's
in-flight staged write (TASK_WRITE_FAILED). With MSK_RUN_TOKEN set
(as every sweep tool does), index builds and hand-offs land in disjoint
per-run namespaces and both runs succeed; the tokened namespace is
removed at process exit (atexit), so sweeps leave no scratch behind.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import os, sys
os.environ["MSK_RUN_TOKEN"] = str(os.getpid())
sys.path.insert(0, %r)
from metric_search_spark.session import build_session
from metric_search_spark.entry_queries import QUERIES
spark = build_session(cpus=2, shuffle_partitions=4)
rows = QUERIES["index_level_histogram"](spark, "%s").collect()
assert rows, "empty histogram"
print("OK", len(rows))
""" % (ROOT, SF)


def test_two_concurrent_index_builds_do_not_interfere():
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _CHILD],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=600) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, f"rc={p.returncode}\n{err[-2000:]}"
        assert "OK" in out
    # the tokened scratch namespaces must have been cleaned up at exit
    assert glob.glob("/tmp/msk_idx_*_r[0-9]*") == []
