"""The one scratch owner (core/scratch.py): every temp path lives under a
single process-owned root that the interpreter's exit removes."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path

from conftest import SCRATCH_PREFIXES

REPO = Path(__file__).resolve().parents[1]


def test_mkdir_hands_out_children_of_one_root():
    from nnanalytics_spark.core import scratch

    a, b = scratch.mkdir("nna_a_"), scratch.mkdir("nna_a_")
    assert a != b
    assert os.path.dirname(a) == os.path.dirname(b) == scratch.root()
    assert os.path.dirname(scratch.root()) == tempfile.gettempdir()


_FORK = """
import os, sys
sys.path.insert(0, sys.argv[1])
from nnanalytics_spark.core import scratch

parent_root = scratch.root()
if os.fork() == 0:
    print(scratch.root(), flush=True)
    sys.exit(0)  # runs the exit hooks the child inherited from its parent
os.wait()
print(parent_root, os.path.isdir(parent_root), flush=True)
"""


def test_forked_child_leaves_parent_root_alone():
    out = subprocess.run(
        [sys.executable, "-c", _FORK, str(REPO)],
        capture_output=True, text=True, timeout=60, check=True,
    )
    (child_root,), (parent_root, survived) = (ln.split() for ln in out.stdout.splitlines())
    assert child_root != parent_root
    assert survived == "True"  # the child's exit spared its parent's root
    assert not os.path.exists(child_root) and not os.path.exists(parent_root)


def test_streaming_builder_state_is_confined_and_removed_at_exit(spark, monkeypatch):
    import __spark_entry__ as entry
    from nnanalytics_spark.core import scratch

    monkeypatch.setattr(scratch, "_root", None)  # a root of this run's own
    width = spark.conf.get("spark.sql.shuffle.partitions")
    tmp = tempfile.gettempdir()
    tmp_before = set(os.listdir(tmp))
    assert entry.q_stream_locf_parity(spark, "/root/testdata/sf0.001").count() > 0
    root = scratch.root()
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    # segments, sink and checkpoint went under the root, the one engine
    # entry the run added at top level (the JVM's own temp files are its
    # to delete when it exits)
    new = {e for e in set(os.listdir(tmp)) - tmp_before if e.startswith(SCRATCH_PREFIXES)}
    assert new == {os.path.basename(root)}
    assert any(e.startswith("nna_stream_") for e in os.listdir(root))
    scratch._remove(root, os.getpid())  # what the exit hook runs
    assert not os.path.exists(root)
