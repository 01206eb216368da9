"""Benchmark inputs, generated once and cached under ``perfbench/data``.

- the reference namespace: ``fixture.generate_pandas`` written with
  ``layout.write_inode_table`` (built by prepare.py in its own Spark
  process), cached by shape;
- the binary fsimage: ``fsimage.write_fsimage_binary``, cached by shape
  (the writer has no seed: its namespace is closed-form);
- the changelog segments for ``ingest_refresh``, cached by seed and shape.

A cache entry is built in a temporary sibling directory and renamed into
place when complete, so an interrupted build is never mistaken for a
finished one.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

#: fixture.generate_pandas at its default fan-out: 1 + 10 + 100 + 1,000 dirs
#: and 100,000 files (the reference JMH fan-out, dirs_per_level=20, is
#: 808,421 inodes; see README.md for why the benchmark runs the smaller one)
REFERENCE = {"levels": 3, "dirs_per_level": 10, "files_per_dir": 100, "seed": 42}
#: closed-form fsimage: 1 root + 25 dirs + 25,000 files
IMAGE = {"n_dirs": 25, "files_per_dir": 1000}
#: every changelog segment adds this many files and deletes this many:
#: the 100 new files of the reference's testUpdateSeen (FIXTURES.md, section
#: 2), and deletes at the 2:5 delete:add ratio of the package's own tailer
#: test (tests/test_streaming.py); no source gives a production edit mix
SEGMENT_ADDS = 100
SEGMENT_DELETES = 40


def _building(final: str) -> str:
    tmp = f"{final}.building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def reference_dir(env: dict) -> tuple[str, float]:
    """Cached reference namespace dir (holding ``table/``) and the
    seconds spent generating it now (0.0 on a cache hit)."""
    s = REFERENCE
    final = os.path.join(
        DATA, f"ns-l{s['levels']}-d{s['dirs_per_level']}-f{s['files_per_dir']}-s{s['seed']}"
    )
    if os.path.isdir(final):
        return final, 0.0
    t0 = time.perf_counter()
    tmp = _building(final)
    args = [str(s[k]) for k in ("levels", "dirs_per_level", "files_per_dir", "seed")]
    with open(os.path.join(tmp, "prepare.log"), "w") as log:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), tmp, *args],
            env=env, cwd=tmp, stdout=log, stderr=log, check=True, timeout=600,
        )
    os.rename(tmp, final)
    return final, time.perf_counter() - t0


def image_file() -> tuple[str, float]:
    from nnanalytics_spark.sources import fsimage

    s = IMAGE
    final = os.path.join(DATA, f"fsimage-d{s['n_dirs']}-f{s['files_per_dir']}")
    name = "fsimage_0000000000000000001"
    if os.path.isdir(final):
        return os.path.join(final, name), 0.0
    t0 = time.perf_counter()
    tmp = _building(final)
    fsimage.write_fsimage_binary(tmp, n_dirs=s["n_dirs"], files_per_dir=s["files_per_dir"])
    os.rename(tmp, final)
    return os.path.join(final, name), time.perf_counter() - t0


def image_counts() -> tuple[int, int]:
    """(files, dirs) of the fsimage namespace."""
    return IMAGE["n_dirs"] * IMAGE["files_per_dir"], IMAGE["n_dirs"] + 1


def reference_counts() -> tuple[int, int]:
    s = REFERENCE
    dirs = sum(s["dirs_per_level"] ** k for k in range(s["levels"] + 1))
    return s["dirs_per_level"] ** s["levels"] * s["files_per_dir"], dirs


def _arrow_schema():
    import pyarrow as pa

    from nnanalytics_spark.inode import fixture

    kinds = {"LongType": pa.int64(), "IntegerType": pa.int32(), "StringType": pa.string(),
             "BooleanType": pa.bool_()}
    fields = [pa.field(f.name, kinds[type(f.dataType).__name__]) for f in fixture.SCHEMA.fields]
    return pa.schema(fields + [pa.field("op", pa.string())])


def segment_rows(seed: int, k: int) -> list[dict]:
    """Rows of changelog segment ``k`` for ``seed``: SEGMENT_ADDS new files
    under random image dirs and SEGMENT_DELETES deletions of distinct
    original image files. Deleted ids never repeat across segments."""
    from nnanalytics_spark.sources import oivgen

    n_dirs, per_dir = IMAGE["n_dirs"], IMAGE["files_per_dir"]
    first_file = oivgen.ROOT_ID + 1 + n_dirs
    n_files = n_dirs * per_dir
    # one seeded permutation of original files, sliced per segment
    order = list(range(n_files))
    random.Random(f"deletes:{seed}").shuffle(order)
    doomed = order[k * SEGMENT_DELETES : (k + 1) * SEGMENT_DELETES]
    rng = random.Random(f"segment:{seed}:{k}")
    rows = []
    for j in range(SEGMENT_ADDS):
        d = rng.randrange(n_dirs)
        mtime = oivgen.BASE_MS + rng.randrange(10**9)
        rows.append({
            "id": first_file + n_files + k * SEGMENT_ADDS + j, "type": "file",
            "path": f"/dir{d}/n{k}_{j}", "name": f"n{k}_{j}", "parent": f"/dir{d}",
            "user": f"u{rng.randrange(3)}", "group": "g0", "permission": 420,
            "accessTime": mtime + 500, "modTime": mtime,
            "fileSize": rng.randrange(1, 2_000_000), "blockSize": oivgen.BLOCK,
            "numBlocks": 1, "fileReplica": rng.randrange(1, 4), "storagePolicyId": 0,
            "nsQuota": None, "dsQuota": None, "nsQuotaUsed": 0, "dsQuotaUsed": 0,
            "isUnderConstruction": False, "isWithSnapshot": False, "hasAcl": False,
            "hasEcPolicy": False, "dirNumChildren": 0, "op": "add",
        })
    for i in doomed:
        rows.append({
            "id": first_file + i, "type": "file", "path": "", "name": "", "parent": "",
            "user": "", "group": "", "permission": 0, "accessTime": 0, "modTime": 0,
            "fileSize": 0, "blockSize": 0, "numBlocks": 0, "fileReplica": 0,
            "storagePolicyId": 0, "nsQuota": None, "dsQuota": None, "nsQuotaUsed": 0,
            "dsQuotaUsed": 0, "isUnderConstruction": False, "isWithSnapshot": False,
            "hasAcl": False, "hasEcPolicy": False, "dirNumChildren": 0, "op": "delete",
        })
    return rows


def segment_files(seed: int, count: int) -> tuple[list[str], float]:
    """Parquet files of the first ``count`` segments for ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    s = IMAGE
    final = os.path.join(
        DATA, f"changelog-d{s['n_dirs']}-f{s['files_per_dir']}"
        f"-a{SEGMENT_ADDS}-x{SEGMENT_DELETES}-s{seed}-n{count}"
    )
    names = [os.path.join(final, f"seg{k:04d}.parquet") for k in range(count)]
    if os.path.isdir(final):
        return names, 0.0
    t0 = time.perf_counter()
    tmp = _building(final)
    schema = _arrow_schema()
    for k in range(count):
        table = pa.Table.from_pylist(segment_rows(seed, k), schema=schema)
        pq.write_table(table, os.path.join(tmp, f"seg{k:04d}.parquet"))
    os.rename(tmp, final)
    return names, time.perf_counter() - t0
