"""Benchmark server process: the system under test.

Started by ``run.py`` once per set-up. It imports the package, builds
``INodeEngine`` + ``AnalyticsWebServer(now_ms=fixture.NOW_MS)`` over the
workload's namespace (plus a ``ChangeLogTailer`` and ``SnapshotTable``
for ``ingest_refresh``) and then obeys one-word commands on stdin,
answering with one JSON object per line on stdout:

    go      start back-to-back sweeps (sweep_heavy)
    stop    write stats (and spans, when traced) and exit; a sweep still
            running is not recorded

Spark's own log goes to stderr, which run.py sends to a file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

from perfbench import tracing


def _say(**event) -> None:
    sys.stdout.write(json.dumps(event) + "\n")
    sys.stdout.flush()


def tree_bytes(path: str, since: float = 0.0) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(root, name))
            if st.st_mtime >= since:
                total += st.st_size
    return total


class Sweeper:
    """Runs ``suggestions.run_sweep`` and records each sweep's wall time,
    Spark job count and bytes written."""

    def __init__(self, spark, engine, output_dir: str) -> None:
        from nnanalytics_spark.inode import suggestions

        self._run_sweep = suggestions.run_sweep
        self.spark = spark
        self.engine = engine
        self.output_dir = output_dir
        self.sweeps: list[dict] = []

    def once(self) -> dict:
        from nnanalytics_spark.inode import fixture

        sc = self.spark.sparkContext
        group = f"sweep-{len(self.sweeps)}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        tracing.set_request(group)
        wall0 = time.time()
        t0 = time.perf_counter()
        self._run_sweep(self.engine.inodes, fixture.NOW_MS, output_dir=self.output_dir)
        t1 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracing.set_request(None)
        record = {
            "start": t0,
            "end": t1,
            "s": t1 - t0,
            "jobs": tracing.job_counts(sc, group)["jobs"],
            "bytes": tree_bytes(self.output_dir, since=wall0 - 1.0),
        }
        self.sweeps.append(record)
        return record

    def start(self) -> None:
        def loop() -> None:
            while True:
                self.once()

        threading.Thread(target=loop, daemon=True, name="bench-sweeper").start()


def time_folds(tailer) -> list[dict]:
    """Time each micro-batch fold of ``tailer`` on the streaming query's
    own trigger thread. Call before ``tailer.start()``, which hands
    ``_apply`` to ``foreachBatch``. Returns the list the folds go to."""
    folds: list[dict] = []
    apply = tailer._apply

    def timed(batch, epoch) -> None:
        t0 = time.perf_counter()
        apply(batch, epoch)
        t1 = time.perf_counter()
        folds.append({"start": t0, "end": t1, "ms": (t1 - t0) * 1000})

    tailer._apply = timed
    return folds


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--namespace", required=True, help="layout parquet dir or fsimage file")
    ap.add_argument("--changelog", help="changelog directory (ingest_refresh)")
    ap.add_argument("--sweep-out", required=True,
                    help="where run_sweep writes and the server reads its sweep cache")
    ap.add_argument("--stats", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args(argv)

    from nnanalytics_spark.session import get_spark

    stats: dict = {}
    t0 = time.perf_counter()
    spark = get_spark("nna-bench-server")
    stats["session_start_s"] = time.perf_counter() - t0

    if args.spans:
        tracing.install(spark)

    from nnanalytics_spark.inode import fixture
    from nnanalytics_spark.inode.engine import INodeEngine
    from nnanalytics_spark.web.server import AnalyticsWebServer

    t_load = time.perf_counter()
    snapshot = None
    folds: list[dict] = []
    if args.workload == "ingest_refresh":
        from nnanalytics_spark.sources import fsimage
        from nnanalytics_spark.streaming.refresh import ChangeLogTailer, SnapshotTable
        from pyspark.sql import types as T

        if args.spans:
            tracing.wrap(fsimage, "read_fsimage_binary", "fsimage.read_fsimage_binary")
        t = time.perf_counter()
        df = fsimage.read_fsimage_binary(spark, args.namespace)
        stats["source_read_ms"] = (time.perf_counter() - t) * 1000
        t = time.perf_counter()
        base = df.localCheckpoint(eager=True)
        stats["fsimage_materialize_s"] = time.perf_counter() - t
        log_schema = T.StructType(
            fixture.SCHEMA.fields + [T.StructField("op", T.StringType(), False)]
        )
        tailer = ChangeLogTailer(spark, base, args.changelog, log_schema)
        folds = time_folds(tailer)
        if args.spans:
            tracing.wrap(tailer, "_apply", "refresh.apply")
        tailer.start()
        snapshot = SnapshotTable(spark, lambda _s: tailer.current)
        engine = INodeEngine(snapshot.df)
    else:
        from nnanalytics_spark.sources import layout

        t = time.perf_counter()
        engine = INodeEngine(layout.read_inode_table(spark, args.namespace))
        stats["source_read_ms"] = (time.perf_counter() - t) * 1000
    server = AnalyticsWebServer(
        engine,
        now_ms=fixture.NOW_MS,
        snapshot=snapshot,
        suggestions_dir=args.sweep_out,
    )
    port = server.start()
    stats["source_load_s"] = time.perf_counter() - t_load
    sweeper = Sweeper(spark, engine, args.sweep_out)
    if args.spans:
        tracing.wrap(sweeper, "_run_sweep", "suggestions.run_sweep")
    _say(event="listening", port=port)

    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "go":
            sweeper.start()
            _say(event="going")
        elif cmd == "stop":
            break
    # stdin closed or "stop": record and leave
    stats["sweeps"] = list(sweeper.sweeps)
    stats["folds"] = list(folds)
    with open(args.stats, "w") as fh:
        json.dump(stats, fh)
    if args.spans:
        tracing.dump(args.spans)
    _say(event="stopped")
    # run.py ends the whole process group (JVM and Python workers) now
    return 0


if __name__ == "__main__":
    sys.exit(main())
