"""Repo benchmark: the NNA serving path, end to end.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see README.md): rest_interactive, sweep_heavy, ingest_refresh.
Each run launches fresh server processes (launcher.py), drives them over
HTTP from this process for ``--seconds``, checks every response against
the oracle, and prints one JSON object as the last stdout line. With
``--trace 0`` it carries the end-to-end metrics; with ``--trace 1`` the
per-layer metrics, computed from spans the traced server wrote.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, ROOT)

from perfbench import inputs, stats  # noqa: E402
from perfbench import oracle as oracle_mod  # noqa: E402
from perfbench import workload as wl  # noqa: E402
from perfbench.launcher import tree_bytes  # noqa: E402

WORKLOADS = ("rest_interactive", "sweep_heavy", "ingest_refresh")
#: closed-loop clients per workload (at most nproc)
CLIENTS = {"rest_interactive": 2, "sweep_heavy": 1, "ingest_refresh": 1}
#: driver heap for every server process (session.py reads it from the env)
DRIVER_MEM = "2g"
#: changelog schedule: first segment lands this long after the window opens,
#: then one every SEGMENT_EVERY_S until the last pass of reads is done, so
#: folds overlap the whole window however long its passes take. No source
#: gives an edit rate: 3 s puts several folds in a 10-s window, and a fold
#: (about 0.3 s, plus up to 1 s for the tailer's trigger) ends before the
#: next segment lands
SEGMENT_FIRST_S = 1.0
SEGMENT_EVERY_S = 3.0
REQUEST_TIMEOUT_S = 150
#: warm-up length in whole deck passes. A fixed count, not a time: a
#: time-boxed warm-up ran one pass on some runs and two on others, and the
#: two-pass runs measured about 20% faster. One pass keeps a run short
#: enough to fit 70 runs in 57 minutes
WARM_PASSES = 1
#: ingest_refresh: /refresh + count probe before every PROBE_EVERY-th read
PROBE_EVERY = 3


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:6.1f}s] {msg}", flush=True)


# --------------------------------------------------------------- server
class Server:
    """One launcher.py process and its control pipe."""

    def __init__(self, run_dir: str, idx: int, workload: str, namespace: str,
                 env: dict, trace: bool) -> None:
        self.dir = os.path.join(run_dir, f"server{idx}")
        os.makedirs(self.dir)
        self.stats_path = os.path.join(self.dir, "stats.json")
        self.spans_path = os.path.join(self.dir, "spans.json") if trace else None
        self.changelog = os.path.join(self.dir, "changelog")
        os.makedirs(self.changelog)
        cmd = [sys.executable, os.path.join(HERE, "launcher.py"),
               "--workload", workload, "--namespace", namespace,
               "--changelog", self.changelog, "--stats", self.stats_path,
               "--sweep-out", os.path.join(self.dir, "sweep")]
        if trace:
            cmd += ["--spans", self.spans_path]
        self._log = open(os.path.join(self.dir, "server.log"), "w")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            env=env, cwd=self.dir, start_new_session=True, text=True,
        )
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def expect(self, event: str, timeout: float) -> dict:
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self._lines.get(timeout=max(0.1, deadline - time.monotonic()))
            except queue.Empty:
                raise RuntimeError(f"server: no {event!r} within {timeout:.0f} s") from None
            if line is None:
                raise RuntimeError(f"server exited before {event!r}; see {self._log.name}")
            try:
                msg = json.loads(line)
            except ValueError:
                continue  # stray library output
            if msg.get("event") == event:
                return msg

    def command(self, cmd: str, reply: str, timeout: float) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.expect(reply, timeout)

    def stop(self) -> dict:
        """Ask the launcher to write its stats and exit; then make sure its
        whole process group (JVM and Python workers included) is gone."""
        try:
            self.command("stop", "stopped", 60)
        except (RuntimeError, OSError):
            pass  # already gone: the group is ended below either way
        _kill_group(self.proc)
        self._log.close()
        try:
            with open(self.stats_path) as fh:
                return json.load(fh)
        except OSError:
            return {}


def _group_alive(pgid: int) -> bool:
    """Whether any process other than a zombie is left in group ``pgid``."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _kill_group(proc: subprocess.Popen) -> None:
    """End the launcher's process group (JVM and Python workers included)
    and wait until none of it is left."""
    for sig, grace in ((signal.SIGTERM, 3.0), (signal.SIGKILL, 20.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            proc.poll()  # reap the launcher itself
            if not _group_alive(proc.pid):
                break
            time.sleep(0.05)
        if not _group_alive(proc.pid):
            break
    proc.wait()


# --------------------------------------------------------------- client
class Recorder:
    """Every request sent in a run, in completion order."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0

    def rid(self) -> str:
        with self._lock:
            self._next += 1
            return f"r{self._next}"

    def add(self, rec: dict) -> None:
        with self._lock:
            self.records.append(rec)


def send(conn: http.client.HTTPConnection, req, rid: str) -> dict:
    headers = {"X-Bench-Id": rid}
    if req.gzip:
        headers["Accept-Encoding"] = "gzip"
    t0 = time.perf_counter()
    try:
        conn.request("GET", req.url, headers=headers)
        resp = conn.getresponse()
        body = resp.read()
        status = resp.status
    except Exception as exc:  # connection trouble is a failed request
        conn.close()
        status, body = 0, f"{type(exc).__name__}: {exc}".encode()
    t1 = time.perf_counter()
    return {"rid": rid, "req": req, "t0": t0, "t1": t1, "status": status, "body": body}


def get_info(port: int) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    try:
        conn.request("GET", "/info")
        resp = conn.getresponse()
        body = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"/info answered {resp.status}: {body[:200]!r}")
        return json.loads(body)
    finally:
        conn.close()


class Versions:
    """ingest_refresh bookkeeping. Before every PROBE_EVERY-th read the
    reader swaps in the tailer's snapshot (/refresh) and asks for the file
    count; the count
    says how many changelog segments the served namespace holds, because
    every segment grows it by a known amount. Reads until the next swap
    must match that version exactly."""

    def __init__(self, counts: list[int]) -> None:
        self.counts = counts  # counts[k] = files after k segments
        self.current = 0
        self.reads = 0
        self.seen_at: dict[int, float] = {}  # k -> first time version >= k was served

    def before_read(self, conn, recorder: Recorder) -> None:
        for kind in ("refresh", "probe"):
            rec = send(conn, wl.make_request(kind, None, None), recorder.rid())
            rec["counted"] = False
            rec["version"] = None
            if kind == "probe":
                k = self._version_of(rec)
                rec["version"] = k
                if k is not None:
                    self.current = k
                    for j in range(1, k + 1):
                        self.seen_at.setdefault(j, rec["t1"])
            recorder.add(rec)

    def _version_of(self, rec: dict) -> int | None:
        try:
            k = self.counts.index(int(rec["body"]))
        except ValueError:
            return None
        return k if k >= self.current else None


def closed_loop(port, dealer, recorder, versions=None, counted=True) -> None:
    """One closed-loop client: send, wait for the answer, send the next,
    until the dealer closes. ``versions`` (ingest_refresh) puts a /refresh
    and a count probe before every PROBE_EVERY-th read. ``counted`` says
    whether the reads are measured (False in the warm-up)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    while (req := dealer.deal()) is not None:
        if versions is not None and versions.reads % PROBE_EVERY == 0:
            versions.before_read(conn, recorder)
        if versions is not None:
            versions.reads += 1
        rec = send(conn, req, recorder.rid())
        rec["counted"] = counted
        rec["version"] = versions.current if versions is not None else None
        recorder.add(rec)
    conn.close()


def warm_up(port, workload, seed, ns, recorder, versions) -> None:
    """WARM_PASSES seeded passes of the deck, untimed, so the window times
    a warm server rather than first-query code generation and JIT
    compilation. Warm-up answers are checked like any other."""
    dealer = wl.Dealer(workload, f"warm:{seed}", ns, max_passes=WARM_PASSES)
    clients = [
        threading.Thread(target=closed_loop, args=(port, dealer, recorder, versions, False))
        for _ in range(CLIENTS[workload])
    ]
    for t in clients:
        t.start()
    for t in clients:
        t.join()


def land_segments(segments, changelog, t_start, landed, stop) -> None:
    """Open-loop writer: segment k lands at t_start + FIRST + k*EVERY
    (atomically: copied under a hidden name, then renamed) until ``stop``."""
    for k, src in enumerate(segments):
        due = t_start + SEGMENT_FIRST_S + k * SEGMENT_EVERY_S
        if stop.wait(max(0.0, due - time.perf_counter())):
            break
        tmp = os.path.join(changelog, f".seg{k:04d}.tmp")
        shutil.copyfile(src, tmp)
        os.rename(tmp, os.path.join(changelog, f"seg{k:04d}.parquet"))
        landed.append({"k": k + 1, "due": due, "late_s": time.perf_counter() - due})


def measure(server: Server, workload: str, seed: int, seconds: float, ns, segments=None,
            counts=None) -> dict:
    """One measured window against ``server``: whole passes of the deck,
    the last one starting before ``seconds`` have passed."""
    recorder = Recorder()
    versions = Versions(counts) if workload == "ingest_refresh" else None
    landed: list[dict] = []
    if workload == "sweep_heavy":
        # sweeps start before the warm-up, so the first (cold) one is not
        # in the window and the window sees sweeping in its steady state
        server.command("go", "going", 30)
    warm_up(server.port, workload, seed, ns, recorder, versions)
    log(f"warm-up: {len(recorder.records)} requests")
    t_start = time.perf_counter()
    t_end = t_start + seconds
    dealer = wl.Dealer(workload, seed, ns, closes_at=t_end)
    clients = [
        threading.Thread(target=closed_loop, args=(server.port, dealer, recorder, versions))
        for _ in range(CLIENTS[workload])
    ]
    writer_stop = threading.Event()
    writer = threading.Thread(
        target=land_segments,
        args=(segments or [], server.changelog, t_start, landed, writer_stop))
    for t in clients + [writer]:
        t.start()
    for t in clients:
        t.join()
    t_done = time.perf_counter()
    writer_stop.set()
    writer.join()
    if versions is not None:
        # swap and probe until every landed segment has been served once
        conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=REQUEST_TIMEOUT_S)
        deadline = time.perf_counter() + 60
        while versions.current < len(landed) and time.perf_counter() < deadline:
            versions.before_read(conn, recorder)
        conn.close()
    log(f"window: {len(recorder.records)} requests, {dealer.passes} deck passes, "
        f"{t_done - t_start:.3f} s")
    return {"records": recorder.records, "t_start": t_start, "t_end": t_done,
            "landed": landed, "seen_at": versions.seen_at if versions else {}}


# -------------------------------------------------------------- metrics
def _ms(rec: dict) -> float:
    return (rec["t1"] - rec["t0"]) * 1000


def reads(window: dict) -> list[dict]:
    """Measured reads: counted, and not the ingest maintenance traffic."""
    return [r for r in window["records"] if r["counted"] and r["req"].op not in ("refresh", "probe")]


def end_to_end(window: dict) -> dict:
    done = reads(window)
    elapsed = max(r["t1"] for r in done) - window["t_start"]
    return {
        "setup_s": (window["setup_s"], "s"),
        "qps": (len(done) / elapsed, "1/s"),
        "latency_gm_ms": (stats.geomean([_ms(r) for r in done]), "ms"),
    }


def extras(window: dict, tally) -> dict:
    """Figures printed beside the BENCHMARK.json metrics (not in the final line):
    the workload-specific end-to-end figures and the tail latency, which
    the run can only support at the percentiles its sample count allows."""
    done = reads(window)
    lat = [_ms(r) for r in done]
    q = stats.highest_supported_percentile(len(lat))
    out = {
        "samples": len(lat),
        "latency_p50_ms": stats.median(lat),
        "latency_tail": stats.tail(lat, q) if q else {"samples": len(lat), "supported": False},
        "failed_frac": tally.failed_frac,
    }
    if window.get("sweeps"):
        out["sweep_s"] = stats.median([s["s"] for s in window["sweeps"]])
        out["sweeps"] = len(window["sweeps"])
        out["sweep.jobs"] = stats.median([s["jobs"] for s in window["sweeps"]])
        out["sweep.bytes_written"] = stats.median([s["bytes"] for s in window["sweeps"]])
    by_op: dict[str, list[float]] = {}
    for r in done:
        by_op.setdefault(r["req"].op, []).append(_ms(r))
    out["op_p50_ms"] = {op: stats.median(v) for op, v in sorted(by_op.items())}
    out["latencies_ms"] = [[r["req"].kind, round(_ms(r), 3)] for r in done]
    if window.get("landed"):
        fresh = [(window["seen_at"][s["k"]] - s["due"]) * 1000
                 for s in window["landed"] if s["k"] in window["seen_at"]]
        out["freshness_ms"] = stats.median(fresh)
        out["segments_landed"] = len(window["landed"])
        out["writer_late_ms_max"] = max(s["late_s"] for s in window["landed"]) * 1000
        probes = [r for r in window["records"] if r["req"].kind == "probe" and r["version"] is not None]
        landed_by = lambda t: sum(1 for s in window["landed"] if s["due"] <= t)  # noqa: E731
        out["refresh.backlog_max"] = max((landed_by(r["t0"]) - r["version"] for r in probes), default=0)
        swaps = [_ms(r) for r in window["records"] if r["req"].kind == "refresh"]
        out["refresh.swap_ms"] = stats.median(swaps)
    return out


def check_all(window: dict, oracle, table_of, tally: stats.Tally) -> None:
    """Run the oracle over every request of the window (counted or not) and
    every landed changelog segment (it must have been served)."""
    for rec in window["records"]:
        if rec["req"].kind == "probe" and rec["version"] is None:
            tally.record(False, f"probe: count {rec['body'][:40]!r} matches no version")
            continue
        ok, why = oracle.check(rec["req"], table_of(rec["version"]), rec["status"], rec["body"])
        tally.record(ok, why)
        if not ok and tally.failed <= 5:
            log(f"FAILED {rec['req'].url}: {why}")
    for seg in window.get("landed", []):
        tally.record(seg["k"] in window["seen_at"], f"segment {seg['k']} never served")


def per_layer(window: dict, spans: list, launches: list[dict],
              untraced_gm: float, inodes: int, source_bytes: int) -> dict:
    """Per-layer numbers of the traced window; spans are
    [name, start, end, parent, request_id, extra] (see tracing.py)."""
    children: dict[int, float] = {}
    for s in spans:
        if s[3] >= 0:
            children[s[3]] = children.get(s[3], 0.0) + (s[2] - s[1])
    per_req: dict[str, dict] = {}
    for i, (name, start, end, _parent, rid, extra) in enumerate(spans):
        if not rid:
            continue
        acc = per_req.setdefault(rid, {})
        dur = (end - start) * 1000
        self_ms = dur - children.get(i, 0.0) * 1000
        layer = name.split(".", 1)[0]
        if name == "web.serve":
            acc["serve"] = dur
            acc.update({"jobs": (extra or {}).get("jobs", 0), "tasks": (extra or {}).get("tasks", 0)})
        elif name == "web.handle":
            acc["handle"] = dur
        elif layer == "spark":
            acc["exec"] = acc.get("exec", 0.0) + dur
            phases = (extra or {}).get("phases", {})
            acc["plan"] = acc.get("plan", 0.0) + phases.get("optimization", 0) + phases.get("planning", 0)
        elif layer in ("url", "engine", "render"):
            acc[layer] = acc.get(layer, 0.0) + self_ms
    done = reads(window)
    rows = [(r, per_req.get(r["rid"], {})) for r in done]

    def med(key: str) -> float:
        """Median over the requests that passed through the layer."""
        return stats.median([acc[key] for _r, acc in rows if key in acc])

    paths = [r for r in done if r["req"].op == "paths"]
    lines = sum(r["body"].count(b"\n") if not r["req"].gzip else
                __import__("gzip").decompress(r["body"]).count(b"\n") for r in paths)
    traced_gm = stats.geomean([_ms(r) for r in done])
    load_s = stats.median([x["source_load_s"] for x in launches])
    return {
        "session.start_s": (stats.median([x["session_start_s"] for x in launches]), "s"),
        "source.read_ms": (stats.median([x["source_read_ms"] for x in launches]), "ms"),
        "source.load_s": (load_s, "s"),
        "source.inodes_per_s": (inodes / load_s, "1/s"),
        "source.bytes_per_inode": (source_bytes / inodes, "B"),
        "url.parse_ms": (med("url"), "ms"),
        "engine.build_ms": (med("engine"), "ms"),
        # the tracker reports whole milliseconds, so a mean keeps resolution
        "spark.plan_ms": (statistics.mean(acc["plan"] for _r, acc in rows if "plan" in acc), "ms"),
        "spark.exec_ms": (stats.median([
            acc.get("exec", 0.0) + max(0.0, acc.get("serve", 0.0) - acc.get("handle", 0.0))
            for _r, acc in rows]), "ms"),
        "spark.jobs_per_req": (statistics.mean(acc.get("jobs", 0) for _r, acc in rows), "count"),
        "spark.tasks_per_req": (statistics.mean(acc.get("tasks", 0) for _r, acc in rows), "count"),
        "render.ms": (med("render"), "ms"),
        "web.handle_ms": (med("handle"), "ms"),
        "web.wire_ms": (stats.median([_ms(r) - acc.get("serve", 0.0) for r, acc in rows]), "ms"),
        "op.paths_ms": (stats.median([_ms(r) for r in paths]), "ms"),
        "dump.rows_per_s": (lines / sum(_ms(r) / 1000 for r in paths), "1/s"),
        "trace.overhead_pct": ((traced_gm - untraced_gm) / untraced_gm * 100, "%"),
    }


# ----------------------------------------------------------------- main
LIVE: list[Server] = []


def cpu_times() -> list[int]:
    """The host's aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other guests: a run
    with a high share was measured on a contended host."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


def _server_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    py_path = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=py_path,
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )


def _launch(run_dir, i, workload, namespace, env, traced, expect_total) -> tuple:
    srv = Server(run_dir, i, workload, namespace, env, traced)
    LIVE.append(srv)
    srv.port = srv.expect("listening", 170)["port"]
    info = get_info(srv.port)
    setup = time.perf_counter() - srv.t_launch
    if info.get("numTotal") != expect_total:
        raise RuntimeError(f"/info reports {info.get('numTotal')} inodes, expected {expect_total}")
    return srv, setup


def _stop(srv: Server) -> dict:
    stats_ = srv.stop()
    LIVE.remove(srv)
    return stats_


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    import bench  # the repo's host probe, shared with the legacy bench
    import duckdb

    probe_pre = bench._host_probe()
    cpu_pre = cpu_times()
    env = _server_env(run_dir)
    ref_dir, gen_ref = inputs.reference_dir(env)
    image, gen_img = inputs.image_file()
    # enough segments for a window of twice --seconds (whole deck passes)
    n_segments = int(2 * seconds // SEGMENT_EVERY_S) + 1
    segments, gen_seg = (
        inputs.segment_files(seed, n_segments) if workload == "ingest_refresh" else ([], 0.0)
    )
    log(f"inputs: generated in {gen_ref + gen_img + gen_seg:.3f} s "
        f"(namespace {gen_ref:.3f}, fsimage {gen_img:.3f}, changelog {gen_seg:.3f}; 0 = cached)")

    con = duckdb.connect()
    if workload == "ingest_refresh":
        files, dirs = inputs.image_counts()
        namespace, ns = image, wl.image_namespace(inputs.IMAGE["n_dirs"])
        source_bytes = os.path.getsize(image)
        versions = oracle_mod.ImageVersions(
            con, inputs.IMAGE["n_dirs"], inputs.IMAGE["files_per_dir"], segments)
        table_of = versions.table
    else:
        files, dirs = inputs.reference_counts()
        namespace = os.path.join(ref_dir, "table")
        ns = wl.reference_namespace(inputs.REFERENCE["levels"], inputs.REFERENCE["dirs_per_level"])
        source_bytes = tree_bytes(namespace)
        table = oracle_mod.load_reference(con, namespace)
        table_of = lambda _v: table  # noqa: E731
    counts = [files + k * (inputs.SEGMENT_ADDS - inputs.SEGMENT_DELETES)
              for k in range(len(segments) + 1)]

    # one server launch per measured window. A traced run first measures an
    # untraced window of its own, the baseline of trace.overhead_pct.
    launches, windows = [], []
    for traced in ((False, True) if trace else (False,)):
        i = len(windows)
        srv, setup = _launch(run_dir, i, workload, namespace, env, traced, files + dirs)
        log(f"setup {i + 1}: {setup:.3f} s")
        window = measure(srv, workload, seed, seconds, ns, segments, counts)
        stats_ = _stop(srv)
        launches.append(stats_)
        window["setup_s"] = setup
        # sweeps that ended inside the window
        window["sweeps"] = [x for x in stats_.get("sweeps", [])
                            if window["t_start"] < x["end"] <= window["t_end"]]
        window["folds"] = stats_.get("folds", [])
        window["spans_path"] = srv.spans_path
        windows.append(window)

    log("checking answers")
    oracle = oracle_mod.Oracle(con)
    tally = stats.Tally()
    for window in windows:
        check_all(window, oracle, table_of, tally)
    probe_post = bench._host_probe()
    steal = steal_pct(cpu_pre, cpu_times())
    log(f"host probe: before {json.dumps(probe_pre)} after {json.dumps(probe_post)}, "
        f"cpu steal {steal:.1f}%")

    window = windows[-1]
    extra = extras(window, tally)
    extra["generation_s"] = gen_ref + gen_img + gen_seg
    extra["host_probe"] = {"before": probe_pre, "after": probe_post, "steal_pct": steal}
    extra["launches"] = [{k: v for k, v in x.items() if k not in ("sweeps", "folds")}
                         for x in launches]
    if window["folds"]:
        extra["refresh.fold_ms"] = statistics.median(f["ms"] for f in window["folds"])
    spans = None
    if trace:
        with open(window["spans_path"]) as fh:
            spans = json.load(fh)
        untraced_gm = stats.geomean([_ms(r) for r in reads(windows[0])])
        metrics = per_layer(window, spans, launches, untraced_gm, files + dirs, source_bytes)
        extra["spans"] = len(spans)
    else:
        metrics = end_to_end(window)
    return {"metrics": metrics, "extra": extra, "tally": tally, "spans": spans}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nnanalytics_spark")) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print("perfbench: run from a full checkout (nnanalytics_spark/ and bench.py "
              "must sit next to perfbench/)", file=sys.stderr)
        return 2

    def _timeout(_sig, _frame):
        raise TimeoutError("benchmark run exceeded its time limit")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(175 if os.path.isdir(os.path.join(HERE, "data")) else 880)
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(OUT, f"{name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        signal.alarm(0)
        for srv in list(LIVE):
            _kill_group(srv.proc)
        shutil.rmtree(run_dir, ignore_errors=True)
    tally = result["tally"]
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    extra = result["extra"]
    extra["failures"] = tally.reasons
    for key, value in extra.items():
        if key not in ("launches", "host_probe", "latencies_ms"):
            log(f"{key}: {json.dumps(value)}")
    for key, m in metrics.items():
        log(f"metric {key} = {m['value']!r} {m['unit']}")
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{name}.json"), "w") as fh:
        json.dump({"metrics": metrics, "extra": extra, "attempted": tally.attempted,
                   "failed": tally.failed}, fh, indent=1)
    if result["spans"] is not None:
        with open(os.path.join(OUT, "results", f"{name}-spans.json"), "w") as fh:
            json.dump(result["spans"], fh)
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
