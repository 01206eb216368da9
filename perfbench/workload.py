"""Request decks for the three workloads.

A deck holds one card per request shape of the workload. No traffic data
for NNA exists (the reference publishes none), so the mix is uniform
rather than weighted by a guess. Each pass over the deck is shuffled with
the workload seed, and every shape draws its parameters (user, size
threshold, path, ...) from the same seeded generator, so one seed always
gives one request stream.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from urllib.parse import urlencode


@dataclass(frozen=True)
class Namespace:
    """What the request generator may ask about one namespace."""

    users: tuple[str, ...]
    thresholds: tuple[int, ...]  # fileSize:gt values
    dirs: tuple[str, ...]  # directory paths for /dump and /contentSummary
    parent_depths: tuple[int, ...]


def reference_namespace(levels: int, dirs_per_level: int) -> Namespace:
    """The fixture fan-out (fixture.generate_pandas)."""
    dirs = [""]
    all_dirs = []
    for _ in range(levels):
        dirs = [f"{p}/dir{i}" for p in dirs for i in range(dirs_per_level)]
        all_dirs.extend(dirs)
    return Namespace(
        users=("hdfs", "test_user", "etl", "analytics", "web"),
        # the size-class bounds of the reference's suggestions sweep
        thresholds=(0, 1024, 1_048_576, 134_217_728),
        dirs=tuple(all_dirs),
        parent_depths=tuple(range(1, levels)),
    )


def image_namespace(n_dirs: int) -> Namespace:
    """The closed-form fsimage namespace (fsimage.write_fsimage_binary)."""
    return Namespace(
        users=("u0", "u1", "u2"),
        thresholds=(0, 4096, 512_000),
        dirs=tuple(f"/dir{d}" for d in range(n_dirs)),
        parent_depths=(1,),
    )


@dataclass
class Request:
    kind: str  # shape name; the oracle dispatches on it
    op: str  # operation class for the op.<class>_ms metrics
    path: str
    params: dict = field(default_factory=dict)
    gzip: bool = False

    @property
    def url(self) -> str:
        return f"{self.path}?{urlencode(self.params)}" if self.params else self.path


SUMS = ("count", "fileSize", "diskspaceConsumed", "numReplicas")
TIME_RANGES = ("weekly", "monthly", "yearly")


def _filters(rng: random.Random, ns: Namespace) -> str:
    return f"fileSize:gt:{rng.choice(ns.thresholds)},user:eq:{rng.choice(ns.users)}"


def make_request(kind: str, rng: random.Random | None, ns: Namespace | None) -> Request:
    if kind == "probe":
        return Request(kind, "probe", "/filter", {"set": "files", "sum": "count"})
    if kind == "refresh":
        return Request(kind, "refresh", "/refresh")
    user = rng.choice(ns.users)
    if kind == "filter_sum":
        return Request(kind, "filter", "/filter", {
            "set": "files", "filters": _filters(rng, ns), "sum": rng.choice(SUMS)})
    if kind == "find":
        return Request(kind, "filter", "/filter", {
            "set": "files", "filters": f"user:eq:{user}",
            "find": f"{rng.choice(('max', 'min'))}:fileSize"})
    if kind == "hist_user":
        return Request(kind, "histogram", "/histogram", {
            "set": "files", "type": "user", "sum": rng.choice(SUMS),
            "filters": f"fileSize:gt:{rng.choice(ns.thresholds)}"})
    if kind == "hist_filetype":
        return Request(kind, "histogram", "/histogram", {
            "set": "files", "type": "fileType", "filters": f"user:eq:{user}"})
    if kind == "hist_modtime":
        return Request(kind, "histogram", "/histogram", {
            "set": "files", "type": "modTime", "timeRange": rng.choice(TIME_RANGES)})
    if kind == "hist_parentdir":
        return Request(kind, "histogram", "/histogram", {
            "set": "files", "type": "parentDir",
            "parentDirDepth": str(rng.choice(ns.parent_depths))})
    if kind == "hist_size":
        return Request(kind, "histogram", "/histogram", {
            "set": "files", "type": "fileSize", "filters": f"user:eq:{user}"})
    if kind == "hist2":
        return Request(kind, "histogram2", "/histogram2", {
            "set": "files", "type": "user,fileType"})
    if kind == "hist3":
        return Request(kind, "histogram", "/histogram3", {
            "set": "files", "type": "user", "sum": "count,fileSize", "find": "max:modTime"})
    if kind == "divide":
        return Request(kind, "divide", "/divide", {
            "set1": "files", "sum1": "diskspaceConsumed", "filters1": f"user:eq:{user}",
            "set2": "files", "sum2": "fileSize", "filters2": f"user:eq:{user}"})
    if kind == "summary":
        return Request(kind, "summary", "/contentSummary", {"path": rng.choice(ns.dirs)})
    if kind == "dump":
        return Request(kind, "dump", "/dump", {"path": rng.choice(ns.dirs)})
    if kind == "paths":
        return Request(kind, "paths", "/filter", {
            "set": "files", "filters": _filters(rng, ns), "limit": "1000"})
    if kind == "subtree":
        # no source gives a threshold, so: every directory with a file below it
        return Request(kind, "subtree", "/histogram", {
            "set": "dirs", "type": "user", "filters": "dirSubTreeNumFiles:gt:0"})
    if kind == "quota":
        return Request(kind, "subtree", "/histogram", {
            "set": "files", "type": "user", "filters": "isUnderNsQuota:eq:true"})
    if kind == "paths_all":  # every file path, unlimited
        return Request(kind, "paths", "/filter", {"set": "files"}, gzip=True)
    raise ValueError(f"unknown request kind {kind!r}")


#: one pass of each workload's deck: one card per shape
DECKS = {
    "rest_interactive": (
        "filter_sum", "find", "hist_user", "hist_filetype", "hist_modtime",
        "hist_parentdir", "hist_size", "hist2", "hist3", "divide", "summary",
        "dump", "paths",
    ),
    "sweep_heavy": ("subtree", "quota", "paths_all"),
}
DECKS["ingest_refresh"] = DECKS["rest_interactive"]


class Dealer:
    """Thread-safe stream of requests: seeded shuffles of the deck, dealt
    pass after pass. Once ``closes_at`` (a ``time.perf_counter()`` value)
    has passed, or ``max_passes`` have been dealt, the pass in progress is
    finished and no new one starts, so every run serves whole passes and
    the same mix of shapes."""

    def __init__(self, workload: str, seed: int | str, ns: Namespace,
                 closes_at: float = float("inf"), max_passes: int | None = None) -> None:
        import threading

        self._rng = random.Random(f"{workload}:{seed}")
        self._ns = ns
        self._cards = list(DECKS[workload])
        self._pending: list[str] = []
        self._lock = threading.Lock()
        self.closes_at = closes_at
        self.max_passes = max_passes
        self.passes = 0

    def deal(self) -> Request | None:
        import time

        with self._lock:
            if not self._pending:
                if time.perf_counter() >= self.closes_at or self.passes == self.max_passes:
                    return None
                self._pending = self._cards[:]
                self._rng.shuffle(self._pending)
                self.passes += 1
            return make_request(self._pending.pop(), self._rng, self._ns)
