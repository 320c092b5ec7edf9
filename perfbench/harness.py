"""Shared pieces of the workloads: request records, statistics, the Spark
session, memory peaks and the end-to-end metric reduction."""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

import tracing


@dataclass
class Request:
    kind: str
    req_id: str
    lat_s: float
    build_s: float = 0.0
    exec_s: float = 0.0
    traced: bool = False
    extra: dict = field(default_factory=dict)


@dataclass
class Ctx:
    """What a workload gets: its arguments, scratch dir, session and tracer."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    sf: float
    cpus: int
    root: str  # checkout root (holds the program)
    work: str  # per-run scratch dir, deleted at exit
    tracer: tracing.Tracer
    spark: object = None
    session_start_s: float = 0.0
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    overhead_pairs: list[tuple[str, float, float]] = field(default_factory=list)

    @property
    def sc(self):
        return self.spark.sparkContext

    def check(self, ok: bool, what: str) -> bool:
        """One correctness check: counts as attempted, and as failed when
        ``ok`` is false."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def timed(self, kind: str, req_id: str, fn, *, traced: bool | None = None):
        """Run ``fn`` as one request under its job group; returns
        ``(Request, result)``."""
        was = self.tracer.on
        self.tracer.on = self.trace if traced is None else traced
        try:
            t0 = time.perf_counter()
            with self.tracer.request(self.sc, self.workload, kind, req_id):
                out = fn()
            lat = time.perf_counter() - t0
        finally:
            traced_now = self.tracer.on
            self.tracer.on = was
        return Request(kind, req_id, lat, traced=traced_now), out


def start_session(ctx: Ctx):
    """Local Spark session with every scratch path inside the run dir."""
    from vectordb_similarity_search_spark.session import get_spark

    local = os.path.join(ctx.work, "spark-local")
    os.makedirs(local, exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{ctx.workload}",
        master=f"local[{ctx.cpus}]",
        shuffle_partitions=ctx.cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            # no hsperfdata under /tmp: the JVM writes nothing outside the run dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage for the status-store reduction
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.session_start_s = time.perf_counter() - t0
    ctx.spark = spark
    return spark


def stop_session(ctx: Ctx) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    if ctx.spark is None:
        return
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    ctx.spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    ctx.spark = None


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this driver process plus its Spark JVM."""
    from pyspark import SparkContext

    kb = _hwm_kb(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _hwm_kb(proc.pid)
    return kb / 1024.0


# -- statistics -------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it: the 11th
    largest value. Returns (value, percentile, samples beyond)."""
    xs = sorted(xs)
    n = len(xs)
    i = max(n - 11, 0)
    return xs[i], 100.0 * (i + 1) / n, n - 1 - i


def end_to_end(ctx: Ctx, reqs: list[Request], loop_s: float, setup_s: float) -> dict:
    """The workload-independent end-to-end metrics (BENCHMARK.json). A
    request kind's first call is its cold call; later calls are repeats."""
    first: dict[str, float] = {}
    rest: dict[str, list[float]] = {}
    for r in reqs:
        if r.kind in first:
            rest.setdefault(r.kind, []).append(r.lat_s)
        else:
            first[r.kind] = r.lat_s
    tail_v, tail_p, tail_n = tail([r.lat_s for r in reqs])
    # every request's latency by kind, in call order (the first is the cold call)
    by_kind: dict[str, list[float]] = {}
    for r in reqs:
        by_kind.setdefault(r.kind, []).append(round(1e3 * r.lat_s, 1))
    ctx.detail["latency_ms"] = by_kind
    ctx.detail.update(tail_ms=1e3 * tail_v, tail_percentile=round(tail_p, 2),
                      tail_samples_beyond=tail_n, requests=len(reqs), peak_rss_mb=peak_rss_mb())
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(reqs) / loop_s, "1/s"),
        "warm_p50_ms": (1e3 * median(x for v in rest.values() for x in v), "ms"),
        "first_pass_s": (sum(first.values()), "s"),
        "cold_geomean_ms": (1e3 * geomean(first.values()), "ms"),
        "warm_geomean_ms": (1e3 * geomean(median(v) for v in rest.values()), "ms"),
    }


def overhead_pct(pairs: list[tuple[str, float, float]]) -> float:
    """Tracing overhead from interleaved (kind, untraced, traced) latencies:
    geomean over kinds of median(traced) / median(untraced), minus one."""
    by: dict[str, tuple[list, list]] = {}
    for kind, u, t in pairs:
        a, b = by.setdefault(kind, ([], []))
        if u is not None:
            a.append(u)
        if t is not None:
            b.append(t)
    ratios = [median(b) / median(a) for a, b in by.values() if a and b and median(a) > 0]
    return 100.0 * (geomean(ratios) - 1.0) if ratios else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping Spark's crc/marker files."""
    size = files = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            if fn.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(dp, fn))
            files += 1
    return size, files
