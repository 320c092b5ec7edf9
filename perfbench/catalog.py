"""``catalog``: one analyst session over registry queries in a fresh process.

Each query's first call is cold: it goes through ``REGISTRY[name].fn``
(state materialization + plan construction) and its result is collected
with ``toPandas()`` (execution). Three warm repeats of the same query
follow it at once. The list is bench.py's headline set plus the queries the
ROADMAP directions consume, in that fixed order: whichever query runs first
also pays the JVM's own first-job costs, so a seeded order would make the
cold figures depend on the seed. Running each query's repeats next to its
cold call spreads the warm requests over the whole loop; in separate warm
passes at the end they took about eight seconds, and one slow spell of the
machine there moved every warm figure of a run. After the timed loop the
result of every call is compared with its DuckDB twin over the same
generated tables.

Results are collected rather than written to the noop sink so that every
call's output can be checked without another execution of every query;
the results are small (at most a few thousand rows), so the collection
adds little to the execution it measures.
"""
from __future__ import annotations

import functools
import os
import re
import sys
import time

import datagen
from bench import HEADLINE  # the frozen harness's headline set; importing it runs nothing
from harness import Ctx, Request

# The two ledger consumers are left out. e_stream_sketch_audit's cold call
# materializes seven ledgers through 28 batch applies (~20-50 s on a 4-core
# box, half the whole pass); e_qsk_type_percentiles materializes the qsk
# ledger (~5 s). A measurement campaign repeats a run dozens of times within
# a fixed time budget, and the ingest workload times those apply paths per
# ledger kind.
DIRECTIONS = [
    "v_ivf_knn", "r_rfm_segments", "d_novelty_curve",
    "r_percentiles", "t_doclen_percentiles", "e_session_stats",
]
# Oracles that replay an expected-output fixture generated from the
# repository's own sf0.01 tables: they cannot hold on generated tables, so
# these queries get a schema and row-count check instead (labelled so):
# (fewest, most) rows — the top-10 probe returns 10; the LSH pair search
# finds at most the 25 planted near-duplicate pairs plus chance pairs.
FIXTURE_BOUND = {"v_ivf_knn": (10, 10), "d_minhash_lsh_pairs": (1, 50)}
# warm repeats are cheap (~0.1 s a query); three give each query's warm
# figure a median instead of a single sample
WARM_REPEATS = 3
# Twins that round a DOUBLE cast of an exact aggregate round the binary
# value: where the exact value is a half-way tie (x.xx5) DuckDB can land one
# unit below Spark, which rounds the exact value. Such a mismatch is
# re-checked against the twin with the rounding done exactly and counted in
# the detail as ``twin_rounding_ties``. Two forms occur: a rounded sum,
# whose rounding moves onto the DECIMAL, and a rounded mean
# ``sum / count(*)``, which is rounded as round(sum * 10^n / count) / 10^n.
# The sum times 10^n is a whole number below 2^53, so the quotient is exact
# whenever it is a tie.
_ONE_CAST = r"((?:(?!round\(| AS DOUBLE\)).)*?)"  # an operand holding no other cast
_ROUND_DOUBLE = re.compile(rf"round\(CAST\({_ONE_CAST} AS DOUBLE\),\s*(\d+)\)", re.S)
_ROUND_MEAN = re.compile(
    rf"round\(CAST\({_ONE_CAST} AS DOUBLE\)\s*/\s*count\(\*\),\s*(\d+)\)", re.S)


def exact_rounding(sql: str) -> str:
    """``sql`` with its rounded DOUBLE casts rounded exactly instead."""
    sql = _ROUND_MEAN.sub(
        lambda m: f"(round(({m[1]}) * {10 ** int(m[2])} / count(*)) / {10 ** int(m[2])})", sql)
    return _ROUND_DOUBLE.sub(r"CAST(round(\1, \2) AS DOUBLE)", sql)


def inputs(ctx: Ctx) -> dict:
    """Generate and write the run's tables (not part of setup)."""
    # the directory name must not match a committed fixture tag (sf0.01 …)
    sf_dir = os.path.join(ctx.work, "gen_tables")
    datagen.write_tables(sf_dir, ctx.sf, ctx.seed)
    return {"sf_dir": sf_dir, "names": HEADLINE + DIRECTIONS}


def setup(ctx: Ctx, st: dict) -> dict:
    """Nothing beyond the session: the cold pass is the catalog's first use."""
    return st


def _call(ctx: Ctx, name: str, sf_dir: str):
    from vectordb_similarity_search_spark.plans import REGISTRY

    t0 = time.perf_counter()
    with ctx.tracer.span(f"plans.{name}", "plans"):
        df = REGISTRY[name].fn(ctx.spark, sf_dir)
    t1 = time.perf_counter()
    with ctx.tracer.span("toPandas", "exec"):
        pdf = df.toPandas()
    return t1 - t0, time.perf_counter() - t1, df, pdf


def run(ctx: Ctx, st: dict) -> tuple[list[Request], float]:
    sf_dir, names = st["sf_dir"], st["names"]
    reqs: list[Request] = []
    st["cold_handles"], st["warm_handles"], st["results"] = {}, {}, []

    def call(name: str, req_id: str, traced: bool | None = None) -> Request:
        r, (b, e, df, pdf) = ctx.timed(name, req_id, lambda: _call(ctx, name, sf_dir),
                                       traced=traced)
        r.build_s, r.exec_s = b, e
        st["results"].append((req_id, name, pdf))
        if req_id.startswith("cold:"):
            st["cold_handles"][name] = df
        else:
            st["warm_handles"].setdefault(name, []).append(df)
        return r

    def warm(name: str, n: int, j: int) -> None:
        if not ctx.trace:
            reqs.append(call(name, f"warm{n}:{name}"))
            return
        # traced runs pair each warm request with an untraced twin, run
        # before or after it by turns, to measure the tracing overhead
        for traced in (False, True) if j % 2 == 0 else (True, False):
            r = call(name, f"warm{n}{'' if traced else 'u'}:{name}", traced)
            ctx.overhead_pairs.append((name, None, r.lat_s) if traced else (name, r.lat_s, None))
            if traced:
                reqs.append(r)

    t0 = time.perf_counter()
    for i, name in enumerate(names):
        reqs.append(call(name, f"cold:{name}"))
        for n in range(1, WARM_REPEATS + 1):
            warm(name, n, i + n)
    n = WARM_REPEATS
    while time.perf_counter() - t0 < ctx.seconds:  # further warm passes while time is left
        n += 1
        for i, name in enumerate(names):
            warm(name, n, i + n)
    return reqs, time.perf_counter() - t0


def check(ctx: Ctx, st: dict, reqs: list[Request]) -> None:
    """Every collected result against its DuckDB twin, normalized as
    tests/oracle.py does (columns sorted by name, rows sorted, exact
    values)."""
    import pandas as pd

    sys.path.insert(0, os.path.join(ctx.root, "tests"))
    import oracle

    from vectordb_similarity_search_spark.plans import REGISTRY

    con = oracle.duck_con(st["sf_dir"])

    @functools.cache
    def twin(sql: str):
        return con.execute(sql).fetchdf()

    def same(got, sql: str) -> bool:
        exp = oracle._normalize(twin(sql))
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            return False
        try:
            pd.testing.assert_frame_equal(got, exp, check_exact=True, check_dtype=False)
        except AssertionError:
            return False
        return True

    labels, ties = {}, 0
    for req_id, name, got in st["results"]:
        what = f"catalog {req_id}"
        sql = REGISTRY[name].oracle
        try:
            if name in FIXTURE_BOUND:
                labels[name] = f"schema+rows({len(got)})"
                exp = twin(sql)
                lo, hi = FIXTURE_BOUND[name]
                ok = sorted(got.columns) == sorted(exp.columns) and lo <= len(got) <= hi
                ctx.check(ok, f"{what}: schema/row count ({list(got.columns)}, {len(got)} rows)")
                continue
            labels[name] = "duckdb"
            got = oracle._normalize(got)
            ok = same(got, sql)
            exact = exact_rounding(sql)
            if not ok and exact != sql and same(got, exact):
                ok, ties = True, ties + 1
            ctx.check(ok, f"{what}: differs from its DuckDB twin")
        except Exception as exc:  # a failing query is a failed check
            ctx.check(False, f"{what}: {type(exc).__name__}: {str(exc)[:200]}")
    ctx.detail["oracle"] = labels
    ctx.detail["twin_rounding_ties"] = ties


def layer_metrics(ctx: Ctx, st: dict, reqs: list[Request], status: dict, py4j: dict) -> None:
    """State/build split by rebuilding every plan after clearing the plan
    cache; warm-pass handle identity; per-query execution figures."""
    from vectordb_similarity_search_spark.plans import REGISTRY
    from vectordb_similarity_search_spark.plans.catalog import clear_plan_cache

    cold = {r.kind: r for r in reqs if r.req_id.startswith("cold:")}
    hits = sum(h is st["cold_handles"][n] for n, hs in st["warm_handles"].items() for h in hs)
    calls = sum(len(hs) for hs in st["warm_handles"].values())
    ctx.layer["plans.cache_hit_ratio"] = hits / max(calls, 1)
    clear_plan_cache()
    state = build = 0.0
    p0 = ctx.tracer.py4j_total
    for name in st["names"]:
        t0 = time.perf_counter()
        REGISTRY[name].fn(ctx.spark, st["sf_dir"])
        rebuild = time.perf_counter() - t0
        build += rebuild
        state += max(cold[name].build_s - rebuild, 0.0)
    ctx.layer["plans.state_s"] = state
    ctx.layer["plans.build_s"] = build
    ctx.layer["plans.build_py4j"] = ctx.tracer.py4j_total - p0
