"""``ingest``: writers next to the reads that must see their writes.

Three kinds of write op: seeded 1% CDC batches through
``operators.merge.merge_parquet`` into a per-run lineitem table; vector
upserts (``ann.ivf_append`` + ``ann.ivf_delete``) into a per-run IVF index;
event micro-batches through each of the seven
``streaming.events.apply_*_batch`` ledger paths. After every write a read
must observe it; each such read is a request of the loop, like the writes.
Traced runs repeat the table and vector reads as the steady-state reads.

Every op runs twice back to back, its cold call and its first repeat, and
the ops follow one another in ``OPS`` order. So the repeats are spread over
the whole loop, and a slow spell of the machine reaches only some of them.
Like a stream's micro-batches, event batch i covers the six hours after
batch i-1, so batch 1 merges into the day partition batch 0 created. Batch
0 bootstraps every ledger; after batch 1 each ledger replays batch 0, which
must return False.
"""
from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from harness import Ctx, Request, dir_stats, median

KINDS = ("hll", "cms", "qsk", "theta", "hh", "sample", "stratified")
# the order of the write ops in a run: the costly ones (merge, upsert, hh,
# stratified) apart from one another
OPS = ("merge", "ledger.hll", "ledger.cms", "vector_upsert", "ledger.qsk", "ledger.hh",
       "ledger.theta", "ledger.sample", "ledger.stratified")
KEYS = ["l_orderkey", "l_linenumber"]
NPROBE = 2  # of datagen.N_CELLS: a probe reads 1/8 of the index
K = 10


def _apply_fns() -> dict:
    from vectordb_similarity_search_spark.streaming import events as ev

    return {
        "hll": ev.apply_sketch_batch, "cms": ev.apply_cms_batch,
        "qsk": ev.apply_qsk_batch, "theta": ev.apply_theta_batch,
        "hh": ev.apply_hh_batch, "sample": ev.apply_sample_batch,
        "stratified": ev.apply_stratified_batch,
    }


def _cents(x: np.ndarray) -> int:
    return int(np.round(np.asarray(x) * 100).astype(np.int64).sum())


def inputs(ctx: Ctx) -> dict:
    """Generate and write the run's inputs: the lineitem table and the base
    vector set. This is the benchmark's work, so it is not part of setup."""
    inp = datagen.ingest_inputs(ctx.sf, ctx.seed)
    w = ctx.work
    table = os.path.join(w, "lineitem")
    os.makedirs(table)
    pq.write_table(pa.table(inp.lineitem), os.path.join(table, "part-0.parquet"))
    batches = os.path.join(w, "batches")
    os.makedirs(batches)
    vec0 = os.path.join(w, "vectors.parquet")
    datagen.write_corpus(vec0, inp.vec_base, inp.vec_labels)
    return {"inp": inp, "table": table, "batches": batches, "vec0": vec0,
            "ledgers": {k: os.path.join(w, "ledgers", k) for k in KINDS},
            "applied": [], "deleted": [], "appended": [], "probes": []}


def setup(ctx: Ctx, st: dict) -> dict:
    """Write the per-run IVF index (``ivf_write_index``)."""
    from vectordb_similarity_search_spark.operators.ann import IvfModel, ivf_write_index

    st["fns"] = _apply_fns()
    vecs = ctx.spark.read.parquet(st["vec0"])
    t0 = time.perf_counter()
    # the generator's cluster centres stand in for a fitted model: this
    # workload times the index's write paths, not k-means. They are scaled
    # to unit length like the vectors, so a vector's nearest centre is its
    # own cluster's and the cells are balanced
    c = st["inp"].centers
    st["model"] = IvfModel(c / np.linalg.norm(c, axis=1, keepdims=True), "embedding")
    st["index"] = os.path.join(ctx.work, "ivf_index")
    ivf_write_index(st["model"], vecs, st["index"])
    ctx.layer["ann.index_build_s"] = time.perf_counter() - t0
    return st


# -- reads: each returns True when the write is visible -----------------------


def _read_table(ctx: Ctx, st: dict) -> bool:
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.merge import read_table_snapshot

    model = st["inp"].cdc.table
    row = read_table_snapshot(ctx.spark, st["table"]).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("c"),
    ).collect()[0]
    return row["n"] == len(model["l_orderkey"]) and row["c"] == _cents(model["l_extendedprice"])


def _ledger_mass(ctx: Ctx, st: dict, kind: str) -> tuple[int, int]:
    """One ledger's event mass: the kinds whose merge adds counts report
    their mass; the idempotent kinds (theta, sample) report their day count
    and (row count, largest id)."""
    from pyspark.sql import functions as F

    df = ctx.spark.read.parquet(st["ledgers"][kind])
    zero = F.lit(0).cast("long").alias("b")
    if kind in ("hll", "hh"):
        agg = df.agg(F.sum("n_events").alias("a"), zero)
    elif kind == "cms":
        agg = df.filter("r = 0").agg(F.sum("cnt").alias("a"), zero)
    elif kind == "qsk":
        agg = df.agg(F.sum("cnt").alias("a"), zero)
    elif kind == "stratified":
        agg = (df.groupBy("day", "event_type").agg(F.max("n").alias("n"))
               .agg(F.sum("n").alias("a"), zero))
    elif kind == "sample":
        agg = df.agg(F.count(F.lit(1)).alias("a"), F.max("id").alias("b"))
    else:  # theta
        agg = df.agg(F.countDistinct("day").alias("a"), zero)
    row = agg.collect()[0]
    return int(row["a"] or 0), int(row["b"] or 0)


def _read_ledger(ctx: Ctx, st: dict, kind: str, batch_first_id: int) -> bool:
    a, b = st["masses"][kind] = _ledger_mass(ctx, st, kind)
    if kind == "sample":
        return a > 0 and b >= batch_first_id  # the new batch is in
    if kind == "theta":
        return a > 0
    return a == st["mass"][kind]


def _read_index(ctx: Ctx, st: dict, probe: np.ndarray, want: int, gone_ids: list[int]) -> bool:
    """One IVF probe with an appended vector: it must be its own top hit,
    and none of its nearest base vectors, which the upsert deleted, may be
    among the top 10."""
    from vectordb_similarity_search_spark.operators.ann import ivf_search_index

    t0 = time.perf_counter()
    df = ivf_search_index(ctx.spark, st["index"], st["model"], probe.tolist(), K, nprobe=NPROBE)
    t1 = time.perf_counter()
    with ctx.tracer.span("collect", "exec"):
        rows = df.collect()
    st["probes"].append((t1 - t0, time.perf_counter() - t1, probe))
    hits = {int(r["vec_id"]) for r in rows}
    top = max(rows, key=lambda r: r["score"], default=None)
    return top is not None and int(top["vec_id"]) == want and not hits & set(gone_ids)


# -- write ops ------------------------------------------------------------------


def _merge(ctx: Ctx, st: dict, i: int):
    from vectordb_similarity_search_spark.operators.merge import merge_parquet

    batch = st["inp"].cdc.next_batch()
    path = os.path.join(st["batches"], f"cdc-{i}.parquet")
    pq.write_table(batch, path)
    upd = ctx.spark.read.parquet(path)
    r, _ = ctx.timed("merge", f"merge-{i}", lambda: merge_parquet(
        ctx.spark, st["table"], upd, KEYS, delete_col="_del"))
    r.extra["changed"] = batch.num_rows
    return r, lambda: _read_table(ctx, st)


def _vector(ctx: Ctx, st: dict, i: int):
    from vectordb_similarity_search_spark.operators.ann import ivf_append, ivf_delete

    inp = st["inp"]
    ids, vecs, labels = inp.vector_batch(i)
    path = os.path.join(st["batches"], f"vectors-{i}.parquet")
    pq.write_table(datagen.vector_table(ids, vecs, labels), path)
    rows = ctx.spark.read.parquet(path)
    # delete the live base vectors nearest to the first appended one, so
    # the read's probe would return them if the delete were not visible
    live = np.setdiff1d(np.arange(len(inp.vec_base)), st["deleted"])
    near = np.argsort(-(inp.vec_base[live] @ vecs[0]), kind="stable")
    gone = [int(g) for g in live[near[:datagen.DELETES_PER_UPSERT]]]
    times = {}

    def upsert():
        t0 = time.perf_counter()
        ivf_append(st["model"], rows, st["index"])
        t1 = time.perf_counter()
        ivf_delete(ctx.spark, st["index"], gone)
        times["append"], times["delete"] = t1 - t0, time.perf_counter() - t1

    r, _ = ctx.timed("vector_upsert", f"vector-{i}", upsert)
    r.extra.update(times)
    st["appended"] += ids.tolist()
    st["deleted"] += gone
    return r, lambda: _read_index(ctx, st, vecs[0], int(ids[0]), gone)


def _event_batch(st: dict, b: int) -> tuple[str, int]:
    """Event batch ``b``, written once: (its parquet path, its first event id)."""
    if b == len(st["applied"]):
        path = os.path.join(st["batches"], f"events-{b}.parquet")
        pq.write_table(pa.table(st["inp"].event_batch(b)), path)
        st["applied"].append(path)
    return st["applied"][b], b * datagen.EVENTS_PER_BATCH


def _ledger(ctx: Ctx, st: dict, kind: str, b: int):
    """Event batch ``b`` through one ledger kind; after batch 1 the ledger
    replays batch 0, which must be refused."""
    path, first_id = _event_batch(st, b)
    fn = st["fns"][kind]
    batch = ctx.spark.read.parquet(path)
    r, applied = ctx.timed(f"ledger.{kind}", f"ledger-{kind}-{b}",
                           lambda: fn(batch, b, st["ledgers"][kind]))
    ctx.check(applied is True, f"ingest: {kind} batch {b} not applied")
    st["mass"][kind] += datagen.EVENTS_PER_BATCH
    if b == 1:  # one replayed batch id per kind: the bootstrapping batch 0
        t0 = time.perf_counter()
        again = fn(ctx.spark.read.parquet(st["applied"][0]), 0, st["ledgers"][kind])
        r.extra["replay"] = time.perf_counter() - t0
        ctx.check(again is False, f"ingest: {kind} replay of batch 0 returned {again}")
    return r, lambda: _read_ledger(ctx, st, kind, first_id)


def run(ctx: Ctx, st: dict) -> tuple[list[Request], float]:
    reqs: list[Request] = []
    reads: list[tuple[str, float, float]] = []
    st["mass"], st["masses"] = {k: 0 for k in KINDS}, {}

    def step(op: str, b: int) -> None:
        if op == "merge":
            r, read = _merge(ctx, st, b)
        elif op == "vector_upsert":
            r, read = _vector(ctx, st, b)
        else:
            r, read = _ledger(ctx, st, op.removeprefix("ledger."), b)
        reqs.append(r)
        # the first read after the write
        first, ok = ctx.timed(f"read.{op}", f"read-{r.req_id}", read, traced=False)
        ctx.check(ok, f"ingest: read after {r.req_id} did not see the write")
        reqs.append(first)
        # traced runs repeat the table and vector reads untraced (the
        # steady read) and traced, to measure the tracing overhead
        steady = None
        if ctx.trace and op in ("merge", "vector_upsert"):
            again, ok2 = ctx.timed(f"read.{op}", f"reread-{r.req_id}", read, traced=False)
            ctx.check(ok2, f"ingest: repeated read after {r.req_id} did not see the write")
            steady = again.lat_s
            t, ok3 = ctx.timed(f"read.{op}", f"traced-{r.req_id}", read, traced=True)
            ctx.check(ok3, f"ingest: traced read after {r.req_id} did not see the write")
            ctx.overhead_pairs += [(op, steady, None), (op, None, t.lat_s)]
        reads.append((op, first.lat_s, steady if op == "merge" else None))

    t0 = time.perf_counter()
    for op in OPS:  # each op's cold call and first repeat, back to back
        step(op, 0)
        step(op, 1)
    b = 2
    while time.perf_counter() - t0 < ctx.seconds:  # further rounds while time is left
        for op in OPS:
            step(op, b)
        b += 1
    st["reads"] = reads
    return reqs, time.perf_counter() - t0


def check(ctx: Ctx, st: dict, reqs: list[Request]) -> None:
    """Final state: the merged table equals DuckDB over the same directory
    and the generator's model; ledger masses equal DuckDB's counts of the
    applied batches; appended ids are found, deleted ids are absent."""
    import duckdb
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.ann import _apply_tombstones, _index_scan
    from vectordb_similarity_search_spark.operators.merge import read_table_snapshot

    con = duckdb.connect()
    model = st["inp"].cdc.table
    agg = ("count(*) AS n, sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS c, "
           "sum(l_orderkey * 8 + l_linenumber) AS k")
    duck = con.execute(f"SELECT {agg} FROM read_parquet('{st['table']}/*.parquet')").fetchone()
    sp = read_table_snapshot(ctx.spark, st["table"]).agg(
        F.count(F.lit(1)), F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
        F.sum(F.col("l_orderkey") * 8 + F.col("l_linenumber"))).collect()[0]
    want = (len(model["l_orderkey"]), _cents(model["l_extendedprice"]),
            int((model["l_orderkey"] * 8 + model["l_linenumber"]).sum()))
    ctx.check(tuple(sp) == tuple(duck) == want, f"ingest: merged table spark={tuple(sp)} duckdb={duck} model={want}")

    files = ", ".join(f"'{p}'" for p in st["applied"])
    n, users, days, ids_max = con.execute(
        f"SELECT count(*), count(user_id), count(DISTINCT CAST(ts AS DATE)), max(event_id) "
        f"FROM read_parquet([{files}])").fetchone()
    masses = st["masses"]  # each ledger's read after its last write
    for kind in KINDS:
        a, b = masses[kind]
        if kind == "sample":
            ok = 0 < a <= n and b <= ids_max
        elif kind == "theta":
            ok = 0 < a <= days
        else:
            ok = a == (users if kind == "hh" else n)
        ctx.check(ok, f"ingest: {kind} ledger mass {(a, b)} vs duckdb {n}")

    live = _apply_tombstones(ctx.spark, st["index"], _index_scan(ctx.spark, st["index"]), "vec_id")
    present = {int(r[0]) for r in live.select("vec_id").collect()}
    ctx.check(set(st["appended"]) <= present, "ingest: appended vector ids missing")
    ctx.check(not set(st["deleted"]) & present, "ingest: deleted vector ids still visible")


def layer_metrics(ctx: Ctx, st: dict, reqs: list[Request], status: dict, py4j: dict) -> None:
    # the IVF probes of the vector reads, built afresh per request
    ctx.layer["search.build_ms"] = 1e3 * median(p[0] for p in st["probes"])
    ctx.layer["search.exec_ms"] = 1e3 * median(p[1] for p in st["probes"])
    reads = [k for k in status if k.startswith("read-vector-")]
    ctx.layer["search.jobs_per_request"] = median(status[k]["jobs"] for k in reads)
    ctx.layer["search.py4j_per_request"] = median(
        n for k, n in py4j.items() if k.startswith("traced-vector-"))
    cells = {int(r["cell"]): int(r["count"]) for r in
             ctx.spark.read.parquet(st["index"]).groupBy("cell").count().collect()}
    ctx.layer["ann.rows_scanned_per_hit"] = median(
        sum(cells.get(c, 0) for c in st["model"].probe_cells(q.tolist(), NPROBE)) / K
        for _, _, q in st["probes"])
    merges = [r for r in reqs if r.kind == "merge"]
    vectors = [r for r in reqs if r.kind == "vector_upsert"]
    ctx.layer["merge.apply_s"] = median(r.lat_s for r in merges)
    size, files = dir_stats(st["table"])
    ctx.layer["merge.files_written"] = files
    ctx.layer["merge.bytes_written_per_changed_row"] = size / max(median(r.extra["changed"] for r in merges), 1)
    ctx.layer["ann.append_s"] = median(r.extra["append"] for r in vectors)
    ctx.layer["ann.delete_s"] = median(r.extra["delete"] for r in vectors)
    for kind in KINDS:
        ctx.layer[f"ledger.{kind}.apply_s"] = median(r.lat_s for r in reqs if r.kind == f"ledger.{kind}")
    ctx.layer["ledger.replay_s"] = median(r.extra["replay"] for r in reqs if "replay" in r.extra)
    n_events = datagen.EVENTS_PER_BATCH * len(st["applied"])
    ctx.layer["ledger.bytes_per_event"] = sum(dir_stats(p)[0] for p in st["ledgers"].values()) / n_events
    # the table read after each merge, and the same read repeated
    table_reads = [r for r in st["reads"] if r[0] == "merge"]
    ctx.layer["merge.first_read_ms"] = 1e3 * median(r[1] for r in table_reads)
    ctx.layer["merge.steady_read_ms"] = 1e3 * median(r[2] for r in table_reads)
