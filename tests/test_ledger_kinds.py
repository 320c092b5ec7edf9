"""One contract for every sketch-ledger kind (operators/sketches.LEDGER_KINDS).

Per kind, through the generic entry points:

- the ``_ledger_meta.json`` sidecar at the default configuration is
  byte-identical to the format existing stores carry (golden strings);
- ``ledger_write`` returns the row count of the written ledger;
- an upsert onto a store carrying that sidecar is accepted;
- a replayed ``apply_ledger_batch`` returns False and leaves the cells
  unchanged;
- an empty first batch creates no directory;
- a hand-built torn commit is repaired by ``sketch_ledger_repair``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import pytest

from vectordb_similarity_search_spark.operators.sketches import (
    LEDGER_KINDS,
    ledger_upsert_batch,
    ledger_write,
    sketch_ledger_repair,
)
from vectordb_similarity_search_spark.streaming.events import apply_ledger_batch

GOLDEN_META = {
    "hll": '{"kind": "hll", "key_col": "user_id", "type_col": "event_type",'
    ' "ts_col": "ts", "lg_k": 12}',
    "cms": '{"kind": "cms", "key_col": "user_id", "ts_col": "ts",'
    ' "depth": 4, "width": 4096}',
    "qsk": '{"kind": "qsk", "value_col": "value", "type_col": "event_type",'
    ' "ts_col": "ts", "k": 32}',
    "theta": '{"kind": "theta", "key_col": "user_id", "type_col":'
    ' "event_type", "ts_col": "ts", "num": 3, "den": 4}',
    "hh": '{"kind": "hh", "key_col": "user_id", "type_col": "event_type",'
    ' "ts_col": "ts", "k": 64}',
    "sample": '{"kind": "sample", "id_col": "event_id", "ts_col": "ts",'
    ' "payload": ["event_type", "value"], "num": 3, "den": 4}',
    "stratified": '{"kind": "stratified", "id_col": "event_id", "ts_col":'
    ' "ts", "strata": ["event_type"], "payload": ["value"], "cap": 1024}',
}

ROWS_A = [
    (i, dt.datetime(2026, 2, 1 + i % 2, 9 + i % 5), i % 7,
     ("click", "view")[i % 3 % 2], float(i))
    for i in range(40)
]
ROWS_B = [
    (100 + i, dt.datetime(2026, 2, 2 + i % 2, 15), i % 5, "view", 0.5 * i)
    for i in range(20)
]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )


def _meta(path):
    with open(os.path.join(path, "_ledger_meta.json")) as fh:
        return fh.read()


def _cells(spark, path):
    return sorted(repr(r) for r in spark.read.parquet(path).collect())


def test_kind_table_covers_every_golden_sidecar():
    assert list(LEDGER_KINDS) == list(GOLDEN_META)


@pytest.mark.parametrize("kind", list(LEDGER_KINDS))
def test_ledger_kind_contract(spark, tmp_path, kind):
    empty = str(tmp_path / "empty")
    assert ledger_upsert_batch(kind, _batch(spark, []), empty) == 0
    assert not os.path.exists(empty)

    path = str(tmp_path / "ledger")
    built = LEDGER_KINDS[kind].build(_batch(spark, ROWS_A))
    n = ledger_write(kind, built, path)
    assert _meta(path) == GOLDEN_META[kind]
    assert n == spark.read.parquet(path).count() > 0

    # the stored sidecar is the golden one: same-config maintenance passes
    assert ledger_upsert_batch(kind, _batch(spark, ROWS_B), path) == 2
    assert _meta(path) == GOLDEN_META[kind]

    stream = str(tmp_path / "stream")
    assert apply_ledger_batch(kind, _batch(spark, ROWS_A), 0, stream) is True
    assert _meta(stream) == GOLDEN_META[kind]
    assert apply_ledger_batch(kind, _batch(spark, ROWS_B), 1, stream) is True
    before = _cells(spark, stream)
    assert apply_ledger_batch(kind, _batch(spark, ROWS_B), 1, stream) is False
    assert _cells(spark, stream) == before

    # torn commit: the staged slice and pending marker are in place and
    # the live day dir is already gone (crash between rmtree and replace)
    day = "day=2026-02-02"
    shutil.copytree(
        os.path.join(stream, day), os.path.join(stream, "_staging", day)
    )
    with open(os.path.join(stream, "_upsert_pending.json"), "w") as fh:
        json.dump({"days": ["2026-02-02"], "staging": "_staging"}, fh)
    shutil.rmtree(os.path.join(stream, day))
    assert sketch_ledger_repair(stream) == 1
    assert not os.path.exists(os.path.join(stream, "_upsert_pending.json"))
    assert not os.path.exists(os.path.join(stream, "_staging"))
    assert _cells(spark, stream) == before
