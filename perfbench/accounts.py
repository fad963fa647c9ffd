"""The Account domain the workloads drive.

The handlers mirror the reference test aggregate: a withdrawal larger
than the balance is refused. ``fold_rows`` is the benchmark's own fold,
used to check outputs without going through the package. Python workers
unpickle the handlers by module name, so this module imports no Spark.
"""

from __future__ import annotations

import json
import os

from datagen import CREATED, DEPOSITED, WITHDRAWN


def _created(state, kind, body):
    return {"status": "OPEN", "balance": body["money"], "owner": body["owner"]}


def _deposited(state, kind, body):
    return {**state, "balance": state["balance"] + body["money"]}


def _withdrawn(state, kind, body):
    if state["balance"] < body["money"]:
        return state
    return {**state, "balance": state["balance"] - body["money"]}


HANDLERS = {CREATED: _created, DEPOSITED: _deposited, WITHDRAWN: _withdrawn}


def init_state() -> dict:
    return {"status": "", "balance": 0, "owner": ""}


def fold_rows(rows, start=None) -> dict[str, tuple[int, int]]:
    """``{aggregate_id: (balance, version)}`` from (aggregate_id, version,
    kind, body) rows, folded on top of ``start`` when given."""
    out: dict[str, tuple[int, int]] = dict(start or {})
    for agg, version, kind, body in sorted(rows, key=lambda r: (r[0], r[1])):
        money = json.loads(bytes(body))["money"]
        bal = out.get(agg, (0, 0))[0]
        if kind == CREATED:
            bal = money
        elif kind == DEPOSITED:
            bal += money
        elif kind == WITHDRAWN and bal >= money:
            bal -= money
        out[agg] = (bal, version)
    return out


def table_rows(table):
    """(aggregate_id, version, kind, body) rows of an arrow table."""
    return zip(*(table.column(c).to_pylist()
                 for c in ("aggregate_id", "aggregate_version", "kind", "body")))


def store_state(events_dir: str, aggregates=None, until: str | None = None):
    """The store's active events folded by this module, read with pyarrow
    straight from the files; restricted to ``aggregates`` and to event
    ids up to ``until`` when given."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(events_dir, format="parquet", partitioning="hive")
    flt = ds.field("migration") == 0
    if aggregates is not None:
        flt = flt & ds.field("aggregate_id").isin(sorted(aggregates))
    if until is not None:
        flt = flt & (ds.field("id") <= until)
    columns = ["aggregate_id", "aggregate_version", "kind", "body"]
    return fold_rows(table_rows(dataset.to_table(columns=columns, filter=flt)))


def count_files(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n
