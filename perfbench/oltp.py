"""oltp_accounts: one client runs retrieve / update / create through Repository.

Closed loop, one client. Keys are Zipf(1.1) over the imported accounts,
so a few hot streams collect snapshots while the tail folds long
histories. Every write adds a parquet file, so reads pay for writes.
After the timed phase, the projection phase (``projection_phase``)
projects and follows the same store, for per-layer figures and checks.
"""

from __future__ import annotations

import os
import time

import numpy as np

import datagen
import projection_phase
from accounts import HANDLERS, count_files, init_state, store_state
from harness import cpu_layers, cpu_snapshot, median, quantile, remove_tree, setup_median

N_ACCOUNTS = 300
MEAN_EVENTS = 60
SNAPSHOT_THRESHOLD = 50
SETUP_REPS = 3
WARMUP_OPS = 30
MIX = (("retrieve", 0.5), ("update", 0.4), ("create", 0.1))
ZIPF_S = 1.1


def op_sequence(seed: int, stream: int, n_ops: int, n_keys: int):
    """``(op, key index, amount, coin)`` tuples; the same seed replays them.

    Every block of ten ops holds the exact mix in a seeded order, so runs
    with different seeds time the same mix however few ops fit.
    """
    rng = np.random.default_rng([seed, stream])
    ranks = np.arange(1, n_keys + 1, dtype=float)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    perm = rng.permutation(n_keys)
    keys = perm[rng.choice(n_keys, n_ops, p=p)]
    block = [op for op, share in MIX for _ in range(round(share * 10))]
    kinds = [str(op) for _ in range(-(-n_ops // len(block))) for op in rng.permutation(block)]
    amounts = rng.integers(1, 200, n_ops)
    coins = rng.random(n_ops)
    return list(zip(kinds[:n_ops], keys.tolist(), amounts.tolist(), coins.tolist()))


class Client:
    """Runs ops against the repository and a Python model of the same ops."""

    def __init__(self, ctx, repo, seed, model):
        self.ctx = ctx
        self.repo = repo
        self.seed = seed
        self.model = dict(model)  # aggregate_id -> (balance, version)
        self.keys = sorted(model)
        self.created = 0
        self.touched: set[str] = set()
        self.errors: list[str] = []
        self.folded: list[int] = []
        self.jobs: dict[str, list[int]] = {"retrieve": [], "update": [], "create": []}

    def run(self, op, key, amount, coin, op_id) -> bool:
        tracer, jobs = self.ctx.tracer, self.ctx.jobs
        if jobs is None:
            return self._run(op, key, amount, coin)
        with jobs.group(op) as g, tracer.span(f"repository.{op}", op=op_id):
            ok = self._run(op, key, amount, coin)
        self.jobs[op].append(g["jobs"])
        return ok

    def _run(self, op, key, amount, coin) -> bool:
        if op == "create":
            agg = f"new-{self.seed:04d}-{self.created:06d}"
            self.created += 1
            owner = datagen.OWNERS[key % len(datagen.OWNERS)]
            got = self.repo.create(agg, [(datagen.CREATED, {"money": amount, "owner": owner})])
            self.model[agg] = (amount, 1)
            self.touched.add(agg)
            return got.state["balance"] == amount and got.version == 1
        agg = self.keys[key]
        bal, ver = self.model[agg]
        self.touched.add(agg)
        if op == "retrieve":
            got = self.repo.retrieve(agg)
            self.folded.append(got.events_since_snapshot)
            return got.state["balance"] == bal and got.version == ver
        if coin < 0.45 and bal >= amount:
            event, new_bal = (datagen.WITHDRAWN, {"money": amount}), bal - amount
        else:
            event, new_bal = (datagen.DEPOSITED, {"money": amount}), bal + amount
        got = self.repo.update(agg, lambda state: [event])
        self.model[agg] = (new_bal, ver + 1)
        return got.state["balance"] == new_bal and got.version == ver + 1

    def safe_run(self, *args) -> bool:
        try:
            return self.run(*args)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.errors.append(f"{args[0]}: {type(e).__name__}: {e}")
            return False


def run(ctx) -> dict:
    from eventsourcing_spark.store.repository import Repository
    from traced import TracedStore

    spark, tracer = ctx.spark, ctx.tracer
    n_acc = 40 if ctx.smoke else N_ACCOUNTS
    table, model = datagen.account_history(ctx.seed, n_acc, MEAN_EVENTS)
    src = os.path.join(ctx.work_dir, "input", "accounts.parquet")
    datagen.write_table(table, src)

    setup_times = []
    for rep in range(SETUP_REPS):
        base = os.path.join(ctx.work_dir, f"store{rep}")
        events = spark.read.parquet(src)
        store = TracedStore(spark, base, snapshot_threshold=SNAPSHOT_THRESHOLD, tracer=tracer)
        t0 = time.perf_counter()
        store.bulk_import(events)
        setup_times.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            remove_tree(base)
    t_setup = time.perf_counter()
    repo = Repository(store, datagen.ACCOUNT, HANDLERS, init_state)
    client = Client(ctx, repo, ctx.seed, model)

    # warm-up: the timed op mix at the timed scale, from its own op stream
    for i, op in enumerate(op_sequence(ctx.seed, 100, 5 if ctx.smoke else WARMUP_OPS, n_acc)):
        if not client.safe_run(*op, -1 - i):
            client.errors.append(f"warm-up op {i} {op[0]} returned a wrong state")

    t_warm = time.perf_counter()
    client.folded.clear()
    for counts in client.jobs.values():
        counts.clear()
    ops = op_sequence(ctx.seed, 200, 100_000, n_acc)
    lat: dict[str, list[float]] = {"retrieve": [], "update": [], "create": []}
    failed = 0
    cpu0 = cpu_snapshot()
    epoch0 = time.time()
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    n = 0
    while time.perf_counter() < deadline:
        op = ops[n]
        t0 = time.perf_counter()
        ok = client.safe_run(*op, n)
        lat[op[0]].append((time.perf_counter() - t0) * 1000.0)
        if not ok:
            failed += 1
        n += 1
    t_end = time.perf_counter()
    elapsed = t_end - t_start
    epoch1 = time.time()
    cpu1 = cpu_snapshot()

    # output check, untimed: the store's rows, folded independently
    got = store_state(store._events_dir, client.touched)
    want = {a: client.model[a] for a in client.touched}
    if got != want:
        bad = [a for a in want if got.get(a) != want[a]][:3]
        client.errors.append(f"final balances differ for {bad}")
    proj = projection_phase.run(ctx, store, client.model)

    all_ms = lat["retrieve"] + lat["update"] + lat["create"]
    e2e = {
        "setup_s": setup_median(setup_times),
        "op_ms": (median(all_ms), n),
        "ops_per_s": (n / elapsed, n),
    }
    layers = {
        **proj["layers"],
        "ingest_events_per_s": (table.num_rows / e2e["setup_s"][0], SETUP_REPS - 1),
        "op_p90_ms": (quantile(all_ms, 0.9), n),
        "retrieve_p50_ms": (median(lat["retrieve"]), len(lat["retrieve"])),
        "update_p50_ms": (median(lat["update"]), len(lat["update"])),
    }
    roots = []
    if tracer.enabled:
        timed = [s for s in tracer.spans if s["op"] is not None and s["op"] >= 0]
        roots = [s for s in timed if s["parent"] is None]
        appends = [s for s in timed if s["name"] == "store.append"]
        snaps = [s for s in timed if s["name"] == "store.save_snapshot"]
        layers.update({
            "store.bulk_import_s": setup_median(setup_times),
            "store.append_ms": _median_ms(appends),
            "store.save_snapshot_ms": _median_ms(snaps),
            "store.events_files": (count_files(store._events_dir), 1),
            "store.snapshot_files": (count_files(store._snapshots_dir), 1),
            "repository.retrieve_jobs": _mean(client.jobs["retrieve"]),
            "repository.update_jobs": _mean(client.jobs["update"]),
            "repository.events_folded_per_retrieve": _mean(client.folded),
        })
        layers.update(cpu_layers(cpu0, cpu1))
    return {
        "correct": not client.errors and not proj["errors"],
        "attempted": n + proj["attempted"], "failed": failed + proj["failed"],
        "e2e": e2e, "layers": layers, "errors": client.errors + proj["errors"],
        "timed_epoch": (epoch0, epoch1),
        "reconcile": (sum(s["end"] - s["start"] for s in roots), elapsed),
        "phases": {"setup": sum(setup_times), "warmup": t_warm - t_setup,
                   "timed": elapsed, **proj["phases"]},
    }


def _mean(xs):
    return (sum(xs) / len(xs) if xs else 0.0, len(xs))


def _median_ms(spans):
    ms = [(s["end"] - s["start"]) * 1000.0 for s in spans]
    return (median(ms) if ms else 0.0, len(ms))
