#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Every input the program under test receives is made here from
``--seed``: the same seed writes byte-identical files, another seed
different ones.  The program never sees the seed, only the files.

    python3 graftbench/gen.py <workload> <seed> <seconds> <out_dir>

Workloads:

* ``ingest``    -- event-feed parquet files in the reference's queue-feed
  shape (``IngestPipeline.rawEventSchema``: ``ts`` as int64 nanos) plus a
  landing schedule per sink segment: paced landings, re-delivered
  notifications, re-landed files and a catch-up backlog.
* ``table_dml`` -- a preload table partitioned by ``date`` and a fixed
  number of rounds (``SECONDS_PER_ROUND`` of the run's seconds each, at
  least one), all of which the run executes.  A round is three steps,
  each one write and one read: keyed upsert then range count, MERGE then
  point lookup, predicate DELETE then time travel, then a compaction.
  The seed draws the keys, batches and predicates; every write comes
  with its source batch as a parquet file.  ``SUPPORTS`` says which
  format has which operation; it goes into the manifest, so the run,
  ``model.py`` (which replays the same sequence to get the expected
  answers) and the metric names all read the one table.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INGEST_FORMATS = ["parquet", "table", "delta", "iceberg", "hudi", "hudi_mor"]
DML_FORMATS = ["table", "delta", "iceberg", "hudi", "hudi_mor"]

# ingest shape
EVENTS_PER_FILE = 2000
LAND_INTERVAL_MS = 250
REDELIVER_SHARE = 0.15
RELAND_SHARE = 0.10
LATE_SHARE = 0.15
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

# table_dml shape
PRELOAD_ROWS = 100_000
N_DATES = 30
UPSERT_ROWS = 1000
MERGE_ROWS = 800
WRITE_KINDS = ["upsert", "merge", "delete"]
READ_KINDS = ["range", "point", "time_travel"]
SECONDS_PER_ROUND = 10
# the operations each table format has; reads every format has
SUPPORTS = {
    "table": ["upsert", "merge", "delete", "compact", "vacuum"],
    "delta": ["upsert", "merge", "delete", "compact", "vacuum"],
    "iceberg": ["upsert", "merge", "delete", "compact", "vacuum"],
    "hudi": ["upsert", "vacuum"],
    "hudi_mor": ["upsert", "delete", "compact"],
}


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _write(table, path):
    # fixed writer settings: the bytes depend on the data only
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


# ---------------------------------------------------------------- ingest


def gen_ingest(seed, seconds, out):
    rng = _rng(seed, 1)
    # each format's paced phase lasts a quarter of the run's seconds; the
    # catch-up backlog is half as many files
    paced = max(4, int(round(seconds * 1000 / 4 / LAND_INTERVAL_MS)))
    backlog = max(2, paced // 2)
    n_files = paced + backlog
    os.makedirs(f"{out}/feed", exist_ok=True)
    base_ns = np.int64(1_709_251_200) * 1_000_000_000  # 2024-03-01T00:00Z
    ids = rng.permutation(n_files * EVENTS_PER_FILE).astype(np.int64) + 1_000_000
    files = []
    for i in range(n_files):
        n = EVENTS_PER_FILE
        ev = np.sort(ids[i * n:(i + 1) * n])
        clock = base_ns + np.int64(i) * 600 * 1_000_000_000
        ts = clock + rng.integers(0, 600 * 1_000_000_000, n, dtype=np.int64)
        late = rng.random(n) < LATE_SHARE
        ts = ts - late * rng.integers(0, 3 * 86400 * 1_000_000_000, n, dtype=np.int64)
        order = rng.permutation(n)  # out-of-order rows inside a file
        table = pa.table({
            "event_id": pa.array(ev[order], pa.int64()),
            "ts": pa.array(ts[order], pa.int64()),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, n)], pa.string()),
            "value": pa.array(np.round(rng.gamma(2.0, 30.0, n), 2), pa.float64()),
            "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)], pa.string()),
        })
        name = f"f{i:04d}.parquet"
        _write(table, f"{out}/feed/{name}")
        files.append({"name": name, "rows": n})

    def actions(idx, spread_ms):
        acts = []
        for j, f in enumerate(idx):
            t = j * spread_ms
            acts.append([t, "land", f])
            if rng.random() < REDELIVER_SHARE:
                acts.append([t + int(rng.integers(20, 2 * LAND_INTERVAL_MS)), "notify", f])
            if rng.random() < RELAND_SHARE:
                acts.append([t + int(rng.integers(LAND_INTERVAL_MS, 3 * LAND_INTERVAL_MS)), "reland", f])
        return sorted(acts)

    manifest = {
        "workload": "ingest", "seed": seed, "seconds": seconds,
        "formats": INGEST_FORMATS, "files": files,
        "events": int(n_files * EVENTS_PER_FILE),
        "interval_ms": LAND_INTERVAL_MS,
        "paced": actions(list(range(paced)), LAND_INTERVAL_MS),
        "backlog": actions(list(range(paced, n_files)), 0),
    }
    return manifest


# ------------------------------------------------------------- table_dml


def _dates():
    return [f"2024-01-{d:02d}" for d in range(1, N_DATES + 1)]


def _zipf_date(rng, n):
    """Date indices skewed toward the most recent date."""
    w = 1.0 / np.power(np.arange(1, N_DATES + 1), 1.1)
    w /= w.sum()
    rank = rng.choice(N_DATES, size=n, p=w)
    return (N_DATES - 1) - rank


def _batch_table(ids, dates, amount, qty, ver, op=None):
    cols = {
        "id": pa.array(ids, pa.int64()),
        "date": pa.array(dates, pa.string()),
        "amount": pa.array(amount, pa.float64()),
        "qty": pa.array(qty, pa.int32()),
        "ver": pa.array(ver, pa.int64()),
    }
    if op is not None:
        cols["op"] = pa.array(op, pa.string())
    return pa.table(cols)


def gen_table_dml(seed, seconds, out):
    rng = _rng(seed, 2)
    dates = _dates()
    os.makedirs(f"{out}/batches", exist_ok=True)
    ids = rng.permutation(PRELOAD_ROWS).astype(np.int64) * 7 + 11
    didx = rng.integers(0, N_DATES, PRELOAD_ROWS)
    amount = np.round(rng.uniform(1.0, 1000.0, PRELOAD_ROWS), 2)
    qty = rng.integers(1, 100, PRELOAD_ROWS).astype(np.int32)
    _write(_batch_table(ids, [dates[d] for d in didx], amount, qty,
                        np.zeros(PRELOAD_ROWS, np.int64)), f"{out}/preload.parquet")

    # generation-time key directory (the full-featured formats' state)
    by_date = [[] for _ in range(N_DATES)]
    date_of, qty_of = {}, {}
    for k, d, q in zip(ids.tolist(), didx.tolist(), qty.tolist()):
        by_date[d].append(k)
        date_of[k] = d
        qty_of[k] = q
    next_id = int(ids.max()) + 1

    def pick_existing(n):
        ds = _zipf_date(rng, n)
        keys = []
        for d in ds:
            pool = by_date[d]
            if pool:
                keys.append(pool[int(rng.integers(0, len(pool)))])
        return list(dict.fromkeys(keys))  # unique, first-seen order

    def new_keys(n):
        nonlocal next_id
        ks = list(range(next_id, next_id + n))
        next_id += n
        ds = _zipf_date(rng, n)
        return ks, ds

    def drop(keys):
        for k in keys:
            d = date_of.pop(k, None)
            qty_of.pop(k, None)
            if d is not None:
                by_date[d].remove(k)

    def put(keys, ds, qs):
        for k, d, q in zip(keys, ds, qs):
            if k not in date_of:
                by_date[int(d)].append(k)
            date_of[k] = int(d)
            qty_of[k] = int(q)

    steps = []
    # a fixed amount of work: the run executes every round, however fast
    n_rounds = max(1, seconds // SECONDS_PER_ROUND)
    # a fixed pattern: every round puts each read kind after the same
    # write kind, so runs of any seed see the same table states
    kinds = list(zip(WRITE_KINDS, READ_KINDS)) * n_rounds
    for s, (kind, read_kind) in enumerate(kinds):
        base_ver = (s + 1) * 1_000_000
        if kind == "upsert":
            old = pick_existing(int(UPSERT_ROWS * 0.8))
            nk, nd = new_keys(UPSERT_ROWS - len(old))
            keys = old + nk
            ds = [date_of[k] for k in old] + [int(d) for d in nd]
            n = len(keys)
            qs = rng.integers(1, 100, n).astype(np.int32)
            tbl = _batch_table(keys, [dates[d] for d in ds],
                               np.round(rng.uniform(1.0, 1000.0, n), 2),
                               qs, base_ver + np.arange(n, dtype=np.int64))
            put(keys, ds, qs)
            write = {"kind": kind, "batch": f"batches/s{s:04d}.parquet", "rows": n}
            _write(tbl, f"{out}/{write['batch']}")
        elif kind == "merge":
            old = pick_existing(int(MERGE_ROWS * 0.75))
            cut = (2 * len(old)) // 3
            upd, dele = old[:cut], old[cut:]
            nk, nd = new_keys(MERGE_ROWS - len(old))
            keys = upd + dele + nk
            ds = [date_of[k] for k in upd + dele] + [int(d) for d in nd]
            ops = ["U"] * len(upd) + ["D"] * len(dele) + ["I"] * len(nk)
            n = len(keys)
            qs = rng.integers(1, 100, n).astype(np.int32)
            tbl = _batch_table(keys, [dates[d] for d in ds],
                               np.round(rng.uniform(1.0, 1000.0, n), 2),
                               qs, base_ver + np.arange(n, dtype=np.int64), ops)
            drop(dele)
            put(upd + nk, ds[:len(upd)] + ds[len(upd) + len(dele):],
                list(qs[:len(upd)]) + list(qs[len(upd) + len(dele):]))
            write = {"kind": kind, "batch": f"batches/s{s:04d}.parquet", "rows": n}
            _write(tbl, f"{out}/{write['batch']}")
        else:
            d = int(_zipf_date(rng, 1)[0])
            q = int(rng.integers(5, 20))
            write = {"kind": kind, "date": dates[d], "qty_below": q}
            drop([k for k in by_date[d] if qty_of[k] < q])
        if read_kind == "range":
            hi = int(_zipf_date(rng, 1)[0])
            lo = max(0, hi - int(rng.integers(0, 3)))
            read = {"kind": "range", "date_from": dates[lo], "date_to": dates[hi],
                    "amount_above": float(np.round(rng.uniform(0, 900), 2))}
        elif read_kind == "point":
            if rng.random() < 0.9 and date_of:
                key = pick_existing(1)
                key = key[0] if key else next_id + 10_000_000
            else:
                key = next_id + 10_000_000  # a key that never exists
            read = {"kind": "point", "id": int(key)}
        else:
            read = {"kind": "time_travel", "as_of_step": int(rng.integers(max(-1, s - 5), s))}
        steps.append({"write": write, "read": read,
                      "compact": s % len(WRITE_KINDS) == len(WRITE_KINDS) - 1})
    manifest = {
        "workload": "table_dml", "seed": seed, "seconds": seconds,
        "formats": DML_FORMATS, "supports": SUPPORTS, "preload_rows": PRELOAD_ROWS,
        "dates": dates, "steps": steps,
    }
    return manifest


GENERATORS = {"ingest": gen_ingest, "table_dml": gen_table_dml}


def generate(workload, seed, seconds, out):
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](int(seed), int(seconds), out)
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    generate(sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4])
