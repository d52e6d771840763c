#!/usr/bin/env python3
"""Seeded changelog generator for the benchmark.

The engine's sf0.1 test corpus is kept as it is in sf0.1/ next to this
file. From one seed this script makes what a run reads:

  corpus/<table>.parquet   the sf0.1 corpus cut to a key prefix of
                           CORPUS_SHARE of its rows (customer whole); the
                           same for every seed
  archive/part-NNNNN.json  a Debezium changelog for `orders`, one
                           Kafka-archive file per micro-batch
  truth/truth.json         the ground truth, computed while generating: for
                           every prefix of the archive files, what a
                           correct consumer holds after it (live and
                           deleted rows as a digest, the per-status view)

The changelog starts from CDC_KEYS sf0.1 `orders` rows drawn by the seed:
an initial snapshot of most of them (the first archive file), then
inserts of the rest, updates (a hot-key share), deletes with their
tombstones, at-least-once duplicate deliveries (always inside the same
archive file, because IncrementalView drops duplicates only within a
micro-batch) and bounded out-of-order deliveries (within a file, and a
small share one file late).

Usage: gen.py <seed> <out_dir>
"""
import hashlib
import json
import os
import sys
from datetime import timezone

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")

CDC_KEYS = 10_000          # sf0.1 orders rows the changelog starts from
SNAPSHOT_SHARE = 0.9       # of those rows, read by the initial snapshot
CDC_CHANGES = 30_000       # updates + deletes + late inserts after the snapshot
N_FILES = 64               # archive files = micro-batches of cdc_stream
DUP_SHARE = 0.02           # deliveries repeated inside the same file
LATE_SHARE = 0.01          # deliveries moved one file late
REORDER_SPAN = 64          # max displacement (records) inside a file
HOT_KEYS = 160             # keys that take HOT_SHARE of the updates
HOT_SHARE = 0.3
DELETE_SHARE = 0.08

# The curation queries run at local[1]; over the whole sf0.1 corpus one
# pass of them took 37 s, too long for several passes in a run. A key
# prefix keeps each near-duplicate next to the earlier document it copies.
CORPUS_SHARE = 0.2
CORPUS_KEYS = {"documents": "doc_id", "embeddings": "vec_id",
               "events": "event_id", "orders": "o_orderkey",
               "customer": None}

TOPIC = "prod.postgres.orders"
STATUSES = ["F", "O", "P"]


def corpus(out):
    for t, key in CORPUS_KEYS.items():
        table = pq.read_table(os.path.join(CORPUS, f"{t}.parquet"))
        if key:
            keep = int(table.num_rows * CORPUS_SHARE)
            table = table.filter(pc.less(table[key], keep))
        pq.write_table(table, os.path.join(out, f"{t}.parquet"))


def base_orders(rng):
    """CDC_KEYS sf0.1 orders rows, drawn by the seed, in key order."""
    orders = pq.read_table(os.path.join(CORPUS, "orders.parquet"))
    pick = np.sort(rng.choice(orders.num_rows, CDC_KEYS, replace=False))
    return orders.take(pick).sort_by("o_orderkey").to_pylist()


def price(cents):
    return f"{cents // 100}.{cents % 100:02d}"


def changelog(rng, base_rows):
    """Events in source (lsn) order, how many of them the snapshot
    read, and the final live state."""
    def row_of(r):
        return {"o_orderkey": r["o_orderkey"], "o_custkey": r["o_custkey"],
                "o_orderstatus": r["o_orderstatus"],
                "o_totalprice": price(round(r["o_totalprice"] * 100)),
                "o_orderdate_us": int(r["o_orderdate"].replace(
                    tzinfo=timezone.utc).timestamp()) * 1_000_000,
                "o_orderpriority": r["o_orderpriority"]}

    rows = [row_of(r) for r in base_rows]
    n_snap = int(len(rows) * SNAPSHOT_SHARE)
    live = {}            # key -> (row, lsn)
    keys = []            # live keys, for uniform choice with swap-remove
    pos = {}
    deleted = set()
    out = []             # (lsn, op, before, after, key)
    lsn = 1_000

    def add(k):
        pos[k] = len(keys)
        keys.append(k)

    def remove(k):
        i = pos.pop(k)
        last = keys.pop()
        if i < len(keys):
            keys[i] = last
            pos[last] = i

    def emit(op, before, after, k):
        nonlocal lsn
        lsn += int(rng.integers(1, 17))
        out.append((lsn, op, before, after, k))
        return lsn

    for r in rows[:n_snap]:
        live[r["o_orderkey"]] = (r, emit("r", None, r, r["o_orderkey"]))
        add(r["o_orderkey"])
    late_inserts = rows[n_snap:]
    n_changes = CDC_CHANGES
    ins_every = n_changes // max(1, len(late_inserts))
    nxt = 0
    for i in range(n_changes):
        if nxt < len(late_inserts) and i % ins_every == 0:
            r = late_inserts[nxt]
            nxt += 1
            live[r["o_orderkey"]] = (r, emit("c", None, r, r["o_orderkey"]))
            add(r["o_orderkey"])
            continue
        if rng.random() < HOT_SHARE:
            k = keys[int(rng.integers(0, min(HOT_KEYS, len(keys))))]
        else:
            k = keys[int(rng.integers(0, len(keys)))]
        before = live[k][0]
        if rng.random() < DELETE_SHARE:
            emit("d", before, None, k)
            out.append((None, None, None, None, k))  # tombstone
            del live[k]
            remove(k)
            deleted.add(k)
        else:
            after = dict(before)
            after["o_orderstatus"] = STATUSES[int(rng.integers(0, 3))]
            after["o_totalprice"] = price(int(rng.integers(100_000,
                                                           50_000_000)))
            live[k] = (after, emit("u", before, after, k))
    for r in late_inserts[nxt:]:
        live[r["o_orderkey"]] = (r, emit("c", None, r, r["o_orderkey"]))
    return out, n_snap, live, deleted


def record(ev):
    lsn, op, before, after, k = ev
    key = json.dumps({"o_orderkey": k}, separators=(",", ":"))
    if op is None:
        return json.dumps({"topic": TOPIC, "key": key, "value": None},
                          separators=(",", ":"))
    ts = 1_732_147_200_000 + lsn // 10
    env = {"before": before, "after": after,
           "source": {"version": "2.4.0.Final", "connector": "postgresql",
                      "name": "postgres-prod", "ts_ms": ts,
                      "db": "production", "schema": "public",
                      "table": "orders", "txId": 600 + lsn // 97,
                      "lsn": lsn, "snapshot": "true" if op == "r" else "false"},
           "op": op, "ts_ms": ts + 3}
    return json.dumps({"topic": TOPIC, "key": key,
                       "value": json.dumps(env, separators=(",", ":"))},
                      separators=(",", ":"))


def deliveries(rng, events, n_snap):
    """Split source-ordered events into archive files — the snapshot in
    the first, the changes evenly over the rest — with duplicates, bounded
    reordering and a share of changes delivered one file late."""
    changes = events[n_snap:]
    per = -(-len(changes) // (N_FILES - 1))
    files = [events[:n_snap]] + [changes[i * per:(i + 1) * per]
                                 for i in range(N_FILES - 1)]
    for i in range(1, N_FILES - 1):
        late = rng.random(len(files[i])) < LATE_SHARE
        files[i + 1] = [e for e, m in zip(files[i], late) if m] + files[i + 1]
        files[i] = [e for e, m in zip(files[i], late) if not m]
    out = []
    for f in files:
        dup = [e for e in f if e[1] is not None and rng.random() < DUP_SHARE]
        f = f + dup
        # duplicates land at a random place, then everything is jittered
        # by at most REORDER_SPAN positions
        order = np.argsort(np.concatenate([
            np.arange(len(f) - len(dup)) + rng.uniform(0, REORDER_SPAN,
                                                       len(f) - len(dup)),
            rng.uniform(0, len(f), len(dup))]), kind="stable")
        out.append([f[j] for j in order])
    return out


STATE_FIELDS = ["o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate_us", "o_orderpriority"]


def row_hash(row):
    return int.from_bytes(hashlib.sha256(json.dumps(list(row)).encode())
                          .digest()[:8], "big")


def state_digest(rows):
    """Order-independent digest of a consumer state: rows of
    (key, lsn, deleted, *STATE_FIELDS)."""
    return f"{sum(map(row_hash, rows)) % 2 ** 64:016x}"


def consume(files):
    """What a correct consumer holds after each archive file, delivered in
    order: the latest row per key by (lsn, delete) — deleted keys as
    markers with their before-image — and the per-status view as signed
    deltas of each file's distinct deliveries."""
    latest, view, out = {}, {}, []
    digest = live = 0
    for f in files:
        seen = set()
        for lsn, op, before, after, k in f:
            if op is None or (k, op, lsn) in seen:
                continue
            seen.add((k, op, lsn))
            for img, sign in ((before, -1), (after, 1)):
                if img is not None and (op in ("u", "d") if sign < 0
                                        else op in ("c", "r", "u")):
                    v = view.setdefault(img["o_orderstatus"], [0, 0])
                    v[0] += sign * int(img["o_totalprice"].replace(".", ""))
                    v[1] += sign
            if k in latest and (lsn, op == "d") <= latest[k][:2]:
                continue
            if k in latest:
                digest -= latest[k][3]
                live -= not latest[k][1]
            row = (k, lsn, op == "d") + tuple((after or before)[c]
                                              for c in STATE_FIELDS)
            latest[k] = (lsn, op == "d", after or before, row_hash(row))
            digest += latest[k][3]
            live += op != "d"
        out.append({"live": live, "deleted": len(latest) - live,
                    "state_digest": f"{digest % 2 ** 64:016x}",
                    "view": sorted([g, c, n] for g, (c, n) in view.items()
                                   if c or n)})
    return out, latest, view


def main():
    seed, out = int(sys.argv[1]), sys.argv[2]
    rng = np.random.default_rng(seed)
    for d in ("corpus", "archive", "truth"):
        os.makedirs(f"{out}/{d}", exist_ok=True)
    corpus(f"{out}/corpus")
    events, n_snap, live, deleted = changelog(rng, base_orders(rng))
    files = deliveries(rng, events, n_snap)
    for i, f in enumerate(files):
        with open(f"{out}/archive/part-{i:05d}.json", "w") as fh:
            fh.write("\n".join(record(e) for e in f) + "\n")
    prefixes, latest, view = consume(files)
    # the consumer's end state must be the source's: duplicates, reordering
    # and late files may not change it
    assert {k: (lsn, r) for k, (lsn, dead, r, _) in latest.items()
            if not dead} == {k: (lsn, r) for k, (r, lsn) in live.items()}
    assert {k for k, (_, dead, _, _) in latest.items() if dead} == deleted
    want = {}
    for row, _ in live.values():
        v = want.setdefault(row["o_orderstatus"], [0, 0])
        v[0] += int(row["o_totalprice"].replace(".", ""))
        v[1] += 1
    assert prefixes[-1]["view"] == sorted([g, c, n] for g, (c, n)
                                          in want.items())
    with open(f"{out}/truth/truth.json", "w") as fh:
        json.dump({"seed": seed, "file_lines": [len(f) for f in files],
                   "prefixes": prefixes}, fh, indent=1)


if __name__ == "__main__":
    main()
