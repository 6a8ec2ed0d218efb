"""Seeded input generator for the benchmark.

Everything the engine reads during a run is written here, from the seed
alone: the same seed gives byte-identical inputs. The engine receives only
these files.

    python3 perfbench/gen.py <out_dir> --seed N --workload ingest

Layout under <out_dir>:
  tpch/<table>.parquet          analytic tables (query_fullwork)
  cdc/backfill/<topic>.jsonl    initial-snapshot Debezium wire JSON-lines
  cdc/cycle_NNNN/<topic>.jsonl  one incremental cycle's events per topic
  cdc/manifest.tsv              cycle, table, last offset, events
  mor/base/part-0.parquet       the standing keyed table
  mor/batch_NNNN/part-0.parquet one update-heavy delta batch
  mor/expect.tsv                batch, count, sum(v) of the latest-per-key
                                model after that batch (-1 = the seed)
  mor/lookups.tsv               batch, key, expected v ("" = no row)
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per input part. The analytic tables follow the TPC-H-like shape
# of the engine's test data; `sf` scales every row count linearly.
SIZES = {
    "cdc": {"sf": 0.002, "cycles": 10, "cycle_events": 2000},
    "mor": {"rows": 300_000, "batches": 10, "lookups": 8},
    "query": {"sf": 0.002},
}
# the inputs each workload reads
PARTS = {"ingest": ["cdc", "mor"], "cdc_pipeline": ["cdc"], "query_fullwork": ["query"]}

WORDS = ("a the data spark stream batch table row column key value query "
         "filter join group agg sort hash scan merge window vector line "
         "part order customer fast slow big small").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
LANGS = ["en", "de", "es", "fr", "zh"]
EPOCH_1995_US = 788918400 * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def tpch(rng, sf):
    """Analytic tables with the schemas of the engine's test data."""
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_l, n_d = int(1_500_000 * sf), int(6_000_000 * sf), int(50_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    pk = np.arange(n_p)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    day_us = 86_400 * 1_000_000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_o),
        "o_orderdate": pa.array(EPOCH_1995_US + rng.integers(0, 2404, n_o) * day_us,
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)]})
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": pa.array(EPOCH_1995_US + rng.integers(0, 2500, n_l) * day_us,
                               pa.timestamp("us"))})
    # documents: random word strings; one in twenty is an earlier
    # document with " dup" appended (a planted near-duplicate)
    words = np.array(WORDS)
    texts = []
    for i in range(n_d):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(10, 101)))]))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_d, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    return t


# --------------------------------------------------------------- CDC wire

KEYS = {"orders": "order_id", "customers": "customer_id",
        "products": "product_id", "order_items": "order_item_id"}
TOPIC = "dbserver1.ecommerce."
STATUSES = np.array(["PENDING", "PROCESSING", "SHIPPED", "DELIVERED", "CANCELLED"])
PRODUCT_NAMES = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
TS_BASE = np.datetime64("2026-01-15T10:00:00", "s")


def _values(table, k, c):
    """Debezium-unwrapped row JSON (FIXTURES.md A.2) for keys k; c holds
    the per-row column arrays. Returned already escaped for embedding as
    the wire record's `value` string."""
    q = '\\"'
    if table == "orders":
        return [f"{{{q}order_id{q}: {k_}, {q}customer_id{q}: {cu}, {q}order_date{q}: {d}, "
                f"{q}status{q}: {q}{st}{q}, {q}total_amount{q}: {q}{am:.2f}{q}, "
                f"{q}shipping_address{q}: {q}{k_ % 977} Elm Street, Springfield{q}}}"
                for k_, cu, d, st, am in zip(k, c["cust"], c["date"], c["status"], c["amount"])]
    if table == "customers":
        return [f"{{{q}customer_id{q}: {k_}, {q}email{q}: {q}c{k_}@example.com{q}, "
                f"{q}first_name{q}: {q}First{k_ % 613}{q}, {q}last_name{q}: {q}Last{k_ % 541}{q}, "
                f"{q}phone{q}: {q}555-{n:02d}-{ph:04d}{q}}}"
                for k_, n, ph in zip(k, c["nation"], c["phone"])]
    if table == "products":
        return [f"{{{q}product_id{q}: {k_}, {q}product_name{q}: {q}{nm}{q}, "
                f"{q}category{q}: {q}{ty}{q}, {q}price{q}: {q}{pr:.2f}{q}, "
                f"{q}stock_quantity{q}: {sq}}}"
                for k_, nm, ty, pr, sq in zip(k, c["name"], c["type"], c["price"], c["stock"])]
    return [f"{{{q}order_item_id{q}: {k_}, {q}order_id{q}: {o}, {q}product_id{q}: {pd}, "
            f"{q}quantity{q}: {qt}, {q}unit_price{q}: {q}{up:.2f}{q}, "
            f"{q}subtotal{q}: {q}{qt * up:.2f}{q}}}"
            for k_, o, pd, qt, up in zip(k, c["order"], c["product"], c["qty"], c["price"])]


def _random_columns(rng, table, n, src):
    """n fresh row states (inserts and updates draw from these)."""
    if table == "orders":
        return {"cust": rng.integers(0, src["customers"], n).tolist(),
                "date": (EPOCH_1995_US + rng.integers(0, 2404, n) * 86_400_000_000).tolist(),
                "status": STATUSES[rng.integers(0, 5, n)].tolist(),
                "amount": np.round(rng.uniform(10, 5000, n), 2).tolist()}
    if table == "customers":
        return {"nation": rng.integers(0, 25, n).tolist(),
                "phone": rng.integers(0, 10000, n).tolist()}
    if table == "products":
        return {"name": PRODUCT_NAMES[rng.integers(0, 64, n)].tolist(),
                "type": np.array(PART_TYPES)[rng.integers(0, 6, n)].tolist(),
                "price": np.round(rng.uniform(900, 1000, n), 2).tolist(),
                "stock": rng.integers(0, 500, n).tolist()}
    return {"order": rng.integers(0, src["orders"], n).tolist(),
            "product": rng.integers(0, src["products"], n).tolist(),
            "qty": rng.integers(1, 51, n).tolist(),
            "price": np.round(rng.uniform(1, 2100, n), 2).tolist()}


def _snapshot_columns(t):
    """The initial snapshot: one insert per source row of the analytic
    tables (orders, customer, part, lineitem)."""
    o, c, p, li = t["orders"], t["customer"], t["part"], t["lineitem"]
    col = lambda tb, name: tb.column(name).to_numpy()
    qty = col(li, "l_quantity")
    return {
        "orders": (col(o, "o_orderkey"), {
            "cust": col(o, "o_custkey").tolist(),
            "date": o.column("o_orderdate").cast(pa.int64()).to_pylist(),
            "status": STATUSES[np.searchsorted(["F", "O", "P"],
                                               col(o, "o_orderstatus"))].tolist(),
            "amount": col(o, "o_totalprice").tolist()}),
        "customers": (col(c, "c_custkey"), {
            "nation": col(c, "c_nationkey").tolist(),
            "phone": (np.abs(col(c, "c_acctbal") * 100).astype(np.int64) % 10000).tolist()}),
        "products": (col(p, "p_partkey"), {
            "name": p.column("p_name").to_pylist(),
            "type": p.column("p_type").to_pylist(),
            "price": col(p, "p_retailprice").tolist(),
            "stock": (col(p, "p_partkey") % 500).tolist()}),
        "order_items": (np.arange(li.num_rows), {
            "order": col(li, "l_orderkey").tolist(),
            "product": col(li, "l_partkey").tolist(),
            "qty": qty.astype(np.int64).tolist(),
            "price": np.round(col(li, "l_extendedprice") / qty, 2).tolist()}),
    }


def _wire(table, first_offset, keys, values):
    """Kafka wire JSON-lines (FIXTURES.md A.1); a None value is a keyed
    tombstone."""
    topic, kname = TOPIC + table, KEYS[table]
    ts = (TS_BASE + np.arange(first_offset, first_offset + len(keys))
          .astype("timedelta64[s]")).astype(str)
    return [f'{{"key": "{{\\"{kname}\\": {k}}}", '
            f'"value": {"null" if v is None else chr(34) + v + chr(34)}, '
            f'"topic": "{topic}", "partition": 0, "offset": {first_offset + i}, '
            f'"timestamp": "{t_.replace("T", " ")}"}}\n'
            for i, (k, v, t_) in enumerate(zip(keys, values, ts))]


def cdc(rng, out, sf, cycles, cycle_events):
    snap = _snapshot_columns(tpch(rng, sf))
    manifest, live, offset, next_key = [], {}, {}, {}
    os.makedirs(f"{out}/cdc/backfill", exist_ok=True)
    for table, (keys, cols) in snap.items():
        keys = keys.tolist()
        with open(f"{out}/cdc/backfill/{TOPIC}{table}.jsonl", "w") as f:
            f.writelines(_wire(table, 0, keys, _values(table, keys, cols)))
        live[table], offset[table] = np.array(keys), len(keys)
        next_key[table] = max(keys) + 1
        manifest.append((-1, table, offset[table] - 1, len(keys)))
    src = {"customers": len(snap["customers"][0]), "orders": len(snap["orders"][0]),
           "products": len(snap["products"][0])}
    share = {"orders": 0.3, "customers": 0.1, "products": 0.1, "order_items": 0.5}
    for cyc in range(cycles):
        d = f"{out}/cdc/cycle_{cyc:04d}"
        os.makedirs(d)
        for table in KEYS:
            n = max(4, int(cycle_events * share[table]))
            # 70 % inserts of new keys, 25 % updates and 5 % keyed
            # tombstones of existing keys, interleaved
            kind = rng.choice(3, n, p=[0.70, 0.25, 0.05])
            keys = live[table][rng.integers(0, len(live[table]), n)]
            ins = kind == 0
            keys[ins] = np.arange(next_key[table], next_key[table] + ins.sum())
            next_key[table] += int(ins.sum())
            live[table] = np.concatenate([live[table], keys[ins]])
            keys = keys.tolist()
            vals = _values(table, keys, _random_columns(rng, table, n, src))
            vals = [None if k_ == 2 else v for k_, v in zip(kind.tolist(), vals)]
            with open(f"{d}/{TOPIC}{table}.jsonl", "w") as f:
                f.writelines(_wire(table, offset[table], keys, vals))
            offset[table] += n
            manifest.append((cyc, table, offset[table] - 1, n))
    with open(f"{out}/cdc/manifest.tsv", "w") as f:
        f.writelines(f"{a}\t{b}\t{c_}\t{n}\n" for a, b, c_, n in manifest)


# ------------------------------------------------------------ MOR upserts

def mor(rng, out, n, batches, n_lookups):
    # keyed by lineitem position, v is the line's extended price in cents:
    # an integer-valued double, so every sum is exact and order-independent
    qty = rng.integers(1, 51, n)
    v = np.round(qty * _money(rng, 900.0, 2100.0, n) * 100.0)
    model = dict(zip(range(n), v.tolist()))
    _write(pa.table({"id": pa.array(np.arange(n), pa.int64()), "v": v,
                     "ord": pa.array(np.zeros(n, np.int64)),
                     "is_del": pa.array(np.zeros(n, bool))}),
           f"{out}/mor/base/part-0.parquet")
    next_id = n
    # lookup keys: fixed across the run; a mix the batches will update,
    # delete and leave alone, plus two far keys that start absent (the
    # first is inserted by batch 1)
    far = n + 10_000_000
    lookup = sorted(set(rng.integers(0, n, n_lookups - 2).tolist())) + [far, far + 1]
    expect = [(-1, len(model), sum(model.values()))]
    looks = [(-1, k, model.get(k)) for k in lookup]
    for b in range(batches):
        keys = list(model)
        n_live = len(keys)
        n_upd, n_ins, n_del = int(0.02 * n_live), int(0.001 * n_live), int(0.002 * n_live)
        # updates favour recent keys: three quarters from the newest tenth
        recent = rng.integers(int(0.9 * n_live), n_live, int(0.75 * n_upd))
        spread = rng.integers(0, n_live, n_upd - len(recent))
        upd = {keys[i] for i in np.concatenate([recent, spread])}
        if b % 4 == 0:  # every fourth batch also updates two lookup keys
            upd |= {k for k in lookup[:2] if k in model}
        dele = {keys[i] for i in rng.integers(0, n_live, n_del)} - upd
        if b % 5 == 2:  # and some batches delete two more
            dele |= {k for k in lookup[2:4] if k in model} - upd
        ins = set(range(next_id, next_id + n_ins))
        next_id += n_ins
        if b == 1:
            ins.add(far)
        ids = sorted(upd) + sorted(dele) + sorted(ins)
        vals = np.round(rng.uniform(100, 2_000_000, len(ids)))
        dels = [False] * len(upd) + [True] * len(dele) + [False] * len(ins)
        for k, val, d in zip(ids, vals.tolist(), dels):
            if d:
                model.pop(k, None)
            else:
                model[k] = val
        _write(pa.table({"id": pa.array(ids, pa.int64()), "v": vals,
                         "ord": pa.array(np.full(len(ids), b + 1, np.int64)),
                         "is_del": pa.array(dels, pa.bool_())}),
               f"{out}/mor/batch_{b:04d}/part-0.parquet")
        expect.append((b, len(model), sum(model.values())))
        looks += [(b, k, model.get(k)) for k in lookup]
    with open(f"{out}/mor/expect.tsv", "w") as f:
        f.writelines(f"{b}\t{c}\t{s:.1f}\n" for b, c, s in expect)
    with open(f"{out}/mor/lookups.tsv", "w") as f:
        f.writelines(f"{b}\t{k}\t{'' if v_ is None else f'{v_:.1f}'}\n"
                     for b, k, v_ in looks)


def generate(out, seed, workload):
    # one independent stream per input part, so a part's inputs depend
    # only on the seed
    for part, rng in zip(SIZES, np.random.default_rng(seed).spawn(len(SIZES))):
        if part not in PARTS[workload]:
            continue
        size = SIZES[part]
        if part == "cdc":
            cdc(rng, out, size["sf"], size["cycles"], size["cycle_events"])
        elif part == "mor":
            mor(rng, out, size["rows"], size["batches"], size["lookups"])
        else:
            for name, table in tpch(rng, size["sf"]).items():
                _write(table, f"{out}/tpch/{name}.parquet")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", choices=sorted(PARTS), required=True)
    a = ap.parse_args()
    generate(a.out, a.seed, a.workload)
