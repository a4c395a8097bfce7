"""Seeded input generator for the benchmark.

Batch tables mirror the engine's parquet star schema (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
at a given scale factor, with the same column types and value
distributions as the harness test data. Stream ticks are generated as one
JSON-lines file per tick and stream, plus a manifest of the facts the
output checks need (events placed behind the watermark, zero vectors).

Everything is a pure function of (seed, scale): the same seed gives
byte-identical files, a different seed different ones.

Usage: python3 perfbench/gen.py batch|stream <out_dir> <seed>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["large", "hot", "blue", "cold", "red", "small", "new", "old"]
NOUN = ["ring", "bolt", "plate", "gear", "rod", "anvil", "widget", "gizmo"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
DIM = 64

# microseconds since the epoch
DAY_US = 86_400_000_000
D1995 = 9131 * DAY_US            # 1995-01-01
ORDER_DAYS = 2404                # .. 2001-08-01
SHIP_DAYS = 2499                 # 1995-01-02 .. 2001-11-04
EV0 = 19723 * DAY_US             # 2024-01-01
EV_SPAN_US = 30 * DAY_US


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n, dup_share=0.05):
    """Docs of 10-100 random words; a `dup_share` of them copy an earlier
    doc's text with " dup" appended (the near-duplicate population)."""
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    dups = rng.random(n) < dup_share
    for i in np.nonzero(dups)[0]:
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v


def _vector_column(v):
    return pa.array(list(v), type=pa.list_(pa.float32()))


def batch_tables(out: str, seed: int, scale: float = SCALE) -> None:
    """The ten parquet tables of the star schema under `out`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_li = int(1500000 * scale), int(6000000 * scale)
    n_ev, n_doc, n_emb = int(1000000 * scale), int(50000 * scale), int(20000 * scale)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    keys = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(D1995 + rng.integers(0, ORDER_DAYS + 1, n_ord) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(D1995 + (1 + rng.integers(0, SHIP_DAYS, n_li)) * DAY_US,
                               pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    ts = np.sort(rng.choice(EV_SPAN_US, n_ev, replace=False)) + EV0
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    texts = _texts(rng, n_doc)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": _vector_column(_unit_vectors(rng, n_emb)),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")


# ---------------------------------------------------------------- stream
# A tick carries events (probes and dimension updates) and vectors. Event
# time advances TICK_S per tick and every tick's latest probe and update
# sit exactly at its last second, so the watermark in
# force while tick t runs is known: t0 + t*TICK_S - 1 - DELAY_S. Each tick
# carries a fixed share of out-of-order events (late, but within the
# delay) and, from tick 2 on, of events in windows that closed before the
# watermark, which every watermarked operator must drop. Late probes of
# one tick each fall in a window of their own. No event time falls near
# a watermark, so the dropped set does not depend on how Spark rounds.
# Event ids are unique but drawn in random order across the ticks; an
# update's id is its version, so many updates of later ticks are older
# than a version an earlier tick already brought for their key, and
# keep-latest must ignore them.

TICKS = 3
TICK_S = 60                      # event-time seconds per tick
DELAY_S = 30                     # watermark delay of every stateful operator
WINDOW_S = 60                    # tumble window
BOUND_S = 30                     # left-join time bound
PROBES_PER_TICK = 300
DIMS_PER_TICK = 60
VECS_PER_TICK = 64
ZERO_SHARE = 0.05                # zero vectors, which the vector index drops
BOOT_VECS = 512
N_KEYS = 50
BOOT_KEYS = 40                   # keys of the static dimension
OOO_SHARE = 0.1
LATE_SHARE = 0.05
T0_S = 1_704_067_200             # 2024-01-01T00:00:00Z
US = 1_000_000


def watermark_us(t: int) -> int:
    """The watermark in force while tick t (>= 1) is processed."""
    return (T0_S + t * TICK_S - 1 - DELAY_S) * US


def _event_times(rng, t: int, n: int):
    """Event times (us) of one tick's n events of one kind, and a mask of
    those placed behind the watermark."""
    base = (T0_S + t * TICK_S) * US
    ts = base + rng.integers(0, (TICK_S - 1) * US, n)
    r = rng.random(n)
    ooo = (r < OOO_SHARE) & (t > 0)
    ts = np.where(ooo, base - rng.integers(US, (DELAY_S - 5) * US, n), ts)
    late = (r >= OOO_SHARE) & (r < OOO_SHARE + LATE_SHARE) & (t > 1)
    late[0] = False
    if t > 1:
        # its own window for each late event, the nearest ending a window
        # before the watermark
        j = np.cumsum(late)
        wm_window = watermark_us(t) - watermark_us(t) % (WINDOW_S * US)
        behind = wm_window - (1 + j) * WINDOW_S * US + rng.integers(US, WINDOW_S * US // 2, n)
        ts = np.where(late, behind, ts)
    ts[0] = base + (TICK_S - 1) * US  # the tick's latest event
    return ts, late


def _dump(path: str, rows) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")


def _vec_rows(v, first_id):
    return [{"vec_id": first_id + i, "v": [float(x) for x in row]} for i, row in enumerate(v)]


def stream_ticks(out: str, seed: int) -> dict:
    """Tick files under `out`: events/ and vecs/ hold one JSON-lines file
    per tick; dims_boot.jsonl is the static dimension, vecs_boot.jsonl the
    quantizer's training vectors; manifest.json holds the facts the checks
    need. Returns the manifest."""
    rng = np.random.default_rng([seed, 2])
    for s in ("events", "vecs"):
        os.makedirs(f"{out}/{s}", exist_ok=True)
    boot = [{"kind": "d", "key": f"k{k}", "ts_us": (T0_S - 3600) * US + v, "id": 2 * k + v,
             "amount": 0, "label": f"s{int(rng.integers(0, 10**6))}"}
            for k in range(BOOT_KEYS) for v in range(2)]
    ids = iter(len(boot) + rng.permutation(TICKS * (PROBES_PER_TICK + DIMS_PER_TICK)))
    _dump(f"{out}/dims_boot.jsonl", boot)
    _dump(f"{out}/vecs_boot.jsonl", _vec_rows(_unit_vectors(rng, BOOT_VECS), 0))
    vec_id = BOOT_VECS
    late = {"probe": 0, "dim": 0}
    newest, stale = {}, 0           # per key, the newest version of earlier ticks
    zeros = []
    for t in range(TICKS):
        rows = []
        for kind, n in (("p", PROBES_PER_TICK), ("d", DIMS_PER_TICK)):
            ts, is_late = _event_times(rng, t, n)
            late["probe" if kind == "p" else "dim"] += int(is_late.sum())
            keys = rng.integers(0, N_KEYS, n)
            for i in range(n):
                rows.append({"kind": kind, "key": f"k{keys[i]}", "ts_us": int(ts[i]),
                             "id": int(next(ids)),
                             "amount": int(rng.integers(1, 1000)) if kind == "p" else 0,
                             "label": f"v{int(rng.integers(0, 10**6))}" if kind == "d" else ""})
        dims = [r for r in rows if r["kind"] == "d"]
        stale += sum(1 for r in dims if r["id"] < newest.get(r["key"], -1))
        for r in dims:
            newest[r["key"]] = max(newest.get(r["key"], -1), r["id"])
        order = rng.permutation(len(rows))
        _dump(f"{out}/events/tick-{t:04d}.jsonl", [rows[i] for i in order])
        v = _unit_vectors(rng, VECS_PER_TICK)
        zero = rng.random(VECS_PER_TICK) < ZERO_SHARE
        v[zero] = 0.0
        zeros.append(int(zero.sum()))
        _dump(f"{out}/vecs/tick-{t:04d}.jsonl", _vec_rows(v, vec_id))
        vec_id += VECS_PER_TICK
    manifest = {
        "ticks": TICKS, "tick_s": TICK_S, "delay_s": DELAY_S, "window_s": WINDOW_S,
        "bound_s": BOUND_S, "t0_s": T0_S,
        "watermark_last_us": watermark_us(TICKS - 1),
        "watermark_final_us": watermark_us(TICKS),
        "late_probe": late["probe"], "late_dim": late["dim"], "stale_dim": stale,
        "vecs_offered": [VECS_PER_TICK] * TICKS, "vecs_planted_zero": zeros,
    }
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def main(argv):
    kind, out, seed = argv[1], argv[2], int(argv[3])
    if kind == "batch":
        batch_tables(out, seed)
    elif kind == "stream":
        stream_ticks(out, seed)
    else:
        raise SystemExit(f"unknown input kind {kind!r}")


if __name__ == "__main__":
    main(sys.argv)
