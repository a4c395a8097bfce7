"""Output checks of the benchmark, each computed apart from the program.

Batch workloads: every query's result, written by the JVM after the
measured passes, must equal DuckDB's evaluation of the query's oracle SQL
over the same generated parquet (same columns; same rows, sorted; floats
compared bit for bit).

stream_ingest: DuckDB over every generated event gives keep-latest's
changelog per micro-batch, the static-dimension enrichment, the closed tumble-window
counts and the bounded left join; Spark's summed watermark drops per
operator equal the events the generator placed behind the watermark; per
tick, vectors the ingest gate indexed plus the zero vectors it must drop
equal the vectors offered; the committed vector index, read straight from
parquet, holds exactly the indexed vectors; and the index's top-k with
every list probed equals DuckDB's brute-force top-k.

Every check returns a list of failure strings; empty means correct.
"""
import glob
import json
import os
import struct

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


# ------------------------------------------------------------------ batch
def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by value, floats as bit patterns."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].map(lambda v: None if pd.isna(v) else struct.pack("<d", float(v)).hex())
    return df


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list:
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return [f"{name}: columns {list(g.columns)} != {list(w.columns)}"]
    if len(g) != len(w):
        return [f"{name}: {len(g)} rows != {len(w)} expected"]
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return [f"{name}: values differ: {str(e)[:300]}"]
    return []


def batch_connection(data_dir: str):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_batch(data_dir: str, check_dir: str, names: list) -> list:
    con = batch_connection(data_dir)
    with open(f"{check_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    failures = []
    for name in names:
        if name not in oracle:
            failures.append(f"{name}: no oracle SQL")
            continue
        try:
            got = pq.read_table(f"{check_dir}/{name}").to_pandas()
        except Exception as e:  # the JVM did not write it
            failures.append(f"{name}: result unreadable: {e}")
            continue
        failures += compare(name, got, con.sql(oracle[name]).df())
    return failures


# ----------------------------------------------------------------- stream
def stream_connection(stream_dir: str):
    """DuckDB views over every generated event, split into probes and
    dimension updates, each marked late when the generator placed it in a
    window that closed before the watermark."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    with open(f"{stream_dir}/manifest.json") as f:
        m = json.load(f)
    con.execute(f"""CREATE VIEW ev AS
        SELECT kind, key, ts_us, id, amount, label,
               CAST(regexp_extract(filename, 'tick-(\\d+)', 1) AS INTEGER) AS tick
        FROM read_json('{stream_dir}/events/tick-*.jsonl', filename = true,
          columns = {{kind: 'VARCHAR', key: 'VARCHAR', ts_us: 'BIGINT', id: 'BIGINT',
                      amount: 'BIGINT', label: 'VARCHAR'}})""")
    # the watermark in force for tick t: t0 + t*tick - 1 - delay (t >= 1)
    con.execute(f"""CREATE VIEW ev_marked AS
        SELECT *, tick >= 1 AND ts_us < ({m['t0_s']}::BIGINT + tick * {m['tick_s']} - 1
                                          - {m['delay_s']}) * 1000000::BIGINT AS late
        FROM ev""")
    con.execute("CREATE VIEW probe AS SELECT key AS pkey, ts_us AS pts, id AS pid, late "
                "FROM ev_marked WHERE kind = 'p'")
    con.execute("CREATE VIEW dim AS SELECT key AS dkey, ts_us AS dts, id AS ver, label, late, "
                "tick FROM ev_marked WHERE kind = 'd'")
    con.execute(f"""CREATE VIEW dim_boot AS SELECT key AS dkey, id AS ver, label FROM
        read_json('{stream_dir}/dims_boot.jsonl', columns = {{kind: 'VARCHAR', key: 'VARCHAR',
          ts_us: 'BIGINT', id: 'BIGINT', amount: 'BIGINT', label: 'VARCHAR'}})""")
    return con, m


def _rows(con, sql):
    return sorted(con.sql(sql).fetchall(), key=repr)


def _table(check_dir, name):
    return pq.read_table(f"{check_dir}/{name}").to_pandas()


def check_keep_latest(con, got: pd.DataFrame) -> list:
    """The rows emitted per micro-batch (update mode; batch b holds tick b)
    are keep-latest's changelog: in each batch, one row for each key whose
    newest version so far arrived in that tick, carrying that version, and
    no row for a key whose updates in the tick are all older than a
    version an earlier tick brought. So the last row per key is its
    latest update."""
    have = [(int(r.batch), r.key, int(r.id), r.label) for r in got.itertuples()]
    want = _rows(con, """
        WITH t AS (SELECT tick, dkey, max(ver) AS ver, arg_max(label, ver) AS label
                   FROM dim GROUP BY tick, dkey),
             r AS (SELECT *, max(ver) OVER (PARTITION BY dkey ORDER BY tick
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before FROM t)
        SELECT tick, dkey, ver, label FROM r WHERE before IS NULL OR ver > before""")
    have_set, want_set = set(have), set(want)
    out = []
    if len(have_set) != len(have):
        out.append(f"keep-latest: {len(have) - len(have_set)} rows emitted twice")
    extra, miss = sorted(have_set - want_set), sorted(want_set - have_set)
    if extra:
        out.append(f"keep-latest: {len(extra)} rows not in the changelog, first {extra[0]}")
    if miss:
        out.append(f"keep-latest: {len(miss)} changelog rows missing, first {miss[0]}")
    return out


def check_enrich(con, got: pd.DataFrame) -> list:
    have = sorted(((int(r.pid), None if pd.isna(r.ver) else int(r.ver),
                    None if r.label is None or pd.isna(r.label) else r.label)
                   for r in got.itertuples()), key=repr)
    want = _rows(con, """
        SELECT p.pid, d.ver, d.label FROM probe p LEFT JOIN
          (SELECT dkey, max(ver) AS ver, arg_max(label, ver) AS label FROM dim_boot
           GROUP BY dkey) d ON p.pkey = d.dkey""")
    return [] if have == want else [f"enrich: {len(have)} rows differ from {len(want)} expected"]


def check_tumble(con, m, got: pd.DataFrame) -> list:
    """Every emitted window is closed and carries the count of its on-time
    probes; every window that closed before the last tick is emitted."""
    w = m["window_s"] * 1000000
    want = {(k, ws): n for k, ws, n in con.sql(
        f"SELECT pkey, pts - pts % {w} AS ws, count(*) FROM probe WHERE NOT late GROUP BY 1, 2"
    ).fetchall()}
    have = {}
    out = []
    for r in got.itertuples():
        k = (r.pkey, int(r.ws_us))
        if k in have:
            out.append(f"tumble: window {k} emitted twice")
        have[k] = int(r.n)
    for k, n in have.items():
        if k[1] + w > m["watermark_final_us"]:
            out.append(f"tumble: window {k} emitted before it closed")
        elif want.get(k) != n:
            out.append(f"tumble: window {k} count {n} != {want.get(k)}")
    for k, n in want.items():
        if k[1] + w <= m["watermark_last_us"] and k not in have:
            out.append(f"tumble: closed window {k} missing")
    return out[:5]


def check_join(con, m, got: pd.DataFrame) -> list:
    """Emitted rows are rows of the bounded left join of on-time events;
    every matched pair is emitted; every unmatched probe whose bound closed
    before the last tick is emitted with a null update."""
    b = m["bound_s"] * 1000000
    want = set(con.sql(f"""
        SELECT p.pid, d.ver, p.pts FROM (SELECT * FROM probe WHERE NOT late) p
        LEFT JOIN (SELECT * FROM dim WHERE NOT late) d
          ON p.pkey = d.dkey AND d.dts >= p.pts - {b} AND d.dts <= p.pts + {b}""").fetchall())
    pts = {pid: t for pid, _, t in want}
    want = {(pid, ver) for pid, ver, _ in want}
    have = [(int(r.pid), None if pd.isna(r.ver) else int(r.ver)) for r in got.itertuples()]
    out = []
    if len(set(have)) != len(have):
        out.append("join: duplicate rows")
    have = set(have)
    if not have <= want:
        out.append(f"join: {len(have - want)} rows not in the bounded left join")
    must = {(pid, ver) for pid, ver in want
            if ver is not None or pts[pid] + b < m["watermark_last_us"]}
    if not must <= have:
        out.append(f"join: {len(must - have)} expected rows missing")
    return out


def check_watermark_drops(m, progress: dict) -> list:
    """Spark's summed numRowsDroppedByWatermark per stateful operator ==
    events the generator placed behind the watermark."""
    def dropped(query):
        return sum(s["dropped"] for p in progress[query] for s in p["state"])
    expect = {"kl": 0, "tumble": m["late_probe"], "join": m["late_probe"] + m["late_dim"]}
    return [f"watermark drops of {q}: spark {dropped(q)} != generated {n}"
            for q, n in expect.items() if dropped(q) != n]


def check_gate(m, admitted: list) -> list:
    """Per tick: vectors indexed + zero vectors planted == vectors offered."""
    adm = {int(b): int(n) for b, n in admitted}
    return [f"gate tick {t}: admitted {adm.get(t)} + dropped {zero} != offered {offered}"
            for t, (offered, zero) in enumerate(zip(m["vecs_offered"], m["vecs_planted_zero"]))
            if adm.get(t, -1) + zero != offered] + \
        [f"gate: batch {b} beyond the last tick" for b in adm if b >= len(m["vecs_offered"])]


def committed_dirs(root: str) -> list:
    """The directories a reader of a batch-index tree sees: committed
    runs (`run=<lo>-<hi>`, `compacted=<hi>`) not contained in another,
    plus every committed `batch=<id>` above them. Committed means the
    directory holds the commit marker."""
    runs, batches = [], []
    for d in os.listdir(root):
        path = os.path.join(root, d)
        if not os.path.exists(os.path.join(path, "_GRAFT_COMMIT")):
            continue
        if d.startswith("batch="):
            batches.append((int(d[6:]), path))
        elif d.startswith("run="):
            lo, hi = (int(x) for x in d[4:].split("-"))
            runs.append((lo, hi, path))
        elif d.startswith("compacted="):
            runs.append((-2**63, int(d[10:]), path))
    active = [r for r in runs if not any(o != r and o[0] <= r[0] and r[1] <= o[1]
                                         for o in runs)]
    bound = max((r[1] for r in active), default=None)
    return [p for _, _, p in active] + [p for i, p in batches if bound is None or i > bound]


def check_index_rows(index_dir: str, admitted: list) -> list:
    """Rows of the committed vector index, read by DuckDB from its
    parquet files, == vectors admitted."""
    files = [f for d in committed_dirs(index_dir)
             for f in glob.glob(f"{d}/**/*.parquet", recursive=True)]
    n = duckdb.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else 0
    total = sum(int(x) for _, x in admitted)
    return [] if n == total else [f"vector index holds {n} rows, {total} admitted"]


def check_topk(stream_dir: str, got: pd.DataFrame, k: int) -> list:
    """Full-probe top-k == brute-force cosine top-k over every nonzero
    (indexed) vector."""
    cols = "columns = {vec_id: 'BIGINT', v: 'DOUBLE[]'}"
    want = duckdb.sql(f"""
        WITH p AS (SELECT * FROM read_json('{stream_dir}/vecs_boot.jsonl', {cols})
                   ORDER BY vec_id LIMIT 8),
             c AS (SELECT * FROM read_json('{stream_dir}/vecs/tick-*.jsonl', {cols})
                   WHERE list_dot_product(v, v) > 0),
             s AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                          list_cosine_similarity(p.v, c.v) AS cosine FROM p, c),
             r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                          ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
        SELECT probe_id, rank, neighbor_id, cosine FROM r WHERE rank <= {k}""").df()
    g = got.sort_values(["probe_id", "rank"]).reset_index(drop=True)
    w = want.sort_values(["probe_id", "rank"]).reset_index(drop=True)
    if len(g) != len(w):
        return [f"top-k: {len(g)} rows != {len(w)}"]
    if list(g.probe_id) != list(w.probe_id) or list(g["rank"]) != list(w["rank"]) \
            or list(g.neighbor_id) != list(w.neighbor_id):
        return ["top-k: neighbours differ from the brute-force top-k"]
    if ((g.cosine - w.cosine).abs() > 1e-9).any():
        return ["top-k: cosines differ from the brute-force top-k"]
    return []


def check_stream(stream_dir: str, check: dict) -> list:
    con, m = stream_connection(stream_dir)
    d = check["dir"]
    kl = pd.DataFrame(check["kl"], columns=["batch", "key", "id", "label"])
    return (check_keep_latest(con, kl)
            + check_enrich(con, _table(d, "enrich"))
            + check_tumble(con, m, _table(d, "tumble"))
            + check_join(con, m, _table(d, "join"))
            + check_watermark_drops(m, check["progress"])
            + check_gate(m, check["admitted"])
            + check_index_rows(os.path.join(check["root"], "ivf", "assign"), check["admitted"])
            + check_topk(stream_dir, _table(d, "topk_full"), check["topk"]))
