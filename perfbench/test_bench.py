"""The benchmark's own tests: every output check rejects a corrupted
result (one changed row, one missing row, one extra row), and the input
generator is deterministic per seed. No JVM is started.

Usage: python3 perfbench/test_bench.py
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest
import warnings

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


def changed(df, col, value):
    out = df.copy()
    out.loc[out.index[0], col] = value
    return out


def missing(df):
    return df.iloc[1:].copy()


def extra(df, row):
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", FutureWarning)  # all-null columns in `row`
        return pd.concat([df, pd.DataFrame([row])], ignore_index=True)


class GeneratorTest(unittest.TestCase):
    def files(self, root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    def same_tree(self, a, b):
        fa, fb = self.files(a), self.files(b)
        return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False) for f in fa)

    def test_batch_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen.batch_tables(f"{t}/{name}", seed, scale=0.002)
            self.assertTrue(self.same_tree(f"{t}/a", f"{t}/b"))
            self.assertFalse(filecmp.cmp(f"{t}/a/lineitem.parquet", f"{t}/c/lineitem.parquet",
                                         shallow=False))
            self.assertFalse(filecmp.cmp(f"{t}/a/documents.parquet",
                                         f"{t}/c/documents.parquet", shallow=False))

    def test_stream_ticks_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen.stream_ticks(f"{t}/{name}", seed)
            self.assertTrue(self.same_tree(f"{t}/a", f"{t}/b"))
            self.assertFalse(self.same_tree(f"{t}/a", f"{t}/c"))


class BatchCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = f"{cls.tmp.name}/data"
        gen.batch_tables(cls.data, 3, scale=0.002)
        cls.sql = ("SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total "
                   "FROM orders GROUP BY o_orderpriority")
        cls.con = checks.batch_connection(cls.data)
        cls.want = cls.con.sql(cls.sql).df()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    @classmethod
    def changelog(cls, stateful):
        """Per tick, each key's newest update of the tick, emitted when it is
        newer than every earlier tick's (stateful) or always (stateless)."""
        newest, rows = {}, []
        for t in range(cls.m["ticks"]):
            best = {}
            for _, k, i, label in (u for u in cls.updates if u[0] == t):
                if i > best.get(k, (-1,))[0]:
                    best[k] = (i, label)
            for k, (i, label) in sorted(best.items()):
                if not stateful or i > newest.get(k, -1):
                    rows.append({"batch": t, "key": k, "id": i, "label": label})
                newest[k] = max(newest.get(k, -1), i)
        return pd.DataFrame(rows)

    def run_check(self, got):
        out = f"{self.tmp.name}/check"
        os.makedirs(f"{out}/q", exist_ok=True)
        pq.write_table(pa.Table.from_pandas(got, preserve_index=False), f"{out}/q/part.parquet")
        with open(f"{out}/oracle_sql.json", "w") as f:
            json.dump({"q": self.sql}, f)
        return checks.check_batch(self.data, out, ["q"])

    def test_accepts_the_oracle_result_in_any_row_order(self):
        self.assertEqual(self.run_check(self.want.iloc[::-1]), [])

    def test_rejects_a_changed_row(self):
        self.assertTrue(self.run_check(changed(self.want, "n", 1)))

    def test_rejects_a_one_ulp_float_change(self):
        v = float(self.want["total"].iloc[0])
        import math
        self.assertTrue(self.run_check(changed(self.want, "total", math.nextafter(v, 0))))

    def test_rejects_a_missing_row(self):
        self.assertTrue(self.run_check(missing(self.want)))

    def test_rejects_an_extra_row(self):
        self.assertTrue(self.run_check(extra(self.want, self.want.iloc[0].to_dict())))


class StreamCheckTest(unittest.TestCase):
    """Each stream check against the expected outputs built from the
    generated events, then against corrupted copies of them."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dir = f"{cls.tmp.name}/stream"
        gen.stream_ticks(cls.dir, 11)
        cls.con, cls.m = checks.stream_connection(cls.dir)
        cls.updates = []     # (tick, key, id, label) of every dimension update
        for t in range(cls.m["ticks"]):
            with open(f"{cls.dir}/events/tick-{t:04d}.jsonl") as f:
                cls.updates += [(t, r["key"], r["id"], r["label"])
                                for r in map(json.loads, f) if r["kind"] == "d"]
        cls.kl = cls.changelog(stateful=True)
        cls.enrich = cls.con.sql("""
            SELECT p.pid, d.ver, d.label FROM probe p LEFT JOIN
              (SELECT dkey, max(ver) AS ver, arg_max(label, ver) AS label FROM dim_boot
               GROUP BY dkey) d ON p.pkey = d.dkey""").df()
        w = cls.m["window_s"] * 1000000
        cls.tumble = cls.con.sql(f"""
            SELECT * FROM (SELECT pkey, pts - pts % {w} AS ws_us, count(*) AS n FROM probe
              WHERE NOT late GROUP BY 1, 2) WHERE ws_us + {w} <= {cls.m['watermark_last_us']}
            """).df()
        b = cls.m["bound_s"] * 1000000
        cls.join = cls.con.sql(f"""
            SELECT p.pid, d.ver FROM (SELECT * FROM probe WHERE NOT late) p
            LEFT JOIN (SELECT * FROM dim WHERE NOT late) d
              ON p.pkey = d.dkey AND d.dts >= p.pts - {b} AND d.dts <= p.pts + {b}
            WHERE d.ver IS NOT NULL OR p.pts + {b} < {cls.m['watermark_last_us']}""").df()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    @classmethod
    def changelog(cls, stateful):
        """Per tick, each key's newest update of the tick, emitted when it is
        newer than every earlier tick's (stateful) or always (stateless)."""
        newest, rows = {}, []
        for t in range(cls.m["ticks"]):
            best = {}
            for _, k, i, label in (u for u in cls.updates if u[0] == t):
                if i > best.get(k, (-1,))[0]:
                    best[k] = (i, label)
            for k, (i, label) in sorted(best.items()):
                if not stateful or i > newest.get(k, -1):
                    rows.append({"batch": t, "key": k, "id": i, "label": label})
                newest[k] = max(newest.get(k, -1), i)
        return pd.DataFrame(rows)

    def assert_rejects_corruption(self, check, good, col, value, extra_row):
        self.assertEqual(check(good), [])
        self.assertTrue(check(changed(good, col, value)), "changed row accepted")
        self.assertTrue(check(missing(good)), "missing row accepted")
        self.assertTrue(check(extra(good, extra_row)), "extra row accepted")

    def test_generator_places_late_events(self):
        late = self.con.sql("SELECT count(*) FILTER (WHERE late AND kind = 'p'), "
                            "count(*) FILTER (WHERE late AND kind = 'd') FROM ev_marked").fetchone()
        self.assertEqual(late, (self.m["late_probe"], self.m["late_dim"]))
        self.assertGreater(self.m["late_probe"], 0)

    def test_keep_latest(self):
        self.assertGreater(self.m["stale_dim"], 0)
        check = lambda df: checks.check_keep_latest(self.con, df)  # noqa: E731
        self.assert_rejects_corruption(
            check, self.kl, "label", "corrupt", {"batch": 0, "key": "k9999", "id": 10**9,
                                                  "label": "x"})
        # an operator without state: every update passed through, or each
        # batch's newest update per key emitted even when an earlier batch
        # brought a newer version
        passed = pd.DataFrame(self.updates, columns=["batch", "key", "id", "label"])
        self.assertTrue(check(passed), "pass-through accepted")
        self.assertTrue(check(self.changelog(stateful=False)), "batch maxima accepted")
        # the right rows, one batch late
        late = self.kl.copy()
        late.loc[late["batch"] == 1, "batch"] = 2
        self.assertTrue(check(late), "emission in a later batch accepted")
        # a row emitted twice
        self.assertTrue(check(pd.concat([self.kl, self.kl.iloc[:1]], ignore_index=True)))

    def test_enrich(self):
        self.assert_rejects_corruption(
            lambda df: checks.check_enrich(self.con, df), self.enrich,
            "label", "corrupt", {"pid": 10**9, "ver": None, "label": None})

    def test_tumble(self):
        self.assert_rejects_corruption(
            lambda df: checks.check_tumble(self.con, self.m, df), self.tumble,
            "n", 10**6, {"pkey": "k0", "ws_us": 0, "n": 1})

    def test_join(self):
        self.assert_rejects_corruption(
            lambda df: checks.check_join(self.con, self.m, df), self.join,
            "pid", 10**9, {"pid": 10**9, "ver": None})

    def test_watermark_drops(self):
        def progress(tumble, join):
            return {"kl": [{"state": [{"dropped": 0}]}],
                    "tumble": [{"state": [{"dropped": tumble}]}],
                    "join": [{"state": [{"dropped": join}]}]}
        lp, ld = self.m["late_probe"], self.m["late_dim"]
        self.assertEqual(checks.check_watermark_drops(self.m, progress(lp, lp + ld)), [])
        self.assertTrue(checks.check_watermark_drops(self.m, progress(lp - 1, lp + ld)))
        self.assertTrue(checks.check_watermark_drops(self.m, progress(lp, lp + ld + 1)))

    def test_gate(self):
        good = [[t, o - z] for t, (o, z) in
                enumerate(zip(self.m["vecs_offered"], self.m["vecs_planted_zero"]))]
        self.assertGreater(sum(self.m["vecs_planted_zero"]), 0)
        self.assertEqual(checks.check_gate(self.m, good), [])
        self.assertTrue(checks.check_gate(self.m, [[0, good[0][1] + 1]] + good[1:]))
        self.assertTrue(checks.check_gate(self.m, good[1:]))
        self.assertTrue(checks.check_gate(self.m, good + [[len(good), 1]]))

    def test_index_rows(self):
        root = f"{self.tmp.name}/index"
        admitted = [[0, 3], [1, 2], [2, 4]]

        def write(d, n, marker=True):
            os.makedirs(f"{root}/{d}/centroid_id=0", exist_ok=True)
            pq.write_table(pa.table({"neighbor_id": list(range(n))}),
                           f"{root}/{d}/centroid_id=0/part-0.parquet")
            if marker:
                open(f"{root}/{d}/_GRAFT_COMMIT", "w").close()
        write("run=0-1", 5)
        write("batch=0", 3)   # folded into the run, not yet cleaned up
        write("batch=2", 4)
        write("batch=3", 7, marker=False)   # not committed
        self.assertEqual(checks.check_index_rows(root, admitted), [])
        self.assertTrue(checks.check_index_rows(root, [[0, 3], [1, 2]]))
        self.assertTrue(checks.check_index_rows(root, [[0, 3], [1, 2], [2, 5]]))
        write("batch=4", 1)
        self.assertTrue(checks.check_index_rows(root, admitted))

    def test_topk(self):
        want = duckdb.sql(f"""
            WITH p AS (SELECT * FROM read_json('{self.dir}/vecs_boot.jsonl',
                         columns = {{vec_id: 'BIGINT', v: 'DOUBLE[]'}}) ORDER BY vec_id LIMIT 8),
                 c AS (SELECT * FROM read_json('{self.dir}/vecs/tick-*.jsonl',
                         columns = {{vec_id: 'BIGINT', v: 'DOUBLE[]'}})
                       WHERE list_dot_product(v, v) > 0),
                 s AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                         list_cosine_similarity(p.v, c.v) AS cosine FROM p, c)
            SELECT probe_id, row_number() OVER (PARTITION BY probe_id
                     ORDER BY cosine DESC, neighbor_id) AS rank, neighbor_id, cosine
            FROM s QUALIFY rank <= 10""").df()
        self.assert_rejects_corruption(
            lambda df: checks.check_topk(self.dir, df, 10), want,
            "neighbor_id", -1, {"probe_id": 0, "rank": 11, "neighbor_id": 1, "cosine": 0.0})
        self.assertTrue(checks.check_topk(self.dir, changed(want, "cosine", 0.5), 10))


if __name__ == "__main__":
    unittest.main()
