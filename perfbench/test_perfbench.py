"""Self-tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402
import run  # noqa: E402
import spans as sp  # noqa: E402


def render(root, workload, seed, n, size, bases):
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "render", root, workload,
                    str(seed), str(n), str(size), str(bases)], check=True)


def dec(units, scale, width=18):
    """Exact DECIMAL(width, scale) from an integer count of 10^-scale units."""
    return (f"CAST(CAST({units} AS DECIMAL(18,0)) * CAST('{1 / 10 ** scale:.{scale}f}' "
            f"AS DECIMAL({scale + 1},{scale})) AS DECIMAL({width},{scale}))")


def write_sink(con, path, select):
    """A one-batch file sink at `path` holding the rows of `select`."""
    os.makedirs(f"{path}/_spark_metadata")
    part = f"{path}/part-00000.parquet"
    con.execute(f"COPY ({select}) TO '{part}' (FORMAT PARQUET)")
    with open(f"{path}/_spark_metadata/0", "w") as f:
        f.write("v1\n" + json.dumps({"path": "file://" + part, "size": 1, "isDir": False,
                                     "modificationTime": 0, "blockReplication": 1,
                                     "blockSize": 1, "action": "add"}) + "\n")


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(sp.percentile(xs, 50), 50)
        self.assertEqual(sp.percentile(xs, 90), 90)
        self.assertEqual(sp.percentile([7], 90), 7)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(sp.highest_supported(19))
        self.assertEqual(sp.highest_supported(20), 50)
        self.assertEqual(sp.highest_supported(99), 75)
        self.assertEqual(sp.highest_supported(100), 90)
        self.assertEqual(sp.highest_supported(1000), 99)
        self.assertEqual(sp.highest_supported(10000), 99.9)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start_us": 0, "end_us": 100},
            # two overlapping children cover 10..60
            {"id": 2, "parent": 1, "start_us": 10, "end_us": 40},
            {"id": 3, "parent": 1, "start_us": 30, "end_us": 60},
            # a child running past its parent counts only inside it
            {"id": 4, "parent": 1, "start_us": 90, "end_us": 120},
            # a grandchild is subtracted from its own parent only
            {"id": 5, "parent": 2, "start_us": 15, "end_us": 25},
        ]
        st = sp.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 30)
        self.assertEqual(st[5], 10)

    def test_batch_spans_lay_phases_end_to_end(self):
        p = {"id": "q1", "batchId": 3, "timestamp": "2024-03-01T00:00:00.000Z",
             "durationMs": {"triggerExecution": 100, "latestOffset": 10, "walCommit": 5,
                            "getBatch": 1, "queryPlanning": 4, "addBatch": 70,
                            "commitOffsets": 6}}
        out = sp.batch_spans([p], {"q1": "silver"}, 1)
        self.assertEqual(out[0]["name"], "stream.silver.batch")
        self.assertEqual([s["name"] for s in out[1:]],
                         ["stream." + ph for ph in sp.PHASES])
        self.assertEqual(out[-1]["end_us"], out[0]["start_us"] + 96_000)
        stage = {"id": 99, "parent": -1, "trace": "q1/3", "name": "spark.stage",
                 "start_us": out[5]["start_us"] + 1, "end_us": out[5]["start_us"] + 2}
        sp.attach_stream_stages(out + [stage])
        self.assertEqual(stage["parent"], out[5]["id"])     # addBatch


class TracingOverhead(unittest.TestCase):
    def test_reads_against_the_same_seed_when_it_can(self):
        hist = [{"seed": 1, "metrics": {"cpu_s_per_mevent": 100.0, "events_per_s": 1000.0}},
                {"seed": 2, "metrics": {"cpu_s_per_mevent": 200.0, "events_per_s": 900.0}},
                {"seed": 2, "metrics": {"cpu_s_per_mevent": 300.0, "events_per_s": 800.0}},
                {"seed": 2, "metrics": {"cpu_s_per_mevent": 400.0, "events_per_s": 700.0}}]
        traced = {"cpu_s_per_mevent": 330.0, "events_per_s": 760.0}
        out = run.overhead(hist, 2, traced)
        self.assertEqual(out["trace.base_runs"], 3)
        self.assertAlmostEqual(out["trace.overhead_cpu_frac"], 0.1)
        self.assertAlmostEqual(out["trace.overhead_events_per_s_frac"], -0.05)
        self.assertAlmostEqual(out["trace.base_range_cpu_frac"], 200 / 300)
        # no run of seed 3: the median of every seed
        out = run.overhead(hist, 3, traced)
        self.assertEqual(out["trace.base_runs"], 4)
        self.assertAlmostEqual(out["trace.overhead_cpu_frac"], 330 / 250 - 1)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = f"{d}/a", f"{d}/b", f"{d}/c"
            for root, seed in ((a, 5), (b, 5), (c, 6)):
                os.makedirs(root)
                render(root, "feed_spread", seed, 2, 300, 20)
            cmp = filecmp.dircmp(a, b)
            self.assertEqual(cmp.diff_files, [])
            for sub in ("stage/A", "stage/B", "rawA", "rawB"):
                sc = filecmp.dircmp(f"{a}/{sub}", f"{b}/{sub}")
                self.assertEqual(sc.diff_files, [])
                self.assertEqual(sc.left_only + sc.right_only, [])
            self.assertFalse(filecmp.cmp(f"{a}/events.csv", f"{c}/events.csv", shallow=False))

    def test_event_times_unique_per_symbol(self):
        with tempfile.TemporaryDirectory() as d:
            render(d, "feed_medallion", 3, 2, 2000, 4)
            con = oracle.connect(d)
            dup = con.execute("""SELECT count(*) FROM (SELECT symbol, ts_us FROM ev
                WHERE kind NOT IN ('dup', 'rej') GROUP BY 1, 2 HAVING count(*) > 1)""").fetchone()[0]
            self.assertEqual(dup, 0)
            kinds = dict(con.execute("SELECT kind, count(*) FROM ev GROUP BY 1").fetchall())
            for k in ("ok", "ooo", "dup", "rej", "late", "warm"):
                self.assertGreater(kinds.get(k, 0), 0, k)


class OracleCatchesPlantedErrors(unittest.TestCase):
    def medallion_root(self, d, plant):
        render(d, "feed_medallion", 7, 3, 400, 3)
        con = oracle.connect(d)
        write_sink(con, f"{d}/lake/delta/silver", f"""SELECT symbol,
            {dec('price', 8)} AS price, make_timestamp(ts_us) AS trade_timestamp,
            trade_id, side AS taker_side, {dec('size', 8)} AS last_size
            FROM ev WHERE kind IN ('ok', 'ooo', 'warm')""")
        wm = con.execute("SELECT (max(ts_us) // 1000 - 2000) * 1000 FROM ev WHERE kind IN ('ok','ooo','warm')").fetchone()[0]
        con.execute(f"""CREATE TABLE g AS SELECT * FROM (
              SELECT ts_us // 5000000 * 5000000 AS ws, symbol, arg_min(price, ts_us) AS o,
                     max(price) AS h, min(price) AS l, arg_max(price, ts_us) AS c, count(*) AS n,
                     CAST(sum(price) AS HUGEINT) AS s
              FROM ev WHERE kind IN ('ok', 'ooo', 'warm') GROUP BY 1, 2)
            WHERE ws + 5000000 <= {wm}""")
        if plant:
            con.execute("""UPDATE g SET c = c + 1 WHERE (ws, symbol) =
                (SELECT (ws, symbol) FROM g ORDER BY ws DESC, symbol LIMIT 1)""")
        write_sink(con, f"{d}/lake/delta/gold", f"""SELECT make_timestamp(ws) AS window_start,
            symbol, {dec('o', 8)} AS open, {dec('h', 8)} AS high, {dec('l', 8)} AS low,
            {dec('c', 8)} AS close, n AS trade_count,
            {dec('(s * 20000 + n) // (2 * n)', 12, 22)} AS vwap FROM g""")
        return oracle.check_medallion(oracle.connect(d), d, 0)

    def test_medallion_exact_output_passes_and_wrong_candle_fails(self):
        with tempfile.TemporaryDirectory() as d:
            ok = self.medallion_root(d, plant=False)
        self.assertGreater(ok["detail"]["gold_expected"], 0)
        self.assertEqual(ok["bad"], 0)
        with tempfile.TemporaryDirectory() as d:
            bad = self.medallion_root(d, plant=True)
        self.assertEqual(bad["detail"]["gold_bad"], 1)
        self.assertEqual(bad["detail"]["silver_bad"], 0)

    def spread_root(self, d, drop):
        render(d, "feed_spread", 9, 2, 300, 10)
        con = oracle.connect(d)
        write_sink(con, f"{d}/lake/spread", f"""SELECT split_part(a.symbol, '-', 1) AS base,
            make_timestamp(a.ts_us) AS ts_a, a.symbol AS symbol_a,
            {dec('a.price', 8)} AS price_a,
            make_timestamp(b.ts_us) AS ts_b, b.symbol AS symbol_b,
            {dec('b.price', 8)} AS price_b
            FROM ev a JOIN ev b ON split_part(a.symbol, '-', 1) = split_part(b.symbol, '-', 1)
              AND b.ts_us BETWEEN a.ts_us - 5000000 AND a.ts_us
            WHERE a.feed = 'A' AND b.feed = 'B' AND a.kind IN ('ok','ooo','dup','warm')
              AND b.kind IN ('ok','ooo','dup','warm')
            ORDER BY a.ts_us, b.ts_us OFFSET {drop}""")
        return oracle.check_spread(oracle.connect(d), d, 0)

    def test_spread_exact_output_passes_and_missing_pair_fails(self):
        with tempfile.TemporaryDirectory() as d:
            ok = self.spread_root(d, drop=0)
        self.assertGreater(ok["expected"], 0)
        self.assertEqual(ok["bad"], 0)
        with tempfile.TemporaryDirectory() as d:
            bad = self.spread_root(d, drop=1)
        self.assertEqual(bad["bad"], 1)


if __name__ == "__main__":
    unittest.main()
