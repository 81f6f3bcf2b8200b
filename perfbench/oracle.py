"""Independent correctness check and freshness join, in DuckDB.

Expected results come from the generator's event log alone, never from
the engine's batch path; actual results are the engine's committed
output files.  Each check returns (expected count, mismatches), where a
mismatch is a missing, extra or wrong row.
"""
import json
import os

import duckdb

WIN_US = 5_000_000            # feed candles: 5 s windows
GOLD_DELAY_MS = 2_000         # gold watermark
BAND_US = 5_000_000           # spread band


def connect(root):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{root}/duckdb_tmp'")
    con.execute(f"""CREATE TABLE ev AS SELECT * FROM read_csv('{root}/events.csv', header=true,
        columns={{'feed':'VARCHAR','offset_us':'BIGINT','symbol':'VARCHAR','trade_id':'BIGINT',
                  'ts_us':'BIGINT','price':'BIGINT','side':'VARCHAR','size':'BIGINT',
                  'kind':'VARCHAR'}})""")
    return con


def sink_files(path):
    """(file, commit time ns) for every data file a file sink committed:
    a file belongs to the first `_spark_metadata` batch that lists it,
    and that log file's mtime is the commit time."""
    meta = os.path.join(path, "_spark_metadata")
    logs = []
    for f in os.listdir(meta):
        if f.startswith("."):
            continue
        logs.append((int(f.split(".")[0]), os.path.join(meta, f)))
    seen = {}
    for _, f in sorted(logs):
        mtime = os.stat(f).st_mtime_ns
        with open(f) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                if e.get("action", "add") == "add" and not e.get("isDir"):
                    p = e["path"].removeprefix("file://").removeprefix("file:")
                    seen.setdefault(p, mtime)
    return seen


def load_sink(con, name, path):
    """Table `name` of a file sink's rows plus `commit_ns`."""
    files = sink_files(path)
    con.execute(f"CREATE TABLE {name}_commits(file VARCHAR, commit_ns BIGINT)")
    con.executemany(f"INSERT INTO {name}_commits VALUES (?, ?)", list(files.items()))
    if files:
        lst = ", ".join(f"'{f}'" for f in files)
        con.execute(f"""CREATE TABLE {name} AS SELECT r.*, c.commit_ns
            FROM read_parquet([{lst}], filename=true) r JOIN {name}_commits c
            ON r.filename = c.file""")
    return len(files)


def units(col, scale):
    """An unsigned decimal column as an integer count of 10^-scale units."""
    return f"CAST(replace(CAST(CAST({col} AS DECIMAL(38,{scale})) AS VARCHAR), '.', '') AS HUGEINT)"


def mismatches(con, expected, actual):
    """Missing, wrong or extra rows, as multisets: a wrong row is both a
    missing and an extra one and counts once."""
    return con.execute(f"""SELECT greatest((SELECT count(*) FROM ({expected} EXCEPT ALL {actual})),
                                      (SELECT count(*) FROM ({actual} EXCEPT ALL {expected})))""").fetchone()[0]


# ---------------------------------------------------------------- feeds

def check_medallion(con, root, t0_ns, from_us=0):
    """Silver and gold against the event log; freshness of events created
    `from_us` or later into the schedule."""
    load_sink(con, "silver", f"{root}/lake/delta/silver")
    load_sink(con, "gold", f"{root}/lake/delta/gold")
    # silver: every trade once, no rejects, no late rows
    con.execute("""CREATE TABLE exp_silver AS SELECT symbol, trade_id, ts_us, price, side, size,
        offset_us FROM ev WHERE kind IN ('ok', 'ooo', 'warm')""")
    n_silver = con.execute("SELECT count(*) FROM exp_silver").fetchone()[0]
    bad_silver = mismatches(con,
        "SELECT symbol, trade_id, ts_us, price, side, size FROM exp_silver",
        f"""SELECT symbol, trade_id, epoch_us(trade_timestamp), {units('price', 8)},
            taker_side, {units('last_size', 8)} FROM silver""")
    # gold: 5 s candles finalized once the watermark (max event time
    # minus 2 s) reaches the window end
    wm_us = con.execute(f"SELECT (max(ts_us) // 1000 - {GOLD_DELAY_MS}) * 1000 FROM exp_silver").fetchone()[0]
    con.execute(f"""CREATE TABLE exp_gold AS SELECT
          ts_us // {WIN_US} * {WIN_US} AS ws, symbol,
          arg_min(price, ts_us) AS open, max(price) AS high, min(price) AS low,
          arg_max(price, ts_us) AS close, count(*) AS n,
          (CAST(sum(price) AS HUGEINT) * 20000 + count(*)) // (2 * count(*)) AS vwap12,
          max(offset_us) FILTER (WHERE kind <> 'warm') AS last_offset
        FROM ev WHERE kind IN ('ok', 'ooo', 'warm')
        GROUP BY 1, 2 HAVING ws + {WIN_US} <= {wm_us}""")
    n_gold = con.execute("SELECT count(*) FROM exp_gold").fetchone()[0]
    bad_gold = mismatches(con,
        "SELECT ws, symbol, open, high, low, close, n, vwap12 FROM exp_gold",
        f"""SELECT epoch_us(window_start), symbol, {units('open', 8)}, {units('high', 8)},
            {units('low', 8)}, {units('close', 8)}, trade_count, {units('vwap', 12)} FROM gold""")
    silver_fresh = [r[0] for r in con.execute(f"""SELECT (s.commit_ns - ({t0_ns} + e.offset_us * 1000)) / 1e9
        FROM silver s JOIN ev e ON s.symbol = e.symbol AND s.trade_id = e.trade_id
        WHERE e.kind IN ('ok', 'ooo') AND e.offset_us >= {from_us}""").fetchall()]
    gold_fresh = [r[0] for r in con.execute(f"""SELECT (g.commit_ns - ({t0_ns} + x.last_offset * 1000)) / 1e9
        FROM gold g JOIN exp_gold x ON epoch_us(g.window_start) = x.ws AND g.symbol = x.symbol
        WHERE x.last_offset >= {from_us}""").fetchall()]
    last_commit, n_rows = con.execute("SELECT max(commit_ns), count(*) FROM silver").fetchone()
    return {"expected": n_silver + n_gold, "rows_out": n_rows, "bad": bad_silver + bad_gold,
            "detail": {"silver_expected": n_silver, "silver_bad": bad_silver,
                       "gold_expected": n_gold, "gold_bad": bad_gold},
            "fresh": silver_fresh, "gold_fresh": gold_fresh, "last_commit_ns": last_commit,
            "batches": {"silver": commits(con, "silver"), "gold": commits(con, "gold")}}


def commits(con, name):
    return con.execute(f"SELECT count(DISTINCT commit_ns) FROM {name}").fetchone()[0]


def check_spread(con, root, t0_ns, from_us=0):
    load_sink(con, "spread", f"{root}/lake/spread")
    # the join sees every parsed trade (no dedup on this path) except
    # the late ones, which its watermark drops
    con.execute(f"""CREATE TABLE exp_pairs AS SELECT
          a.ts_us AS ts_a, a.symbol AS symbol_a, a.price AS price_a,
          b.ts_us AS ts_b, b.symbol AS symbol_b, b.price AS price_b,
          greatest(a.offset_us, b.offset_us) AS offset_us,
          a.kind = 'warm' AS warm
        FROM ev a JOIN ev b
          ON split_part(a.symbol, '-', 1) = split_part(b.symbol, '-', 1)
         AND b.ts_us BETWEEN a.ts_us - {BAND_US} AND a.ts_us
        WHERE a.feed = 'A' AND b.feed = 'B'
          AND a.kind IN ('ok', 'ooo', 'dup', 'warm') AND b.kind IN ('ok', 'ooo', 'dup', 'warm')""")
    n = con.execute("SELECT count(*) FROM exp_pairs").fetchone()[0]
    key = "ts_a, symbol_a, price_a, ts_b, symbol_b, price_b"
    actual = f"""SELECT epoch_us(ts_a) AS ts_a, symbol_a, {units('price_a', 8)} AS price_a,
        epoch_us(ts_b) AS ts_b, symbol_b, {units('price_b', 8)} AS price_b,
        commit_ns FROM spread"""
    bad = mismatches(con, f"SELECT {key} FROM exp_pairs", f"SELECT {key} FROM ({actual})")
    # a pair key made twice (a re-delivered trade) matches its k-th
    # commit to its k-th creation
    fresh = [r[0] for r in con.execute(f"""
        WITH a AS (SELECT *, row_number() OVER (PARTITION BY {key} ORDER BY commit_ns) AS k FROM ({actual})),
             e AS (SELECT *, row_number() OVER (PARTITION BY {key} ORDER BY offset_us) AS k
                   FROM exp_pairs WHERE NOT warm AND offset_us >= {from_us})
        SELECT (a.commit_ns - ({t0_ns} + e.offset_us * 1000)) / 1e9 FROM a JOIN e USING ({key}, k)""").fetchall()]
    last_commit, n_rows = con.execute("SELECT max(commit_ns), count(*) FROM spread").fetchone()
    late = dict(con.execute("SELECT feed, count(*) FROM ev WHERE kind = 'late' GROUP BY 1").fetchall())
    return {"expected": n, "rows_out": n_rows, "bad": bad,
            "detail": {"pairs_expected": n, "pairs_bad": bad},
            "fresh": fresh, "last_commit_ns": last_commit,
            "batches": {"spread": commits(con, "spread")},
            # feed B rows are exploded into two time buckets before the join
            "late_expected": late.get("A", 0) + 2 * late.get("B", 0)}
