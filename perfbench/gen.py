#!/usr/bin/env python3
"""Seeded ticker-feed generator, run as its own process.

`render` writes every input file of a run ahead of time, plus the event
log the oracle and the freshness join read.  `publish` then moves the
rendered feed files into the engine's input directories on an open-loop
schedule, whatever the engine is doing, and records how late it ran.

Traffic dimensions (all drawn from the seed):
  * symbols: drawn uniformly over `bases` base assets, each quoted in
    USD and EUR (feed_spread puts the USD quotes on feed A and the EUR
    quotes on feed B); run.py sizes `bases` so that each symbol ticks
    about 2 times a second, whatever the rate (see README.md for the
    source of that density);
  * ~1% exact re-deliveries of a trade seen in the last second;
  * ~1% rejected rows: `subscriptions` messages, null `product_id`,
    malformed payload JSON;
  * ~5% out-of-order trades, 0.2-1.5 s behind, inside every watermark;
  * ~0.2% late trades, 40 s behind, beyond every watermark (feeds only,
    and only once the run is under way, so the watermark has moved).
Event times are unique per symbol, so a spread pair joins back to the
two trades that made it.

Usage:
  gen.py render  <root> feed_medallion|feed_spread <seed> <seconds> <rate> <bases> [<warm_s>]
  gen.py publish <root>
"""
import json
import os
import random
import sys
import time

BASE_US = 1709330400 * 1_000_000      # 2024-03-01T22:00:00Z
SLOT_US = 100_000                     # feeds publish one file per feed every 100 ms
WARM_BACK_US = 60_000_000             # warm-up input sits 60 s before the stream
LATE_BACK_US = 40_000_000
P_DUP, P_REJECT, P_OOO, P_LATE = 0.01, 0.01, 0.05, 0.002
UNIT = 100_000_000                    # prices and sizes are decimal(18,8)


_SECONDS = {}


def iso(us):
    s, frac = divmod(us, 1_000_000)
    head = _SECONDS.get(s)
    if head is None:
        head = _SECONDS[s] = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s))
    return f"{head}.{frac:06d}Z"


def dec(units):
    return f"{units // UNIT}.{units % UNIT:08d}"


def ticker_line(sym, trade_id, ts_us, price, side, size):
    payload = (f'{{"type":"ticker","product_id":"{sym}","price":"{dec(price)}",'
               f'"volume_24h":"1000.0","time":"{iso(ts_us)}","trade_id":{trade_id},'
               f'"side":"{side}","last_size":"{dec(size)}"}}')
    return kafka_line(sym, payload, ts_us)


def kafka_line(key, payload, ts_us):
    # payloads hold no backslashes or control characters: quotes are
    # the only characters JSON needs escaped
    value = payload.replace('"', '\\"')
    return f'{{"key":"{key}","value":"{value}","timestamp":"{iso(ts_us)}"}}'


class Feed:
    """One exchange feed: its symbols, prices and trade ids."""

    def __init__(self, rng, name, quotes, bases):
        self.rng, self.name, self.quotes, self.bases = rng, name, quotes, bases
        self.price = {}
        self.used = {}                 # symbol -> event times taken
        self.recent = []               # (offset, line, row) for re-delivery
        self.next_id = 1

    def symbol(self, b, q):
        return f"B{b:04d}-{q}"

    def trade(self, offset_us, ts_us, kind):
        rng = self.rng
        b = rng.randrange(self.bases)
        q = self.quotes[rng.randrange(len(self.quotes))]
        sym = self.symbol(b, q)
        used = self.used.setdefault(sym, set())
        while ts_us in used:
            ts_us += 1
        used.add(ts_us)
        # one price path per base; each quote a fixed basis away from it
        base_px = self.price.get(b, (100 + 37 * b) * UNIT)
        base_px = max(UNIT, base_px + rng.randrange(-2000, 2001) * 1000)
        self.price[b] = base_px
        price = base_px + (0 if q == "USD" else 7 * UNIT // 10) + rng.randrange(1000)
        size = rng.randrange(1, 5 * UNIT // 100)
        side = "buy" if rng.random() < 0.5 else "sell"
        tid = self.next_id
        self.next_id += 1
        row = (self.name, offset_us, sym, tid, ts_us, price, side, size, kind)
        line = ticker_line(sym, tid, ts_us, price, side, size)
        self.recent.append((offset_us, line, row))
        if len(self.recent) > 4096:
            del self.recent[:2048]
        return line, row

    def reject(self, offset_us, ts_us):
        r = self.rng.randrange(3)
        if r == 0:
            payload = '{"type":"subscriptions","channels":[{"name":"ticker"}]}'
        elif r == 1:
            payload = (f'{{"type":"ticker","product_id":null,"price":"1.0",'
                       f'"time":"{iso(ts_us)}","trade_id":0}}')
        else:
            payload = f'{{"type":"ticker","product_id":"B0000-USD","price":"1.'
        return kafka_line("reject", payload, ts_us), (
            self.name, offset_us, None, None, ts_us, None, None, None, "rej")

    def redeliver(self, offset_us):
        """Re-send a trade first sent within the last second."""
        lo = offset_us - 1_000_000
        cands = [x for x in self.recent[-256:] if x[0] >= lo and x[2][8] in ("ok", "ooo")]
        if not cands:
            return None
        _, line, row = cands[self.rng.randrange(len(cands))]
        return line, row[:1] + (offset_us,) + row[2:8] + ("dup",)

    def event(self, offset_us, late_ok):
        u = self.rng.random()
        ts = BASE_US + offset_us
        if u < P_REJECT:
            return self.reject(offset_us, ts)
        if u < P_REJECT + P_DUP:
            d = self.redeliver(offset_us)
            if d:
                return d
        if u < P_REJECT + P_DUP + P_LATE and late_ok:
            return self.trade(offset_us, ts - LATE_BACK_US, "late")
        if u < P_REJECT + P_DUP + P_LATE + P_OOO:
            return self.trade(offset_us, ts - self.rng.randrange(200_000, 1_500_000), "ooo")
        return self.trade(offset_us, ts, "ok")


def write_atomic(path, text):
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def render(root, workload, seed, seconds, rate, bases, warm_s=0):
    rng = random.Random(seed)
    rows = []
    render_feeds(root, workload, rng, warm_s + seconds, rate, bases, rows, warm_s)
    cols = ["feed", "offset_us", "symbol", "trade_id", "ts_us", "price", "side",
            "size", "kind"]
    with open(os.path.join(root, "events.csv"), "w") as f:
        f.write(",".join(cols) + "\n")
        for r in rows:
            f.write(",".join("" if v is None else str(v) for v in r) + "\n")


def render_feeds(root, workload, rng, seconds, rate, bases, rows, warm_s):
    """`rate` events/s per feed for `seconds`, one file per feed per slot;
    the first `warm_s` seconds are the warm-up before measuring."""
    if workload == "feed_spread":
        feeds = [Feed(rng, "A", ["USD"], bases), Feed(rng, "B", ["EUR"], bases)]
    else:
        feeds = [Feed(rng, "M", ["USD", "EUR"], bases)]
    n_slots = seconds * 1_000_000 // SLOT_US
    per_slot = rate * SLOT_US // 1_000_000
    manifest = []
    for feed in feeds:
        raw = os.path.join(root, "raw" + ("" if feed.name == "M" else feed.name))
        stage = os.path.join(root, "stage", feed.name)
        os.makedirs(raw, exist_ok=True)
        os.makedirs(stage, exist_ok=True)
        # warm-up: one small file, present before the engine starts
        warm = []
        for i in range(200):
            off = -WARM_BACK_US + i * 5_000
            line, row = feed.trade(off, BASE_US + off, "warm")
            warm.append(line)
            rows.append(row)
        write_atomic(os.path.join(raw, "warm.json"), "\n".join(warm) + "\n")
        for j in range(n_slots):
            lines = []
            for i in range(per_slot):
                off = j * SLOT_US + (i * SLOT_US) // per_slot
                line, row = feed.event(off, late_ok=j >= n_slots * 3 // 10)
                lines.append(line)
                rows.append(row)
            name = f"{j:06d}.json"
            write_atomic(os.path.join(stage, name), "\n".join(lines) + "\n")
            manifest.append((j, feed.name, os.path.relpath(os.path.join(stage, name), root),
                             os.path.relpath(os.path.join(raw, name), root)))
    with open(os.path.join(root, "schedule.json"), "w") as f:
        json.dump({"slot_us": SLOT_US, "measure_slot": warm_s * 1_000_000 // SLOT_US,
                   "files": manifest}, f)


def publish(root):
    """Move slot j's files into place at T0 + (j+1) * slot, open loop."""
    with open(os.path.join(root, "schedule.json")) as f:
        sched = json.load(f)
    slot_ns = sched["slot_us"] * 1000
    by_slot = {}
    for j, _, src, dst in sched["files"]:
        by_slot.setdefault(j, []).append((os.path.join(root, src), os.path.join(root, dst)))
    t0 = time.time_ns()
    late = []
    for j in sorted(by_slot):
        if j == sched["measure_slot"]:
            write_atomic(os.path.join(root, "measure_start"), "")
        due = t0 + (j + 1) * slot_ns
        wait = due - time.time_ns()
        if wait > 0:
            time.sleep(wait / 1e9)
        for src, dst in by_slot[j]:
            os.rename(src, dst)
        late.append((time.time_ns() - due) / 1e6)
    write_atomic(os.path.join(root, "publish.json"),
                 json.dumps({"t0_ns": t0, "late_ms": late}))
    write_atomic(os.path.join(root, "gen_done"), "")


def main(argv):
    if len(argv) >= 2 and argv[1] == "render" and len(argv) in (8, 9):
        render(argv[2], argv[3], int(argv[4]), int(argv[5]), int(argv[6]),
               int(argv[7]), *map(int, argv[8:]))
    elif len(argv) == 3 and argv[1] == "publish":
        publish(argv[2])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv)
