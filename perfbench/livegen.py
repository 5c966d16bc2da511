"""Open-loop trade and signal feed for the `live` workload.

A single process (run.py pins numpy's thread pools to one thread) that
writes parquet files into the directories `Live.main` reads. Event time
is accelerated: one wall second is ACCEL seconds of event time, so with
ACCEL=60 a 1-minute bar closes every wall second.

  backfill  <live_dir> <seed>             a few minutes of history, untimed
  run       <live_dir> <seed> <ladder>    the timed schedule

`ladder` is `rate:seconds:phase,...` in trades per wall second; the phase
name is copied into the ledger (`warmup` windows are not measured).
Every TICK seconds the generator writes one trade file for the interval it
covers, each event stamped with the time it was due, on schedule whether
or not the engine keeps up (a late tick is written as soon as possible and
its lag is logged, never skipped). Once per event-time minute it writes one
position-FSM signal row per symbol. A final flush trade per symbol, far
enough ahead in event time to pass the 2-minute watermark, closes every
real window. The ledger (`<live_dir>/ledger.jsonl`) records per file its
schedule, creation and write times, rows and event-time range.

The seed is the only source of randomness.
"""
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYMBOLS = 30
ACCEL = 60.0
TICK = 0.25
WATERMARK_MS = 120_000
BACKFILL_MIN = 4
T0_MS = 1_700_000_000_000 - 1_700_000_000_000 % 60_000

TRADE_SCHEMA = pa.schema([
    ("symbol", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ("price", pa.float64()), ("qty", pa.float64()),
    ("isBuyerMaker", pa.bool_()), ("due_us", pa.int64())])
SIGNAL_SCHEMA = pa.schema([
    ("bucket", pa.int64()), ("close", pa.float64()), ("high", pa.float64()),
    ("low", pa.float64()), ("side", pa.string()),
    ("total_long", pa.float64()), ("total_short", pa.float64()),
    ("trail_arm", pa.bool_()), ("symbol", pa.string())])
NAMES = np.array([f"S{i:03d}" for i in range(SYMBOLS)])


def put(table, directory, name):
    """Write atomically: Spark's file source ignores dot-files."""
    tmp = os.path.join(directory, "." + name)
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, os.path.join(directory, name))


class Feed:
    def __init__(self, live_dir, seed, phase):
        self.dir = live_dir
        self.rng = np.random.default_rng([seed, phase])
        state = os.path.join(live_dir, "gen_state.json")
        if os.path.exists(state):
            with open(state) as f:
                s = json.load(f)
            self.price = np.array(s["price"])
            self.ev_ms = s["ev_ms"]
            self.seq = s["seq"]
            self.minute = s["minute"]
        else:
            self.price = 100.0 + np.arange(SYMBOLS) * 3.0
            self.ev_ms, self.seq, self.minute = T0_MS, 0, T0_MS // 60_000
        self.ledger = open(os.path.join(live_dir, "ledger.jsonl"), "a")

    def save(self):
        with open(os.path.join(self.dir, "gen_state.json"), "w") as f:
            json.dump({"price": self.price.tolist(), "ev_ms": self.ev_ms,
                       "seq": self.seq, "minute": self.minute}, f)
        self.ledger.close()

    def trades(self, n, span_ms, created_ms, sched_ms, rate, sym=None,
               phase="backfill"):
        """n trades over [ev_ms, ev_ms + span_ms), one file."""
        rng = self.rng
        if sym is None:
            sym = rng.integers(0, SYMBOLS, n)
        off = np.sort(rng.integers(0, int(span_ms * 1000), n))
        step = rng.normal(0.0, 0.02, n)
        px = np.empty(n)
        for i in range(n):  # per-symbol random walk in event-time order
            self.price[sym[i]] = max(1.0, self.price[sym[i]] + step[i])
            px[i] = round(self.price[sym[i]], 2)
        ts = self.ev_ms * 1000 + off
        t = pa.table({
            "symbol": NAMES[sym], "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "price": px, "qty": np.round(rng.lognormal(0.0, 0.6, n), 3),
            "isBuyerMaker": rng.random(n) < 0.5,
            "due_us": np.full(n, int(sched_ms * 1000))}, schema=TRADE_SCHEMA)
        name = f"t{self.seq:07d}.parquet"
        put(t, os.path.join(self.dir, "trades"), name)
        written = time.time() * 1000.0
        self.ledger.write(json.dumps({
            "file": name, "sched_ms": sched_ms, "created_ms": created_ms,
            "written_ms": written, "rows": n, "rate": rate, "phase": phase,
            "min_ts_ms": int(ts.min() // 1000) if n else self.ev_ms,
            "max_ts_ms": int(ts.max() // 1000) if n else self.ev_ms}) + "\n")
        self.seq += 1
        self.ev_ms += span_ms
        self.signals_upto(self.ev_ms)

    def signals_upto(self, ev_ms):
        """One FSM signal row per symbol for every event minute passed."""
        while (self.minute + 1) * 60_000 <= ev_ms:
            rng = self.rng
            side = rng.choice(["NONE", "LONG", "SHORT"], SYMBOLS,
                              p=[0.8, 0.1, 0.1])
            c = np.round(self.price, 2)
            t = pa.table({
                "bucket": np.full(SYMBOLS, self.minute, dtype=np.int64),
                "close": c, "high": np.round(c * 1.002, 2),
                "low": np.round(c * 0.998, 2), "side": side,
                "total_long": rng.random(SYMBOLS),
                "total_short": rng.random(SYMBOLS),
                "trail_arm": rng.random(SYMBOLS) < 0.5, "symbol": NAMES},
                schema=SIGNAL_SCHEMA)
            put(t, os.path.join(self.dir, "signals"), f"s{self.minute}.parquet")
            self.minute += 1


def backfill(live_dir, seed):
    for d in ("trades", "signals"):
        os.makedirs(os.path.join(live_dir, d), exist_ok=True)
    f = Feed(live_dir, seed, 0)
    now = time.time() * 1000.0
    for _ in range(BACKFILL_MIN * 4):
        f.trades(400, 15_000, now, now, 0)
    f.save()


def run(live_dir, seed, ladder):
    f = Feed(live_dir, seed, 1)
    span_ms = int(TICK * ACCEL * 1000)
    start = time.time() + 0.05
    k = 0
    lag = []
    rungs = []
    for rate, secs, phase in ladder:
        n = int(round(rate * TICK))
        rung_start = start + k * TICK
        for _ in range(int(round(secs / TICK))):
            sched = start + k * TICK
            wait = sched - time.time()
            if wait > 0:
                time.sleep(wait)
            created = time.time() * 1000.0
            lag.append(created - sched * 1000.0)
            f.trades(n, span_ms, created, sched * 1000.0, rate, phase=phase)
            k += 1
        rungs.append({"rate": rate, "phase": phase,
                      "start_ms": rung_start * 1000.0,
                      "end_ms": (start + k * TICK) * 1000.0})
    last_ts = f.ev_ms
    # flush: one trade per symbol past every real window's watermark
    f.ev_ms = last_ts + WATERMARK_MS + 3 * 60_000
    now = time.time() * 1000.0
    f.trades(SYMBOLS, 1, now, now, 0, sym=np.arange(SYMBOLS), phase="flush")
    f.save()
    lag.sort()
    with open(os.path.join(live_dir, "gen_summary.json"), "w") as out:
        json.dump({"rungs": rungs, "lag_max_ms": lag[-1] if lag else 0.0,
                   "lag_p99_ms": lag[int(0.99 * (len(lag) - 1))] if lag else 0.0,
                   "last_real_ts_ms": last_ts,
                   "flush_ts_ms": f.ev_ms}, out)


if __name__ == "__main__":
    mode, live_dir, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if mode == "backfill":
        backfill(live_dir, seed)
    else:
        run(live_dir, seed, [(float(r.split(":")[0]), float(r.split(":")[1]),
                              r.split(":")[2]) for r in sys.argv[4].split(",")])
