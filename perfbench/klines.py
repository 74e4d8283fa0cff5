"""Open-loop kline load generator for the ``kline_live`` workload.

Rows follow the reference's wire record (FIXTURES.md section 1): one JSON
object per line with the 14 ``KLINE_WIRE_SCHEMA`` fields, for the
reference producer's four coins and 1m/5m/15m/1h/1d intervals. The seed
sets the coin skew (a Zipf exponent and which coin is hottest), the
interval mix and every price and volume. Volumes are multiples of 1/256 below 2**20,
so any summation order gives the exact same double and the routed output
can be compared with the generator's tally without a tolerance.

The engine sees only the landed files; the seed never reaches it.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from collections import Counter

COINS = ("BTCUSDC", "ETHUSDC", "XRPUSDC", "SOLUSDC")
INTERVALS_MS = {
    "1m": 60_000,
    "5m": 300_000,
    "15m": 900_000,
    "1h": 3_600_000,
    "1d": 86_400_000,
}
START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def make_files(seed: int, n_files: int, rows_per_file: int) -> tuple[list[bytes], Counter, Counter]:
    """Build every file's payload up front, so a generator tick only writes.

    Returns the payloads plus the tally the routed output must match:
    row count and exact volume sum per (coin, interval)."""
    rng = random.Random(seed)
    coins = list(COINS)
    zipf_s = rng.uniform(0.9, 1.3)
    coin_w = [1.0 / (rank + 1) ** zipf_s for rank in range(len(coins))]
    rng.shuffle(coin_w)
    interval_w = [rng.uniform(0.5, 2.0) for _ in INTERVALS_MS]
    pairs = [(c, iv) for c in coins for iv in INTERVALS_MS]
    pair_w = [cw * iw for cw in coin_w for iw in interval_w]
    next_open = {p: START_MS for p in pairs}
    price = {c: rng.uniform(0.5, 60_000.0) for c in coins}
    counts: Counter = Counter()
    volumes: Counter = Counter()
    payloads = []
    for _ in range(n_files):
        lines = []
        for coin, iv in rng.choices(pairs, weights=pair_w, k=rows_per_file):
            step = INTERVALS_MS[iv]
            open_ms = next_open[(coin, iv)]
            next_open[(coin, iv)] = open_ms + step
            o = price[coin]
            c = max(o * (1.0 + rng.gauss(0.0, 0.002)), 1e-6)
            price[coin] = c
            volume = min(int(rng.lognormvariate(8.0, 2.0)), 2**20 - 1) / 256.0
            taker = volume * rng.random()
            lines.append(
                json.dumps(
                    {
                        "coin": coin,
                        "timestamp": open_ms,
                        "open": o,
                        "high": max(o, c) * (1.0 + rng.random() * 0.001),
                        "low": min(o, c) * (1.0 - rng.random() * 0.001),
                        "close": c,
                        "volume": volume,
                        "close_time": open_ms + step - 1,
                        "quote_asset_volume": volume * (o + c) / 2.0,
                        "number_of_trades": rng.randint(0, 5000),
                        "taker_buy_base_asset_volume": taker,
                        "taker_buy_quote_asset_volume": taker * (o + c) / 2.0,
                        "ignore": "0",
                        "interval": iv,
                    }
                )
            )
            counts[(coin, iv)] += 1
            volumes[(coin, iv)] += volume
        payloads.append(("\n".join(lines) + "\n").encode())
    return payloads, counts, volumes


def stage_files(staged: str, payloads: list[bytes]) -> None:
    """Write every payload to ``staged`` before the run, so a tick only renames."""
    for i, payload in enumerate(payloads):
        with open(os.path.join(staged, f"k{i:06d}.json"), "wb") as f:
            f.write(payload)


def generate(staged: str, landing: str, tick_s: float, t0: float, result_path: str) -> None:
    """Move the i-th file of ``staged`` into ``landing`` at ``t0 + i * tick_s``
    (``time.time``).

    Runs in its own process, so the engine's driver threads never delay a
    tick. The schedule never waits for the engine (open loop). ``staged`` is
    on the same file system, so each rename lands a whole file at once. The
    schedule, fire times and file names go to ``result_path`` as JSON when
    the last file has landed."""
    due, fired, names = [], [], []
    for i, name in enumerate(sorted(os.listdir(staged))):
        at = t0 + i * tick_s
        wait = at - time.time()
        if wait > 0:
            time.sleep(wait)
        fired.append(time.time())
        os.rename(os.path.join(staged, name), os.path.join(landing, name))
        due.append(at)
        names.append(name)
    with open(result_path, "w") as f:
        json.dump({"due": due, "fired": fired, "names": names}, f)


if __name__ == "__main__":
    # python3 klines.py STAGED LANDING TICK_S T0 RESULT_PATH
    staged_dir, landing_dir, tick, start, result = sys.argv[1:6]
    generate(staged_dir, landing_dir, float(tick), float(start), result)
