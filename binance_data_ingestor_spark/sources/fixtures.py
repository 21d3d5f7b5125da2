"""Deterministic raw-message fixtures.

FIXTURES.md strategy: generate seed-42 raw wire messages (Binance short
field names, all numerics as strings) per stream type and write them as
JSONL for the replay source to read.  No live exchange or Redis needed
for correctness (SURVEY §5).
"""

from __future__ import annotations

import json
import os
import random

SYMBOLS = ("BTCUSDT", "ETHUSDT", "SOLUSDT")
BASE_MS = 1_678_886_400_000  # FIXTURES.md example epoch


def _price(rng: random.Random, base: float) -> str:
    return f"{base + rng.randint(-500, 500) / 100:.8f}"


def gen_raw_messages(
    stream_key: str, n: int, *, seed: int = 42, symbols=SYMBOLS
) -> list[str]:
    """n raw JSON text frames for one stream type (seed-deterministic)."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        sym = symbols[i % len(symbols)]
        ems = BASE_MS + i * 250
        base = 100.0 * (1 + (i % len(symbols)))
        if stream_key == "ticker":
            msg = {
                "e": "24hrTicker", "E": ems, "s": sym,
                "p": _price(rng, 1.5), "P": f"{rng.randint(-300, 300) / 1000:.3f}",
                "c": _price(rng, base), "h": _price(rng, base + 5),
                "l": _price(rng, base - 5), "v": _price(rng, 10_000),
                "q": _price(rng, 1_000_000),
            }
        elif stream_key == "order-book":
            empty = i % 10 == 0
            levels = rng.randint(4, 6)
            bids = [] if empty else [
                [f"{base - 0.01 * j:.8f}", _price(rng, 2)] for j in range(levels)
            ]
            asks = [] if empty else [
                [f"{base + 0.01 * (j + 1):.8f}", _price(rng, 2)] for j in range(levels)
            ]
            msg = {"e": "depthUpdate", "E": ems, "s": sym, "u": 10_000 + i,
                   "b": bids, "a": asks}
        elif stream_key == "trades":
            msg = {"e": "aggTrade", "E": ems, "s": sym,
                   "p": _price(rng, base), "q": _price(rng, 1),
                   "T": ems - rng.randint(0, 5)}
            if i % 7 != 0:  # every 7th omits m → null → "None" downstream
                msg["m"] = bool(i % 2)
        elif stream_key == "klines":
            t0 = ems - (ems % 60_000)
            msg = {
                "e": "kline", "E": ems, "s": sym,
                "k": {"t": t0, "T": t0 + 59_999, "s": sym, "i": "1m",
                      "o": _price(rng, base), "c": _price(rng, base),
                      "h": _price(rng, base + 2), "l": _price(rng, base - 2),
                      "v": _price(rng, 50), "n": rng.randint(1, 1000),
                      "x": i % 5 == 0, "q": _price(rng, 5000)},
            }
        else:
            raise ValueError(stream_key)
        out.append(json.dumps(msg))
    return out


def write_fixture_dir(root: str, stream_key: str, n: int, *, files: int = 4) -> str:
    """Write n messages as `files` JSONL part files (for maxFilesPerTrigger
    replay). Returns the directory path."""
    d = os.path.join(root, stream_key)
    os.makedirs(d, exist_ok=True)
    msgs = gen_raw_messages(stream_key, n)
    per = (n + files - 1) // files
    for fi in range(files):
        chunk = msgs[fi * per:(fi + 1) * per]
        if not chunk:
            break
        with open(os.path.join(d, f"part-{fi:04d}.jsonl"), "w") as fh:
            fh.write("\n".join(chunk) + "\n")
    return d
