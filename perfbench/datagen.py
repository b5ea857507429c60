"""Seeded inputs for the ETL workloads.

Everything here is a pure function of its arguments: the same seed writes
byte-identical deliveries, a different seed different ones. Generation runs
before set-up and outside every timed section.

* ``incremental``: JSONL document deliveries with planted exact duplicates,
  near-duplicates and re-delivered shards, within a delivery and against
  earlier ones, plus the planted truth.
* ``finance``: multi-symbol OHLCV JSON deliveries that re-send an overlapping
  window with revised bars, plus the planted truth (the bars the upserted
  table must hold).
"""

import datetime as dt
import json
import os

import numpy as np

def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, separators=(",", ":")) + "\n")


def _syllable_vocab(rng, n):
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    out = set()
    while len(out) < n:
        k = int(rng.integers(2, 4))
        out.add("".join(rng.choice(list(cons)) + rng.choice(list(vows)) for _ in range(k)))
    return sorted(out)


def incremental(out_dir, seed, deliveries, docs_per_delivery, warm_deliveries=1):
    """Write ``warm_deliveries + deliveries`` JSONL deliveries of ``{doc_id,
    text, source}`` documents and ``truth.json``. The first
    ``warm_deliveries`` are the untimed set-up; they build the history the
    timed ones are deduplicated against.

    Every document is an *original* or a planted duplicate of an earlier
    original: an exact copy, or a near-duplicate (the original plus one
    appended word, word-3-shingle Jaccard >= 0.98), placed in the same
    delivery or a later one, always with a larger ``doc_id``. From the second
    delivery on, one shard of an earlier delivery is re-delivered verbatim.
    The engine must keep exactly the originals.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = _syllable_vocab(rng, 400)
    os.makedirs(out_dir, exist_ok=True)
    seq = []
    originals = []          # (doc_id, text) of every original so far
    history_shards = []     # (source, rows) already delivered
    next_id = 0
    for d in range(warm_deliveries + deliveries):
        name = f"d{d:03d}"
        rows, pairs, new_originals = [], [], []
        kinds = dict.fromkeys(("original", "exact_within", "exact_history",
                               "near_within", "near_history"), 0)
        first_here = len(originals)
        for _ in range(docs_per_delivery):
            r = rng.random()
            here, hist = len(originals) - first_here, first_here
            if r < 0.06 and here > 0:
                kind, src = "exact_within", originals[first_here + int(rng.integers(0, here))]
            elif r < 0.12 and hist > 0:
                kind, src = "exact_history", originals[int(rng.integers(0, hist))]
            elif r < 0.18 and here > 0:
                kind, src = "near_within", originals[first_here + int(rng.integers(0, here))]
            elif r < 0.24 and hist > 0:
                kind, src = "near_history", originals[int(rng.integers(0, hist))]
            else:
                kind, src = "original", None
            if kind == "original":
                text = " ".join(rng.choice(vocab, int(rng.integers(60, 121))))
                originals.append((next_id, text))
                new_originals.append(next_id)
            elif kind.startswith("exact"):
                text = src[1]
            else:
                text = src[1] + " " + str(rng.choice(vocab))
            if src is not None:
                pairs.append([src[0], next_id])
            kinds[kind] += 1
            shard = f"{name}_s{int(rng.integers(0, 4))}"
            rows.append({"doc_id": next_id, "text": text, "source": shard})
            next_id += 1
        new_shards = sorted({r["source"] for r in rows})
        redelivered = None
        if history_shards:
            redelivered, old_rows = history_shards[int(rng.integers(0, len(history_shards)))]
            rows = rows + old_rows
        for sh in new_shards:
            history_shards.append((sh, [r for r in rows if r["source"] == sh]))
        rows = [rows[i] for i in rng.permutation(len(rows))]
        path = os.path.join(out_dir, f"{name}.jsonl")
        _write_jsonl(path, rows)
        seq.append({"name": name, "path": path, "rows": len(rows),
                    "original_ids": new_originals, "planted": kinds,
                    "redelivered_shard": redelivered,
                    "redelivered_rows": len(rows) - docs_per_delivery,
                    "dup_pairs": pairs})
    truth = {"warm": seq[:warm_deliveries], "deliveries": seq[warm_deliveries:]}
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True, indent=1)
    return truth


FINANCE_WARMUP = 49   # rows technical_indicators drops per symbol (sma_50)


def _valid_bar(b):
    return (b["open"] is not None and b["open"] > 0 and b["high"] > 0
            and b["low"] > 0 and b["close"] is not None and b["close"] > 0
            and b["volume"] >= 0)


def finance(out_dir, seed, deliveries, symbols, new_bars, overlap, warm_deliveries=1):
    """Write ``warm_deliveries + deliveries`` OHLCV JSON-array deliveries for
    ``symbols`` symbols and ``truth.json``; the first ``warm_deliveries`` are
    the untimed set-up.

    Delivery ``d`` re-sends, per symbol, the ``FINANCE_WARMUP`` bars the
    indicator window needs, then ``overlap`` bars already delivered (about a
    third of them revised), then ``new_bars`` new ones. About one bar in a
    hundred is invalid (null close or negative volume) and must be filtered
    by validation. The truth is a replay of that contract: per delivery and
    symbol, valid bars in date order, the first ``FINANCE_WARMUP`` dropped,
    the rest upserted on ``(symbol, date)``.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    start = dt.date(2015, 1, 1)
    syms = [f"SYM{i:02d}" for i in range(symbols)]
    level = {s: 50.0 + 100.0 * rng.random() for s in syms}
    bars = {s: [] for s in syms}          # canonical series per symbol
    table = {}                            # (symbol, date) -> latest loaded row
    seq = []
    for d in range(warm_deliveries + deliveries):
        rows, revised = [], []
        end = FINANCE_WARMUP + overlap + (d + 1) * new_bars
        for s in syms:
            series = bars[s]
            while len(series) < end:
                close = level[s] = max(1.0, level[s] * (1.0 + rng.normal(0.0005, 0.02)))
                series.append(_bar(rng, start + dt.timedelta(days=len(series)), close))
            lo = d * new_bars
            for i, b in enumerate(series[lo:end]):
                if d > 0 and FINANCE_WARMUP <= i < FINANCE_WARMUP + overlap \
                        and rng.random() < 0.33:
                    b = dict(b)
                    b["close"] = round(b["close"] * (1.0 + rng.normal(0.0, 0.01)), 4)
                    b["high"] = round(max(b["high"], b["close"]), 4)
                    b["low"] = round(min(b["low"], b["close"]), 4)
                    b["volume"] = float(int(b["volume"]) + int(rng.integers(1, 1000)))
                    series[lo + i] = b
                    revised.append([s, b["date"]])
                elif rng.random() < 0.01:
                    b = dict(b)
                    if rng.random() < 0.5:
                        b["close"] = None
                    else:
                        b["volume"] = -1.0
                rows.append(dict(b, symbol=s))
        rows = [rows[i] for i in rng.permutation(len(rows))]
        name = f"d{d:03d}"
        path = os.path.join(out_dir, f"{name}.json")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            json.dump(rows, f, sort_keys=True, separators=(",", ":"))
        loaded = []
        for s in syms:
            valid = sorted((r for r in rows if r["symbol"] == s and _valid_bar(r)),
                           key=lambda r: r["date"])
            for r in valid[FINANCE_WARMUP:]:
                table[(s, r["date"])] = r
                loaded.append([s, r["date"]])
        seq.append({"name": name, "path": path, "rows": len(rows), "loaded": len(loaded),
                    "loaded_keys": loaded, "revised": revised})
    truth = {"warm": seq[:warm_deliveries], "deliveries": seq[warm_deliveries:],
             "table": [[s, day, r["open"], r["high"], r["low"], r["close"], r["volume"]]
                       for (s, day), r in sorted(table.items())]}
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True, indent=1)
    return truth


def _bar(rng, day, close):
    spread = abs(rng.normal(0.0, 0.01)) * close
    opn = close * (1.0 + rng.normal(0.0, 0.005))
    return {"date": day.isoformat(),
            "open": round(opn, 4),
            "high": round(max(opn, close) + spread, 4),
            "low": round(max(0.01, min(opn, close) - spread), 4),
            "close": round(close, 4),
            "volume": float(int(rng.integers(10_000, 1_000_000)))}
