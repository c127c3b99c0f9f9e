"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed and the size: the same
seed always gives byte-identical inputs. The program under test only
ever sees the files written here.

* ``metrics_grid``: a dense scrape grid of labeled series
  (``type``, ``host``, ``region``) at a 60 s interval, values on a
  cents grid, about 10% of timestamps jittered by one second, plus
  batches of late points that each land on one date.
* ``corpus``: documents of about 170 Zipf-distributed words. In every
  block of 20 ids, id ``20b+18`` is a near-duplicate of id ``20b``
  (about 2% of its words replaced) and id ``20b+19`` is an exact copy.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

T0 = 1704067200  # 2024-01-01T00:00:00Z, a day boundary
STEP = 60
TYPES = ["cpu", "mem", "disk", "netin", "netout", "req", "err", "lat"]
REGIONS = ["r0", "r1", "r2", "r3"]


def metrics_grid(out_dir, seed, hosts, days, late_batches, late_points):
    """Write points.parquet, late.parquet and series.json; return a summary."""
    rng = np.random.default_rng([seed, 1])
    n_t = days * 86400 // STEP
    host_names = [f"h{i}" for i in range(hosts)]
    host_region = rng.permutation(np.arange(hosts) % len(REGIONS))  # balanced
    n_series = len(TYPES) * hosts
    grid = T0 + STEP * np.arange(n_t, dtype=np.int64)
    ts = np.tile(grid, n_series)
    jitter = rng.random(ts.size) < 0.10
    ts[jitter] += rng.choice(np.array([-1, 1], dtype=np.int64), jitter.sum())
    ts[::n_t] = np.maximum(ts[::n_t], T0)  # keep the first point inside day 0
    # random walk in cents: about a third of steps repeat the last value
    steps = rng.integers(-40, 41, (n_series, n_t))
    steps[rng.random((n_series, n_t)) < 0.33] = 0
    base = rng.integers(1_000, 100_000, n_series)[:, None]
    cents = (base + np.cumsum(steps, axis=1)).reshape(-1)
    series_type = np.repeat(np.array(TYPES)[np.arange(n_series) // hosts], n_t)
    series_host = np.repeat(np.array(host_names)[np.arange(n_series) % hosts], n_t)
    series_region = np.repeat(
        np.array(REGIONS)[host_region[np.arange(n_series) % hosts]], n_t)
    table = pa.table({
        "type": pa.array(series_type),
        "host": pa.array(series_host),
        "region": pa.array(series_region),
        "ts": pa.array(ts * 1_000_000, type=pa.timestamp("us", tz="UTC")),
        "v": pa.array(cents / 100.0),
    })
    pq.write_table(table, os.path.join(out_dir, "points.parquet"), row_group_size=1 << 20)

    # late batches: each lands on one whole date, random series,
    # second-resolution timestamps (off the grid), cents values; every
    # batch touches the same number of dates so upserts cost alike
    rows = {k: [] for k in ("batch", "type", "host", "region", "ts", "v")}
    for b in range(late_batches):
        n = late_points
        sid = rng.integers(0, n_series, n)
        day = np.full(n, rng.integers(days))
        rows["batch"].append(np.full(n, b, dtype=np.int32))
        rows["type"].append(np.array(TYPES)[sid // hosts])
        rows["host"].append(np.array(host_names)[sid % hosts])
        rows["region"].append(np.array(REGIONS)[host_region[sid % hosts]])
        rows["ts"].append(T0 + day * 86400 + rng.integers(0, 86400, n))
        rows["v"].append(rng.integers(0, 200_000, n) / 100.0)
    late = pa.table({
        "batch": pa.array(np.concatenate(rows["batch"])),
        "type": pa.array(np.concatenate(rows["type"])),
        "host": pa.array(np.concatenate(rows["host"])),
        "region": pa.array(np.concatenate(rows["region"])),
        "ts": pa.array(np.concatenate(rows["ts"]) * 1_000_000,
                       type=pa.timestamp("us", tz="UTC")),
        "v": pa.array(np.concatenate(rows["v"])),
    })
    pq.write_table(late, os.path.join(out_dir, "late.parquet"))
    summary = {"series": n_series, "points": int(ts.size), "days": days,
               "hosts": hosts, "t0": T0, "step": STEP,
               "late_batches": late_batches, "late_points": late_points}
    with open(os.path.join(out_dir, "series.json"), "w") as f:
        json.dump(summary, f)
    return summary


def dashboard_queries(out_dir, seed, hosts, days, pool):
    """Seeded pools of the three dashboard query shapes (queries.json).

    Query ``i`` of a pool has the same selectivity and window width under
    every seed, and reads the same number of dates (odd queries span a
    date's end): the seed picks only the metric, the region or host, and
    where the window sits, so seeds differ in values, not in work."""
    rng = np.random.default_rng([seed, 2])
    long_names = [f"h{i}" for i in range(10, hosts)] or [f"h{i}" for i in range(hosts)]

    def selector(i):
        t = TYPES[int(rng.integers(len(TYPES)))]
        kind = i % 3
        if kind == 0:  # one region: a quarter of the hosts
            r = REGIONS[int(rng.integers(len(REGIONS)))]
            return {"type": t, "region": r, "selector": f'{{type="{t}", region="{r}"}}'}
        # kind 1: h1.* or h2.*, about a third of the hosts; kind 2: one host
        pre = f"h{1 + int(rng.integers(2))}" if kind == 1 else \
            long_names[int(rng.integers(len(long_names)))]
        return {"type": t, "host_prefix": pre, "selector": f'{{type="{t}", host=~"{pre}.*"}}'}

    def window_start(width, across):
        """Start of a ``width``-second window on a seeded date. With
        ``across`` it spans that date's end and touches two dates,
        otherwise it stays inside the date, so the number of dates a
        query reads is the same under every seed."""
        day_end = T0 + (1 + int(rng.integers(days - 1 if across else days))) * 86400
        if across:
            return day_end - int(rng.integers(1, width))
        return day_end - 86400 + int(rng.integers(0, 86400 - width + 1))

    qs = {"range_agg": [], "range_scan": [], "promql": []}
    for i in range(pool):
        across = i % 2 == 1  # half of every pool reads two dates
        width = (1 + (i * 23) // max(pool - 1, 1)) * 3600  # 1 h .. 24 h
        frm = window_start(width, across)
        qs["range_agg"].append({**selector(i), "from": frm, "to": frm + width - 1})
        frm = window_start(7200, across)
        qs["range_scan"].append({**selector(i), "from": frm, "to": frm + 7199})
        # promql reads [start - range, end]; start sits on the step grid
        day_end = T0 + (1 + int(rng.integers(days - 1 if across else days))) * 86400
        k = int(rng.integers(-360, 5)) if across else int(rng.integers(-1435, -360))
        start = day_end + k * STEP
        sel = selector(1 + i % 2)  # promql selects by host prefix only
        qs["promql"].append({
            "metric": sel["type"], "host_prefix": sel["host_prefix"],
            "query": f'sum by (region) (sum_over_time({sel["type"]}'
                     f'{{host=~"{sel["host_prefix"]}.*"}}[5m]))',
            "start": start, "end": start + 6 * 3600, "step": STEP, "range": 300})
    with open(os.path.join(out_dir, "queries.json"), "w") as f:
        json.dump(qs, f)
    return qs


def corpus(out_dir, seed, docs, vocab=20000, words=170, block=20):
    """Write corpus.parquet (id, text); ids are 0..docs-1."""
    assert docs % block == 0
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 10, vocab)
    chars = letters[rng.integers(0, 26, lens.sum())]
    cut = np.cumsum(lens)[:-1]
    vocab_words = np.unique(np.array(["".join(w) for w in np.split(chars, cut)]))
    vocab = vocab_words.size
    p = 1.0 / np.arange(1, vocab + 1) ** 1.05
    p /= p.sum()
    rank = rng.permutation(vocab)  # which word gets which Zipf rank

    doc_len = rng.integers(words - 20, words + 21, docs)
    blocks = docs // block
    # near-dups and copies take their base's length
    base_ids = np.arange(blocks) * block
    doc_len[base_ids + block - 2] = doc_len[base_ids]
    doc_len[base_ids + block - 1] = doc_len[base_ids]
    offsets = np.concatenate([[0], np.cumsum(doc_len)])
    idx = rank[rng.choice(vocab, size=int(offsets[-1]), p=p)]
    for b in base_ids:
        src = idx[offsets[b]:offsets[b + 1]]
        near = src.copy()
        k = max(1, int(round(0.02 * near.size)))
        pos = rng.choice(near.size, size=k, replace=False)
        near[pos] = rank[rng.choice(vocab, size=k, p=p)]
        idx[offsets[b + block - 2]:offsets[b + block - 1]] = near
        idx[offsets[b + block - 1]:offsets[b + block]] = src
    word_arr = pa.array(vocab_words).take(pa.array(idx))
    lists = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), word_arr)
    text = pc.binary_join(lists, " ")
    table = pa.table({"id": pa.array(np.arange(docs, dtype=np.int64)), "text": text})
    pq.write_table(table, os.path.join(out_dir, "corpus.parquet"))
    summary = {"docs": docs, "block": block, "vocab": int(vocab), "words": words}
    with open(os.path.join(out_dir, "corpus.json"), "w") as f:
        json.dump(summary, f)
    return summary
