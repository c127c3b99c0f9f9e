"""Checks of the program's recorded outputs, made apart from the program:
DuckDB over the generated input files, and plain Python for Jaccard.
Each check returns a list of failure messages; empty means it passed."""
import json
import math
import os

import duckdb


def _con(work):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    con.execute("SET threads=2")
    return con


def _points_view(con, in_dir):
    con.execute(f"""CREATE VIEW pts AS SELECT type, host, region,
        CAST(epoch(ts) AS BIGINT) AS sec, v, CAST(round(v * 100) AS BIGINT) AS cents
        FROM read_parquet('{in_dir}/points.parquet')""")


def _norm(rows):
    return sorted(tuple(r) for r in rows)


def _diff(name, got, want, errors):
    got, want = _norm(got), _norm(want)
    if got != want:
        extra = sorted(set(got) - set(want))[:3]
        missing = sorted(set(want) - set(got))[:3]
        errors.append(f"{name}: {len(got)} rows vs {len(want)} expected; "
                      f"unexpected {extra}, missing {missing}")


AGG = """SELECT type, host, region, count(*), min(sec), max(sec), min(v), max(v), sum(cents)
         FROM {src} GROUP BY ALL"""


def metrics_ingest(in_dir, work, rec):
    errors = []
    con = _con(work)
    _points_view(con, in_dir)
    _diff("rangeAgg after ingests", rec["agg_after_ingest"],
          con.execute(AGG.format(src="pts")).fetchall(), errors)
    # upserts are merge-append: the store must hold the raw points plus
    # every applied late batch, once per application
    applied = {}
    for b in rec["applied_batches"]:
        applied[b] = applied.get(b, 0) + 1
    con.execute("CREATE TABLE applied(batch INTEGER, k INTEGER)")
    if applied:
        con.executemany("INSERT INTO applied VALUES (?, ?)", list(applied.items()))
    con.execute(f"""CREATE VIEW merged AS
        SELECT type, host, region, sec, v, cents FROM pts
        UNION ALL
        SELECT l.type, l.host, l.region, CAST(epoch(l.ts) AS BIGINT), l.v,
               CAST(round(l.v * 100) AS BIGINT)
        FROM read_parquet('{in_dir}/late.parquet') l
        JOIN (SELECT batch, unnest(range(k)) AS rep FROM applied) a USING (batch)""")
    _diff("rangeAgg after upserts", rec["agg_after_upsert"],
          con.execute(AGG.format(src="merged")).fetchall(), errors)
    return errors


def _where(q):
    if "region" in q:
        return f"type = '{q['type']}' AND region = '{q['region']}'"
    return f"type = '{q['type']}' AND starts_with(host, '{q['host_prefix']}')"


def metrics_dashboard(in_dir, work, rec):
    errors = []
    con = _con(work)
    con.execute(f"""CREATE TABLE p AS SELECT type, host, region,
        CAST(epoch(ts) AS BIGINT) AS sec, v, CAST(round(v * 100) AS BIGINT) AS cents
        FROM read_parquet('{in_dir}/points.parquet')""")
    with open(os.path.join(in_dir, "queries.json")) as f:
        pool = json.load(f)
    for r in rec:
        shape, q = r["shape"], pool[r["shape"]][r["idx"]]
        name = f"{shape}[{r['idx']}]"
        if r["mismatches"]:
            errors.append(f"{name}: {r['mismatches']} of {r['runs']} runs differ from the first")
        if shape == "range_agg":
            want = con.execute(f"""SELECT type, host, region, count(*), min(sec), max(sec),
                min(v), max(v), sum(cents) FROM p WHERE {_where(q)}
                AND sec BETWEEN {q['from']} AND {q['to']} GROUP BY ALL""").fetchall()
            _diff(name, r["rows"], want, errors)
        elif shape == "range_scan":
            want = con.execute(f"""SELECT count(*), sum(sec), sum(cents) FROM p
                WHERE {_where(q)} AND sec BETWEEN {q['from']} AND {q['to']}""").fetchall()
            _diff(name, r["rows"], want, errors)
        else:
            # evalRange's stepped window at step t is [t - d, t - 1]
            d, step = q["range"], q["step"]
            want = con.execute(f"""
                WITH s AS (SELECT unnest(range({q['start']}, {q['end'] + 1}, {step})) AS t),
                     x AS (SELECT region, sec, cents FROM p
                           WHERE type = '{q['metric']}' AND starts_with(host, '{q['host_prefix']}')
                             AND sec BETWEEN {q['start'] - d} AND {q['end'] - 1})
                SELECT region, t, sum(cents) FROM s JOIN x ON x.sec BETWEEN t - {d} AND t - 1
                GROUP BY ALL""").fetchall()
            got = [(reg, ts, round(val * 100)) for reg, ts, val in r["rows"]]
            _diff(name, got, want, errors)
    return errors


def _shingles(text):
    w = text.split(" ")
    return {tuple(w[i:i + 3]) for i in range(max(len(w) - 2, 1))}


def _jaccard(a, b):
    return len(a & b) / len(a | b)


def lsh_probability(j, bands=16, rows=4):
    return 1.0 - (1.0 - j ** rows) ** bands


def corpus_dedup(in_dir, work, rec):
    errors = []
    with open(os.path.join(in_dir, "corpus.json")) as f:
        meta = json.load(f)
    block = meta["block"]
    runs = rec["runs"]
    if any(r != runs[0] for r in runs):
        errors.append(f"pipeline counts differ between runs: {runs}")
    con = _con(work)
    text = dict(con.execute(
        f"SELECT id, text FROM read_parquet('{in_dir}/corpus.parquet')").fetchall())
    kept = {r[0] for r in con.execute(
        f"SELECT id FROM read_parquet('{rec['output']}/*.parquet')").fetchall()}
    removed = {int(i): int(c) for i, c in rec["removed"]}
    if set(text) - kept != set(removed):
        errors.append("written output is not the corpus minus the removed docs")
    bases = range(0, meta["docs"], block)
    for b in bases:
        if b + block - 1 in kept or b not in kept:
            errors.append(f"exact copy {b + block - 1} of base {b}: copy kept or base removed")
            break
    sh = {}

    def shingles(i):
        if i not in sh:
            sh[i] = _shingles(text[i])
        return sh[i]
    for i, c in removed.items():
        if c not in kept or _jaccard(shingles(i), shingles(c)) < 0.5:
            errors.append(f"removed doc {i}: component root {c} not kept or Jaccard < 0.5")
            break
    # recall of the planted near-duplicates against the 16x4 S-curve
    probs = []
    found = 0
    for b in bases:
        j = _jaccard(shingles(b + block - 2), shingles(b))
        probs.append(lsh_probability(j) if j >= 0.5 else 0.0)
        found += (b + block - 2) in removed
    expect = sum(probs)
    floor = expect - 3 * math.sqrt(sum(p * (1 - p) for p in probs))
    if found < floor:
        errors.append(f"near-dup recall {found}/{len(probs)} below the LSH floor {floor:.1f}")
    return errors


CHECKS = {"metrics_ingest": metrics_ingest, "metrics_dashboard": metrics_dashboard,
          "corpus_dedup": corpus_dedup}


def check(workload, in_dir, work):
    with open(os.path.join(work, "records.json")) as f:
        rec = json.load(f)
    return CHECKS[workload](in_dir, work, rec)
