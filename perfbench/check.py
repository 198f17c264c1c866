"""Output checks for the benchmark.

Gate outputs are compared with each gate's DuckDB oracle over the same
generated inputs, by the rules of tools/selfcheck.py: columns sorted by
name, rows sorted, floats compared exactly (NaN equal to NaN), a float
column on one side only is a mismatch, strings compared as text. The
ingest workload's table is also compared with the last-writer-wins state
the generator expects.
"""
import datetime
import glob
import os

import duckdb
import numpy as np
import pandas as pd

import gen


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, exp):
    """None when equal under the selfcheck rules, else the first reason."""
    g, e = _canon(got.copy()), _canon(exp.copy())
    if list(g.columns) != list(e.columns):
        return f"columns differ: {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"row count {len(g)} vs {len(e)}"
    for c in g.columns:
        gf = np.issubdtype(g[c].dtype, np.floating)
        ef = np.issubdtype(e[c].dtype, np.floating)
        if gf != ef:
            return f"col {c}: dtype {g[c].dtype} vs {e[c].dtype}"
        if gf:
            gv, ev = g[c].values.astype(float), e[c].values.astype(float)
            same = (gv == ev) | (np.isnan(gv) & np.isnan(ev))
            if not same.all():
                return f"col {c}: {int((~same).sum())} float mismatches"
        else:
            gs, es = g[c].astype(str).values, e[c].astype(str).values
            if (gs != es).any():
                return f"col {c}: {int((gs != es).sum())} mismatches"
    return None


def _read_output(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


def check_gates(record, dirs):
    """Check every gate output directory `<gate>@<tag>`; return the failed
    directories and the reasons."""
    failed, notes = set(), []
    extra = record["extra"]
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(dirs["data"], "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    oracles = extra.get("oracles", {})
    expected = {}
    for d in sorted(os.listdir(os.path.join(dirs["out"], "check"))):
        if "@" not in d:
            continue
        name = d.split("@")[0]
        sql = oracles.get(name)
        got = _read_output(os.path.join(dirs["out"], "check", d))
        if sql is None:
            why = "empty output and no oracle" if got.empty else None
        else:
            try:
                if name not in expected:
                    expected[name] = con.execute(sql).df()
                why = compare(got, expected[name])
            except Exception as e:  # an oracle that cannot run is a failed check
                why = f"oracle error: {e}"
        if why:
            failed.add(d)
            notes.append(f"{d}: {why}")
    return failed, notes


def clock(k):
    """Pinned clock of DAG run k (IngestUpsert.clock in the harness)."""
    return datetime.datetime(2025, 3, 1) + datetime.timedelta(hours=k)


def check_ingest(record, dirs, manifest):
    failed, notes = set(), []
    extra = record["extra"]
    runs = extra["runs"]
    for sm in extra["summaries"]:
        k = sm["run"]
        want = sorted([s, len(rows) > 0, len(rows)] for s, rows in manifest[k].items())
        if sorted(sm["rows"]) != want:
            failed.add("stock_data")
            notes.append(f"run {k}: summary {sm['rows']} != {want}")
            break
    counts = {}
    latest = {}
    for k in range(runs):
        for s, rows in manifest[k].items():
            for (ts, *_), _, _ in rows:
                counts.setdefault(s, set()).add(ts)
                latest[s] = max(latest.get(s, ts), ts)
        mon = next((m for m in extra["monitors"] if m["run"] == k), None)
        if mon is None:
            continue
        want = sorted([s, len(v), latest[s]] for s, v in counts.items())
        got = sorted([s, n, t[:19]] for s, n, t in mon["stock"])
        if got != want:
            failed.add("monitor")
            notes.append(f"run {k}: monitor {got[:2]}... != {want[:2]}...")
            break
    state = gen.expected_ingest(manifest, runs, clock)
    df = _read_output(os.path.join(dirs["out"], "check", "stock_data"))
    got = {}
    for r in df.itertuples(index=False):
        key = (r.symbol, str(pd.Timestamp(r.timestamp).tz_localize(None))[:19])
        got[key] = (float(r.open_price), float(r.high_price), float(r.low_price),
                    float(r.close_price), int(r.volume),
                    str(pd.Timestamp(r.last_refreshed).tz_localize(None))[:19], r.time_zone,
                    pd.Timestamp(r.created_at).tz_localize(None).to_pydatetime())
    want = {k: (round(o, 4), round(h, 4), round(l, 4), round(c, 4), v, last, tz, created)
            for k, (o, h, l, c, v, last, tz, created) in state.items()}
    if got != want:
        failed.add("stock_data")
        diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)][:3]
        notes.append(f"stock_data differs from the expected state at {len(diff)}+ keys, "
                     f"e.g. {[(k, got.get(k), want.get(k)) for k in diff[:1]]}")
    return failed, notes


def check(workload, record, dirs, manifest):
    failed, notes = check_gates(record, dirs)
    if workload == "ingest_upsert":
        f, n = check_ingest(record, dirs, manifest)
        failed, notes = failed | f, notes + n
    return failed, notes


def dedup_pairs(dirs):
    """(candidate pairs in the staged MinHash pair table, pairs among them
    whose 3-word-shingle Jaccard similarity reaches the set-similarity
    threshold 7/10)."""
    found = glob.glob(os.path.join(dirs["tmp"], "graft-canon-staging-*", "canon-*",
                                   "mh_pairs.parquet"))
    if not found:
        return 0, 0
    pairs = _read_output(found[0])
    docs = pd.read_parquet(os.path.join(dirs["data"], "documents.parquet"))
    sh = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        w = t.split(" ")
        sh[d] = {" ".join(w[i:i + 3]) for i in range(max(1, len(w) - 2))}
    a, b = pairs.columns[:2]
    useful = 0
    for x, y in zip(pairs[a], pairs[b]):
        s, t = sh[x], sh[y]
        if 10 * len(s & t) >= 7 * len(s | t):
            useful += 1
    return len(pairs), useful
