"""Seeded input generator for the benchmark.

Every table keeps the schema and value domain of the shipped TPC-H-ish
corpus (FIXTURES.md section B): the same column names and types, the same
categorical values, the same numeric ranges. Only the seed changes the
values. The ingest workload additionally gets Alpha-Vantage-shaped JSON
payloads (FIXTURES.md section A) for a sequence of DAG runs, and the
generator computes the last-writer-wins table state those runs must leave
behind.

`PARAMS` holds every knob with the reason it has that value; `run.py`
prints the parameters and the measured properties of each generated input
to stderr, so a reader can see what a seed produced.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# name -> (value, one-line reason)
PARAMS = {
    "olap.sf": (0.1, "TPC-H-ish corpus of sf0.1 size: lineitem 600k rows, the size the repo's own bench uses"),
    "llm.documents": (500, "sf0.001 size of the shipped corpus; the DuckDB oracle of the fold grows ~n^3 (1.9 s at 400, 30 s at 1000), so a checked run cannot go to sf0.01"),
    "llm.words_min": (10, "document length domain of the shipped corpus (10-100 words)"),
    "llm.words_max": (100, "document length domain of the shipped corpus (10-100 words)"),
    "llm.near_dup_share": (0.08, "share of documents that copy an earlier document plus one token; sets the candidate-pair count"),
    "llm.contamination_share": (0.03, "share of documents that embed a 12-word span of a held-out benchmark document"),
    "ingest.symbols": (8, "symbols served per DAG run; one of them returns an error payload each run"),
    "ingest.bars": (100, "bars per symbol per run, the compact Alpha-Vantage window"),
    "ingest.advance_bars": (8, "new hourly bars per run, so about 92% of each payload overlaps the previous run"),
    "ingest.revised_share": (0.05, "share of overlapping bars whose prices are revised, so upserts change stored rows"),
    "ingest.bad_row_share": (0.02, "share of bars with an unparseable timestamp or price, which the parser must drop"),
    "ingest.runs": (40, "payload sequences generated; several times more DAG runs than one run executes"),
    "stream.events": (20000, "events replayed by the ingest workload's stream gate: a fifth of sf0.1, so a replay stays a few micro-batches of harness and state-commit cost"),
    "events.users": (1500, "user-id domain of the events table, as in the shipped corpus; ids are uniform over it (the inputs line reports the busiest user's share)"),
}


def p(name):
    return PARAMS[name][0]


WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
EVENT_TYPES = ["error", "view", "purchase", "signup", "click"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _days(rng, n, start, end):
    """Midnight timestamps uniform on [start, end]."""
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tpch(rng, out, sf):
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord, n_line = int(200000 * sf), int(1500000 * sf), int(6000000 * sf)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line}


def gen_events(rng, out, n, users):
    ranks = rng.integers(0, users, n)
    perm = rng.permutation(users)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": perm[ranks].astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    return {"events": n, "users": users,
            "top_user_share": round(float(np.bincount(ranks).max()) / n, 5)}


def gen_documents(rng, out, n):
    """Random texts over the corpus vocabulary, with a stated share of
    near-duplicates (an earlier text plus the token 'dup') and of
    contaminated documents (a 12-word span of a benchmark document,
    doc_id % 100 == 0, spliced in)."""
    texts = []
    n_dup = n_cont = 0
    lo, hi = p("llm.words_min"), p("llm.words_max")
    for i in range(n):
        r = rng.random()
        if i > 0 and r < p("llm.near_dup_share"):
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            n_dup += 1
            continue
        words = list(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(lo, hi - 1)))])
        if i > 100 and i % 100 and r < p("llm.near_dup_share") + p("llm.contamination_share"):
            bench = texts[100 * int(rng.integers(0, i // 100))].split(" ")
            s = int(rng.integers(0, max(1, len(bench) - 12)))
            at = int(rng.integers(0, len(words)))
            words[at:at] = bench[s:s + 12]
            words = words[:hi]
            n_cont += 1
        texts.append(" ".join(words))
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    words = [len(t.split(" ")) for t in texts]
    return {"documents": n, "near_dups": n_dup, "contaminated_planted": n_cont,
            "mean_words": round(float(np.mean(words)), 2)}


def _bar_json(o, h, l, c, v):
    return {"1. open": o, "2. high": h, "3. low": l, "4. close": c, "5. volume": v}


def gen_ingest(rng, out):
    """Payload files for consecutive DAG runs plus the expected state.

    Run k serves, per symbol, the newest `bars` hourly bars ending at hour
    k * advance_bars. Prices follow a seeded walk; an overlapping bar keeps
    its price unless revised. In each run one symbol returns an error or a
    rate-limit note instead of bars, and a few bars are malformed. The
    expected table keeps, per (symbol, timestamp), the last valid bar,
    the created_at of its first insert and the time zone of its first
    insert."""
    syms = [f"SYM{i:02d}" for i in range(p("ingest.symbols"))]
    bars, adv, runs = p("ingest.bars"), p("ingest.advance_bars"), p("ingest.runs")
    t0 = np.datetime64("2025-01-06T00:00:00", "s")
    base = {s: 50.0 + 400.0 * rng.random() for s in syms}
    price = {}  # (sym, hour) -> current close
    os.makedirs(f"{out}/payloads", exist_ok=True)
    manifest = []
    bad_total = served_total = 0
    for k in range(runs):
        end = bars + k * adv
        down = syms[k % len(syms)]
        run = {}
        served = {}
        for s in syms:
            if s == down:
                run[s] = ({"Error Message": "Invalid API call"} if k % 2 == 0
                          else {"Note": "Thank you for using Alpha Vantage"})
                served[s] = []
                continue
            series = {}
            good = []
            for hr in range(end - bars, end):
                key = (s, hr)
                if key not in price or rng.random() < p("ingest.revised_share"):
                    prev = price.get((s, hr - 1), base[s])
                    price[key] = round(max(1.0, prev * (1 + rng.normal(0, 0.01))), 2)
                c = price[key]
                o, hi_, lo_ = round(c * 0.999, 2), round(c * 1.004, 2), round(c * 0.995, 2)
                vol = int(1000 + (hr * 7919 + len(s)) % 100000)
                ts = str(t0 + np.timedelta64(hr, "h")).replace("T", " ")
                if rng.random() < p("ingest.bad_row_share"):
                    if rng.random() < 0.5:
                        series[f"bad-{hr}"] = _bar_json(f"{o:.4f}", f"{hi_:.4f}", f"{lo_:.4f}", f"{c:.4f}", str(vol))
                    else:
                        series[ts] = _bar_json("n/a", f"{hi_:.4f}", f"{lo_:.4f}", f"{c:.4f}", str(vol))
                    bad_total += 1
                    continue
                series[ts] = _bar_json(f"{o:.4f}", f"{hi_:.4f}", f"{lo_:.4f}", f"{c:.4f}", str(vol))
                good.append((ts, o, hi_, lo_, c, vol))
            served_total += bars
            last = str(t0 + np.timedelta64(end - 1, "h")).replace("T", " ")
            tz = "US/Eastern" if k % 3 else "America/New_York"
            run[s] = {"Meta Data": {"2. Symbol": s, "3. Last Refreshed": last,
                                    "4. Interval": "60min", "5. Time Zone": tz},
                      "Time Series (60min)": series}
            served[s] = [(g, last, tz) for g in good]
        with open(f"{out}/payloads/run{k:04d}.json", "w") as f:
            json.dump(run, f, separators=(",", ":"))
        manifest.append(served)
    with open(f"{out}/payloads/symbols.txt", "w") as f:
        f.write("\n".join(syms))
    return {"symbols": len(syms), "bars_per_symbol": bars, "runs": runs,
            "overlap_share": round(1 - adv / bars, 4),
            "bad_row_share": round(bad_total / max(1, served_total), 4)}, manifest


def expected_ingest(manifest, nruns, clock):
    """Expected stock_data rows after the first `nruns` runs:
    (symbol, ts) -> (open, high, low, close, volume, last_refreshed,
    time_zone, created_at)."""
    state = {}
    for k in range(nruns):
        for s, rows in manifest[k].items():
            for (ts, o, h, l, c, v), last, tz in rows:
                prev = state.get((s, ts))
                created, zone = (prev[7], prev[6]) if prev else (clock(k), tz)
                state[(s, ts)] = (o, h, l, c, v, last, zone, created)
    return state


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return (properties, extra)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    if workload == "olap_mix":
        props = gen_tpch(rng, out, p("olap.sf"))
        props.update(gen_events(rng, out, int(1000000 * p("olap.sf")), p("events.users")))
        return props, None
    if workload == "llm_e2e":
        return gen_documents(rng, out, p("llm.documents")), None
    if workload == "ingest_upsert":
        props, manifest = gen_ingest(rng, out)
        props.update(gen_events(rng, out, p("stream.events"), p("events.users")))
        return props, manifest
    raise ValueError(workload)
