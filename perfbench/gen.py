"""Seeded input generators for the benchmark.

Everything here is a pure function of (seed, size): the same seed writes
byte-identical inputs. The engine only ever sees the files written here.

- ``write_corpus`` writes the ten synthetic parquet tables the query
  corpus reads (region ... embeddings), with the same schemas, key ranges
  and value distributions as the engine's verify data: uniform TPC-H-ish
  facts, a 30-word document vocabulary with ~5% ``" dup"`` near-copies,
  unit-norm 64-d embeddings.
- ``write_chain`` writes iVolatility-shaped chain JSON, one file per
  symbol-day (the chain straddle-row schema), plus a daily ``prices``
  parquet table. It plants the edge cases the daily load must handle.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def write_corpus(out_dir, seed, sf):
    """The ten corpus tables at scale factor ``sf`` (0.01 = 60k lineitem)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")
    i32, i64 = pa.int32(), pa.int64()

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "old", "small", "new", "hot", "large", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
    _write(p("part"), {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                              "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    def days(start, end, n):
        d0 = np.datetime64(start)
        span = (np.datetime64(end) - d0).astype(int)
        return d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")

    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", "2001-08-01", n_ord)
                                .astype("datetime64[us]")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(p("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(days("1995-01-02", "2001-11-04", n_li)
                               .astype("datetime64[us]"))})

    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(p("events"), {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    vocab = np.array("a agg batch big column customer data fast filter group hash "
                     "join key line merge order part query row scan slow small sort "
                     "spark stream table the value vector window".split())
    texts = [" ".join(rng.choice(vocab, rng.integers(10, 100))) for _ in range(n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    _write(p("documents"), {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


# ---------------------------------------------------------------- chain


def trading_days(n):
    """``n`` consecutive weekdays from 2024-03-04 (a Monday)."""
    out, d = [], dt.date(2024, 3, 4)
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _fridays_after(day, n):
    d = day + dt.timedelta(days=(4 - day.weekday()) % 7 or 7)
    return [d + dt.timedelta(weeks=k) for k in range(n)]


def write_chain(out_dir, seed, n_symbols, n_days, rows_per_day):
    """Chain JSON day folders ``<out>/<yyyy-mm-dd>/<SYM>.json`` and
    ``<out>/prices`` (act_symbol, date, close).

    Planted cases, by symbol index: 0 has no price at all; 1-9 stop
    pricing two trading days before the last day, so the as-of mark walks
    back; every 5th symbol is priced half-way between two listed strikes
    (an equidistant nearest-strike tie) and lists one extra expiration one
    day before and one after its 2-week target (an equidistant
    nearest-expiration tie). About 1% of straddle rows lack their call
    symbol and 1% their put symbol. Chain widths are heavy-tailed, with the
    same profile on every seed, so per-day row totals are close to
    ``rows_per_day``. Returns the number of straddle
    rows written per day.
    """
    rng = np.random.default_rng([seed, 2])
    days = trading_days(n_days)
    syms = [f"S{i:03d}{chr(65 + i % 26)}" for i in range(n_symbols)]
    spacing = rng.choice([0.5, 1.0, 2.5, 5.0], n_symbols, p=[0.2, 0.3, 0.3, 0.2])
    # price in strike-grid units: ties sit exactly half a step off the grid
    base_steps = rng.integers(20, 200, n_symbols)
    # heavy-tailed widths: the Pareto(1.5) quantiles of a fixed grid, dealt
    # to symbols by a seeded permutation, so every seed has the same width
    # profile (the largest chain holds about a fifth of the day)
    share = (1.0 - (np.arange(n_symbols) + 0.5) / n_symbols) ** (-1 / 1.5)
    share = rng.permutation(share) / share.sum()
    width = np.round(share * rows_per_day).astype(int)
    prices = {"act_symbol": [], "date": [], "close": []}
    per_day = []
    for di, day in enumerate(days):
        folder = os.path.join(out_dir, day.isoformat())
        os.makedirs(folder, exist_ok=True)
        total = 0
        for s, sym in enumerate(syms):
            step = spacing[s]
            tie = s % 5 == 0
            price = (base_steps[s] + rng.integers(-3, 4) + (0.5 if tie else 0)) * step
            price = round(price if tie else price + rng.uniform(-0.4, 0.4) * step, 2)
            exps = _fridays_after(day, 6) + [_fridays_after(day, 1)[0] +
                                             dt.timedelta(weeks=4 * k) for k in range(2, 6)]
            if tie:
                t2 = day + dt.timedelta(days=14)
                exps += [t2 - dt.timedelta(days=1), t2 + dt.timedelta(days=1)]
            exps = sorted(set(exps))
            n_strikes = max(9, width[s] // len(exps))
            lo = max(1, round(price / step) - n_strikes // 2)
            e_idx = np.repeat(np.arange(len(exps)), n_strikes)
            strike = np.tile(np.arange(lo, lo + n_strikes), len(exps)) * step
            tte = np.array([max((e - day).days, 1) / 365.0 for e in exps])[e_idx]
            n = len(strike)
            iv = 20.0 + 30.0 * np.abs((price - strike) / price) + rng.uniform(0, 5, n)
            extr = price * iv / 100 * np.sqrt(tte) * 0.4
            call = np.maximum(price - strike, 0) + extr
            put = np.maximum(strike - price, 0) + extr
            g = rng.uniform(-1, 1, (8, n))
            has_call, has_put = rng.random(n) >= 0.01, rng.random(n) >= 0.01
            ex = [e.isoformat() for e in exps]
            occ = [f"{sym:<6}{e:%y%m%d}" for e in exps]
            rows = []
            for i in range(n):
                k, st = e_idx[i], strike[i]
                code = f"{int(round(st * 1000)):08d}"
                rows.append(
                    f'{{"expirationdate":"{ex[k]}","strike":{st},'
                    f'"call_optionsymbol":{json.dumps(occ[k] + "C" + code) if has_call[i] else "null"},'
                    f'"call_bid":{call[i] * 0.98:.2f},"call_ask":{call[i] * 1.02:.2f},'
                    f'"call_theoprice":{call[i]:.2f},"call_ivint":{iv[i]:.2f},'
                    f'"call_delta":{abs(g[0, i]):.6f},"call_gamma":{abs(g[1, i]) / 10:.6f},'
                    f'"call_theta":{-abs(g[2, i]):.6f},"call_vega":{abs(g[3, i]):.6f},'
                    f'"call_rho":{g[4, i]:.6f},'
                    f'"put_optionsymbol":{json.dumps(occ[k] + "P" + code) if has_put[i] else "null"},'
                    f'"put_bid":{put[i] * 0.98:.2f},"put_ask":{put[i] * 1.02:.2f},'
                    f'"put_theoprice":{put[i]:.2f},"put_ivint":{iv[i] + 1.0:.2f},'
                    f'"put_delta":{-abs(g[0, i]):.6f},"put_gamma":{abs(g[1, i]) / 10:.6f},'
                    f'"put_theta":{-abs(g[5, i]):.6f},"put_vega":{abs(g[6, i]):.6f},'
                    f'"put_rho":{g[7, i]:.6f}}}')
            total += len(rows)
            with open(os.path.join(folder, f"{sym}.json"), "w") as f:
                f.write("[" + ",".join(rows) + "]")
            if s == 0 or (1 <= s <= 9 and di >= n_days - 2):
                continue
            prices["act_symbol"].append(sym)
            prices["date"].append(day)
            prices["close"].append(price)
        per_day.append(total)
    pq.write_table(pa.table({
        "act_symbol": prices["act_symbol"],
        "date": pa.array(prices["date"], pa.date32()),
        "close": pa.array([round(c, 2) for c in prices["close"]], pa.float64())}),
        os.path.join(out_dir, "prices.parquet"))
    return per_day
