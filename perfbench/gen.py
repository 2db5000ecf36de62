"""Seeded input generators for the benchmark.

`gen_tables` writes the star-schema test tables every registry query reads
(region nation customer supplier part orders lineitem events documents
embeddings), one parquet file each, with the column layout and value
domains of the project's deterministic test tables.

`gen_etl` writes the Xetra and Eurex minute-bar CSVs plus the Eurex
product-specification dimension in the reference column layouts
(graft.schemas.Schemas: CamelCase headers, quoted descriptions that
contain commas) and returns the counts the pipelines must reproduce:
planted malformed lines per file, clean rows per fact sink, and the
distinct (market_segment, mleg) pairs behind the missing-ISIN and
missing-underlying quality sinks.

Both are pure functions of their arguments: the same seed gives the same
bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _micros(start, seconds):
    base = np.datetime64(start, "us")
    return (base + (seconds * 1_000_000).astype("timedelta64[us]")).astype("datetime64[us]")


def gen_tables(out_dir, seed, sf):
    """Write the ten query input tables at scale factor `sf` (0.01 gives
    60,000 lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(10, int(10_000 * sf))
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    p = lambda name: os.path.join(out_dir, name + ".parquet")
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    f64 = lambda a: pa.array(a, pa.float64())
    s = lambda a: pa.array(a, pa.string())
    ts = lambda a: pa.array(a, pa.timestamp("us"))
    cents = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(p("region"), {"r_regionkey": i32(np.arange(5)),
                         "r_name": s(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(p("nation"), {"n_nationkey": i32(np.arange(25)),
                         "n_name": s([f"NATION_{i}" for i in range(25)]),
                         "n_regionkey": i32(np.arange(25) % 5)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(p("customer"), {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": s([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(cents(-999.99, 9999.99, n_cust)),
        "c_mktsegment": s(segs[rng.integers(0, 5, n_cust)])})
    adj = np.array(["small", "red", "blue", "hot", "cold", "old", "new", "large"])
    noun = np.array(["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    _write(p("part"), {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": s(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                noun[rng.integers(0, 8, n_part)])),
        "p_brand": s([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": s(types[rng.integers(0, 6, n_part)]),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    _write(p("supplier"), {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": s([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": f64(cents(-999.99, 9999.99, n_supp))})
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    day0 = np.datetime64("1995-01-01", "us")
    _write(p("orders"), {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": s(status[rng.integers(0, 3, n_ord)]),
        "o_totalprice": f64(cents(1000, 500_000, n_ord)),
        "o_orderdate": ts(day0 + (rng.integers(0, 2404, n_ord) * 86_400_000_000).astype("timedelta64[us]")),
        "o_orderpriority": s(prio[rng.integers(0, 5, n_ord)])})
    # (orderkey, linenumber) is deliberately not unique, as in the test
    # tables: queries must order by the full unique key.
    _write(p("lineitem"), {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": f64(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": f64(cents(900, 105_000, n_line)),
        "l_discount": f64(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": f64(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": s(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": s(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": ts(day0 + (rng.integers(1, 2500, n_line) * 86_400_000_000).astype("timedelta64[us]"))})
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    _write(p("events"), {
        "event_id": i64(np.arange(n_ev)),
        "ts": ts(_micros("2024-01-01", secs)),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": s(np.array(["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)]),
        "value": f64(cents(0.01, 50, n_ev) * rng.choice([1, 1, 1, 1, 10], n_ev)),
        "props": s([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in rng.integers(10, 100, n_docs)]
    # 5 % near-duplicates: another document's text plus a marker token
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[rng.integers(0, n_docs)] + " dup"
    _write(p("documents"), {
        "doc_id": i64(np.arange(n_docs)),
        "text": s(texts),
        "lang": s(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
        "source": s([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": i64([len(t) for t in texts])})
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": i64(np.arange(n_vec)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vec))})


XETRA_HEADER = ("ISIN,Mnemonic,SecurityDesc,SecurityType,Currency,SecurityID,Date,Time,"
                "StartPrice,MaxPrice,MinPrice,EndPrice,TradedVolume,NumberOfTrades")
EUREX_HEADER = ("ISIN,MarketSegment,UnderlyingSymbol,UnderlyingISIN,Currency,SecurityType,"
                "MaturityDate,StrikePrice,PutOrCall,MLEG,ContractGenerationNumber,SecurityID,"
                "Date,Time,StartPrice,MaxPrice,MinPrice,EndPrice,NumberOfContracts,NumberOfTrades")
DIM_HEADER = ("MARKET SEGMENT,PRODUCT NAME,PRODUCT ISIN,PRODUCT LINE,PRODUCT TYPE,"
              "PRODUCT TYPE SYMBOL,LIQUIDITY CLASS,TRADING ENVIRONMENT,PARTITION,CURRENCY,"
              "US APPROVAL TYPE,SETTLEMENT TYPE,CONTRACT SIZE,TICK SIZE,TICK VALUE,"
              "MAX ORDER QTY TSL,MAX TES QTY TSL,MAX FUTURE SPREAD QTY TSL,MAX MARKET ORDER QTY,"
              "POSITION LIMIT,PRE TRADE LIMITS,UNDERLYING,UNDERLYING ISIN,UNDERLYING NAME,"
              "UNDERLYING CATEGORY")
DIM_SEGMENTS = 2728      # dimension rows, one per market segment
ORPHAN_SEGMENTS = 72     # fact segments with no dimension row
TRADING_DAYS = ["2020-11-23", "2020-11-24", "2020-11-25", "2020-11-26", "2020-11-27"]
ALNUM = np.frombuffer(b"0123456789ABCDEFGHJKLMNPQRSTUVWXYZ", np.uint8)


def _isins(rng, country, n):
    codes = ALNUM[rng.integers(0, len(ALNUM), (n, 10))]
    return [country + c.tobytes().decode() for c in codes]


def _isin(rng, country):
    return _isins(rng, country, 1)[0]


def _minutes(rng, n):
    m = rng.integers(8 * 60, 17 * 60 + 30, n)
    return [f"{a:02d}:{b:02d}" for a, b in zip(m // 60, m % 60)]


def _bars(rng, n):
    start = np.round(rng.uniform(1, 500, n), 2)
    hi = np.round(start * rng.uniform(1.0, 1.01, n), 2)
    lo = np.round(start * rng.uniform(0.99, 1.0, n), 2)
    end = np.round(rng.uniform(lo, hi), 2)
    return start, hi, lo, end


def _write_csv(path, header, lines):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(header + "\n")
        f.write("\n".join(lines) + "\n")


def _plant_malformed(rng, lines, n_bad, kind):
    """Insert `n_bad` lines that fail the schema (too few fields, or text
    in a numeric field) at seeded positions; returns the new line list and
    the planted lines."""
    bad = []
    for i in range(n_bad):
        if i % 2:
            bad.append(f"BADROW{kind}{i},only,three")
        else:
            f = lines[rng.integers(0, len(lines))].split(",")
            f[-1] = "not_a_number"
            bad.append(",".join(f))
    at = np.sort(rng.integers(0, len(lines), n_bad))
    out, j = [], 0
    for k, line in enumerate(lines):
        while j < n_bad and at[j] == k:
            out.append(bad[j])
            j += 1
        out.append(line)
    return out, bad


def gen_etl(out_dir, seed, n_xetra, n_eurex, n_bad_xetra=40, n_bad_eurex=30,
            n_missing_isin=25):
    """Write xetra.csv, eurex.csv and dimension.csv under `out_dir`;
    return the expected counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_inst = 3000
    isins = _isins(rng, "DE", n_inst)
    mnem = ["".join(rng.choice(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"), 3)) for _ in range(n_inst)]
    desc = [f'"{m} HOLDING AG NA O.N.,{k}"' if k % 3 == 0 else f"{m} SE INH. O.N."
            for k, m in enumerate(mnem)]
    stype = np.array(["Common stock", "ETF", "ETC", "ETN"])[rng.choice(4, n_inst, p=[0.7, 0.2, 0.05, 0.05])]
    inst = rng.integers(0, n_inst, n_xetra)
    start, hi, lo, end = _bars(rng, n_xetra)
    days = np.array(TRADING_DAYS)[rng.integers(0, len(TRADING_DAYS), n_xetra)]
    vol = rng.integers(1, 20_000, n_xetra)
    trades = rng.integers(1, 60, n_xetra)
    xlines = [f"{isins[i]},{mnem[i]},{desc[i]},{stype[i]},EUR,{2_500_000 + i},{d},{t},"
              f"{a:.2f},{b:.2f},{c:.2f},{e:.2f},{v},{n}"
              for i, d, t, a, b, c, e, v, n in zip(inst, days, _minutes(rng, n_xetra),
                                                  start, hi, lo, end, vol, trades)]
    xlines, bad_x = _plant_malformed(rng, xlines, n_bad_xetra, "X")
    _write_csv(os.path.join(out_dir, "xetra.csv"), XETRA_HEADER, xlines)

    n_seg = DIM_SEGMENTS + ORPHAN_SEGMENTS
    segs = [f"S{k:04d}" for k in range(n_seg)]
    in_dim = set(rng.choice(n_seg, DIM_SEGMENTS, replace=False).tolist())
    underl = [f"U{k % 700:03d}" for k in range(n_seg)]
    cats = np.array(["INDEX", "EQUITY", "INTEREST RATE", "COMMODITY", "FX"])
    dlines = []
    for k in sorted(in_dim):
        dlines.append(",".join([
            segs[k], f'"{segs[k]} Options on Index, Series {k % 9}"', _isin(rng, "DE"),
            "EQUITY" if k % 2 else "INDEX", "OPT" if k % 3 else "FUT", "O" if k % 3 else "F",
            str(k % 4), "T7", f"P{k % 10}", "EUR", "Y", "C" if k % 2 else "P",
            str(10 ** (k % 4)), "0.01", "0.1", "5000", "5000", "2500", "1000", "150000", "Y",
            underl[k], _isin(rng, "DE"), f'"Underlying {underl[k]}, Inc."', cats[k % 5]]))
    _write_csv(os.path.join(out_dir, "dimension.csv"), DIM_HEADER, dlines)

    seg = rng.integers(0, n_seg, n_eurex)
    stype = np.array(["OPT", "FUT", "MLEG"])[rng.choice(3, n_eurex, p=[0.62, 0.36, 0.02])]
    # Index futures carry no underlying symbol: FUT rows of one segment in ten.
    no_under = (stype == "FUT") & (seg % 10 == 0)
    no_isin = np.zeros(n_eurex, bool)
    no_isin[rng.choice(n_eurex, n_missing_isin, replace=False)] = True
    mat = np.array(["20201218", "20210115", "20210319", "20210618", "20211217"])[rng.integers(0, 5, n_eurex)]
    strike = np.round(rng.uniform(10, 15_000, n_eurex), 2)
    putcall = np.array(["Put", "Call"])[rng.integers(0, 2, n_eurex)]
    gen = rng.integers(1, 4, n_eurex)
    start, hi, lo, end = _bars(rng, n_eurex)
    days = np.array(TRADING_DAYS)[rng.integers(0, len(TRADING_DAYS), n_eurex)]
    contracts = rng.integers(1, 5000, n_eurex)
    trades = rng.integers(1, 40, n_eurex)
    fact_isins = _isins(rng, "DE", n_eurex)
    elines, isin_pairs, under_pairs = [], set(), set()
    for r, (sg, st, t) in enumerate(zip(seg, stype, _minutes(rng, n_eurex))):
        fut = st == "FUT"
        mleg = f"{segs[sg]} SI {mat[r]} CS EU {'F' if fut else putcall[r][0]} {strike[r]:.2f} {gen[r]}"
        isin = "" if no_isin[r] else fact_isins[r]
        und = "" if no_under[r] else underl[sg]
        if no_isin[r]:
            isin_pairs.add((segs[sg], mleg))
        if no_under[r]:
            under_pairs.add((segs[sg], mleg))
        elines.append(",".join([
            isin, segs[sg], und, "" if no_under[r] else "DE0008469008", "EUR", st, mat[r],
            "" if fut else f"{strike[r]:.2f}", "" if fut else putcall[r], mleg,
            "" if fut else str(gen[r]), str(3_000_000 + r), days[r], t,
            f"{start[r]:.2f}", f"{hi[r]:.2f}", f"{lo[r]:.2f}", f"{end[r]:.2f}",
            str(contracts[r]), str(trades[r])]))
    elines, bad_e = _plant_malformed(rng, elines, n_bad_eurex, "E")
    _write_csv(os.path.join(out_dir, "eurex.csv"), EUREX_HEADER, elines)
    return {
        "xetra_rows": n_xetra, "eurex_rows": n_eurex,
        "corrupt_xetra": n_bad_xetra, "corrupt_eurex": n_bad_eurex,
        "missing_isin": len(isin_pairs), "missing_underlying": len(under_pairs),
        "malformed_xetra": bad_x, "malformed_eurex": bad_e,
    }
