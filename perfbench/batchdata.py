"""Seeded tables for the batch_mix workload, and its DuckDB oracle check.

`generate(seed, out_dir)` writes the engine's table set (the TPC-H-shaped
star schema plus `events`) at sf0.1 as one parquet file per table, with the
column names, physical types and value domains the queries expect. The same
seed gives byte-identical inputs.

`check(data_dir, result_dir)` runs each query's oracle SQL (written by the
benchmark process as `oracle_sql.json`) in DuckDB over the same tables and
compares it with the engine's parquet result: column names, column types,
row count and every cell, with a SHA-256 digest per side for the report.
A cell that differs only because the exact value is a rounding tie (see
`proven_tie`) is reported, not failed; the tie is proven by running the
oracle again without its `round` calls.
"""
import decimal
import hashlib
import json
import math
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01T00:00:00 in microseconds
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01T00:00:00
ORDER_DAYS = 2404                     # order dates 1995-01-01 .. 2001-08-01


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed, out_dir):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["large", "hot", "blue", "green", "small", "red", "cold", "shiny"])
    noun = np.array(["ring", "bolt", "nut", "screw", "gear", "pipe", "valve", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, ORDER_DAYS + 1, n_ord) * US_PER_DAY),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_li) * US_PER_DAY)})
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.21), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _rows(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    raw = [[r[j] for j in idx] for r in rel.fetchall()]
    return cols, types, raw


def _call_end(sql, open_paren):
    """Index just past the parenthesis that closes the one at `open_paren`."""
    depth, quote = 0, None
    for i in range(open_paren, len(sql)):
        c = sql[i]
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    raise ValueError("unbalanced parentheses")


def _split_args(body):
    """Top-level comma-separated arguments of a call's body."""
    args, depth, quote, start = [], 0, None, 0
    for i, c in enumerate(body):
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            args.append(body[start:i])
            start = i + 1
    return args + [body[start:]]


def _in_quote(sql, at):
    """True when position `at` of `sql` lies inside a quoted literal or name."""
    quote = None
    for c in sql[:at]:
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
    return quote is not None


_ROUND = re.compile(r"\bround\s*\(", re.IGNORECASE)
_CAST_DOUBLE = re.compile(r"^\s*CAST\s*\((.*)\s+AS\s+DOUBLE\s*\)\s*$", re.IGNORECASE | re.DOTALL)


def strip_round(sql):
    """`sql` with every `round(x, d)` replaced by `x`, and by `y` where `x`
    is `CAST(y AS DOUBLE)`, so an exact DECIMAL stays exact. Returns None
    when `sql` has no round call."""
    out, pos, found = [], 0, False
    while True:
        m = _ROUND.search(sql, pos)
        while m and _in_quote(sql, m.start()):
            m = _ROUND.search(sql, m.end())
        if not m:
            break
        end = _call_end(sql, m.end() - 1)
        args = _split_args(sql[m.end():end - 1])
        if len(args) != 2:
            raise ValueError(f"round with {len(args)} arguments")
        arg = strip_round(args[0]) or args[0]
        cast = _CAST_DOUBLE.match(arg)
        if cast and _call_end(arg.strip(), arg.strip().index("(")) == len(arg.strip()):
            arg = cast.group(1)
        out += [sql[pos:m.start()], "(", arg, ")"]
        pos, found = end, True
    return "".join(out + [sql[pos:]]) if found else None


def proven_tie(engine, oracle, exact):
    """True when `engine` and `oracle` are the two roundings of `exact`, a
    value that lies exactly half-way between them. `exact` is the oracle's
    unrounded value: a Decimal when the query rounds a DECIMAL cast to
    DOUBLE, else a float, taken at its shortest decimal form, the form the
    engine rounds. The engine rounds that form half-up; DuckDB rounds the
    binary double, which may lie just below the half-way point. So the two
    may differ exactly when the exact value has d+1 decimals, the last a 5,
    and the query rounds to d."""
    if not (isinstance(engine, float) and isinstance(oracle, float)) or engine == oracle:
        return False
    if isinstance(exact, float):
        if not math.isfinite(exact):
            return False
        exact = decimal.Decimal(repr(exact))
    if not isinstance(exact, decimal.Decimal):
        return False
    exact = exact.normalize()
    _, digits, exponent = exact.as_tuple()
    if exponent >= 0 or digits[-1] != 5:
        return False
    step = decimal.Decimal(1).scaleb(exponent + 1)
    up = float(exact.quantize(step, rounding=decimal.ROUND_HALF_UP))
    down = float(exact.quantize(step, rounding=decimal.ROUND_HALF_DOWN))
    return {engine, oracle} == {up, down}


def _digest(cols, rows):
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest()[:16]


def check(data_dir, result_dir):
    """Returns a list of (query, ok, message). A result that differs from
    the oracle only by proven rounding ties passes, and the message names
    each tie."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(result_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = []
    for name, sql in sorted(oracle.items()):
        try:
            gcols, gtypes, graw = _rows(con.sql(
                f"SELECT * FROM read_parquet('{result_dir}/{name}/*.parquet')"))
            ecols, etypes, eraw = _rows(con.sql(sql))
        except Exception as e:  # a missing result or a broken oracle both fail the query
            out.append((name, False, f"error: {str(e)[:200]}"))
            continue
        grows = [[_norm(v) for v in r] for r in graw]
        erows = [[_norm(v) for v in r] for r in eraw]
        gd, ed = _digest(gcols, grows), _digest(ecols, erows)
        if gcols != ecols:
            out.append((name, False, f"columns differ: engine={gcols} oracle={ecols}"))
        elif gtypes != etypes:
            out.append((name, False, f"types differ: engine={gtypes} oracle={etypes}"))
        elif len(grows) != len(erows):
            out.append((name, False, f"{len(grows)} rows, oracle {len(erows)}"))
        elif gd == ed:
            out.append((name, True, f"digest {gd}, {len(grows)} rows"))
        else:
            diffs = [(i, c, a, b) for i, (ga, ea) in enumerate(zip(graw, eraw))
                     for c, a, b in zip(gcols, ga, ea) if _norm(a) != _norm(b)]
            exact = _unrounded(con, sql, ecols, eraw)
            tied = [(i, c, a, b) for i, c, a, b in diffs
                    if exact is not None and proven_tie(a, b, exact[i][ecols.index(c)])]
            if len(tied) == len(diffs):
                ties = "; ".join(f"row {i} {c}: engine {a!r}, oracle {b!r}, exact "
                                 f"{exact[i][ecols.index(c)]}" for i, c, a, b in tied)
                out.append((name, True, f"digest {gd} != oracle {ed} by proven rounding ties only "
                                        f"({ties})"))
            else:
                i, c, a, b = next(d for d in diffs if d not in tied)
                out.append((name, False, f"digest {gd} != oracle {ed}: row {i} {c} engine {a!r}, "
                                         f"oracle {b!r}"))
    return out


def _unrounded(con, sql, cols, rounded):
    """The oracle's rows with its round calls taken out; None when that
    query cannot be built or its rows do not line up with the `rounded`
    ones: same columns, same row count, equal cells wherever the rounded
    cell is not a float."""
    try:
        bare = strip_round(sql)
        if bare is None:
            return None
        rcols, _, raw = _rows(con.sql(bare))
    except Exception:  # no unrounded form: no tie can be proven
        return None
    if rcols != cols or len(raw) != len(rounded):
        return None
    for r, u in zip(rounded, raw):
        if any(not isinstance(a, float) and a != b for a, b in zip(r, u)):
            return None
    return raw
