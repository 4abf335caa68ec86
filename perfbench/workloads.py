"""Seeded operation generators and the independent expected answers.

Each workload turns `--seed` into a list of operations grouped in rounds.
Round 0 is the untimed warm round run during set-up; rounds 1.. are timed,
each holding the workload's whole operation mix once, so every complete
round sees the same mix whatever the seed. An operation's `slot` names its
place in the mix: every timed round holds each slot once. The engine only ever receives these generated
operations. Expected answers come from DuckDB over the plaintext source
files, never from the engine.
"""
import datetime
import random

# Reference KMS authorization (FIXTURES.md section 2): unwrapping a key of
# level `kek` with token `tok`; None is "no x-api-key header". Coded here,
# independently of the engine's PrivilegeLevel.mayUnwrap.
TRUTH = {
    "PUBLIC": {None: True, "PUBLIC": True, "INTERNAL": True,
               "CONFIDENTIAL": True, "RESTRICTED": True},
    "INTERNAL": {None: False, "PUBLIC": False, "INTERNAL": True,
                 "CONFIDENTIAL": True, "RESTRICTED": True},
    "CONFIDENTIAL": {None: False, "PUBLIC": False, "INTERNAL": False,
                     "CONFIDENTIAL": True, "RESTRICTED": True},
    "RESTRICTED": {None: False, "PUBLIC": False, "INTERNAL": False,
                   "CONFIDENTIAL": False, "RESTRICTED": True},
}
TOKENS = [None, "INTERNAL", "CONFIDENTIAL", "RESTRICTED"]

# Column key levels of the encrypted copies; must match Policies.byTable in
# the benchmark JVM. Unlisted columns are plaintext.
LEVEL = {
    "l_quantity": "INTERNAL", "l_returnflag": "INTERNAL", "l_linestatus": "INTERNAL",
    "l_extendedprice": "CONFIDENTIAL", "l_discount": "CONFIDENTIAL",
    "l_tax": "RESTRICTED",
    "o_orderstatus": "INTERNAL", "o_orderpriority": "INTERNAL",
    "o_totalprice": "CONFIDENTIAL",
    "c_mktsegment": "INTERNAL", "c_name": "CONFIDENTIAL", "c_acctbal": "RESTRICTED",
}

# Columns each pme_read kind reads (projection, filter, join and group keys).
READS = {
    "scan_l": ["l_shipdate", "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
    "scan_o": ["o_orderdate", "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"],
    "filter_plain": ["l_partkey", "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"],
    "filter_enc": ["l_shipdate", "l_discount", "l_quantity", "l_orderkey", "l_linenumber",
                   "l_extendedprice", "l_tax"],
    "agg_l": ["l_shipdate", "l_returnflag", "l_linestatus", "l_extendedprice",
              "l_discount", "l_quantity"],
    "agg_o": ["o_orderdate", "o_orderpriority", "o_totalprice"],
    "join": ["o_orderdate", "o_orderkey", "o_custkey", "l_orderkey", "l_extendedprice",
             "l_discount", "c_custkey", "c_mktsegment"],
}
READ_KINDS = list(READS)

# registry: the sub-second floor of graft.Bench.FastGate. Fourteen plan
# shapes (filter/project, hash aggregate, broadcast, outer, anti and as-of joins, rollup,
# approximate distinct, window rank, top-k, cosine top-k, session window,
# pivot, hash shards). The heavy pipelines and fixture-building queries are left out for
# time and isolation; README.md gives the measured reasons.
REGISTRY = [
    "q01_filter_project", "q02_agg_hash", "q04_join_broadcast", "q05_join_outer", "q06b_join_anti",
    "q08_asof_join", "q09a_rollup", "q10b_approx_distinct", "q11_window_rank",
    "q13_topk", "q23_cosine_topk", "q27_session_window", "q29_pivot", "q77_train_shards",
]


def needed(kind):
    return [LEVEL[c] for c in READS[kind] if c in LEVEL]


def allowed(kind, token):
    return all(TRUTH[lvl][token] for lvl in needed(kind))


def _day(k):
    return datetime.date(1995, 1, 1) + datetime.timedelta(days=k)


def _read_params(rng, kind, n_part):
    if kind in ("scan_l", "scan_o", "filter_enc", "agg_l", "agg_o", "join"):
        width = {"scan_l": 7, "scan_o": 14, "filter_enc": 28, "agg_l": 91,
                 "agg_o": 91, "join": 14}[kind]
        start = rng.randrange(24) * 96 + 2
        p = {"d0": str(_day(start)), "d1": str(_day(start + width))}
        if kind == "filter_enc":
            p["discount"] = rng.randrange(11) / 100.0
            p["quantity"] = float(rng.randrange(10, 40))
        return p
    return {"partkey": rng.randrange(200) * max(1, n_part // 200)}  # filter_plain


def _read_op(rng, kind, deny, n_part):
    p = _read_params(rng, kind, n_part)
    ok = [t for t in TOKENS if allowed(kind, t)]
    bad = [t for t in TOKENS if not allowed(kind, t)]
    token = rng.choice(bad if deny else ok)
    spec = kind + "|" + "|".join(f"{k}={p[k]}" for k in sorted(p))
    if deny:
        spec = f"deny|{token}|{spec}"
    return dict(kind=kind, slot="deny" if deny else kind, token=token, deny=deny, spec=spec,
                **p)


def pme_read_ops(seed, n_part, rounds=400):
    rng = random.Random(f"pme_read:{seed}")
    ops = []
    # Warm round: every kind once, plus a read under each token and one
    # denial, so code paths and the per-token KEK caches are warm.
    warm = random.Random("pme_read:warm")
    for kind, tok in [(k, "RESTRICTED") for k in READ_KINDS] + [
            ("filter_plain", "INTERNAL"), ("scan_l", "CONFIDENTIAL"), ("scan_l", None)]:
        op = _read_op(warm, kind, not allowed(kind, tok), n_part)
        op["token"] = tok
        op["spec"] = f"warm|{tok}|{op['spec']}"
        ops.append((0, op))
    for r in range(1, rounds + 1):
        block = [_read_op(rng, k, False, n_part) for k in READ_KINDS]
        block.append(_read_op(rng, rng.choice(READ_KINDS), True, n_part))
        rng.shuffle(block)
        ops.extend((r, op) for op in block)
    return ops


# pme_write: date-range slices of lineitem (by ship date) and orders (by
# order date), 100x from the narrowest to the widest window. The widest
# lineitem slice is ~24k rows, a twenty-fifth of the table: a whole sf0.1
# lineitem takes ~25 s to write at the writer's default zstd level 19 on
# four cores. Offsets are drawn once per run so every round writes the same
# slices, in a new order.
WRITE_DAYS = [1, 5, 22, 100]
WRITE_TABLES = {"lineitem": "l_shipdate", "orders": "o_orderdate"}


def pme_write_ops(seed, rounds=200):
    rng = random.Random(f"pme_write:{seed}")
    slices = []
    for t, c in WRITE_TABLES.items():
        for days in WRITE_DAYS:
            start = rng.randrange(60, 2270)
            d0, d1 = str(_day(start)), str(_day(start + days))
            spec = f"{t}|{d0}|{d1}"
            slices.append(dict(kind=f"write_{t}", table=t, column=c, d0=d0, d1=d1,
                               spec=spec, slot=spec))
    # Warm round: the narrowest slice of each table.
    ops = [(0, dict(s, spec="warm|" + s["spec"]))
           for s in (slices[0], slices[len(WRITE_DAYS)])]
    for r in range(1, rounds + 1):
        block = [dict(s) for s in slices]
        rng.shuffle(block)
        ops.extend((r, op) for op in block)
    return ops


def registry_ops(seed, passes=50):
    rng = random.Random(f"registry:{seed}")
    ops = [(0, dict(kind=q, spec=q, slot=q)) for q in REGISTRY]
    for r in range(1, passes + 1):
        order = list(REGISTRY)
        rng.shuffle(order)
        ops.extend((r, dict(kind=q, spec=q, slot=q)) for q in order)
    return ops


def number(ops):
    return [dict(op, id=i, round=r) for i, (r, op) in enumerate(ops)]


# ---------------------------------------------------------------- expected

def _rsum(x):
    return f"round(CAST(sum(CAST({x} AS DECIMAL(38,6))) AS DOUBLE), 4)"


DISC = "l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)"


def read_sql(op):
    k = op["kind"]

    def between(c):
        return (f"{c} >= TIMESTAMP '{op['d0']} 00:00:00' AND "
                f"{c} < TIMESTAMP '{op['d1']} 00:00:00'")
    if k == "scan_l":
        return ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
                f"FROM lineitem WHERE {between('l_shipdate')}")
    if k == "scan_o":
        return ("SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice "
                f"FROM orders WHERE {between('o_orderdate')}")
    if k == "filter_plain":
        return ("SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag "
                f"FROM lineitem WHERE l_partkey = {op['partkey']}")
    if k == "filter_enc":
        return ("SELECT l_orderkey, l_linenumber, l_extendedprice, l_tax FROM lineitem "
                f"WHERE {between('l_shipdate')} AND l_discount = {op['discount']!r} "
                f"AND l_quantity > {op['quantity']!r}")
    if k == "agg_l":
        return (f"SELECT l_returnflag, l_linestatus, count(*) AS n, {_rsum(DISC)} AS revenue, "
                f"{_rsum('l_quantity')} AS qty FROM lineitem WHERE {between('l_shipdate')} "
                "GROUP BY l_returnflag, l_linestatus")
    if k == "agg_o":
        return (f"SELECT o_orderpriority, count(*) AS n, {_rsum('o_totalprice')} AS total "
                f"FROM orders WHERE {between('o_orderdate')} GROUP BY o_orderpriority")
    if k == "join":
        return (f"SELECT c_mktsegment, count(*) AS n, {_rsum(DISC)} AS revenue "
                "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
                f"JOIN customer ON o_custkey = c_custkey WHERE {between('o_orderdate')} "
                "GROUP BY c_mktsegment")
    raise ValueError(k)


def _dec(c):
    return f"CAST(sum(CAST({c} AS DECIMAL(38,2))) AS VARCHAR)"


def _days(c):
    return f"sum(datediff('day', DATE '1970-01-01', CAST({c} AS DATE)))"


def write_fingerprint_sql(op):
    """count + content checksums of one slice, in the JVM's column order."""
    t = op["table"]
    where = (f"{op['column']} >= TIMESTAMP '{op['d0']} 00:00:00' AND "
             f"{op['column']} < TIMESTAMP '{op['d1']} 00:00:00'")
    if t == "lineitem":
        cols = ["sum(l_orderkey)", "sum(l_partkey)", "sum(l_suppkey)", "sum(l_linenumber)",
                _dec("l_quantity"), _dec("l_extendedprice"), _dec("l_discount"),
                _dec("l_tax"), "sum(ascii(l_returnflag))", "sum(ascii(l_linestatus))",
                _days("l_shipdate")]
    else:
        cols = ["sum(o_orderkey)", "sum(o_custkey)", "sum(ascii(o_orderstatus))",
                _dec("o_totalprice"), _days("o_orderdate"), "sum(length(o_orderpriority))"]
    return f"SELECT count(*), {', '.join(cols)} FROM {t} WHERE {where}"
