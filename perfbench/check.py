"""Checks every timed operation of a run against DuckDB.

Canonicalization follows the engine's oracle gate (tools/check.py): columns
compared by sorted name, coarse Arrow type classes, rows as sorted
canonical strings, doubles compared exactly. The benchmark JVM reports
the first result of each operation spec in full and later ones as a
fingerprint that must equal the first.
"""
import glob
import os

import duckdb

import workloads as W

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def table_rows(data_dir):
    con = connect(data_dir)
    return {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in TABLES}


def fixture_bytes(rep_dir):
    """Encrypted over plaintext bytes of the pme_read fixtures, if present."""
    def size(d):
        return sum(os.path.getsize(f) for f in glob.glob(os.path.join(d, "*", "*.parquet")))
    enc, plain = size(os.path.join(rep_dir, "enc")), size(os.path.join(rep_dir, "plain"))
    return enc / plain if enc and plain else None


# ------------------------------------------------------------ canonical

def cell(v):
    """A DuckDB value in the JVM's cell encoding (see perfbench.Canon)."""
    import datetime
    import decimal
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return "float:" + {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}[repr(v)]
        return v
    if isinstance(v, decimal.Decimal):
        return "dec:" + format(v, "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - datetime.datetime(1970, 1, 1)
        return f"ts:{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return "date:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "bin:" + v.hex()
    if isinstance(v, (list, tuple)):
        return [cell(x) for x in v]
    if isinstance(v, dict):
        return [cell(x) for x in v.values()]
    return str(v)


def canon_value(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(canon_value(r[i]) for i in order) for r in rows)


def spark_class(t):
    simple = {"bigint": "int64", "int": "int32", "smallint": "int16", "tinyint": "int8",
              "double": "float64", "float": "float32", "string": "string",
              "boolean": "bool", "date": "date", "timestamp": "timestamp",
              "timestamp_ntz": "timestamp", "binary": "binary"}
    if t in simple:
        return simple[t]
    if t.startswith("decimal"):
        return t
    if t.startswith("array<") and t.endswith(">"):
        return f"list<{spark_class(t[6:-1])}>"
    return t


def arrow_class(t):
    import pyarrow as pa
    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_floating(t):
        return f"float{t.bit_width}"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_class(t.value_type)}>"
    return str(t)


def compare(op, con, sql, corrupt=False):
    """None when the engine's first result for a spec matches DuckDB."""
    try:
        table = con.execute(sql).arrow()
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle error: {e}"
    d_cols = table.column_names
    d_rows = [[cell(v) for v in r.values()] for r in table.to_pylist()]
    if corrupt:
        d_rows = d_rows[1:] if len(d_rows) > 1 else [["corrupted"] * len(d_cols)]
    s_cols, s_rows = op["cols"], op["rows"]
    if sorted(s_cols) != sorted(d_cols):
        return f"columns engine={sorted(s_cols)} duckdb={sorted(d_cols)}"
    s_types = {c: spark_class(t) for c, t in zip(s_cols, op["types"])}
    d_types = {f.name: arrow_class(f.type) for f in table.schema}
    if s_types != d_types:
        return f"types engine={s_types} duckdb={d_types}"
    if len(s_rows) != len(d_rows):
        return f"rows engine={len(s_rows)} duckdb={len(d_rows)}"
    a, b = canon(s_rows, s_cols), canon(d_rows, d_cols)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: engine={diff[0]!r} duckdb={diff[1]!r}"
    return None


# --------------------------------------------------------------- verify

def _status_failure(op, expect_denied):
    s = op["status"]
    if expect_denied and s == "ok":
        return "missing expected denial"
    if expect_denied and s == "error":
        return f"unexpected exception instead of denial: {op.get('error')}"
    if not expect_denied and s == "denied":
        return f"unexpected denial: {op.get('error')}"
    if not expect_denied and s == "error":
        return f"unexpected exception: {op.get('error')}"
    return None


def _check_results(ops, expected_of, con, corrupt):
    """First result per spec against DuckDB; repeats against the first."""
    bad_spec, failures = {}, []
    corrupted = False
    for op in ops:
        if op["status"] != "ok" or "rows" not in op:
            continue
        sql = expected_of(op)
        if sql is None:
            continue
        why = compare(op, con, sql, corrupt=corrupt and not corrupted)
        corrupted = True
        if why:
            bad_spec[op["spec"]] = why
    for op in ops:
        why = None
        if op["status"] == "ok" and "rows" not in op and not op.get("same_as_first", True):
            why = "result differs from the first run of the same operation"
        why = why or (bad_spec.get(op["spec"]) if op["status"] == "ok" else None)
        if why:
            failures.append(f"op {op['id']} {op['spec']}: {why}")
    return failures


def verify(workload, out, data_dir, corrupt=False):
    con = connect(data_dir)
    ops = out["ops"]
    failures, extra, input_rows = [], {}, []
    if workload == "pme_read":
        for op in ops:
            why = _status_failure(op, op["deny"])
            # A read that touches no encrypted page needs no key: when the
            # filter matches nothing, pruning may legitimately skip every
            # page and the read succeeds with no rows.
            if why == "missing expected denial" and op.get("rows_n") == 0 and \
                    con.execute(f"SELECT count(*) FROM ({W.read_sql(op)})").fetchone()[0] == 0:
                why = None
            if why:
                failures.append(f"op {op['id']} {op['spec']}: {why}")
        failures += _check_results(ops, lambda op: W.read_sql(op), con, corrupt)
    elif workload == "pme_write":
        fin = out["finish"]
        expected = {}
        for op in ops:
            if op["spec"] not in expected:
                got = con.execute(W.write_fingerprint_sql(op)).fetchone()
                expected[op["spec"]] = [cell(v) for v in got]
            exp = expected[op["spec"]]
            if corrupt and op is ops[0]:
                exp = [exp[0] + 1] + exp[1:]
            input_rows.append(exp[0])
            why = _status_failure(op, False)
            if not why:
                back = fin["readback"].get(str(op["id"]))
                if back is None:
                    why = "no read-back of the written slice"
                elif [str(x) for x in back] != [str(x) for x in exp]:
                    why = f"read-back {back} != source {exp}"
            if why:
                failures.append(f"op {op['id']} {op['spec']}: {why}")
        files = [v for v in fin["files"].values()]
        twins = list(fin["twins"].values())
        extra["files_per_op"] = sum(v["files"] for v in files) / max(1, len(files))
        extra["bytes_per_op"] = sum(v["bytes"] for v in files) / max(1, len(files))
        if twins:
            extra["bytes_stored_ratio"] = (sum(t["enc_bytes"] for t in twins)
                                           / sum(t["bytes"] for t in twins))
            extra["write_overhead"] = (sum(t["enc_wall_s"] for t in twins)
                                       / sum(t["wall_s"] for t in twins))
    else:
        oracle = out["finish"]["oracle_sql"]
        for op in ops:
            why = _status_failure(op, False)
            if why:
                failures.append(f"op {op['id']} {op['spec']}: {why}")
        failures += _check_results(ops, lambda op: oracle.get(op["kind"]), con, corrupt)
        extra["rows_only"] = sorted({op["kind"] for op in ops if op["kind"] not in oracle})
    return {"failures": failures, "input_rows": input_rows, "extra": extra}

