"""Result checks for one benchmark run, against DuckDB.

The JVM leaves an op log (ops.jsonl, written by OpLog.scala): each timed
op's spec, the shard directories it read and its Arrow IPC result. Each op's
expected result is computed here with DuckDB over the same parquet files,
from the reference's documented semantics (not through AggregateEngine), and
the actual result is decoded with pyarrow (not through Transport):

- nothing to read, every requested column missing (M2) or a filter on a
  missing column (M4): empty, with the requested column names;
- a missing dim reads -1 and a missing measure 0.0 (M3);
- aggregate=false returns the requested columns sorted by name.

A registry op (`oracle` in the log) must equal its `SparkEntry.oracleSql`
query run by DuckDB over a `lineitem` view of the same shards, columns
compared by name.

A published shard must hold its batch under mangled names, and a compaction
exactly its cycle's rows (`published` in the log).
"""
import base64
import json
import math

import duckdb
import pyarrow as pa

AGG = {
    "sum": "SUM({})", "mean": "AVG({})", "std": "STDDEV_SAMP({})",
    "count": "COUNT({})", "count_na": "COUNT(*) - COUNT({})",
    "count_distinct": "COUNT(DISTINCT {})",
    "sorted_count_distinct": "COUNT(DISTINCT {})",
    "min": "MIN({})", "max": "MAX({})", "one": "MIN({})",
}
CMP = {"==": "=", "!=": "<>", ">": ">", ">=": ">=", "<": "<", "<=": "<="}


def q(c):
    return '"' + c.replace('"', '""') + '"'


def s(x):
    return "'" + x.replace("'", "''") + "'"


def lit(v):
    t, x = v["t"], v["v"]
    if t == "string":
        return s(x)
    if t == "double":
        return f"CAST('{float(x)!r}' AS DOUBLE)"
    if t in ("long", "int"):
        return str(int(x))
    if t == "timestamp":
        return f"TIMESTAMP '{x}'"
    raise ValueError(f"literal type {t}")


def pred(f):
    c, op, v = q(f["col"]), f["op"], f["value"]
    if isinstance(v, list):
        vals = ", ".join(lit(x) for x in v)
        return f"{c} {'IN' if op == 'in' else 'NOT IN'} ({vals})"
    if op in ("in", "not in"):  # a scalar degrades to ==/!=
        return f"{c} {'=' if op == 'in' else '<>'} {lit(v)}"
    return f"{c} {CMP[op]} {lit(v)}"


def scan(dirs):
    files = ", ".join(s(d + "/*.parquet") for d in dirs)
    return f"read_parquet([{files}], hive_partitioning = false)"


def expected(con, op):
    dims, ms, filters = op["dims"], op["measures"], op["filters"]
    columns = set(op["columns"])
    if op["aggregate"]:
        out = dims + [m[2] for m in ms]
    else:
        out = sorted(set(dims + [m[0] for m in ms]))
    requested = list(dict.fromkeys(dims + [m[0] for m in ms]))
    if (not op["present"] or not any(c in columns for c in requested)
            or any(f["col"] not in columns for f in filters)):
        return out, []
    read = list(dict.fromkeys([c for c in requested if c in columns]
                              + [f["col"] for f in filters]))
    frm = f"(SELECT {', '.join(map(q, read))} FROM {scan(op['present'])}) t"
    where = (" WHERE " + " AND ".join(map(pred, filters))) if filters else ""

    def default(c):
        return f"-1 AS {q(c)}" if c in dims else f"CAST(0 AS DOUBLE) AS {q(c)}"

    if not op["aggregate"]:
        sel = [q(c) if c in columns else default(c) for c in out]
        sql = f"SELECT {', '.join(sel)} FROM {frm}{where}"
    else:
        have = [d for d in dims if d in columns]
        meas = [AGG[m[1]].format(q(m[0])) + f" AS {q(m[2])}"
                if m[0] in columns else default(m[2]) for m in ms]
        sel = ", ".join([q(d) if d in columns else default(d) for d in dims]
                        + meas)
        if not any(m[0] in columns for m in ms):
            sql = f"SELECT DISTINCT {sel} FROM {frm}{where}"
        elif not have:
            sql = f"SELECT {sel} FROM {frm}{where}"
        else:
            sql = (f"SELECT {sel} FROM {frm}{where} GROUP BY "
                   + ", ".join(map(q, have)))
    return out, [tuple(r) for r in con.execute(sql).fetchall()]


def expected_registry(con, op):
    con.execute("CREATE OR REPLACE VIEW lineitem AS SELECT * FROM "
                + scan(op["present"]))
    rel = con.execute(op["oracle"])
    return [d[0] for d in rel.description], rel.fetchall()


def by_name(result):
    cols, rows = result
    order = sorted(range(len(cols)), key=lambda k: cols[k])
    return ([cols[k] for k in order],
            [tuple(r[k] for k in order) for r in rows])


def decode(b64):
    t = pa.ipc.open_stream(base64.b64decode(b64)).read_all()
    cols = [c.to_pylist() for c in t.columns]
    return t.column_names, list(zip(*cols)) if cols else []


def key(row):
    return tuple((0, "") if v is None else
                 (1, f"{v:.6e}") if isinstance(v, float) else (2, str(v))
                 for v in row)


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def diff(got, want):
    (gc, gr), (wc, wr) = got, want
    if list(gc) != list(wc):
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for x, y in zip(sorted(gr, key=key), sorted(wr, key=key)):
        if len(x) != len(y) or not all(map(same, x, y)):
            return f"row {x} != {y}"
    return None


def check_published(con, p):
    src = scan([p["dir"]])
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    if cols != p["columns"]:
        return f"{p['dir']}: columns {cols} != {p['columns']}"
    got = list(con.execute(
        f'SELECT COUNT(*), COUNT(f4), SUM(f5), SUM("f_n_6") FROM {src}').fetchone())
    if got != p["sums"]:
        return f"{p['dir']}: sums {got} != {p['sums']}"
    return None


def check_op(con, op):
    try:
        if op.get("oracle"):
            why = diff(by_name(decode(op["result"])),
                       by_name(expected_registry(con, op)))
        else:
            why = diff(decode(op["result"]), expected(con, op))
        for p in op["published"]:
            why = why or check_published(con, p)
        return why
    except Exception as e:  # a check that cannot run is a failed op
        return f"check raised {e!r}"


def check_log(path):
    """Returns (ops checked, [failure messages])."""
    con = duckdb.connect(config={"threads": 2})
    try:
        with open(path) as fh:
            ops = [json.loads(l) for l in fh if l.strip()]
        failures = []
        for op in ops:
            why = check_op(con, op)
            if why:
                failures.append(f"op {op['i']} ({op['kind']}): {why}")
        return len(ops), failures
    finally:
        con.close()
