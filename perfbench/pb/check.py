"""Untimed correctness checks run after each measurement."""
import os
import sys

import duckdb
import pyarrow.parquet as pq

from . import build


def queries(order, testdata, check_out, oracles):
    """Compare each dumped query output, `(name, scale)` in `order`, with
    its DuckDB oracle over the same scale's tables, rows canonicalized as
    tools/oracle_check.py does. Returns {name: error or None}; a query
    without an oracle only has to produce rows."""
    sys.path.insert(0, os.path.join(build.ROOT, "tools"))
    import oracle_check  # the repo's canonical oracle compare
    out = {}
    for sf in sorted({sf for _, sf in order}):
        con = duckdb.connect()
        con.execute("SET threads = 2")
        con.execute("SET memory_limit = '2GB'")
        for t in oracle_check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(testdata, sf, t)}.parquet'")
        for name in (q for q, s in order if s == sf):
            out[name] = _compare(con, os.path.join(check_out, name),
                                 oracles.get(name), oracle_check.rows_key)
        con.close()
    return out


def _compare(con, path, oracle, rows_key):
    try:
        got = con.execute(f"SELECT * FROM '{path}/*.parquet'")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        if oracle is None:
            return None if grows else "no rows"
        exp = con.execute(oracle)
        ecols = [d[0] for d in exp.description]
        erows = exp.fetchall()
    except Exception as e:  # a missing dump or a failing oracle
        return f"exception {str(e)[:200]}"
    if sorted(gcols) != sorted(ecols):
        return f"columns {sorted(gcols)} != {sorted(ecols)}"
    if rows_key(gcols, grows) != rows_key(ecols, erows):
        return f"rows differ (spark {len(grows)}, oracle {len(erows)})"
    return None


OUT_TYPES = {"ID": "string", "name": "string", "nationality": "string",
             "age": "int8"}


def _canon_row(r):
    return tuple(r.get(c) for c in ("ID", "name", "nationality", "age"))


def service(bucket, manifest, delivered):
    """Exactly-once check of the service's outputs. Every delivered key
    has one `<key>.parquet` whose rows are the manifest's rows, no more,
    no fewer; no other output exists. Returns {key: error or None} and
    the observed (rows dropped as corrupt, ages narrowed to NULL)."""
    result, dropped, nulled = {}, 0, 0
    outputs = set()
    for d, dirs, _ in os.walk(bucket):
        for x in list(dirs):
            if x.endswith(".parquet"):
                outputs.add(os.path.relpath(os.path.join(d, x), bucket)[:-len(".parquet")])
                dirs.remove(x)
    for key in sorted(delivered):
        want = manifest[key]
        try:
            t = pq.read_table(os.path.join(bucket, key + ".parquet"))
            types = {f.name: str(f.type) for f in t.schema}
            rows = t.to_pylist()
        except Exception as e:
            result[key] = f"unreadable output: {str(e)[:200]}"
            continue
        if types != OUT_TYPES:
            result[key] = f"schema {types}"
        elif sorted(map(_canon_row, rows), key=repr) != \
                sorted(map(_canon_row, want["rows"]), key=repr):
            result[key] = f"rows {rows} != {want['rows']}"
        else:
            result[key] = None
            # the output matched, so the manifest's counts hold for it
            dropped += want["corrupt"]
            nulled += want["age_nulled"]
    for extra in sorted(outputs - set(delivered)):
        result[extra] = "output for a key no notification named"
    return result, dropped, nulled
