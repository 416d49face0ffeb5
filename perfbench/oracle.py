"""Expected outputs from the DuckDB oracle, in the harness's digest form.

The engine keeps a DuckDB replica of every query (`SparkEntry.oracleSql`,
the SQL `tools/check_oracle.py` replays). The harness sends the SQL of each
query it ran; this module evaluates it over the same generated inputs and
reduces the result to the digest `Digest.scala` computes on the Spark side:
per-row md5 over canonical strings, two 32-bit lanes summed, plus the row
count and the sorted column names.
"""
import glob
import hashlib
import json
import os

import duckdb

NULL = "'\\N'"
NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
           "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT", "FLOAT", "DOUBLE",
           "DECIMAL")
TEMPORAL = ("DATE", "TIMESTAMP")
# cached digests are keyed by this file too, so a change to the digest
# definition never reads a stale cache
with open(__file__, "rb") as _fh:
    SELF = hashlib.sha256(_fh.read()).digest()


def canon(ref, dtype):
    t = str(dtype).upper()
    if t.startswith(NUMERIC):
        x = f"CAST({ref} AS DOUBLE)"
        return (f"CASE WHEN {x} IS NULL THEN {NULL} WHEN isnan({x}) THEN 'nan' "
                f"WHEN abs({x}) < 9e11 THEN CAST(CAST(floor({x} * 10000.0::DOUBLE"
                f" + 0.5::DOUBLE) AS BIGINT) AS VARCHAR) "
                f"WHEN abs({x}) < 9e21 THEN 'e' || CAST(CAST(floor({x} / 1e6::DOUBLE"
                f" + 0.5::DOUBLE) AS BIGINT) AS VARCHAR) "
                f"WHEN {x} > 0 THEN 'inf' ELSE '-inf' END")
    if t == "VARCHAR":
        return f"coalesce({ref}, {NULL})"
    if t == "BOOLEAN":
        return f"CASE WHEN {ref} IS NULL THEN {NULL} WHEN {ref} THEN 't' ELSE 'f' END"
    if t.startswith(TEMPORAL):
        return f"coalesce(CAST(epoch_us(CAST({ref} AS TIMESTAMP)) AS VARCHAR), {NULL})"
    if t == "BLOB":
        return f"coalesce(hex({ref}), {NULL})"
    return f"coalesce(CAST(to_json({ref}) AS VARCHAR), {NULL})"


def digest(con, sql):
    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: (cols[i], i))
    aliases = ", ".join(f'"__c{i}"' for i in range(len(cols)))
    parts = ", ".join(canon(f'"__c{i}"', rel.types[i]) for i in order)
    q = (f"SELECT count(*), coalesce(sum(('0x' || substr(h, 1, 8))::BIGINT), 0), "
         f"coalesce(sum(('0x' || substr(h, 9, 8))::BIGINT), 0) FROM ("
         f"SELECT md5(concat_ws('|', {parts})) AS h FROM ({sql}) AS q({aliases})) AS d")
    n, a, b = con.execute(q).fetchone()
    return {"columns": [cols[i] for i in order], "rows": int(n), "a": int(a), "b": int(b)}


def connect(data_dir, spill_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def expected_digests(oracle_sql, data_dir, cache_dir):
    """{query: digest or {"error": ...}}, cached per (inputs, SQL, digest code)."""
    os.makedirs(cache_dir, exist_ok=True)
    tag = os.path.basename(os.path.normpath(data_dir))
    out, con = {}, None
    for q, sql in sorted(oracle_sql.items()):
        if sql is None:
            out[q] = {"error": "no oracle SQL for this query"}
            continue
        key = hashlib.sha256((tag + "\0" + sql).encode() + SELF).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{tag}-{key}.json")
        if os.path.exists(path):
            out[q] = json.load(open(path))
            continue
        con = con or connect(data_dir, os.path.join(cache_dir, "duckdb-tmp"))
        try:
            out[q] = digest(con, sql)
        except Exception as e:  # an oracle error fails the op, loudly
            out[q] = {"error": f"oracle: {type(e).__name__}: {str(e)[:300]}"}
            continue
        with open(path + ".tmp", "w") as fh:
            json.dump(out[q], fh)
        os.replace(path + ".tmp", path)
    return out


def check_ops(ops, expected):
    """Each op with `ok` and, when not ok, `why`. A delta day is only as
    good as its week: the ledger after the seventh day must equal the
    full GL."""
    checked = []
    for op in ops:
        op = dict(op)
        why = op.get("error")
        if why is None and op.get("expect"):
            want, got = expected.get(op["expect"], {}), op.get("digest")
            if "error" in want:
                why = want["error"]
            elif got is None:
                why = "no digest"
            elif got != want:
                why = f"digest mismatch: got {got} want {want}"
        op["ok"], op["why"] = why is None, why
        checked.append(op)
    bad_weeks = {op["group"] for op in checked
                 if op["op"] == "gl_week_check" and not op["ok"]}
    for op in checked:
        if op["op"] == "gl_delta" and op["ok"] and op["group"] in bad_weeks:
            op["ok"], op["why"] = False, "the week's ledger does not equal the full GL"
    return checked
