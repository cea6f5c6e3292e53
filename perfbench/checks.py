"""Output checks. Each failed check counts one failed operation.

* query results (``night-job``): each result the job wrote must equal its
  ``SparkEntry.oracleSql`` statement run in DuckDB over the same tables,
  compared under the canonicalization of ``tools/check.py`` (imported, not
  copied);
* ``ingest``: each sink's row count equals the generated rows, and an
  order-independent hash of each sink (without ``record_id``, which is
  layout-dependent) equals a DuckDB recomputation of the transform over the
  same CSV.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check as oracle_check  # noqa: E402  tools/check.py


def compare_query(con, name, result_dir, sql):
    """None when the Spark result equals the oracle's, else a reason."""
    try:
        got = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'")
        gcols, grows = oracle_check.canon(got.fetchall(), got.columns)
    except Exception as e:  # noqa: BLE001 - any read failure is a wrong output
        return f"result unreadable: {e}"
    try:
        exp = con.sql(sql)
        ecols, erows = oracle_check.canon(exp.fetchall(), exp.columns)
    except Exception as e:  # noqa: BLE001
        return f"oracle error: {e}"
    if gcols != ecols:
        return f"columns spark={gcols} oracle={ecols}"
    if grows != erows:
        diffs = [(a, b) for a, b in zip(grows, erows) if a != b][:2]
        return f"rows spark={len(grows)} oracle={len(erows)} first diffs {diffs}"
    return None


def check_queries(data_dir, check_dir, names, oracle_sql):
    """Return {query: reason} for every listed query whose output is wrong."""
    con = duckdb.connect()
    for t in oracle_check.TABLES:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for q in names:
        if q not in oracle_sql:
            bad[q] = "no oracle statement"
            continue
        reason = compare_query(con, q, os.path.join(check_dir, q), oracle_sql[q])
        if reason:
            bad[q] = reason
    return bad


# The two transforms recomputed in DuckDB from the CSV (EcommerceOps):
# batchTransform stringifies every column (NULL -> 'nan') and renders the
# category path as a Python dict repr; streamTransform decodes the wire
# format into typed columns plus hour and the four category parts.
_CSV = ("read_csv('{path}', header=true, auto_detect=false, columns={{"
        "'event_time':'VARCHAR','event_type':'VARCHAR','product_id':'VARCHAR',"
        "'category_id':'VARCHAR','category_code':'VARCHAR','brand':'VARCHAR',"
        "'price':'DOUBLE','user_id':'VARCHAR','user_session':'VARCHAR'}})")

_KEYS = ["category", "sub_category", "product", "product_details"]
# batchTransform stringifies before rendering, so a null path renders 'nan'
BATCH_CODE = "coalesce(category_code, 'nan')"


def _dict_repr(col):
    """EcommerceOps.pyDictRender: the path parts zipped with the four keys,
    truncated to the shorter side, rendered as a Python dict."""
    parts = f"string_split({col}, '.')"
    items = ", ".join(
        f"CASE WHEN len({parts}) >= {i + 1} THEN '''{k}'': ''' || {parts}[{i + 1}] || '''' END"
        for i, k in enumerate(_KEYS))
    return f"'{{' || concat_ws(', ', {items}) || '}}'"


def _spark_double(col):
    """Spark's double-to-string for the generated prices (0.01..1999.99)."""
    return (f"CASE WHEN {col} = floor({col}) THEN CAST(CAST({col} AS BIGINT) AS VARCHAR) || '.0' "
            f"ELSE CAST({col} AS VARCHAR) END")


def batch_sql(path):
    cols = ["event_time", "event_type", "product_id", "category_id", "category_code",
            "brand", "price", "user_id", "user_session"]
    sel = []
    for c in cols:
        if c == "category_code":
            sel.append(f"{_dict_repr(BATCH_CODE)} AS category_code")
        elif c == "price":
            sel.append(f"coalesce({_spark_double('price')}, 'nan') AS price")
        else:
            sel.append(f"coalesce({c}, 'nan') AS {c}")
    return f"SELECT {', '.join(sel)} FROM {_CSV.format(path=path)}"


def stream_sql(path):
    parts = "string_split(category_code, '.')"
    cats = ", ".join(f"{parts}[{i + 1}] AS {k}" for i, k in enumerate(_KEYS))
    return (f"SELECT event_time AS event_time_string, event_type, product_id, category_id, "
            f"category_code, brand, CAST(price AS DOUBLE) AS price, user_id, user_session, "
            f"CAST(regexp_replace(event_time, ' UTC$', '') AS TIMESTAMP) AS event_time, "
            f"CAST(substring(event_time, 12, 2) AS INTEGER) AS hour, {cats} "
            f"FROM (SELECT event_time, event_type, product_id, category_id, "
            f"coalesce(category_code, 'NaN') AS category_code, coalesce(brand, 'NaN') AS brand, "
            f"{_spark_double('price')} AS price, user_id, user_session "
            f"FROM {_CSV.format(path=path)})")


def _digest(con, relation, cols):
    """(rows, order-independent hash) of `relation` over `cols`."""
    row = " || '|' || ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in cols)
    return con.sql(f"SELECT count(*), coalesce(sum(hash({row})), 0) FROM ({relation})").fetchone()


def check_ingest(csv, rows, batch_dir, replay_dir):
    """Return a list of reasons (empty when both sinks are right)."""
    con = duckdb.connect()
    bad = []
    for label, sink, expect in (("batch", batch_dir, batch_sql(csv)),
                                ("replay", replay_dir, stream_sql(csv))):
        try:
            got_rel = f"SELECT * FROM '{sink}/*.parquet'"
            cols = [c for c in con.sql(got_rel).columns if c != "record_id"]
            got = _digest(con, got_rel, cols)
            exp = _digest(con, expect, cols)
        except Exception as e:  # noqa: BLE001
            bad.append(f"{label} sink unreadable: {e}")
            continue
        if got[0] != rows:
            bad.append(f"{label} sink has {got[0]} rows, generated {rows}")
        elif got != exp:
            bad.append(f"{label} sink differs from the DuckDB recomputation")
    return bad


def check(workload, jvms, inputs):
    """Check every output of a run. Returns {"attempted", "failed",
    "reasons"}: an operation (a call into the program) fails when it threw
    or when the output it produced is wrong."""
    attempted, failed, reasons = 0, set(), []
    for j in jvms:
        if j["workload"] == "setup":
            continue
        ops = [s for s in j["spans"] if s["kind"] == "op"]
        attempted += len(ops)
        failed |= {(j["dir"], s["id"]) for s in ops if s["error"]}
        reasons += [f"{s['name']}: {s['error']}" for s in ops if s["error"]]
        wrong = {}
        for f in j["failures"]:
            if f.startswith("workload aborted"):
                attempted += 1
                failed.add((j["dir"], "aborted"))
                reasons.append(f)
        if workload == "ingest":
            for csv, batch_dir, replay_dir in j.get("ingest_outputs", []):
                for r in check_ingest(csv, inputs["rows"], batch_dir, replay_dir):
                    wrong["cli." + r.split()[0]] = r
        else:
            check_dir = os.path.join(j["dir"], "check")
            with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
                oracle_sql = json.load(fh)
            wrong.update(check_queries(inputs["data"], check_dir, inputs["queries"], oracle_sql))
        for name, why in wrong.items():
            reasons.append(f"{name}: {why}")
            failed |= {(j["dir"], s["id"]) for s in ops if s["name"] == name}
    return {"attempted": max(1, attempted), "failed": len(failed), "reasons": reasons}
