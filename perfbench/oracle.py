"""DuckDB twin comparison for `query_mix`, made with the same loaders and
rules as the repository's `tools/check.py` (imported from the checkout, so
the benchmark follows that gate): the dtype guard, the schema, the row
count and an exact row-by-row compare."""
import importlib.util
import json
import os

import duckdb


def _check_module():
    path = os.path.join(os.getcwd(), "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(data_dir, dump_dir, names):
    """Return {name: None if the Spark dump equals its DuckDB twin, else a
    one-line reason}."""
    chk = _check_module()
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    # some twins are recursive CTEs that DuckDB materializes per round: a
    # bounded pool makes a runaway twin fail its check instead of the host
    con.execute("SET memory_limit = '2GB'")
    for t in chk.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for name in names:
        pq = os.path.join(dump_dir, name)
        if name not in oracles:
            out[name] = "no DuckDB twin"
            continue
        if not os.path.isdir(pq):
            out[name] = "no parquet dump"
            continue
        try:
            got_cols, got = chk.load_rows(con.sql(f"SELECT * FROM '{pq}/*.parquet'"))
            exp_rel = con.sql(oracles[name])
            dtv = chk.dtype_violations(exp_rel)
            exp_cols, exp = chk.load_rows(exp_rel)
        except Exception as e:  # a failing twin is a failed check
            out[name] = f"error: {str(e)[:200]}"
            continue
        if dtv:
            out[name] = f"dtype: {dtv}"
        elif got_cols != exp_cols:
            out[name] = f"schema: spark={got_cols} duckdb={exp_cols}"
        elif len(got) != len(exp):
            out[name] = f"rowcount: spark={len(got)} duckdb={len(exp)}"
        elif got != exp:
            out[name] = "values differ"
        else:
            out[name] = None
    con.close()
    return out
