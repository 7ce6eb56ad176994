"""DuckDB oracle check of the harness's query outputs.

The harness writes each checked query's result as parquet under
`<out>/oracle/<name>/` and `<out>/oracle.json` with the input tables and
the `SparkEntry.oracleSql` text of each query. Each output must match
its oracle exactly: same column names and types, same rows, floats
compared bit for bit.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa


def _norm_type(t):
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return "list<%s>" % _norm_type(t.value_type)
    return str(t)


def _as_bits(df):
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == np.float64:
            df[c] = df[c].to_numpy(dtype=np.float64).view(np.int64)
        elif df[c].dtype == np.float32:
            df[c] = df[c].to_numpy(dtype=np.float32).view(np.int32)
    return df


def compare(con, got_dir, sql):
    """None when the Spark output equals the oracle, else a reason."""
    if not glob.glob(os.path.join(got_dir, "*.parquet")):
        return "no output"
    got_at = con.execute("SELECT * FROM '%s/*.parquet'" % got_dir).arrow()
    exp_at = con.execute(sql).arrow()
    g = {f.name: _norm_type(f.type) for f in got_at.schema}
    e = {f.name: _norm_type(f.type) for f in exp_at.schema}
    if g != e:
        return "schema %s vs oracle %s" % (g, e)
    got, exp = got_at.to_pandas(), exp_at.to_pandas()
    if len(got) != len(exp):
        return "%d rows vs oracle %d" % (len(got), len(exp))
    cols = sorted(got.columns)
    got = _as_bits(got[cols]).sort_values(cols).reset_index(drop=True)
    exp = _as_bits(exp[cols]).sort_values(cols).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
    except AssertionError as err:
        return "values differ: %s" % str(err)[:300]
    return None


def check(out_dir):
    """[(query name, None or failure reason)] for every dumped output."""
    spec_path = os.path.join(out_dir, "oracle.json")
    if not os.path.isfile(spec_path):
        return []
    with open(spec_path) as f:
        spec = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO %d" % max(1, min(4, len(os.sched_getaffinity(0)))))
    for name, path in spec["tables"].items():
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/*.parquet'" % (name, path))
    results = []
    for name, sql in sorted(spec["queries"].items()):
        try:
            results.append((name, compare(con, os.path.join(out_dir, "oracle", name), sql)))
        except Exception as err:  # an oracle that cannot run is a failed check
            results.append((name, "oracle error: %s" % err))
    return results
