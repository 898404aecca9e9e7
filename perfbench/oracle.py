"""Output checks against DuckDB, outside the timed section.

The engine's own oracle SQL (`SparkEntry.oracleSql`, dumped by the
driver) runs in DuckDB over the generated inputs; the engine's outputs
are read back with DuckDB so both sides share one type system. Columns
are compared by name, with Arrow dtypes, as `tools/check_oracle.py`
does. Each check returns None when it passes, else a one-line reason.
"""
import glob
import os

import duckdb


def connect(tables_dir, threads):
    """A DuckDB connection with one view per `<name>.parquet` under tables_dir."""
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={threads}")
    con.execute("SET TimeZone='UTC'")
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def _sorted_cols(con, rel_sql):
    tbl = con.sql(rel_sql).fetch_arrow_table()
    cols = sorted(tbl.column_names, key=str.lower)
    return cols, tbl.select(cols), [str(tbl.schema.field(c).type) for c in cols]


def _output(path):
    return f"SELECT * FROM read_parquet('{os.path.join(path, '**', '*.parquet')}')"


def compare(con, oracle_sql, out_path, ordered):
    """Oracle result vs the engine's parquet output at out_path."""
    try:
        exp_cols, exp, exp_types = _sorted_cols(con, oracle_sql)
    except duckdb.Error as e:
        return f"oracle SQL error: {str(e).splitlines()[0]}"
    got_cols, got, got_types = _sorted_cols(con, _output(out_path))
    if [c.lower() for c in exp_cols] != [c.lower() for c in got_cols]:
        return f"columns oracle={exp_cols} engine={got_cols}"
    if exp_types != got_types:
        return "dtypes " + "; ".join(f"{c}: oracle={e} engine={g}" for c, e, g
                                     in zip(exp_cols, exp_types, got_types) if e != g)
    if exp.num_rows != got.num_rows:
        return f"rows oracle={exp.num_rows} engine={got.num_rows}"
    if ordered:
        if not exp.rename_columns(got.column_names).equals(got):
            return "row values differ"
        return None
    con.register("_exp", exp.rename_columns(got.column_names))
    con.register("_got", got)
    diff = con.execute("SELECT (SELECT count(*) FROM (SELECT * FROM _exp EXCEPT ALL SELECT * FROM _got)),"
                       " (SELECT count(*) FROM (SELECT * FROM _got EXCEPT ALL SELECT * FROM _exp))").fetchone()
    con.unregister("_exp")
    con.unregister("_got")
    if diff != (0, 0):
        return f"{diff[0]} oracle rows missing, {diff[1]} unexpected rows"
    return None


def rows_only(con, out_path):
    n = con.execute(f"SELECT count(*) FROM ({_output(out_path)})").fetchone()[0]
    return None if n > 0 else "rows-only check: 0 rows"


def check_board(res, tables_dir, out_dir, threads):
    """One check per board row: oracle compare, or rows > 0 without one."""
    con = connect(tables_dir, threads)
    fails = {}
    for name in res["rows"]:
        path = os.path.join(out_dir, "check", name)
        if not glob.glob(os.path.join(path, "*.parquet")):
            fails[name] = "no output written"
            continue
        sql = res["oracle"].get(name)
        why = compare(con, sql, path, ordered=True) if sql else rows_only(con, path)
        if why:
            fails[name] = why
    return len(res["rows"]), fails


ELT_OUTPUTS = {"dim_date": "q_dim_date", "dim_time": "q_dim_time", "dim_geo": "q_dim_geo",
               "dim_status": "q_dim_status", "fact": "q_fact_build",
               "star_report": "q_star_report", "monthly_trend": "q_monthly_trend"}


def check_elt(res, truth_dir, out_dir, threads):
    """Dims, fact, report and rollup vs the oracle over the staging truth,
    plus the exported report file against the rollup."""
    con = connect(truth_dir, threads)
    fails = {}
    wh = os.path.join(out_dir, "warehouse")
    for table, query in ELT_OUTPUTS.items():
        why = compare(con, res["oracle"][query], os.path.join(wh, f"{table}.parquet"),
                      ordered=False)
        if why:
            fails[table] = why
    csv = os.path.join(out_dir, "report", "monthly_trend.csv")
    try:
        got = con.execute(f"SELECT year_month, n_orders FROM read_csv('{csv}', header=true, "
                          "all_varchar=true) ORDER BY year_month").fetchall()
        exp = con.execute(f"SELECT year_month, CAST(n_orders AS VARCHAR) FROM "
                          f"({res['oracle']['q_monthly_trend']}) ORDER BY year_month").fetchall()
        if got != exp or len(got) != res.get("export_rows"):
            fails["report_csv"] = f"exported {len(got)} rows, oracle {len(exp)}"
    except duckdb.Error as e:
        fails["report_csv"] = str(e).splitlines()[0]
    return len(ELT_OUTPUTS) + 1, fails
