"""Output check for the entry workloads: each entry's check-pass output
(parquet, written by the JVM outside the timed region) against the
entry's `SparkEntry.oracleSql` run in DuckDB over the same generated
tables, normalised and compared exactly as tools/check_oracle.py does
(columns sorted by name, rows sorted by value, NaN equal to NaN)."""
import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(con, got_dir, sql):
    """'' when the parquet output under got_dir equals the oracle's rows."""
    files = glob.glob(os.path.join(got_dir, "*.parquet"))
    if not files:
        return "no output"
    got = _norm(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
    want = _norm(con.sql(sql).df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    diff = [c for c in got.columns if not got[c].equals(want[c])]
    return f"values differ in {diff}" if diff else ""


def check(data_dir, check_dir, checked, oracle_sql):
    """{entry: reason} for every entry whose output is wrong or missing;
    entries the JVM could not run carry its error."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    bad = {}
    for name, err in checked.items():
        if err:
            bad[name] = err
            continue
        if name not in oracle_sql:
            bad[name] = "no oracle SQL"
            continue
        try:
            why = compare(con, os.path.join(check_dir, name), oracle_sql[name])
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            bad[name] = why
    con.close()
    return bad
