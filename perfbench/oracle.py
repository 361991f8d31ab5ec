"""Output check: each op's result against `SparkEntry.oracleSql` run in
DuckDB over the same generated inputs, compared the type-faithful way
tools/compare_oracle.py compares (column names, dtype classes, then an
exact multiset compare of VARCHAR casts inside DuckDB). The rules are
kept here rather than imported from that tool, so that what the benchmark
counts as a correct output changes only with the benchmark.
"""
import os

import duckdb

# wide types the record cannot hold faithfully
FORBIDDEN = ("HUGEINT", "UHUGEINT", "DECIMAL(38")
INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}


def type_class(t):
    t = t.upper()
    if t in INT_TYPES:
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return t  # decimals and the rest must match exactly


def _cols(con, query):
    rel = con.sql(query)
    return sorted(zip(rel.columns, [str(t) for t in rel.types]))


def compare(con, got_dir, sql):
    """None when the output at `got_dir` matches the oracle, else the cause."""
    try:
        got_q = f"SELECT * FROM parquet_scan('{got_dir}/*.parquet')"
        got_cols, want_cols = _cols(con, got_q), _cols(con, sql)
        wide = [f"{c}:{t}" for c, t in want_cols
                if any(t.upper().startswith(f) for f in FORBIDDEN)]
        if wide:
            return f"WIDETYPE oracle emits {wide}"
        if [c for c, _ in got_cols] != [c for c, _ in want_cols]:
            return (f"SCHEMA got={[c for c, _ in got_cols]} "
                    f"want={[c for c, _ in want_cols]}")
        mism = [f"{gc}: spark={gt} oracle={wt}"
                for (gc, gt), (_, wt) in zip(got_cols, want_cols)
                if type_class(gt) != type_class(wt)]
        if mism:
            return "DTYPE " + "; ".join(mism)
        proj = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c, _ in got_cols)
        n_got, n_want, n_diff = con.sql(
            f"""WITH g AS (SELECT {proj} FROM ({got_q})),
                     w AS (SELECT {proj} FROM ({sql}))
                SELECT (SELECT count(*) FROM g), (SELECT count(*) FROM w),
                       (SELECT count(*) FROM
                         ((SELECT * FROM g EXCEPT ALL SELECT * FROM w)
                          UNION ALL
                          (SELECT * FROM w EXCEPT ALL SELECT * FROM g)))""").fetchone()
    except Exception as e:  # an oracle or read error is a failed check too
        return f"ERROR {type(e).__name__}: {e}"
    if n_got != n_want:
        return f"ROWS got={n_got} want={n_want}"
    if n_diff:
        return f"VALUES {n_diff} multiset-diff rows of {n_got}"
    return None


def check(data_dir, check_dir, oracle_sql, names):
    """{name: cause} for every op whose output does not match its oracle."""
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS "
                        f"SELECT * FROM '{os.path.join(data_dir, f)}'")
    failures = {}
    for name in names:
        got = os.path.join(check_dir, name)
        if not oracle_sql.get(name):
            failures[name] = "NO ORACLE no oracleSql entry"
        elif os.path.isdir(got):
            cause = compare(con, got, oracle_sql[name])
            if cause:
                failures[name] = cause
    return failures
