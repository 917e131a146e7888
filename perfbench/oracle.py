"""The query_profile correctness check: each query's result dump against its
`SparkEntry.oracleSql` answer under DuckDB, over the same generated
`documents` table."""
import json
import math
import os


def check(corpus_dir, out_dir, names):
    """Compare each query's result dump with its DuckDB oracle answer the
    way check_oracle.py does (columns by name, NULLs normalised, rows
    sorted as strings). Returns a list of (query, problem)."""
    import duckdb

    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 2})
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{corpus_dir}/documents.parquet/*.parquet'")
    sqls = json.load(open(os.path.join(out_dir, "oracle_sql.json")))

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return list(df.columns), sorted(
            tuple("NULL" if (v is None or (isinstance(v, float) and math.isnan(v))) else str(v)
                  for v in row) for row in df.itertuples(index=False))

    problems = []
    for name in names:
        try:
            oc, orows = norm(con.execute(sqls[name]).fetch_df())
            mc, mrows = norm(con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetch_df())
            if oc != mc:
                problems.append((name, f"columns {mc} != oracle {oc}"))
            elif orows != mrows:
                problems.append((name, f"{len(mrows)} rows differ from the oracle's {len(orows)}"))
        except Exception as e:  # a query whose result cannot be read is a mismatch
            problems.append((name, f"error {str(e)[:200]}"))
    return problems
