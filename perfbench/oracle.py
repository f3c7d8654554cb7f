"""DuckDB oracle compare for contract_lap outputs, the same comparison as
tools/check_oracle.py: columns sorted by name, values compared as strings."""
import json
from pathlib import Path

TABLES = ('region', 'nation', 'customer', 'supplier', 'part', 'orders', 'lineitem',
          'events', 'documents', 'embeddings')


def _norm(df):
    df = df[sorted(df.columns)]
    return [tuple(str(x) for x in row) for row in df.itertuples(index=False)]


def compare(out_dir, data_dir):
    """[(query, ok, detail)] for every query in out_dir/oracle_sql.json."""
    import duckdb
    import pandas as pd
    out_dir = Path(out_dir)
    oracle = json.loads((out_dir / 'oracle_sql.json').read_text())
    con = duckdb.connect()
    try:
        con.execute('SET threads TO 1')
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        results = []
        for name, sql in sorted(oracle.items()):
            try:
                got = _norm(pd.read_parquet(out_dir / name))
                want = _norm(con.execute(sql).df())
                if got == want:
                    results.append((name, True, f'{len(got)} rows'))
                else:
                    diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), None)
                    results.append((name, False, f'spark {len(got)} rows vs duckdb {len(want)} rows, '
                                                 f'first differing row {diff}'))
            except Exception as e:  # a broken output is a failed check, not a crash
                results.append((name, False, f'{type(e).__name__}: {e}'[:300]))
        return results
    finally:
        con.close()
