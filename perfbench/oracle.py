"""DuckDB oracle compare for the query_mix workload.

Each pass directory holds one parquet output per query plus
`oracle_sql.json` (query -> DuckDB SQL over the generated tables). Values are
canonicalized with the bit-level `tok`/`canon`/`type_class` of
`tools/check_oracle.py`, loaded from that file as it stands in the checkout,
so both compares always agree on what a match is.
"""
import ast
import json
import os

import duckdb

import querydata


def _canonicalizers(path='tools/check_oracle.py'):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    keep = [n for n in tree.body
            if isinstance(n, (ast.Import, ast.ImportFrom, ast.FunctionDef))
            and getattr(n, 'name', None) not in ('describe',)]
    ns = {}
    exec(compile(ast.Module(keep, []), path, 'exec'), ns)
    return ns['canon'], ns['type_class']


def connect(data_dir):
    con = duckdb.connect()
    for t in querydata.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def compare_pass(con, out_dir):
    """Returns one message per query output that differs from its oracle."""
    canon, type_class = _canonicalizers()
    with open(os.path.join(out_dir, 'oracle_sql.json')) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        scan = f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
        try:
            o = con.execute(sql)
            ocols = [d[0] for d in o.description]
            orows, ocols_s = canon(o.fetchall(), ocols)
            s = con.execute(scan)
            scols = [d[0] for d in s.description]
            srows, scols_s = canon(s.fetchall(), scols)
            otypes = {r[0]: r[1] for r in con.execute(f'DESCRIBE {sql}').fetchall()}
            stypes = {r[0]: r[1] for r in con.execute(f'DESCRIBE {scan}').fetchall()}
        except Exception as e:  # a missing or unreadable output is a mismatch
            bad.append(f'{name}: error {e}')
            continue
        if ocols_s != scols_s:
            bad.append(f'{name}: columns {scols_s} != oracle {ocols_s}')
        elif any(type_class(otypes[c]) != type_class(stypes[c]) for c in otypes):
            bad.append(f'{name}: column types differ from the oracle')
        elif orows != srows:
            bad.append(f'{name}: {len(srows)} rows differ from oracle '
                       f'({len(orows)} rows)')
    return bad


def planted_recall(con, out_dir):
    """Share of the planted exact copies (query vec_id + 100000) that q50's
    PQ search ranks at least as high as every corpus item, or None when the
    pass did not run q50."""
    with open(os.path.join(out_dir, 'oracle_sql.json')) as f:
        names = [n for n in json.load(f) if n.startswith('q50_')]
    if not names:
        return None
    return con.execute(
        "SELECT avg(CASE WHEN hit THEN 1.0 ELSE 0.0 END)::DOUBLE FROM "
        f"read_parquet('{out_dir}/{names[0]}/*.parquet')").fetchone()[0]
