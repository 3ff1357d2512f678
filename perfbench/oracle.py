"""Output check against the DuckDB oracle.

For every (query, params) result the JVM recorded, take the query's
oracle SQL from SparkEntry.oracleSql (written for the default
parameters), substitute the drawn parameters, run it in DuckDB over the
same input parquet, and compare with the rules of tools/compare.py
(sorted columns, sorted rows, exact cell equality).
"""
import os
import sys

import duckdb


def _compare_rules(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from compare import canon, cell_eq
    finally:
        sys.path.pop(0)
    return canon, cell_eq


def _sub(sql, old, new, query):
    if old not in sql:
        raise ValueError(f"{query}: oracle SQL no longer contains {old!r}")
    return sql.replace(old, new)


MIX_WEIGHTS = "mw AS (SELECT mix_lang, n, 1.0::DOUBLE / mk.k AS w FROM mcnt, mk)"


def parameterize(query, sql, p):
    """The oracle SQL of `query` at parameters `p` (defaults if empty)."""
    if query in ("top_rated", "recent_n") and "n" in p:
        sql = _sub(sql, "LIMIT 10", f"LIMIT {p['n']}", query)
    elif query == "paginate" and p:
        sql = _sub(sql, "LIMIT 20 OFFSET 20",
                   f"LIMIT {p['size']} OFFSET {p['page'] * p['size']}", query)
    elif query == "activity_summary" and "days" in p:
        sql = _sub(sql, "604800000", str(p["days"] * 86400000), query)
    elif query == "session_stats" and "gap_min" in p:
        sql = _sub(sql, "1800000", str(p["gap_min"] * 60000), query)
    elif query == "pipeline_trainprep_scored":
        b = p.get("budget", 256)
        sql = _sub(sql, "start_tok // 256", f"start_tok // {b}", query)
        sql = _sub(sql, "start_tok % 256", f"start_tok % {b}", query)
        shares = p.get("shares") or {}
        if shares:
            total = float(sum(shares.values()))
            vals = ", ".join(f"('{k}', {float(v)!r}::DOUBLE / {total!r}::DOUBLE)"
                             for k, v in sorted(shares.items()))
            sql = _sub(sql, MIX_WEIGHTS,
                       "mw AS (SELECT s.mix_lang, m.n, s.w FROM (VALUES " + vals +
                       ") s(mix_lang, w) JOIN mcnt m USING (mix_lang))", query)
    elif p:
        raise ValueError(f"{query}: no oracle spelling for params {p}")
    return sql


ML_SPLIT = "\nmcnt AS ("


def _staged_ml(con, sql, staged):
    """Run the trainprep oracle's curate → perplexity → lang chain (the
    CTEs up to `ml`, shared by every budget/shares variant) once as a
    temp table and return the SQL of the variant's tail over it."""
    i = sql.find(ML_SPLIT)
    if i < 0:
        raise ValueError(f"trainprep oracle SQL no longer contains {ML_SPLIT!r}")
    head = sql[:i].rstrip().rstrip(",")
    if head not in staged:
        staged[head] = f"pb_ml{len(staged)}"
        con.sql(f"CREATE TEMP TABLE {staged[head]} AS {head}\nSELECT * FROM ml")
    return f"WITH ml AS (SELECT * FROM {staged[head]}),{sql[i:]}"


def check(root, in_dir, outputs, oracle_sql):
    """Return one message per output that does not match its oracle."""
    canon, cell_eq = _compare_rules(root)
    con = duckdb.connect()
    con.sql("SET threads=4")
    for t in ("documents", "events", "orders"):
        if os.path.exists(f"{in_dir}/{t}.parquet"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    bad, staged = [], {}
    for o in outputs:
        q, p = o["query"], o["params"]
        if q not in oracle_sql:
            bad.append(f"{q}: no oracle SQL")
            continue
        try:
            sql = parameterize(q, oracle_sql[q], p)
            if q == "pipeline_trainprep_scored":
                sql = _staged_ml(con, sql, staged)
            exp = con.sql(sql)
            e_cols, e_rows = canon(exp.fetchall(), [d[0] for d in exp.description])
        except Exception as e:  # an oracle that cannot run is a failed check
            bad.append(f"{q} {p}: oracle error {str(e)[:200]}")
            continue
        g_cols, g_rows = canon([tuple(r) for r in o["rows"]], o["columns"])
        if g_cols != e_cols:
            bad.append(f"{q} {p}: cols spark={g_cols} oracle={e_cols}")
        elif len(g_rows) != len(e_rows):
            bad.append(f"{q} {p}: rows spark={len(g_rows)} oracle={len(e_rows)}")
        else:
            for gr, er in zip(g_rows, e_rows):
                if not all(cell_eq(x, y) for x, y in zip(gr, er)):
                    bad.append(f"{q} {p}: row spark={gr} oracle={er}")
                    break
    return bad
