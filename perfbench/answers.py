"""Answer checks, run after the timed loop.

`dsl_*`: each query's result (parquet written by the harness) is compared
with the query's oracle SQL run in DuckDB over the same generated inputs,
cell by cell with the bit-strict compare of `tools/check.py`.

`index_day`: each day's audit probe must (1) find every planted exact
copy of a live document, (2) report no document taken down on or before
that day, and (3) report only pairs whose exact Jaccard, recomputed in
DuckDB over the documents' 3-word shingle sets, is at least `min_j`.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check import cells_eq  # noqa: E402  bit-strict cell compare

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]


def compare(con, ours_sel, sql):
    """None if the result of `ours_sel` equals the oracle `sql` under the
    check.py semantics (columns sorted by name, rows positional, cells
    bit-strict), else a one-line reason."""
    cur = con.execute(ours_sel)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    cur = con.execute(sql)
    t_cols = [d[0] for d in cur.description]
    t_rows = cur.fetchall()
    o_ix = [i for _, i in sorted((c, i) for i, c in enumerate(o_cols))]
    t_ix = [i for _, i in sorted((c, i) for i, c in enumerate(t_cols))]
    if [o_cols[i] for i in o_ix] != [t_cols[i] for i in t_ix]:
        return f"columns {sorted(o_cols)} vs {sorted(t_cols)}"
    if len(o_rows) != len(t_rows):
        return f"rows {len(o_rows)} vs {len(t_rows)}"
    for ri, (orow, trow) in enumerate(zip(o_rows, t_rows)):
        for oi, ti in zip(o_ix, t_ix):
            if not cells_eq(orow[oi], trow[ti]):
                return f"col {o_cols[oi]} row {ri}: ours={orow[oi]!r} oracle={trow[ti]!r}"
    return None


def check_dsl(data_dir, results_dir):
    """List of failure strings (empty when every answer matches)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = []
    for name, sql in sorted(oracles.items()):
        try:
            why = compare(con, f"SELECT * FROM '{results_dir}/{name}/*.parquet'", sql)
        except Exception as e:  # a missing or unreadable answer is a wrong answer
            why = f"error: {e}"
        if why:
            bad.append(f"{name}: {why}")
    return bad


SHINGLES = """
  CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i + 2], ' '))
  END"""


def check_audits(plan, days_run):
    """`plan` (written by the input generator) lists, per day, the audit
    batch, its planted copies of live documents, and the ids taken down
    so far; the first `days_run` days ran. List of failure strings."""
    con = duckdb.connect()
    bad = []
    for day in plan["days"][:days_run]:
        res = day["result"]
        if not os.path.isdir(res):
            bad.append(f"{day['name']}: no audit answer")
            continue
        pairs = con.execute(
            f"SELECT id_new, id_indexed FROM '{res}/*.parquet'").fetchall()
        found = set(pairs)
        for copy_id, orig in day["planted"]:
            if (copy_id, orig) not in found:
                bad.append(f"{day['name']}: planted copy {copy_id} of {orig} not found")
        gone = set(day["taken_down"])
        leaked = sorted({i for _, i in pairs if i in gone})
        if leaked:
            bad.append(f"{day['name']}: taken-down ids reported: {leaked[:5]}")
        low = con.execute(f"""
            WITH p AS (SELECT id_new, id_indexed FROM '{res}/*.parquet'),
            d AS (SELECT doc_id, string_split(text, ' ') AS t FROM read_parquet(
                    ['{day["batch"]}', '{plan["corpus"]}'])),
            s AS (SELECT doc_id, list_distinct({SHINGLES}) AS sh FROM d)
            SELECT p.id_new, p.id_indexed,
              len(list_intersect(a.sh, b.sh)) /
                len(list_distinct(list_concat(a.sh, b.sh))) AS j
            FROM p JOIN s a ON a.doc_id = p.id_new JOIN s b ON b.doc_id = p.id_indexed
            WHERE j < {plan["min_j"]}""").fetchall()
        matched = con.execute(f"""SELECT count(*) FROM '{res}/*.parquet' p
            WHERE id_indexed IN (SELECT doc_id FROM '{plan["corpus"]}')
              AND id_new IN (SELECT doc_id FROM '{day["batch"]}')""").fetchone()[0]
        if matched != len(pairs):
            bad.append(f"{day['name']}: {len(pairs) - matched} pairs name unknown ids")
        for a, b, j in low[:5]:
            bad.append(f"{day['name']}: pair ({a}, {b}) has Jaccard {j:.4f}")
    return bad
