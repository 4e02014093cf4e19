"""The benchmark's own tests: metric names, seeded inputs, answer checks.

Run from the root of the repository: `python3 -m pytest perfbench/tests -q`.
No JVM is started; the answer checks are fed hand-made results.
"""
import filecmp
import json
import os
import re
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import answers  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    for n in names:
        assert NAME.fullmatch(n), n
    assert len(names) == len(set(names))
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def _record():
    """A minimal harness record: one traced and one untraced read op of
    each kind, one of each lifecycle op, one timed index day."""
    ops = [{"kind": k, "name": k, "ok": True, "traced": t, "lat_ms": 10.0 + t}
           for k in ["query", "probe"] for t in [True, False]]
    ops += [{"kind": k, "name": k, "ok": True, "traced": True, "lat_ms": 5.0,
             "bytes_written": 100.0} for k in ["append", "takedown", "compact"]]
    return {"ops": ops, "timed_wall_s": 1.0, "heap_after_gc_mb": 100.0,
            "index_days": [{"day": 0, "timed": True, "live_files": 3, "table_bytes": 900}]}


def test_metrics_are_those_of_the_spec():
    spec, rec = _spec(), _record()
    plan = {"days": [{"appended_raw_bytes": 50, "live_raw_bytes": 300}]}
    assert set(run.e2e_metrics(rec, "query", 1.0)) == {m["name"] for m in spec["end_to_end"]}
    for kind, p in [("query", None), ("probe", plan)]:
        got = run.layer_metrics(rec, kind, p)
        assert set(got) == {m["name"] for m in spec["per_layer"]}


def test_index_days_outlast_the_run():
    day_s = run.WORKLOADS["index_day"]["day_s"]
    for seconds in [1, 10, 60, 100]:
        assert (run.index_days(seconds) - 1) * day_s >= seconds


def _tree_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    same, diff, err = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not diff and not err and all(
        _tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("workload", ["dsl_rotate", "dsl_scan", "index_day"])
def test_same_seed_same_bytes(tmp_path, workload, monkeypatch):
    # small sizes keep the test fast; the generators are the same
    small = {"dsl_rotate": {"scale": 0.001}, "dsl_scan": {"scale": 0.001, "copies": 3},
             "index_day": dict(run.WORKLOADS["index_day"], n_base=60,
                               probes=2, batch=8, append=10, audit_live=3)}
    monkeypatch.setitem(run.WORKLOADS, workload, small[workload])
    for name, seed in [("a", 7), ("b", 7), ("c", 8)]:
        run.make_inputs(workload, seed, str(tmp_path / name), 4)
    assert _tree_equal(tmp_path / "a", tmp_path / "b")
    assert not _tree_equal(tmp_path / "a", tmp_path / "c")


def test_enlarged_keys_stay_unique():
    t = gen.enlarge(gen.tpch_tables(3, 0.001), 4, 3)
    con = duckdb.connect()
    li, orders = t["lineitem"], t["orders"]  # noqa: F841  (read by DuckDB)
    assert con.execute("SELECT count(*) = count(DISTINCT o_orderkey) FROM orders").fetchone()[0]
    assert con.execute("SELECT count(*) = count(DISTINCT (l_orderkey, l_linenumber)) "
                       "FROM li").fetchone()[0]


REFERENCE = os.environ.get("PERFBENCH_REFERENCE_DIR")


@pytest.mark.skipif(not REFERENCE, reason="set PERFBENCH_REFERENCE_DIR to the engine's "
                    "sf0.1 tables (<table>.parquet) to compare value domains")
def test_domains_match_reference(tmp_path):
    """The generated tables at scale 0.1 against the reference sf0.1
    tables: same schemas; the same value set for every column of at most
    50 values; the same digit-masked patterns for other strings; the same
    range (to 1%) for numbers and dates; and a documents corpus with the
    same vocabulary, length range, language mix and near-copy share."""
    ours = gen.tpch_tables(1, 0.1)
    ref_docs = pq.read_table(os.path.join(REFERENCE, "documents.parquet"))
    ids, texts = gen.documents(1, ref_docs.num_rows)
    ours["documents"] = gen.documents_table(ids, texts, 1)
    gen.write_tables(ours, str(tmp_path))
    con = duckdb.connect()
    for name in ours:
        a, b = f"'{tmp_path}/{name}.parquet'", f"'{REFERENCE}/{name}.parquet'"
        sa = con.execute(f"DESCRIBE SELECT * FROM {a}").fetchall()
        sb = con.execute(f"DESCRIBE SELECT * FROM {b}").fetchall()
        assert [c[:2] for c in sa] == [c[:2] for c in sb], name
        for col, typ, *_ in sa:
            q = lambda src, e: con.execute(f"SELECT {e} FROM {src}").fetchone()[0]
            if col == "text":  # compared below
                continue
            if col == "n_chars":
                assert q(a, "bool_and(n_chars = length(text))")
                assert q(b, "bool_and(n_chars = length(text))")
            elif q(b, f"count(DISTINCT {col})") <= 50:
                vals = f"list(DISTINCT {col} ORDER BY {col})"
                assert q(a, vals) == q(b, vals), (name, col)
            elif typ == "VARCHAR":
                pat = f"list(DISTINCT regexp_replace({col}, '[0-9]+', '9', 'g'))"
                assert sorted(q(a, pat)) == sorted(q(b, pat)), (name, col)
            else:
                lo, hi = (q(b, f"{f}({col})") for f in ["min", "max"])
                slack = (hi - lo) / 100
                assert abs(q(a, f"min({col})") - lo) <= slack, (name, col)
                assert abs(q(a, f"max({col})") - hi) <= slack, (name, col)
    doc = lambda src: con.execute(f"""
        SELECT list(DISTINCT w ORDER BY w), min(n), max(n) FILTER (WHERE NOT dup),
               avg(dup::INT), avg((lang = 'en')::INT)
        FROM (SELECT unnest(string_split(text, ' ')) AS w, len(string_split(text, ' ')) AS n,
                     text LIKE '% dup' AS dup, lang FROM {src})""").fetchone()
    a = doc(f"'{tmp_path}/documents.parquet'")
    b = doc(f"'{REFERENCE}/documents.parquet'")
    assert a[:3] == b[:3]
    assert abs(a[3] - b[3]) < 0.01 and abs(a[4] - b[4]) < 0.03


ORACLE = ("SELECT o_orderstatus, count(*) AS n, CAST(SUM(CAST(o_totalprice AS "
          "DECIMAL(18,4))) AS DOUBLE) AS total FROM orders GROUP BY 1 ORDER BY 1")


def test_dsl_check_catches_a_flipped_cell(tmp_path):
    data, res = str(tmp_path / "data"), tmp_path / "results"
    gen.write_tables(gen.tpch_tables(5, 0.001), data)
    (res / "q").mkdir(parents=True)
    (res / "oracle_sql.json").write_text(json.dumps({"q": ORACLE}))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{data}/orders.parquet'")
    good = con.execute(ORACLE).arrow()
    pq.write_table(good, res / "q" / "part-0.parquet")
    assert answers.check_dsl(data, str(res)) == []
    total = good["total"].to_pylist()
    total[1] = total[1] + 0.01
    pq.write_table(good.set_column(2, "total", pa.array(total)), res / "q" / "part-0.parquet")
    bad = answers.check_dsl(data, str(res))
    assert len(bad) == 1 and "col total row 1" in bad[0]


def _index_fixture(tmp_path):
    ids, texts = gen.documents(9, 30)
    corpus = str(tmp_path / "corpus.parquet")
    batch = str(tmp_path / "audit.parquet")
    gen.write_documents(ids, texts, 9, corpus)
    # audit batch: exact copies of docs 3 and 4 (live) and 7 (taken down)
    gen.write_documents([900, 901, 902], [texts[3], texts[4], texts[7]], 9, batch)
    res = tmp_path / "result"
    res.mkdir()
    plan = {"corpus": corpus, "min_j": 0.8, "days": [{
        "name": "day0", "batch": batch, "result": str(res),
        "planted": [[900, 3], [901, 4]], "taken_down": [7]}]}
    return plan, res


def _pairs(res, rows):
    pq.write_table(pa.table({"id_new": pa.array([r[0] for r in rows], pa.int64()),
                             "id_indexed": pa.array([r[1] for r in rows], pa.int64()),
                             "jaccard": pa.array([1.0] * len(rows))}),
                   res / "part-0.parquet")


def test_index_check_accepts_a_correct_probe(tmp_path):
    plan, res = _index_fixture(tmp_path)
    _pairs(res, [(900, 3), (901, 4)])
    assert answers.check_audits(plan, 1) == []


def test_index_check_catches_a_leaked_takedown(tmp_path):
    plan, res = _index_fixture(tmp_path)
    _pairs(res, [(900, 3), (901, 4), (902, 7)])
    bad = answers.check_audits(plan, 1)
    assert len(bad) == 1 and "taken-down ids reported: [7]" in bad[0]


def test_index_check_catches_a_missed_copy_and_a_false_pair(tmp_path):
    plan, res = _index_fixture(tmp_path)
    _pairs(res, [(900, 3), (901, 5)])
    bad = answers.check_audits(plan, 1)
    assert any("planted copy 901 of 4 not found" in b for b in bad)
    assert any("pair (901, 5) has Jaccard" in b for b in bad)
