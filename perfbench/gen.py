"""Seeded input generation for the benchmark.

Every table is a pure function of (seed, scale): the same seed writes
byte-identical parquet files, a different seed writes different ones.
The tables are not a sample of the engine's reference sf0.1 tables (those
are not part of the repository) but are drawn from the same column
domains: the same schemas, enums, name patterns, value ranges and dates,
and a `documents` corpus over the same 30-word vocabulary with the same
length range, language mix and 5% of `" dup"`-suffixed near copies.
`tests/test_perfbench.py::test_domains_match_reference` compares the two
when a reference directory is given. One departure: `lineitem` keys are
(l_orderkey, l_linenumber) with line numbers 1..n per order, unique as in
TPC-H, because every query's ORDER BY assumes that key is unique and the
answer check compares rows by position.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "blue old small new large hot cold red".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
PTYPE = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
SEGMENT = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_EVERY = 20  # one document in 20 is a near copy of another


def _rng(seed, stream):
    """Independent generator per (seed, table) so tables do not shift
    when another table's size changes."""
    return np.random.default_rng([int(seed), stream])


def _days(lo, hi, n, rng):
    """n midnight timestamps uniformly in [lo, hi] (ISO dates)."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(a, b + 1, n).astype("datetime64[D]")
    return d.astype("datetime64[us]")


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    # one row group, fixed writer settings: byte-identical for equal input
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30,
                   use_dictionary=True, write_statistics=True)


def tpch_tables(seed, scale):
    """The seven TPC-H-like tables at `scale` (1.0 = 6M lineitem rows)."""
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng(seed, 1)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, r),
        "c_mktsegment": pa.array(np.array(SEGMENT)[r.integers(0, 5, n_cust)])})
    r = _rng(seed, 2)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, r)})
    r = _rng(seed, 3)
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(ADJ)[r.integers(0, 8, n_part)], " "),
                        np.array(NOUN)[r.integers(0, 8, n_part)])
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(PTYPE)[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    r = _rng(seed, 4)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": _money(1000.0, 500000.0, n_ord, r),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, r)),
        "o_orderpriority": pa.array(np.array(PRIORITY)[r.integers(0, 5, n_ord)])})
    r = _rng(seed, 5)
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_li) - starts + 1).astype(np.int32)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, n_li, r),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[r.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_li, r))})
    return t


def enlarge(tables, copies, seed):
    """`copies` seeded copies of lineitem and orders. Copy c offsets
    o_orderkey/l_orderkey by c * n_orders so primary keys stay unique,
    and re-draws the measures so the copies are not identical."""
    orders, li = tables["orders"], tables["lineitem"]
    n_ord = orders.num_rows
    out_o, out_l = [orders], [li]
    for c in range(1, copies):
        r = _rng(seed, 100 + c)
        off = np.int64(c) * n_ord
        o = orders.set_column(0, "o_orderkey",
                              pa.array(orders["o_orderkey"].to_numpy() + off))
        o = o.set_column(3, "o_totalprice", pa.array(_money(1000.0, 500000.0, n_ord, r)))
        n = li.num_rows
        l = li.set_column(0, "l_orderkey",
                          pa.array(li["l_orderkey"].to_numpy() + off))
        l = l.set_column(4, "l_quantity", pa.array(r.integers(1, 51, n).astype(np.float64)))
        l = l.set_column(5, "l_extendedprice", pa.array(_money(900.0, 105000.0, n, r)))
        out_o.append(o)
        out_l.append(l)
    t = dict(tables)
    t["orders"] = pa.concat_tables(out_o)
    t["lineitem"] = pa.concat_tables(out_l)
    return t


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        _write(tab, os.path.join(out_dir, f"{name}.parquet"))


def documents(seed, n, id_base=0, stream=7):
    """n random documents of 10-99 words over the 30-word vocabulary, of
    which n // 20 are then replaced, in turn, by a near copy of another
    document (so a copy of a copy also occurs). Returns (ids, texts) as
    Python lists."""
    r = _rng(seed, stream)
    lens = r.integers(10, 100, n)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lens.sum()))]
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(words[at:at + k]))
        at += k
    for t in r.choice(n, n // DUP_EVERY, replace=False):
        src = int(r.integers(0, n - 1))
        texts[t] = near_copy(texts[src + (src >= t)])
    return list(range(id_base, id_base + n)), texts


def near_copy(text):
    """A near-duplicate: the text with the word `dup` appended. It keeps
    every 3-word shingle, so its Jaccard with the original is
    (w - 2) / (w - 1) for w words: 0.89 or more from 10 words up."""
    return text + " dup"


def documents_table(ids, texts, seed, stream=8):
    r = _rng(seed, stream)
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[r.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})


def write_documents(ids, texts, seed, path):
    _write(documents_table(ids, texts, seed), path)


def index_inputs(seed, out_dir, n_base, days, probes, batch, append, audit_live):
    """Inputs of the `index_day` lifecycle: the base corpus and, per day,
    `probes` probe batches, the day's novel documents (appended), the
    ids taken down (as many live ids as were appended) and an audit
    batch. Returns the plan the answer check and the metrics read: per
    day the planted copies, the ids taken down so far, and raw bytes."""
    r = _rng(seed, 20)
    n_corpus = n_base + days * append
    ids, texts = documents(seed, n_corpus, stream=7)
    text = dict(zip(ids, texts))
    n_novel = batch // 2
    pool_ids, pool_texts = documents(seed, days * probes * n_novel,
                                     id_base=100_000_000, stream=9)
    raw = lambda i: 8 + len(text[i].encode())  # id plus UTF-8 text
    os.makedirs(out_dir, exist_ok=True)
    write_documents(ids[:n_base], texts[:n_base], seed, f"{out_dir}/base.parquet")
    write_documents(ids, texts, seed, f"{out_dir}/corpus.parquet")
    live = list(ids[:n_base])
    taken, plan_days, pool_at = [], [], 0
    for d in range(days):
        ddir = f"{out_dir}/day{d}"
        os.makedirs(ddir, exist_ok=True)
        for p in range(probes):
            b_ids = pool_ids[pool_at:pool_at + n_novel]
            b_txt = pool_texts[pool_at:pool_at + n_novel]
            pool_at += n_novel
            src = r.choice(live, batch - n_novel, replace=False)
            base_id = 200_000_000 + (d * probes + p) * 1000
            for j, s in enumerate(src):
                b_ids.append(base_id + j)
                b_txt.append(near_copy(text[s]) if j % 2 else text[s])
            write_documents(b_ids, b_txt, seed, f"{ddir}/probe{p}.parquet")
        lo = n_base + d * append
        new = ids[lo:lo + append]
        write_documents(new, texts[lo:lo + append], seed, f"{ddir}/append.parquet")
        live += new
        gone = [int(x) for x in r.choice(live, append, replace=False)]
        gone_set = set(gone)
        live = [i for i in live if i not in gone_set]
        taken += gone
        _write(pa.table({"doc_id": pa.array(gone, pa.int64())}), f"{ddir}/takedown.parquet")
        keep = [int(x) for x in r.choice(live, audit_live, replace=False)]
        recent = taken[-2 * append:]
        a_ids = [300_000_000 + d * 10_000 + j for j in range(len(keep))]
        a_ids += [400_000_000 + d * 10_000 + j for j in range(len(recent))]
        write_documents(a_ids, [text[i] for i in keep + recent], seed, f"{ddir}/audit.parquet")
        plan_days.append({
            "name": f"day{d}",
            "batch": os.path.abspath(f"{ddir}/audit.parquet"),
            "planted": [[a, o] for a, o in zip(a_ids, keep)],
            "taken_down": list(taken),
            "appended_raw_bytes": sum(raw(i) for i in new),
            "live_raw_bytes": sum(raw(i) for i in live)})
    return {"corpus": os.path.abspath(f"{out_dir}/corpus.parquet"), "days": plan_days}
