"""Seeded generator for the benchmark's input tables.

Writes the ten tables graft's registered queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as single-file parquet, with the same column names, arrow
types and value distributions as the project's synthetic test data. The
same (seed, scale) always gives byte-identical files.

    python3 perfbench/gen.py OUT_DIR SEED SCALE_FACTOR
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
ADJ = "large hot blue red new small cold old".split()
NOUN = "ring bolt anvil rod plate gear widget gizmo".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
US_PER_DAY = 86_400_000_000
# 1995-01-01, 1995-01-02 and 2024-01-01 as microseconds since the epoch.
EPOCH_1995 = 788_918_400_000_000
EPOCH_1995_2 = EPOCH_1995 + US_PER_DAY
EPOCH_2024 = 1_704_067_200_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(path, columns):
    pq.write_table(pa.table(columns), path)


def _ids(n):
    return pa.array(np.arange(n, dtype=np.int64))


def _pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)].tolist())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    """Documents of 10-100 uniform vocabulary words; 5% are near-copies of
    an earlier document (its text plus " dup") and 0.16% exact copies."""
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    for i in range(1, n):
        j = int(src[i]) % i
        if kind[i] < 0.05:
            texts[i] = texts[j] + " dup"
        elif kind[i] < 0.0516:
            texts[i] = texts[j]
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    source = rng.integers(0, 20, n)
    return texts, lang, source


def generate(out_dir, seed, sf):
    """Write every table for scale factor `sf` under `out_dir`."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vec = max(500, round(20_000 * sf))

    _write(out / "region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out / "nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out / "customer.parquet", {
        "c_custkey": _ids(n_cust),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    _write(out / "supplier.parquet", {
        "s_suppkey": _ids(n_supp),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = rng.integers(0, len(ADJ), n_part)
    noun = rng.integers(0, len(NOUN), n_part)
    _write(out / "part.parquet", {
        "p_partkey": _ids(n_part),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    _write(out / "orders.parquet", {
        "o_orderkey": _ids(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    _write(out / "lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995_2 + rng.integers(0, 2498, n_line) * US_PER_DAY),
    })
    _write(out / "events.parquet", {
        "event_id": _ids(n_ev),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, ["view", "click", "purchase", "signup", "error"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    texts, lang, source = _documents(rng, n_docs)
    _write(out / "documents.parquet", {
        "doc_id": _ids(n_docs),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in lang]),
        "source": pa.array([f"src{i}" for i in source]),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n_docs)),
    })
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out / "embeddings.parquet", {
        "vec_id": _ids(n_vec),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vec * 64 + 1, 64, dtype=np.int32)), pa.array(vec.ravel())),
        "label": pa.array(rng.integers(0, 10, n_vec, dtype=np.int32)),
    })


if __name__ == "__main__":
    import sys

    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
