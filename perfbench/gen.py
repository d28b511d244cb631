"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size arguments)``: the same
arguments give byte-identical parquet files, a different seed gives
different ones. Schemas follow FIXTURES.md (the TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``), so every registered
query reads these files exactly as it reads the test fixtures.

Money and measure columns carry at most two decimals, which keeps the
engine's DECIMAL(10,4) policy exact on both Spark and DuckDB.

The near-duplicate stream (``lsh_stream``) builds its texts with
``scripts/gen_sf.py``'s ``mutate_texts``: a LIGHT copy (copy 1 or 2)
rewrites every 32nd token (shingle Jaccard about 0.8 with its source: a
near-dup), a HEAVY copy (copy 3 and up) rewrites every 2nd token (every
3-word shingle holds a rewritten token: a distinct document). Rewritten
tokens are unique per (doc, copy, position), so heavy copies share no
shingle with anything.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from gen_sf import _N_LIGHT, mutate_texts  # noqa: E402

#: Rows per table at scale factor 1 (lineitem = 6M rows).
SF1_ROWS = {
    "supplier": 10_000,
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
VOCAB = (
    "the a of to and in is for on with by data query table index key "
    "order sort join merge hash map reduce shuffle stage task job batch "
    "stream window event user value count sum avg min max group filter "
    "scan plan cost fast slow large small row column page block file "
    "node worker driver cache memory disk spill partition bucket record "
    "schema type field string number time date range top rank score "
    "model vector embedding token text word document corpus shingle band "
    "signature near duplicate exact match cluster centroid search probe "
    "serve append build merge compact commit write read load store log "
    "metric trace span layer pipeline operator source sink state offset"
).split()

_MS_PER_DAY = 86_400_000
_EPOCH_1995 = np.datetime64("1995-01-01", "ms").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "ns").astype(np.int64)

#: Copies per source document in the LSH base corpus (gen_sf.py
#: --mutate --factor 10: copy 0 as-is, copies 1-2 light, 3-9 heavy).
BASE_FACTOR = 10
#: gen_sf.py copy numbers of a light (near-dup) and a heavy (distinct) copy.
LIGHT, HEAVY = 1, _N_LIGHT + 1


def _rows(sf: float, name: str) -> int:
    return max(5, int(round(SF1_ROWS[name] * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform values with two decimals, as doubles."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _ts_ms(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995 + days.astype(np.int64) * _MS_PER_DAY,
                    type=pa.timestamp("ms"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` space-joined texts of 8-90 words drawn Zipf-like from VOCAB."""
    weights = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    weights /= weights.sum()
    lengths = rng.integers(8, 91, n)
    flat = rng.choice(len(VOCAB), int(lengths.sum()), p=weights)
    vocab = np.array(VOCAB, dtype=object)
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(vocab[flat[pos:pos + ln]]))
        pos += ln
    return out


def _mutate(text: str, doc_id: int, copy: int) -> str:
    return mutate_texts([text], [doc_id], copy)[0]


def documents_table(doc_ids: np.ndarray, texts: list[str],
                    rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(doc_ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=[0.39, 0.16, 0.15, 0.15, 0.15]).tolist()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def olap_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The relational tables plus ``events``: everything the olap
    queries read."""
    rng = np.random.default_rng([seed, 1])
    n_supp, n_cust, n_part = _rows(sf, "supplier"), _rows(sf, "customer"), _rows(sf, "part")
    n_ord, n_li, n_ev = _rows(sf, "orders"), _rows(sf, "lineitem"), _rows(sf, "events")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array([r for _, r in NATIONS], type=pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist()),
    })
    colors = ["cold", "blue", "red", "green", "bright", "dark", "smooth", "tiny"]
    things = ["widget", "rod", "gear", "bolt", "panel", "valve", "spring", "plate"]
    types = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "SMALL", "STANDARD"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), type=pa.int64()),
        "p_name": pa.array([f"{colors[a]} {things[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(types)[rng.integers(0, 6, n_part)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": pa.array(_money(rng, 900.0, 2100.0, n_part)),
    })
    # orders 1995-01-01 .. 2001-08-01; lineitem ships 1-95 days later
    o_days = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_ord + 1), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), type=pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist()),
        "o_totalprice": pa.array(_money(rng, 850.0, 550000.0, n_ord)),
        "o_orderdate": _ts_ms(o_days),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)].tolist()),
    })
    li_order = np.sort(rng.integers(0, n_ord, n_li))
    starts = np.r_[0, np.flatnonzero(np.diff(li_order)) + 1]
    linenumber = np.arange(n_li) - np.repeat(starts, np.diff(np.r_[starts, n_li])) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order + 1, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), type=pa.int64()),
        "l_linenumber": pa.array(linenumber, type=pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 9.0, 2000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist()),
        "l_shipdate": _ts_ms(o_days[li_order] + rng.integers(1, 96, n_li)),
    })
    # events: roughly increasing ns timestamps over 2024-01-01 .. 01-30
    span_ns = 29 * 86_400 * 10**9
    ts = np.sort(rng.integers(0, span_ns, n_ev)) + _EPOCH_2024
    n_users = max(15, n_ev // 66)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), type=pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)].tolist()),
        "value": pa.array(_money(rng, 0.03, 327.53, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    return t


def kernel_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """``documents`` (plain texts over VOCAB, like the test fixtures)
    and unit-norm 64-d ``embeddings`` in 10 labelled clusters."""
    rng = np.random.default_rng([seed, 2])
    docs = documents_table(np.arange(n_docs), _texts(rng, n_docs), rng)
    centers = rng.standard_normal((10, 64))
    label = rng.integers(0, 10, n_vecs)
    v = centers[label] + 0.9 * rng.standard_normal((n_vecs, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), type=pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(label, type=pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


#: Warm-batch mix of the LSH stream, as shares of the batch size. The
#: light share is the workload definition's; exact copies and twins are
#: a tenth each, enough for every batch to exercise both dedup paths.
STREAM_MIX = {"exact": 0.10, "twin": 0.10, "near": 0.20}


def lsh_stream(seed: int, n_base: int, n_batches: int, batch_docs: int):
    """The base corpus (batch 0) and ``n_batches`` warm batches.

    The base is ``gen_sf.py --mutate --factor 10`` over ``n_base / 10``
    random source texts: copy ``i`` of source ``s`` has id
    ``s + i * n_src``; copy 0 is the source itself, copies 1-2 are light,
    copies 3-9 heavy. Copy 0 has the lowest id of its family, so every
    source survives triage and enters the index. Each warm batch holds:

    - ``exact``: byte copies of distinct sources (must be dup_of_corpus);
    - ``twin``: within-batch exact twin groups of 2-3 docs over fresh
      heavy-mutated text (the min id is new, the rest dup_within_delta);
    - ``near``: light copies of sources (expected dup_of_corpus);
    - the rest: heavy copies of sources (must be new).

    Doc ids rise strictly across batches (the maintenance loop's
    monotone-id contract). Returns (base table, batch tables, plan)
    where ``plan`` maps each planted category to its doc ids and the
    twin groups to their member lists."""
    rng = np.random.default_rng([seed, 3])
    n_src = max(1, n_base // BASE_FACTOR)
    originals = _texts(rng, n_src)
    src_ids = list(range(n_src))
    base_texts = list(originals)
    for copy in range(1, BASE_FACTOR):
        base_texts += mutate_texts(originals, src_ids, copy)
    base = documents_table(np.arange(len(base_texts)), base_texts, rng)
    nxt = len(base_texts)

    plan: dict[str, list] = {"exact": [], "twin_groups": [], "near": [], "heavy": []}
    batches = []
    n_exact = int(batch_docs * STREAM_MIX["exact"])
    n_twin = int(batch_docs * STREAM_MIX["twin"])
    n_near = int(batch_docs * STREAM_MIX["near"])
    for _ in range(n_batches):
        rows: list[tuple[int, str]] = []
        srcs = rng.choice(n_src, min(n_src, n_exact + n_near), replace=False)
        for s in srcs[:n_exact]:
            rows.append((nxt, originals[s]))
            plan["exact"].append(nxt)
            nxt += 1
        made = 0
        while made < n_twin:
            size = min(int(rng.integers(2, 4)), n_twin - made)
            if size < 2:
                break
            text = _mutate(originals[int(rng.integers(n_src))], nxt, HEAVY)
            group = list(range(nxt, nxt + size))
            rows.extend((d, text) for d in group)
            plan["twin_groups"].append(group)
            nxt += size
            made += size
        for s in srcs[n_exact:]:
            rows.append((nxt, _mutate(originals[s], nxt, LIGHT)))
            plan["near"].append(nxt)
            nxt += 1
        while len(rows) < batch_docs:
            s = int(rng.integers(n_src))
            rows.append((nxt, _mutate(originals[s], nxt, HEAVY)))
            plan["heavy"].append(nxt)
            nxt += 1
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        batches.append(documents_table(np.array([r[0] for r in rows]),
                                       [r[1] for r in rows], rng))
    return base, batches, plan


def write_table(table: pa.Table, path: str, row_group_size: int = 150_000) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)


def ensure_fixture(root: str, key: dict, build) -> str:
    """The fixture directory for generator args ``key``, built by
    ``build(dir)`` on first use. A completion marker holding the args
    guards reuse: a missing or different marker rebuilds from scratch."""
    name = "-".join(f"{k}{v}" for k, v in sorted(key.items()))
    path = os.path.join(root, name)
    marker = os.path.join(path, "_GEN_COMPLETE")
    stamp = json.dumps(key, sort_keys=True)
    try:
        with open(marker) as f:
            if f.read() == stamp:
                return path
    except OSError:
        pass
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    with open(marker + ".tmp", "w") as f:
        f.write(stamp)
    os.replace(marker + ".tmp", marker)
    return path
