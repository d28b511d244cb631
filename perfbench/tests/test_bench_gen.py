"""Generator determinism and the planted structure of the LSH stream."""

import filecmp
import os

import gen


def _write_all(d, tables):
    os.makedirs(d, exist_ok=True)
    for name, t in tables.items():
        gen.write_table(t, os.path.join(d, f"{name}.parquet"))
    return sorted(os.listdir(d))


def _fixture(seed):
    t = gen.olap_tables(seed, 0.001)
    t.update(gen.kernel_tables(seed, 200, 100))
    base, batches, _ = gen.lsh_stream(seed, 300, 3, 100)
    t["base"] = base
    t.update({f"batch{i}": b for i, b in enumerate(batches)})
    return t


def test_same_seed_byte_identical_other_seed_different(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    names = _write_all(a, _fixture(5))
    _write_all(b, _fixture(5))
    _write_all(c, _fixture(6))
    for n in names:
        assert filecmp.cmp(a / n, b / n, shallow=False), n
    differing = [n for n in names if not filecmp.cmp(a / n, c / n, shallow=False)]
    # region/nation are fixed dimensions; everything else follows the seed
    assert set(names) - set(differing) <= {"region.parquet", "nation.parquet"}


def test_fixture_schemas():
    t = gen.olap_tables(1, 0.001)
    assert str(t["events"].schema.field("ts").type) == "timestamp[ns]"
    assert str(t["lineitem"].schema.field("l_shipdate").type) == "timestamp[ms]"
    k = gen.kernel_tables(1, 50, 20)
    assert str(k["embeddings"].schema.field("embedding").type) == "list<item: float>"


def test_ensure_fixture_marker(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        open(os.path.join(d, "x"), "w").close()

    key = {"seed": 1, "v": 1}
    p1 = gen.ensure_fixture(str(tmp_path), key, build)
    p2 = gen.ensure_fixture(str(tmp_path), key, build)
    assert p1 == p2 and len(calls) == 1
    os.remove(os.path.join(p1, "_GEN_COMPLETE"))
    gen.ensure_fixture(str(tmp_path), key, build)
    assert len(calls) == 2


def _shingles(text):
    w = text.lower().split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def test_lsh_stream_plan():
    base, batches, plan = gen.lsh_stream(3, 300, 4, 100)
    ids = [base.column("doc_id").to_pylist()] + [b.column("doc_id").to_pylist() for b in batches]
    flat = [d for part in ids for d in part]
    assert len(flat) == len(set(flat))
    assert all(max(a) < min(b) for a, b in zip(ids, ids[1:]))
    assert all(b.num_rows == 100 for b in batches)
    text = {}
    for t in [base] + batches:
        text.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    n_src = 300 // gen.BASE_FACTOR
    base_texts = base.column("text").to_pylist()
    # the base is gen_sf.py --mutate: copy i of source s at id s + i * n_src
    for copy in (1, gen.BASE_FACTOR - 1):
        assert base_texts[copy * n_src:(copy + 1) * n_src] == gen.mutate_texts(
            base_texts[:n_src], list(range(n_src)), copy)
    originals = set(base_texts[:n_src])
    assert all(text[d] in originals for d in plan["exact"])
    for g in plan["twin_groups"]:
        assert len({text[d] for d in g}) == 1 and len(g) >= 2
    others = [s for d, t in text.items() if d not in set(plan["heavy"]) for s in [_shingles(t)]]
    every = set().union(*others)
    for d in plan["heavy"]:
        assert not (_shingles(text[d]) & every)
