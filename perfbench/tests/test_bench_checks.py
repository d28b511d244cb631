"""The output checks reject wrong answers."""

import checks


def test_canon_rows_order_insensitive_and_exact():
    a = checks.canon_rows(["b", "a"], [(1, 0.1), (2, 0.2)])
    b = checks.canon_rows(["a", "b"], [(0.2, 2), (0.1, 1)])
    assert a == b
    assert checks.canon_rows(["a"], [(0.1,)]) != checks.canon_rows(["a"], [(0.1 + 1e-17 * 8,)])


def test_oracle_mismatch():
    import duckdb

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 2.5::DOUBLE), (2, 3.0::DOUBLE)) t(k, v)"
    assert checks.oracle_mismatch(con, sql, ["v", "k"], [(3.0, 2), (2.5, 1)]) is None
    assert checks.oracle_mismatch(con, sql, ["k", "v"], [(1, 2.5)]) is not None
    assert checks.oracle_mismatch(con, sql, ["k", "v"], [(1, 2.5), (2, 3.5)]) is not None


def test_lsh_mismatches():
    plan = {"exact": [10], "twin_groups": [[11, 12]], "near": [13], "heavy": [14]}
    batches = {0: {1, 2}, 1: {10, 11, 12, 13, 14}}
    good = [(1, "new", None, 0), (2, "new", None, 0), (10, "dup_of_corpus", 1, 1),
            (11, "new", None, 1), (12, "dup_within_delta", 11, 1),
            (13, "dup_of_corpus", 2, 1), (14, "new", None, 1)]
    bad, idx = checks.lsh_mismatches(good, {1, 2, 11, 14}, batches, plan)
    assert bad == {} and idx is None
    wrong = [r if r[0] != 14 else (14, "dup_of_corpus", 1, 1) for r in good]
    bad, _ = checks.lsh_mismatches(wrong, {1, 2, 11}, batches, plan)
    assert set(bad) == {1}
    bad, idx = checks.lsh_mismatches(good[:-1], {1, 2, 11, 14}, batches, plan)
    assert set(bad) == {1} and idx is not None
    out = checks.lsh_outcomes(good, plan, {1})
    assert out["planted_exact_recall"] == 1.0 and out["dup_within_delta_frac"] == 0.2
