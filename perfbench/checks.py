"""Output checks, run once per run and outside the timed loop.

- Queries with a DuckDB oracle are compared against it on the same
  fixture files: same column set, same row multiset, values compared
  bitwise (exact ``repr`` of each Python value).
- The LSH stream is checked against the planted structure of its
  generated batches (see ``gen.lsh_stream``).
"""

from __future__ import annotations


def canon_rows(columns: list[str], rows) -> list[str]:
    """Rows as sorted ``repr`` strings of their values in column-name
    order: an order-insensitive, bit-exact comparison key."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(repr(tuple(r[i] for i in order)) for r in rows)


def oracle_mismatch(con, sql: str, columns: list[str], rows) -> str | None:
    """None when the Spark result equals the DuckDB oracle, else why not."""
    cur = con.execute(sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    if sorted(o_cols) != sorted(columns):
        return f"columns differ: spark {sorted(columns)} oracle {sorted(o_cols)}"
    if len(o_rows) != len(rows):
        return f"row count differs: spark {len(rows)} oracle {len(o_rows)}"
    a, b = canon_rows(columns, rows), canon_rows(o_cols, o_rows)
    for x, y in zip(a, b):
        if x != y:
            return f"first differing row: spark {x} oracle {y}"
    return None


def duckdb_views(fixture_dir: str, tables, temp_dir: str):
    import duckdb

    con = duckdb.connect(config={"temp_directory": temp_dir, "threads": 4})
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')")
    return con


def lsh_mismatches(statuses, index_ids: set[int], batch_ids: dict[int, set[int]],
                   plan: dict) -> tuple[dict[int, str], str | None]:
    """Check the stream's statuses and index against the planted mix.

    ``statuses``: (doc_id, status, match_id, batch_id) rows; ``batch_ids``
    maps each processed batch to its input doc ids. Returns per-batch
    failure reasons and an index failure reason (or None)."""
    by_doc: dict[int, tuple[str, int | None, int]] = {}
    bad: dict[int, str] = {}
    counts: dict[int, int] = {}
    for d, st, m, b in statuses:
        counts[b] = counts.get(b, 0) + 1
        by_doc[int(d)] = (st, None if m is None else int(m), int(b))
    doc_batch = {d: b for b, ds in batch_ids.items() for d in ds}
    for b, ds in batch_ids.items():
        if counts.get(b, 0) != len(ds) or any(by_doc.get(d, (0, 0, -1))[2] != b for d in ds):
            bad[b] = "not exactly one status per input doc"

    def expect(d: int, status: str, match: int | None = None, why: str = "") -> None:
        b = doc_batch.get(d)
        if b is None or b in bad:
            return
        st, m, _ = by_doc[d]
        if st != status or (match is not None and m != match):
            bad[b] = f"doc {d}: {why} is {st} (match {m}), expected {status}"

    for d in plan["exact"]:
        expect(d, "dup_of_corpus", why="planted exact copy")
    for group in plan["twin_groups"]:
        lo = min(group)
        expect(lo, "new", why="first of a twin group")
        for d in group:
            if d != lo:
                expect(d, "dup_within_delta", lo, why="within-batch twin")
    for d in plan["heavy"]:
        expect(d, "new", why="heavy-mutated novel doc")
    new = {d for d, (st, _, _) in by_doc.items() if st == "new"}
    index_err = None
    if index_ids != new:
        index_err = (f"index holds {len(index_ids)} docs, statuses admit {len(new)} "
                     f"({len(index_ids - new)} extra, {len(new - index_ids)} missing)")
    return bad, index_err


def lsh_outcomes(statuses, plan: dict, warm_batches: set[int]) -> dict[str, float]:
    """Useful-outcome ratios over the warm batches."""
    by_doc = {int(d): st for d, st, _, b in statuses if int(b) in warm_batches}
    n = len(by_doc)

    def frac(ids, status):
        ids = [d for d in ids if d in by_doc]
        return sum(by_doc[d] == status for d in ids) / len(ids) if ids else 0.0

    return {
        "dup_of_corpus_frac": sum(s == "dup_of_corpus" for s in by_doc.values()) / n if n else 0.0,
        "dup_within_delta_frac": sum(s == "dup_within_delta" for s in by_doc.values()) / n if n else 0.0,
        "planted_exact_recall": frac(plan["exact"], "dup_of_corpus"),
        "planted_near_recall": frac(plan["near"], "dup_of_corpus"),
    }
