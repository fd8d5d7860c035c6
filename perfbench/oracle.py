"""Expected outputs, computed by DuckDB from the same input parquet.

Each expected output table is reduced to a :func:`digest` (row count plus
a hash of the sorted distinct rows) that is cheap to store per seed and to
compare after every timed operation.

- ``kg`` ``triples``: the distinct ``(doc_id, subj, pred, obj)`` rows of
  :func:`kgx.oracles.triples_sql`.
- ``kg`` ``canonical_map``: ``(label, canonical_label)``. Candidate edges
  are the normalized-stem classes of :func:`kgx.oracles.canonical_map_sql`
  plus the MinHash pairs of :func:`kgx.oracles.link_minhash_sql`; the
  canonical label of each connected component is its smallest label.
- ``curate`` ``curated``: the surviving ``(doc_id, text)`` rows of
  :func:`kgx.oracles.curation_funnel_sql` with the ``curation_funnel``
  gate config.
"""

from __future__ import annotations

import hashlib
import os
from typing import Iterable

#: The ``curation_funnel`` gate config (``__spark_entry__.q_curation_funnel``).
CURATE_MIN_TOKENS = 20
CURATE_MAX_SYMBOL_RATIO = 0.2


def digest(rows: Iterable[tuple]) -> dict:
    """Order-insensitive fingerprint of a set of rows."""
    lines = sorted({"\x1f".join(str(v) for v in r) for r in rows})
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(lines), "sha256": h}


def _union_find_min(labels: Iterable[str], edges: Iterable[tuple[str, str]]) -> dict[str, str]:
    parent = {x: x for x in labels}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def expected(workload: str, documents_parquet: str, threads: int) -> dict:
    """Digests of the expected outputs of ``workload`` over the corpus,
    keyed by output table."""
    import duckdb

    from kgx import oracles

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        con.execute("SET enable_progress_bar = false")
        spill = os.path.join(os.path.dirname(os.path.abspath(documents_parquet)), "duckdb.tmp")
        con.execute(f"SET temp_directory = '{spill}'")
        path = documents_parquet.replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        if workload == "kg":
            stem = con.sql(oracles.canonical_map_sql()).fetchall()
            pairs = con.sql(oracles.link_minhash_sql()).fetchall()
            edges = [(lbl, canon) for lbl, canon, _ in stem] + [(a, b) for a, b, _ in pairs]
            cmap = _union_find_min((lbl for lbl, _, _ in stem), edges)
            return {
                "triples": digest(con.sql(oracles.triples_sql()).fetchall()),
                "canonical_map": digest(cmap.items()),
            }
        if workload == "curate":
            sql = oracles.curation_funnel_sql(
                min_tokens=CURATE_MIN_TOKENS, max_symbol_ratio=CURATE_MAX_SYMBOL_RATIO
            )
            return {"curated": digest(con.sql(sql).fetchall())}
    finally:
        con.close()
    raise ValueError(f"unknown workload: {workload}")


def main(argv: list[str]) -> None:
    """``oracle.py <workload> <documents.parquet> <expected.json> <threads>``:
    write the digests of :func:`expected`, atomically."""
    import json
    import sys

    workload, parquet, out, threads = argv
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    digests = expected(workload, parquet, int(threads))
    with open(out + ".tmp", "w") as f:
        json.dump(digests, f)
    os.replace(out + ".tmp", out)


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
