"""Optimizer barriers for computed-column materialization.

Catalyst's CollapseProject inlines a computed column into every textual
reference downstream.  For scalar consumers SPARK-36718 guards against
duplicating non-cheap expressions, but a reference INSIDE a higher-order-
function lambda body slips through with a single textual occurrence — and
is then re-evaluated PER ARRAY ELEMENT at runtime.  Nest two HOF stages
(array built from a computed column, then a second lambda referencing that
array) and the cost multiplies: profiled on the winnowed-fingerprint
operator, 500 sub-KB documents ran for >10 MINUTES because every
sliding-window element re-evaluated the full k-gram md5 array, which
itself re-evaluated the regex-normalized text per gram — O(L²·regex)
per document instead of O(L).

:func:`project_barrier` is the surgical fix: an ``explode(array(struct))``
Generate node between the defining projection and its consumers.  Generate
evaluates its child once per row and emits the computed columns as plain
bound attributes; CollapseProject cannot inline across a Generate, so
downstream lambdas read row values instead of re-running expressions.
Cost: one extra narrow operator per row — no shuffle, no caching, no
memory pinning (unlike persist(), which needs lifecycle management).

A second trap class: a checkpoint keeps its plan's constraints.  A
``localCheckpoint`` scan reports the constraints of the plan it replaced,
and Catalyst's InferFiltersFromConstraints re-infers them across any later
equi-join on the constrained column — as a fresh ``Filter`` on the OTHER
join input, re-running whatever expression the constraint names.  The
MinHash-LSH label path hit this: ``hashed_shingles`` filtered
``size(shingles) > 0`` over the computed char-shingle column of the label,
which is also the id column, so the constraint named the label itself.
After the checkpoint, both verification joins (``doc_a = lbl``,
``doc_b = lbl``) inferred it onto the candidate pairs and re-shingled both
labels of every pre-``distinct`` candidate row.  On the benchmark's ``kg``
workload (2,349 labels, 101,314 candidates, 669 verified pairs, traced,
4-vCPU host) that made ``minhash_edges`` 5.4 s of a 13.0 s operation and
executor CPU 16.4 s; with the shingle projection behind a
:func:`project_barrier`, the filter reads a bound attribute that no join
key depends on, and the numbers fall to 1.9 s, 10.3 s and 7.0 s, with
the same candidates, pairs, shuffle bytes and job count.  Rule: before a
table is checkpointed and later joined on a column, filter on a computed
expression of that column only behind a barrier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def project_barrier(df: DataFrame) -> DataFrame:
    """Materialize ``df``'s (possibly computed) columns as plain attributes
    before downstream projections consume them.  Schema-preserving,
    row-preserving, zero-shuffle."""
    return df.select(
        F.explode(F.array(F.struct(*[F.col(c) for c in df.columns]))).alias("_row")
    ).select("_row.*")
