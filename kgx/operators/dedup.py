"""Document deduplication suite — exact, n-gram Jaccard, MinHash-LSH, SimHash.

Core operators a 100 TB training-data pipeline needs in front of the KG
extractor (duplicate web pages would otherwise dominate both compute and the
resulting graph).  All variants are pure DataFrame/SQL built-ins — no Python
UDFs anywhere — and every hash is md5-derived so the DuckDB oracle reproduces
results bit-for-bit (kgx.functions.hashing).

Scale design:
- exact: one shuffle on a 60-bit text hash (not the text itself).
- n-gram Jaccard: inverted-index self-join on shingle hashes.  At corpus
  scale, add a document-frequency cutoff on hot shingles before the join
  (``max_shingle_df``) — a stop-shingle filter, same trick as stop words.
- MinHash-LSH: signatures are computed per-row with higher-order array
  functions (aggregate over the shingle array — zero shuffle), then ONE
  shuffle on (band, band_hash) buckets.  Candidates are verified with true
  Jaccard before reporting, so precision is exact and recall is the standard
  LSH s-curve.
- SimHash: 64-bit fingerprint per doc via bit-vote aggregation; candidate
  pairs via 4×16-bit band buckets (Hamming ≤ 3 ⇒ at least one band equal),
  verified with bit_count(xor) — all JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgx.functions import hashing
from kgx.functions import plan as plan_fn


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_groups(documents: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, text_hash, canonical_doc_id, group_size).

    canonical = min doc_id per identical text.  The shuffle key is the 60-bit
    hash, so the exchange carries ~16 bytes/row regardless of document size.
    """
    h = documents.select(
        "doc_id", F.expr(hashing.spark_md5_60("text")).alias("text_hash")
    )
    grp = h.groupBy("text_hash").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("group_size"),
    )
    return h.join(grp, "text_hash").select(
        "doc_id", "text_hash", "canonical_doc_id", "group_size"
    )


# ---------------------------------------------------------------------------
# shingles (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------

def _shingle_expr(n: int, col: str = "text") -> str:
    """Distinct word n-gram shingle strings from ``col`` (space-tokenized).
    Guarded: Spark's sequence(1, 0) would DESCEND, so short docs short-circuit
    to an empty array.

    NOTE the ``slice(split(col), i, n)`` inside the lambda re-tokenizes the
    document per shingle when ``col`` is a raw expression (the nested-HOF
    inlining trap documented in kgx.functions.plan) — O(tokens × doc_len)
    per document.  Negligible on sub-KB fixture docs, quadratic-ish on long
    web documents, so :func:`_tokenized` hoists the split behind a
    project_barrier and passes the bound ``toks`` attribute here instead;
    this raw-column form remains for caller-supplied expressions (e.g.
    char shingles over short entity labels, where hoisting buys nothing)."""
    return (
        f"CASE WHEN size(split({col}, ' ')) < {n} THEN array() "
        f"ELSE array_distinct(transform(sequence(1, size(split({col}, ' ')) - {n - 1}), "
        f"i -> array_join(slice(split({col}, ' '), i, {n}), ' '))) END"
    )


def _toks_shingle_expr(n: int) -> str:
    """Same shingle semantics over a pre-materialized ``toks`` array
    attribute: slice per element is an O(n) bound-array copy, so shingling
    is linear in document length."""
    return (
        f"CASE WHEN size(toks) < {n} THEN array() "
        f"ELSE array_distinct(transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> array_join(slice(toks, i, {n}), ' '))) END"
    )


def _tokenized(documents: DataFrame, id_col: str) -> DataFrame:
    """(id_col, toks array<string>) — the split hoisted behind a
    materialization barrier (kgx.functions.plan.project_barrier) so shingle
    lambdas reference a bound attribute, never re-tokenizing per element."""
    from kgx.functions.plan import project_barrier

    return project_barrier(
        documents.selectExpr(id_col, "split(text, ' ') AS toks")
    )


def char_shingle_expr(col: str, n: int = 3) -> str:
    """Distinct character n-gram shingles of ``lower(col)`` padded with
    '^^'/'$$' (padding guarantees >= n chars, so no empty shingle sets and
    boundary characters weigh in — same scheme for short strings like entity
    labels in both engines)."""
    p = f"concat('^^', lower({col}), '$$')"
    return (
        f"array_distinct(transform(sequence(1, length({p}) - {n - 1}), "
        f"i -> substring({p}, i, {n})))"
    )


def shingle_table(
    documents: DataFrame,
    n: int = 3,
    shingle_expr: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, shingle_hash) — exploded distinct shingles, hashed to 60 bits.
    ``shingle_expr`` overrides the default word-n-gram expression (e.g.
    :func:`char_shingle_expr` for entity-label linking)."""
    if shingle_expr is None:
        src = _tokenized(documents, id_col)
        expr = _toks_shingle_expr(n)
    else:
        src, expr = documents, shingle_expr
    return (
        src.select(id_col, F.expr(expr).alias("shingles"))
        .select(id_col, F.explode("shingles").alias("shingle"))
        .select(id_col, F.expr(hashing.spark_md5_60("shingle")).alias("shingle_hash"))
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via inverted index.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard ≥ threshold.
    ``max_shingle_df`` drops shingles appearing in more than that many docs
    before the self-join (the skew guard for web-scale corpora).

    ``materialize`` (default on — same stance and rationale as
    :func:`minhash_lsh_pairs`): the shingle table feeds up to FOUR plan
    branches (the hot-shingle aggregate, the per-doc sizes, and both
    self-join sides), and each branch of a lazy plan re-runs the
    tokenize + shingle + md5-per-shingle pass.  Eager ``localCheckpoint``s
    — the base table (covers the hot aggregate + anti-join input) and the
    filtered table (covers sizes + both join sides) — pin it to one pass;
    both are (doc_id, bigint) rows, far smaller than the text.  Measured
    at sf0.1 (alternating 3-round A/B, warmed): 2.47-4.04 s vs 2.92-4.14 s
    — uniformly ordered in the checkpoint's favor, and the gap grows with
    document length (each extra branch re-runs the full text pass)."""
    sh = shingle_table(documents, n)
    if materialize:
        sh = sh.localCheckpoint(eager=True)
    if max_shingle_df is not None:
        hot = sh.groupBy("shingle_hash").count().where(F.col("count") > max_shingle_df)
        sh = sh.join(hot.select("shingle_hash"), "shingle_hash", "left_anti")
        if materialize:
            sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle_hash") == F.col("b.shingle_hash")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------

def hashed_shingles(
    documents: DataFrame,
    n: int = 3,
    shingle_expr: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, hs array<bigint>) — the distinct-shingle hash SET per doc,
    one md5-60 per shingle, zero shuffle; docs with no shingles are dropped
    (shorter than n tokens).

    The shingle projection sits behind a project_barrier, so the emptiness
    filter reads a bound ``shingles`` attribute.  Without it the filter
    carries the whole shingle expression: evaluated twice per row (filter +
    md5 projection), and — when the shingled column IS ``id_col``, as on the
    label path — kept as a constraint on ``id_col`` that Catalyst re-infers
    across any later equi-join on that column, through a checkpoint (the
    second trap class in kgx.functions.plan)."""
    if shingle_expr is None:
        src = _tokenized(documents, id_col)
        expr = _toks_shingle_expr(n)
    else:
        src, expr = documents, shingle_expr
    return (
        plan_fn.project_barrier(src.select(id_col, F.expr(expr).alias("shingles")))
        .where(F.size("shingles") > 0)
        .select(
            id_col,
            F.expr(
                f"transform(shingles, s -> {hashing.spark_md5_60('s')})"
            ).alias("hs"),
        )
    )


def minhash_signatures(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    shingle_expr: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, sig array<bigint>) — per-row computation, zero shuffle.

    One md5-60 base hash per shingle (:func:`hashed_shingles`), then the
    whole signature via the universal-hash family sig[s] = min over shingles
    of (a_s * h + b_s) mod p (kgx.functions.hashing.minhash_derived) — 16x
    fewer md5 evaluations than hashing each (seed, shingle) pair."""
    return _signatures_from(
        hashed_shingles(documents, n, shingle_expr, id_col), num_hashes, id_col
    )


def _signatures_from(sets_: DataFrame, num_hashes: int, id_col: str) -> DataFrame:
    """Signatures from a prebuilt (id, hs) hashed-shingle table — split out
    so minhash_lsh_pairs can derive sigs AND verification sets from ONE
    evaluation of the shingle pipeline."""
    mins = ", ".join(
        "aggregate(hs, cast(9223372036854775807 as bigint), "
        f"(acc, x) -> least(acc, {hashing.minhash_derived('x', s)}))"
        for s in range(num_hashes)
    )
    return sets_.select(id_col, F.expr(f"array({mins})").alias("sig"))


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 200,
    shingle_expr: str | None = None,
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """Banded-LSH candidate generation + exact Jaccard verification.

    Output: (doc_a, doc_b, jaccard) — LSH-candidate pairs whose TRUE n-gram
    Jaccard ≥ threshold.  One shuffle to bucket, one to verify.

    ``max_bucket`` is the LSH skew guard: a band bucket holding more than
    that many documents is a low-information collision (common min-shingles),
    and its within-bucket pair count grows quadratically — it is dropped
    before pair enumeration.  True near-duplicates still collide in their
    other (b-1) discriminative bands, and every surviving candidate is
    verified with exact Jaccard anyway.

    Plan shape (reworked in round 2 after stage profiling): the signature
    pipeline is evaluated ONCE — buckets come from a single
    groupBy(band, band_hash) + collect_list whose in-bucket pairs are
    enumerated with array higher-order functions (bounded by
    ``max_bucket``² per bucket), replacing the earlier bucket SELF-JOIN
    that re-evaluated the signature plan on both sides; verification
    carries each candidate's distinct-shingle hash array (identical set to
    the old exploded shingle_table) and computes exact Jaccard with
    ``array_intersect`` on the candidate rows only, replacing three more
    full re-evaluations of the shingle pipeline (sizes + two exploded join
    sides).  Same output bit-for-bit, ~4× less work: the corpus-wide cost
    is one shingle+hash pass and one minhash pass, and the only shuffles
    carry (band, band_hash, id) buckets and candidate-id arrays.

    ``materialize`` (default on, round-4 profiling find): the hashed-
    shingle table feeds THREE separate plan branches — the signature
    aggregate plus the two verification join sides — and Spark re-evaluates
    an unmaterialized subplan per branch (exchange reuse does not apply:
    each branch exchanges on a different key), so the tokenize + shingle +
    md5-per-shingle pass ran 3× per corpus.  An eager ``localCheckpoint``
    (the same stance as semdedup's cluster assignment and the CC rounds)
    pins it to one pass — provided no constraint of the checkpointed plan
    names the shingle expression: the checkpoint keeps its plan's
    constraints, and on the label path (shingled column = ``id_col``) an
    unbarriered emptiness filter is re-inferred onto the candidate side of
    both verification joins, re-shingling both labels of every candidate
    row (see :func:`hashed_shingles`).  The materialized table is (id, hs)
    — the same order of magnitude as the corpus text, which is what
    production dedup pipelines materialize as their signature table
    anyway.  Measured
    (alternating A/B, 6 rounds each, sf0.1, persisted input): minima
    3.26 s vs 3.58 s and a uniformly better distribution — a ~9% win that
    GROWS at scale, where the input is a computed view / long web text and
    each extra branch re-runs the full tokenize+shingle+md5 pass instead
    of reading a small cache.  ``False`` keeps the fully-lazy plan.
    """
    rows = num_hashes // bands
    sets_all = hashed_shingles(documents, n, shingle_expr, id_col)
    if materialize:
        sets_all = sets_all.localCheckpoint(eager=True)
    sigs = _signatures_from(sets_all, num_hashes, id_col)
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"md5(array_join(transform(slice(sig, b * {rows} + 1, {rows}), "
                f"v -> cast(v as string)), '_')))"
            )
        ).alias("band", "band_hash"),
    )
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    cands = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> "
                    "named_struct('doc_a', x, 'doc_b', y))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # exact-Jaccard verification restricted to the candidate pairs — the
    # whole point of LSH is to never materialize the full similarity join.
    # hs is a distinct set by construction (_shingle_expr array_distincts
    # before hashing), so array_intersect sizes equal the old relational
    # hash-equality join counts.  Both sides read the (materialized)
    # shingle table built above — not a fresh pipeline.
    sa = sets_all.select(F.col(id_col).alias("doc_a"), F.col("hs").alias("ha"))
    sb = sets_all.select(F.col(id_col).alias("doc_b"), F.col("hs").alias("hb"))
    stats = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(ha, hb))").cast("long").alias("inter"),
            F.expr("size(ha)").cast("long").alias("na"),
            F.expr("size(hb)").cast("long").alias("nb"),
        )
    )
    # project_barrier pins `inter`: without it CollapseProject inlines the
    # array_intersect into the jaccard filter (which Catalyst then fuses
    # into the join CONDITION), evaluating the O(na+nb) set-build up to 4×
    # per candidate row — measured 3.5-6.4 s → 2.3-2.8 s at sf0.1, where
    # boilerplate band collisions make |candidates| ≈ 116k (round-5 plan
    # audit; same trap class as the winnowed-fingerprint HOF fix).
    return (
        plan_fn.project_barrier(stats)
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dup_clusters(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 200,
) -> DataFrame:
    """Corpus-level near-duplicate clustering: MinHash-LSH pairs →
    connected components → one canonical document per cluster.

    This is the "dedup the corpus" end-to-end: near-dup similarity is not
    transitive (A~B, B~C does not imply A~C above threshold), so pairwise
    output alone under-removes; the standard resolution (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better") is to take
    connected components of the near-dup graph and keep one representative
    per component.  Output covers EVERY document:

        (doc_id, canonical_doc_id, cluster_size, is_duplicate)

    with ``canonical_doc_id`` = lexicographic min doc_id of the cluster,
    singletons mapping to themselves, ``is_duplicate`` marking the rows a
    keep-one policy would drop.

    Scale shape: the pair graph is LSH-bucketed and Jaccard-verified
    (sparse — |pairs| ≪ |corpus|), CC runs on that graph only (driver
    union-find below the edge threshold, large-star/small-star above), and
    the map back to the corpus is a plain doc_id equi-join AQE can
    broadcast when the component map is small.  The window count shuffles
    only (doc_id, canonical_doc_id) pairs, never text.
    """
    from kgx.operators.linking import connected_components

    pairs = minhash_lsh_pairs(
        documents, n, num_hashes, bands, threshold, max_bucket
    )
    edges = pairs.select(
        F.col("doc_a").alias("src_label"), F.col("doc_b").alias("dst_label")
    )
    cc = connected_components(edges).withColumnRenamed("label", "doc_id")
    from pyspark.sql import Window

    mapped = (
        documents.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("canonical_doc_id"),
        )
    )
    w = Window.partitionBy("canonical_doc_id")
    return mapped.select(
        "doc_id",
        "canonical_doc_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_duplicate"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash bigint) — 64-bit SimHash over distinct tokens.

    Bit j of the fingerprint is 1 iff more token-hashes have bit j set than
    unset.  Round 2: computed entirely per-row with higher-order array
    functions (one ``aggregate`` per bit over the token-hash array, same
    shape as the MinHash signatures) — ZERO shuffle.  The round-1 version
    exploded every doc into 60 × |tokens| (doc_id, bit) rows and shuffled
    them through two groupBys; at corpus scale that exchange carried 60×
    the token count for a value that is a pure per-document function.
    Only 60 bits are populated (md5_60), plenty for near-dup work.
    """
    bit_exprs = " + ".join(
        f"(CASE WHEN aggregate(hs, 0, (acc, h) -> acc + "
        f"(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN cast(shiftleft(cast(1 as bigint), {b}) as bigint) ELSE cast(0 as bigint) END)"
        for b in range(60)
    )
    return (
        documents.select(
            "doc_id",
            F.expr(
                "filter(array_distinct(split(text, ' ')), t -> t != '')"
            ).alias("toks"),
        )
        .where(F.size("toks") > 0)
        .select(
            "doc_id",
            F.expr(f"transform(toks, t -> {hashing.spark_md5_60('t')})").alias("hs"),
        )
        .select("doc_id", F.expr(f"cast({bit_exprs} as bigint)").alias("simhash"))
    )


def simhash_pairs(
    documents: DataFrame, max_hamming: int = 3, max_bucket: int = 200
) -> DataFrame:
    """Near-dup pairs by SimHash: 4×15-bit band buckets (Hamming ≤ 3 over 60
    bits ⇒ pigeonhole: some band identical), verified by bit_count(xor).

    Output: (doc_a, doc_b, hamming int).

    ``max_bucket`` is the same LSH skew guard as
    :func:`minhash_lsh_pairs`: a band bucket holding more than that many
    documents is a low-information collision whose within-bucket pair count
    grows QUADRATICALLY — a boilerplate cluster of B near-identical docs
    would otherwise enumerate O(B²) joined rows in one 15-bit bucket.  The
    bucket is dropped before pair enumeration; genuinely-similar-but-not-
    boilerplate pairs still collide in their other 3 discriminative bands.
    (A >max_bucket cluster of near-IDENTICAL docs floods all 4 of its bands
    and loses its internal pairs — the accepted guard trade, identical to
    the MinHash twin; use :func:`exact_groups` first, which removes
    byte-identical floods for one cheap hash shuffle.)

    Plan shape (round 3, mirroring the round-2 MinHash rework): one
    groupBy(band, band_bits) + collect_list whose in-bucket pairs are
    enumerated with array higher-order functions — bounded by
    ``max_bucket``² per bucket — replacing the uncapped band self-join.
    The bucket rows carry (doc_id, simhash) structs so the Hamming verify
    needs no join back to the fingerprint table.
    """
    fp = simhash_fingerprints(documents)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), b -> shiftright(simhash, b * 15) & 32767)"
            )
        ).alias("band", "band_bits"),
    )
    buckets = (
        banded.groupBy("band", "band_bits")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ds")
        )
        .where((F.size("ds") >= 2) & (F.size("ds") <= max_bucket))
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), y -> "
                    "named_struct('doc_a', x.doc_id, 'doc_b', y.doc_id, "
                    "'hamming', cast(bit_count(x.simhash ^ y.simhash) as int)))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def lsh_blocking_recall(
    documents: DataFrame,
    threshold: float = 0.5,
    max_shingle_df: int = 50,
    num_hashes: int = 16,
    bands: int = 8,
    max_bucket: int = 200,
) -> DataFrame:
    """Blocking-quality audit of the MinHash-LSH near-dup join against
    the exact inverted-index Jaccard join — the dedup counterpart of the
    ANN family's recall audit (kgx.operators.similarity.ivf_recall), and
    the dial that sizes ``bands``/``num_hashes`` in production: how many
    of the TRUE >= threshold pairs does banded LSH recover?  Both sides
    verify with exact n-gram Jaccard, so on a corpus where the
    ``max_shingle_df`` guard is INACTIVE (no shingle exceeds the df
    cutoff — true of the gate corpus, max df 7 vs cutoff 50) every miss
    is attributable to the banding (a pair whose signatures agree in no
    band) or to the ``max_bucket`` skew cap.  When the guard IS active,
    the two sides define Jaccard over different shingle sets (the exact
    side df-filters, the LSH verification does not) and a miss can also
    be that threshold-definition gap — tune bands on a guard-inactive
    sample, or raise ``max_shingle_df`` until it deactivates.

    Scale shape: a composition of the two pair plans AS USERS RUN THEM —
    each side tokenizes and shingles the corpus independently (two
    passes; sharing one shingle table would couple the audit to both
    operators' internals).  Everything after them is pair-key aggregates
    (one LEFT SEMI join on the (doc_a, doc_b) key, two single-row
    counts, one 1×1 cross join).  The exact side costs the
    inverted-index self-join — at 100 TB this audit runs on a SAMPLED
    partition of the corpus exactly as blocking recall is estimated for
    production ER systems; at gate scale it runs whole.

    Output: ONE row (n_exact_pairs, n_lsh_pairs, missed_pairs,
    recall_bp) — counts of true pairs, LSH-recovered true pairs (the
    intersection, robust to guard-setting drift between the two sides),
    their difference, and floor-divided basis-point recall (NULL when no
    true pair exists).
    """
    exact = ngram_jaccard_pairs(
        documents, threshold=threshold, max_shingle_df=max_shingle_df
    ).select("doc_a", "doc_b")
    lsh = minhash_lsh_pairs(
        documents,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
    ).select("doc_a", "doc_b")
    ne = exact.agg(F.count("*").cast("long").alias("n_exact_pairs"))
    nl = (
        lsh.join(exact, ["doc_a", "doc_b"], "left_semi")
        .agg(F.count("*").cast("long").alias("n_lsh_pairs"))
    )
    return ne.crossJoin(nl).select(
        "n_exact_pairs",
        "n_lsh_pairs",
        F.expr("n_exact_pairs - n_lsh_pairs").cast("long").alias("missed_pairs"),
        F.expr(
            "CASE WHEN n_exact_pairs = 0 THEN NULL "
            "ELSE (10000 * n_lsh_pairs) div n_exact_pairs END"
        ).cast("long").alias("recall_bp"),
    )
