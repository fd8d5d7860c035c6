"""Entry-contract queries added after the core suite: JN2 graph fetch,
§2.9 scalar-function family, P6/P8 text gate — plus a guard-equivalence
property for the relation-pattern pre-filters.

The full Spark-vs-DuckDB value-hash comparison for these queries runs in
tools/compare_oracle.py (driver gate); here we assert the structural
invariants that the hash comparison cannot localize when it fails, and
guard the query registry itself (order, size, and each gate parameter
stated once, in its row) without starting Spark.
"""

import ast
import inspect
import re

from pyspark.sql import functions as F

import __spark_entry__ as entry
from kgx.operators import rules

#: the correctness gate records the first 50 registry rows only
GATE_50 = (
    "kg_spans", "kg_doc_text", "kg_mentions", "kg_nodes", "kg_triples",
    "link_canonical_map", "link_canonical_triples", "link_minhash_pairs",
    "dedup_exact", "dedup_jaccard_pairs", "dedup_minhash_lsh",
    "dedup_clusters", "dedup_simhash_pairs", "ann_topk", "ann_ivf_topk",
    "emb_near_dup_pairs", "text_stats", "quality_filter", "token_counts",
    "vocab_topk", "pii_scrub", "sentence_dedup", "sentence_prune",
    "curation_funnel", "funnel_export", "graph_degrees", "graph_pagerank",
    "graph_triangles", "balanced_sample", "contamination",
    "fingerprints_winnowed", "language_id", "video_decode_real",
    "media_inventory", "asof_last_click", "range_clicks_before_purchase",
    "sessions", "w2_latest_event_per_user", "w3_retention_tail",
    "ann_ivfpq_topk", "jn6_customers_no_orders", "s2_binary_ingest",
    "graph_kcore", "a1_pricing_summary", "a8_event_value_quantiles",
    "bloom_contamination", "jn2_graph_fetch", "a7_bucket_metrics",
    "fn_scalar_suite", "p6_p8_text_gate",
)


def test_registry_order_and_size():
    names = list(entry.queries())
    assert len(names) == 104
    assert tuple(names[:50]) == GATE_50
    assert list(entry.oracle_sql()) == names


def test_registry_params_bind_to_both_builders():
    """Every row's gate params are accepted by its engine builder (after
    spark, sf_dir) and by its oracle builder."""
    for name, (build, oracle, params) in entry._registry().items():
        try:
            inspect.signature(build).bind(None, None, **params)
            inspect.signature(oracle).bind(**params)
        except TypeError as e:
            raise AssertionError(f"{name}: {e}") from e


def _literal(node: ast.AST) -> bool:
    try:
        ast.literal_eval(node)
    except ValueError:
        return False
    return True


def test_engine_builders_restate_no_oracle_param():
    """A q_* body that passes a literal under the name of one of its
    oracle builder's parameters states that gate value a second time: it
    belongs in the registry row's params, which feed both sides."""
    tree = ast.parse(inspect.getsource(entry))
    defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    restated = {}
    for name, (build, oracle, _) in entry._registry().items():
        oracle_params = inspect.signature(oracle).parameters
        hits = sorted(
            kw.arg
            for node in ast.walk(defs[build.__name__])
            if isinstance(node, ast.Call)
            for kw in node.keywords
            if kw.arg in oracle_params and _literal(kw.value)
        )
        if hits:
            restated[name] = hits
    assert restated == {}


def test_relation_guards_never_skip_a_matching_sentence():
    """Every guard keyword list must be implied by its regex: a sentence the
    regex matches always contains at least one guard keyword (lowercased).

    Two layers:
    1. the pattern source contains a literal fragment covering some guard
       (the original weak check — catches typos);
    2. for every word-only alternation group ``(?:a|b|c)`` that carries ANY
       guard keyword (i.e. the verb group), EVERY branch must contain a
       guard — otherwise a sentence matching the unguarded branch (e.g.
       "established" with only a "founded" guard) would be silently skipped
       by the pre-filter while the regex alone would match it."""
    for (rx, rel), guards in rules._GUARDED_PATTERNS:
        # layer 1: some literal fragment contains a guard
        literals = re.split(r"[\\()\[\]{}|?:+*$^]+", rx.pattern.lower())
        assert any(
            any(g in lit for lit in literals) for g in guards
        ), (rel, rx.pattern, guards)

        # layer 2: every branch of the guard-bearing alternation groups
        for m in re.finditer(r"\(\?\:([a-z?|]+)\)", rx.pattern.lower()):
            branches = [b.replace("?", "") for b in m.group(1).split("|")]
            if not any(any(g in b for g in guards) for b in branches):
                continue  # not the verb group (e.g. prepositions at|for|in)
            for b in branches:
                assert any(g in b for g in guards), (rel, rx.pattern, b, guards)

        # layer 2b: single-verb patterns (no alternation) — the non-group
        # literal words themselves must cover a guard, checked by layer 1


def test_guarded_extraction_matches_unguarded():
    """Running the relation patterns WITHOUT guards yields identical edges —
    the guards are a pure skip-optimization."""
    texts = [
        "John Doe is the CEO of Acme Corporation. Acme Corporation is located in London.",
        "Jane Roe founded Widget Corporation in Paris. Widgetware is used by Gadget Systems.",
        "Alpha Corporation acquired Beta Systems. Mr. Carl Dean manages the Gamma Division.",
        "Nothing capitalized here. just words. the end.",
        "Edge Case works at Edge Case.",  # self-pair dropped
    ]
    for text in texts:
        nodes, edges, triples = rules.extract_document(text)
        # unguarded re-run over the same sentences
        labels = rules.detect_mentions(text)
        by_lower = {}
        for i, label in enumerate(labels):
            by_lower.setdefault(label.lower(), (f"n{i + 1}", label))
        seen, unguarded = set(), []
        for sentence in rules.SENTENCE_SPLIT_RX.split(text):
            sentence = sentence.strip()
            if not sentence:
                continue
            for rx, rel in rules.RELATION_PATTERNS:
                for match in rx.findall(sentence):
                    pairs = (
                        [(match[0], match[1], rel), (match[1], match[2], "located_in")]
                        if len(match) == 3
                        else [(match[0], match[1], rel)]
                    )
                    for src, dst, r in pairs:
                        s, t = by_lower.get(src.lower()), by_lower.get(dst.lower())
                        if s is None or t is None or s[0] == t[0]:
                            continue
                        key = (s[0], t[0], r)
                        if key not in seen:
                            seen.add(key)
                            unguarded.append(key)
        assert edges == unguarded, text


def test_jn2_graph_fetch_counts_align(spark, sf_dir):
    rows = entry.queries()["jn2_graph_fetch"](spark, sf_dir).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.n_nodes == (0 if r.node_list == "" else r.node_list.count("|") + 1)
        assert r.n_triples == (
            0 if r.triple_list == "" else r.triple_list.count("|") + 1
        )
        # node ids are n1..nK in rank order
        if r.n_nodes:
            first = r.node_list.split("|")[0]
            assert first.startswith("n1:")


def test_p6_p8_text_gate_variants(spark, sf_dir):
    rows = {r.doc_id: r for r in entry.queries()["p6_p8_text_gate"](spark, sf_dir).collect()}
    for doc_id, r in rows.items():
        if doc_id % 31 in (7, 13):
            assert r.gate == "empty"
        elif doc_id % 31 == 1:
            assert r.gate == "oversize" and r.n_chars > 1000000
        else:
            assert r.gate == "valid"


def test_fn_scalar_suite_shapes(spark, sf_dir):
    import hashlib

    df = entry.queries()["fn_scalar_suite"](spark, sf_dir)
    rows = df.limit(5).collect()
    ids = [r.doc_id for r in rows]
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id").isin(ids))
        .collect()
    }
    for r in rows:
        text = docs[r.doc_id]
        assert r.sha256_hex == hashlib.sha256(text.encode()).hexdigest()
        assert r.md5_hex == hashlib.md5(text.encode()).hexdigest()
        assert r.prompt_chars == min(len(text), 2000)
        assert r.updated_chars == len(text) + 1 + len("appended update text")
