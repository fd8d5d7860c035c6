"""The workloads: their inputs, the timed operation, its output check and
the traced pass that splits the operation into layers.

Every call into the engine goes through public ``kgx`` functions. The
traced pass calls the same layers one at a time, each under its own Spark
job group, so the event log and the ``/proc`` sampler can charge work to a
layer from outside the program.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

import oracle
import procmon
from gen import CorpusSpec

#: Buckets of the KG pipeline. The CLI default is 64: at 4 local cores and
#: a few hundred documents that makes 256 salted extraction tasks whose
#: fixed cost hides the extraction itself, so the benchmark uses 4 (16 tasks).
N_BUCKETS = 4
#: ``PipelineConfig.salt_factor`` default: extraction tasks per bucket
SALT_FACTOR = 4

#: documents whose in-process rule extraction gives ``rules.us_per_doc``
RULES_SAMPLE = 200

_PLANTED = dict(exact_dup_share=0.05, near_dup_share=0.05, boilerplate_share=0.2, pii_share=0.1)


@dataclass(frozen=True)
class Workload:
    name: str
    spec: CorpusSpec
    #: same shape, fewer documents, fixed seed: run once during set-up to
    #: fill the JVM's JIT and codegen caches and spawn the Python workers
    warm_spec: CorpusSpec


WORKLOADS = {
    # Cold build through the salted-repartition path, then a resumed run
    # over the committed output that adds the canonical map with MinHash
    # linking: extraction, the span shuffle and the length skew in the
    # first call; lineage, linking and LSH over short labels in the
    # second, which must re-extract nothing.
    "kg": Workload("kg", CorpusSpec(docs=300), CorpusSpec(docs=16)),
    # The curation funnel over planted exact and near duplicates,
    # boilerplate sentences and PII: textstats, dedup (LSH over long word
    # shingle sets of few documents) and curation work; extraction and
    # linking do not run.
    "curate": Workload("curate", CorpusSpec(docs=500, **_PLANTED), CorpusSpec(docs=16, **_PLANTED)),
}

WARM_SEED = 20_240_601


# ---------------------------------------------------------------------------
# output readers (pyarrow, independent of the Spark session under test)
# ---------------------------------------------------------------------------

def _table(path: str, columns: list[str]):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def _rows(path: str, columns: list[str]) -> list[tuple]:
    t = _table(path, columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def written(root: str, since: float, until: float = float("inf")) -> tuple[int, int]:
    """(files, bytes) under ``root`` last modified within [since, until]."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if since <= st.st_mtime <= until:
                files += 1
                size += st.st_size
    return files, size


def reextracted_docs(out_dir: str, run_id: str) -> int:
    """Documents the run ``run_id`` committed to the lineage table."""
    t = _table(os.path.join(out_dir, "lineage"), ["run_id", "docs"])
    return sum(d for r, d in zip(t.column("run_id").to_pylist(), t.column("docs").to_pylist()) if r == run_id)


# ---------------------------------------------------------------------------
# the timed operations
# ---------------------------------------------------------------------------

def _spans(spark, documents_parquet: str):
    from kgx.sources import corpus, docs as docs_src

    return docs_src.spans_table(corpus.narrative_documents(spark.read.parquet(documents_parquet)))


def run_build(spark, documents_parquet: str, out_dir: str) -> dict:
    """Cold ``pipeline.run`` through the salted-repartition path."""
    from kgx.plans import pipeline

    cfg = pipeline.PipelineConfig(out_dir=out_dir, n_buckets=N_BUCKETS, resume=False)
    return pipeline.run(spark, _spans(spark, documents_parquet), cfg)


def run_link(spark, documents_parquet: str, out_dir: str) -> dict:
    """Resume over a committed build, adding the canonical map."""
    from kgx.plans import pipeline

    cfg = pipeline.PipelineConfig(
        out_dir=out_dir, n_buckets=N_BUCKETS, resume=True,
        canonicalize=True, use_minhash_linking=True,
    )
    return pipeline.run(spark, _spans(spark, documents_parquet), cfg)


def _curation_config(out_dir: str):
    from kgx.plans.curation_pipeline import CurationConfig

    return CurationConfig(
        out_dir=out_dir,
        min_tokens=oracle.CURATE_MIN_TOKENS,
        quality_kwargs={"max_symbol_ratio": oracle.CURATE_MAX_SYMBOL_RATIO},
    )


def run_curate(spark, documents_parquet: str, out_dir: str) -> dict:
    from kgx.plans import curation_pipeline
    from kgx.sources import corpus

    docs = corpus.narrative_documents(spark.read.parquet(documents_parquet))
    return curation_pipeline.run(spark, docs, _curation_config(out_dir))


def _no_layer(name: str):
    return nullcontext()


class Op:
    """One workload's timed operation over one corpus: :meth:`run` is the
    timed call into a fresh output directory, :meth:`check` compares what
    it committed with the oracle."""

    def __init__(self, name: str, documents_parquet: str):
        self.name = name
        self.documents = documents_parquet

    def run(self, spark, out_dir: str, layer=_no_layer) -> dict:
        if self.name == "curate":
            with layer("op.curate"):
                return run_curate(spark, self.documents, out_dir)
        with layer("op.build"):
            build = run_build(spark, self.documents, out_dir)
        with layer("op.link"):
            link = run_link(spark, self.documents, out_dir)
        return {"build": build, "link": link}

    def check(self, result: dict, out_dir: str, expected: dict) -> tuple[int, str | None]:
        """(committed rows, error or None)."""
        if self.name == "curate":
            got = {"curated": oracle.digest(_rows(os.path.join(out_dir, "curated"), ["doc_id", "text"]))}
            rows = result["final_docs"]
        else:
            rows = result["link"]["triples"]
            redone = reextracted_docs(out_dir, result["link"]["run_id"])
            if redone:
                return rows, f"the resumed run re-extracted {redone} documents"
            got = {
                "triples": oracle.digest(_rows(os.path.join(out_dir, "triples"), ["doc_id", "subj", "pred", "obj"])),
                "canonical_map": oracle.digest(
                    _rows(os.path.join(out_dir, "canonical_map"), ["label", "canonical_label"])
                ),
            }
        for key, want in expected.items():
            if got[key] != want:
                return rows, f"{key}: output {got[key]} differs from oracle {want}"
        return rows, None


# ---------------------------------------------------------------------------
# traced pass
# ---------------------------------------------------------------------------

class Tracer:
    """Times calls into one layer at a time. Each layer runs under a Spark
    job group named after it, and records its wall window and the CPU the
    JVM and the Python workers spent in it. ``bookkeeping_s`` sums the
    time spent doing so, the overhead tracing adds to the layers' calls."""

    def __init__(self, spark, tree: procmon.ProcessTree):
        self.spark = spark
        self.tree = tree
        self.layers: dict[str, dict] = {}
        self.bookkeeping_s = 0.0

    @contextmanager
    def layer(self, name: str):
        sc = self.spark.sparkContext
        b0 = time.time()
        sc.setJobGroup(name, name)
        before = self.tree.sample()
        t0 = time.time()
        self.bookkeeping_s += t0 - b0
        try:
            yield
        finally:
            t1 = time.time()
            cpu = procmon.delta(before, self.tree.sample())
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.layers[name] = {"start": t0, "end": t1, "wall_s": t1 - t0, **cpu}
            self.bookkeeping_s += time.time() - t1

    def wall(self, name: str) -> float:
        return self.layers[name]["wall_s"]

    def owner(self, group: str | None, submitted_ms: int) -> str | None:
        """Layer a job belongs to: its job group, or for a job submitted
        from a thread that did not inherit the group (the pipeline's
        concurrent flat writes), the layer whose window holds it."""
        if group in self.layers:
            return group
        for name, span in self.layers.items():
            if span["start"] * 1e3 <= submitted_ms <= span["end"] * 1e3:
                return name
        return None


def _count(df, *aggs):
    from pyspark.sql import functions as F

    return df.agg(F.count("*"), *aggs).collect()[0]


def _lsh_metrics(m: dict, candidates: int, verified: int) -> None:
    m["dedup.lsh_candidates"] = candidates
    m["dedup.lsh_verified"] = verified
    m["dedup.lsh_yield"] = verified / candidates if candidates else 0.0


def trace_kg(tr: Tracer, op: Op, result: dict, out: str, m: dict) -> None:
    from pyspark.sql import functions as F

    from kgx.operators import dedup, extract, linking, rules, spans as spans_op
    from kgx.plans import lineage

    spark = tr.spark
    build = tr.layers["op.build"]
    for stage, sec in result["build"]["stages"].items():
        m[f"pipeline.{stage}_s"] = sec
    m["pipeline.output_files"], size = written(out, build["start"], build["end"])
    m["pipeline.output_mb"] = size / 1e6
    m["lineage.buckets_skipped"] = N_BUCKETS - result["link"]["buckets_this_run"]
    m["lineage.docs_reextracted"] = reextracted_docs(out, result["link"]["run_id"])
    cmap = _table(os.path.join(out, "canonical_map"), ["label", "canonical_label"])
    m["linking.merged_labels"] = sum(
        a != b for a, b in zip(cmap.column("label").to_pylist(), cmap.column("canonical_label").to_pylist())
    )
    with tr.layer("lineage"):
        lineage.completed_buckets(spark, out)
    m["lineage.completed_buckets_s"] = tr.wall("lineage")

    with tr.layer("sources"):
        # spread like the pipeline's salted stage, so extraction runs in as
        # many tasks as it does there
        sp = _spans(spark, op.documents).repartition(N_BUCKETS * SALT_FACTOR).persist()
        m["sources.rows"] = sp.count()
    m["sources.busy_s"] = tr.wall("sources")

    with tr.layer("extract"):
        row = _count(extract.extract_graphs(spans_op.with_doc_text(sp)), F.sum(F.size("triples")))
    span = tr.layers["extract"]
    m["extract.docs"], m["extract.triples"] = row[0], row[1] or 0
    m["extract.busy_s"] = span["wall_s"]
    m["extract.python_cpu_s"] = span["python"]
    m["extract.jvm_cpu_s"] = span["jvm"]

    sample = [
        r[0]
        for r in spans_op.with_doc_text(sp).orderBy("doc_id").select("doc_text").limit(RULES_SAMPLE).collect()
    ]
    with tr.layer("rules"):
        for text in sample:
            rules.extract_document(text)
    sp.unpersist()
    per_doc_s = tr.wall("rules") / len(sample)
    m["rules.us_per_doc"] = per_doc_s * 1e6
    if span["python"] > 0:
        m["extract.crossing_share"] = 1 - per_doc_s * m["extract.docs"] / span["python"]

    graphs = spark.read.parquet(os.path.join(out, "graphs"))
    with tr.layer("linking.labels"):
        labels = linking.distinct_labels(extract.nodes_table(graphs)).localCheckpoint(eager=True)
        m["linking.labels"] = labels.count()
    with tr.layer("linking.alias_edges"):
        alias = linking.alias_edges(labels).localCheckpoint(eager=True)
        m["linking.alias_edges"] = alias.count()
    m["linking.alias_edges_s"] = tr.wall("linking.alias_edges")
    # linking's MinHash edges are dedup.minhash_lsh_pairs over the labels,
    # so one call gives both layers' time and verified pairs
    with tr.layer("linking.minhash_edges"):
        mh = linking.minhash_edges(labels).localCheckpoint(eager=True)
        verified = mh.count()
    m["linking.minhash_edges_s"] = m["dedup.minhash_s"] = tr.wall("linking.minhash_edges")
    with tr.layer("dedup.candidates"):
        cands = dedup.minhash_lsh_pairs(
            labels.select(F.col("label").alias("lbl")), threshold=0.0,
            shingle_expr=dedup.char_shingle_expr("lbl", 3), id_col="lbl",
        ).count()
    _lsh_metrics(m, cands, verified)
    with tr.layer("linking.cc"):
        edges = alias.unionByName(mh.select("src_label", "dst_label")).distinct()
        comp = linking.connected_components(edges).localCheckpoint(eager=True)
    m["linking.cc_s"] = tr.wall("linking.cc")
    with tr.layer("linking.canonical_triples"):
        cm = labels.join(comp, "label", "left").select(
            "label", F.coalesce("component", "label").alias("canonical_label")
        )
        _count(linking.canonical_triples(extract.triples_table(graphs), cm))
    m["linking.canonical_triples_s"] = tr.wall("linking.canonical_triples")


def trace_curate(tr: Tracer, op: Op, result: dict, out: str, m: dict) -> None:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from kgx.operators import curation, dedup, textstats
    from kgx.sources import corpus

    m["curate.quality_kept"] = result["after_quality"]
    m["curate.exact_kept"] = result["after_exact_dedup"]
    m["curate.near_dup_kept"] = result["after_near_dup"]
    m["curate.pii_kept"] = result["after_pii"]
    m["curate.prune_kept"] = result["final_docs"]

    # the funnel stage by stage, through the operators run() composes
    cfg = _curation_config(out)
    held = []

    def _keep(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(df)
        df.count()
        return df

    docs = _keep(corpus.narrative_documents(tr.spark.read.parquet(op.documents)))
    with tr.layer("curate.quality"):
        passing = textstats.quality_filter(
            docs, min_tokens=cfg.min_tokens, **cfg.quality_kwargs
        ).where("passes").select("doc_id")
        docs = _keep(docs.join(passing, "doc_id", "left_semi"))
    with tr.layer("curate.exact"):
        keep = dedup.exact_groups(docs).where("doc_id = canonical_doc_id").select("doc_id")
        docs = _keep(docs.join(keep, "doc_id", "left_semi"))
    exact = docs
    with tr.layer("curate.near_dup"):
        keep = (
            dedup.near_dup_clusters(docs, threshold=cfg.near_dup_threshold)
            .where("NOT is_duplicate").select("doc_id")
        )
        docs = _keep(docs.join(keep, "doc_id", "left_semi"))
    with tr.layer("curate.pii"):
        docs = _keep(curation.pii_scrub(docs).select("doc_id", F.col("clean_text").alias("text")))
    with tr.layer("curate.prune"):
        _keep(curation.sentence_prune(docs).where("n_kept > 0"))
    for stage in ("quality", "exact", "near_dup", "pii", "prune"):
        m[f"curate.{stage}_s"] = tr.wall(f"curate.{stage}")

    with tr.layer("dedup.minhash"):
        verified = dedup.minhash_lsh_pairs(exact, threshold=cfg.near_dup_threshold).count()
    m["dedup.minhash_s"] = tr.wall("dedup.minhash")
    with tr.layer("dedup.candidates"):
        cands = dedup.minhash_lsh_pairs(exact, threshold=0.0).count()
    _lsh_metrics(m, cands, verified)
    for df in held:
        df.unpersist()


TRACES = {"kg": trace_kg, "curate": trace_curate}


def spark_metrics(tr: Tracer, jobs, m: dict) -> None:
    """Fold the event log's jobs into per-layer Spark counters."""
    import eventlog

    owned: dict[str, list] = {}
    for job in jobs:
        name = tr.owner(job.group, job.submitted_ms)
        if name is not None:
            owned.setdefault(name, []).append(job)
    total = eventlog.fold([j for js in owned.values() for j in js])
    m["spark.executor_cpu_s"] = total["cpu_s"]
    m["spark.gc_s"] = total["gc_s"]
    m["spark.shuffle_read_mb"] = total["shuffle_read_bytes"] / 1e6
    m["spark.jobs"] = total["jobs"]
    if "op.build" in owned:
        p = eventlog.fold(owned["op.build"])
        m["pipeline.shuffle_write_mb"] = p["shuffle_write_bytes"] / 1e6
        m["pipeline.shuffle_records"] = p["shuffle_write_records"]
        m["pipeline.spill_mb"] = (p["memory_spill_bytes"] + p["disk_spill_bytes"]) / 1e6
        m["pipeline.gc_s"] = p["gc_s"]
        m["pipeline.tasks"] = p["tasks"]
        # the build's heaviest stage is the salted extraction stage
        m["extract.task_skew"] = p["task_skew"]


def median(xs):
    return statistics.median(xs) if xs else 0.0
