"""The benchmark's workloads.

Each workload owns its inputs (generated from the seed in `setup`), one
timed `run` of the shipped job, a `snapshot` of that run's output, a
reference for the output check (built in `reference` after the runs, so
neither set-up time nor the cold run includes it), a `check` of each
snapshot against it, and a `traced_run` that makes the same public calls
with every layer boundary materialized inside a span.

- kg_batch: normalize_documents -> fused_kg -> parquet KG with StubModel
  (no model latency); checked against the modular run_pipeline.
- kg_llm: the same job with HttpModelClient talking to the simulated
  endpoint over localhost; checked against the same answers served
  in-process.
- kg_resume: run_pipeline_checkpointed over the full corpus, resuming a
  copy of a store that already holds ~90% of the urls; checked against
  a from-scratch checkpointed run.
- kg_resolve: global_entity_resolution over the entity texts of a KG
  built in set-up, with a seeded share of alias pairs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ctinexus_spark.checkpoint import StageStore
from ctinexus_spark.client import HttpModelClient
from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.datagen import synthesize_documents
from ctinexus_spark.graph.components import connected_components
from ctinexus_spark.model import StubModel, stub_embedding
from ctinexus_spark.operators.dedup import embedding_near_dups_lsh
from ctinexus_spark.operators.ea import embed_mentions
from ctinexus_spark.operators.fused import (
    align_graph_triples,
    extract_and_tag,
    extracted_triples,
    fused_kg,
    link_main_pairs,
)
from ctinexus_spark.operators.normalize import normalize_documents
from ctinexus_spark.operators.resolve import global_entity_resolution
from ctinexus_spark.partitioning import barrier
from ctinexus_spark.pipeline import run_pipeline, run_pipeline_checkpointed
from perfbench.endpoint import Answerer, InProcessTransport, SimEndpoint, endpoint_stats
from perfbench.trace import MB, Tracer

STAGES = ("documents_clean", "triples_typed", "kg_fused_rows", "kg_links")
KG_COLUMNS = ("url", "subj", "pred", "obj", "source")


@dataclass
class RunOutcome:
    items: int
    model_requests: int | None = None
    request_kb: float | None = None


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / MB


def parquet_rows(path: str, columns=None) -> list[tuple]:
    """All rows of a parquet directory, sorted: the multiset to compare."""
    table = pq.read_table(path, columns=list(columns) if columns else None)
    cols = [table.column(c).to_pylist() for c in table.column_names]
    return sorted(zip(*cols), key=lambda r: json.dumps(r))


def kg_digest(path: str) -> str:
    return hashlib.sha256(json.dumps(parquet_rows(path, KG_COLUMNS)).encode()).hexdigest()


def storage_by_rdd(spark) -> dict[int, float]:
    """MB held in Spark storage (memory + disk) per persisted RDD id."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id(): (i.memSize() + i.diskSize()) / MB for i in infos}


def stored_since(spark, before: dict[int, float]) -> float:
    return sum(mb for rdd, mb in storage_by_rdd(spark).items() if rdd not in before)


def persisted(df):
    """Tracing-only boundary: cache and count, so the span covers the
    layer's work. Callers unpersist when the run ends."""
    df = df.persist()
    return df, df.count()


def write_documents(spark, path: str, n_docs: int, seed: int, **kwargs) -> None:
    synthesize_documents(spark, n_docs=n_docs, seed=seed, **kwargs).write.mode("overwrite").parquet(path)


class FusedKg:
    """normalize_documents -> fused_kg -> parquet, as jobs/run_kg.py
    does without --resume. Subclasses choose the model client."""

    name = ""
    n_docs = 0

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.cfg = PipelineConfig()
        self.docs_dir = os.path.join(work, "docs")
        self.out_dir = os.path.join(work, "kg")
        self.ref_dir = os.path.join(work, "kg_reference")
        self.reference_digest = ""
        self.model = None

    def close(self) -> None:
        pass

    def setup(self) -> None:
        write_documents(self.spark, self.docs_dir, self.n_docs, self.seed)

    def prepare(self) -> None:
        pass

    def _docs(self):
        return normalize_documents(self.spark.read.parquet(self.docs_dir), lang_filter="en")

    def run(self) -> RunOutcome:
        fused_kg(self._docs(), self.model, self.cfg).write.mode("overwrite").parquet(self.out_dir)
        return RunOutcome(self.n_docs)

    def snapshot(self) -> str:
        return kg_digest(self.out_dir)

    def check(self, snapshot: str) -> bool:
        return snapshot == self.reference_digest

    def client_metrics(self) -> dict[str, float]:
        return {}

    def traced_run(self, tr: Tracer) -> dict[str, float]:
        """fused_kg's public calls, one span per layer."""
        spark, m = self.spark, {}
        raw = spark.read.parquet(self.docs_dir)
        with tr.span("normalize"):
            docs, m["normalize.docs_out"] = persisted(normalize_documents(raw, lang_filter="en"))
        m["normalize.docs_in"] = self.n_docs
        with tr.span("ie_et"):
            typed, m["ie_et.triples_out"] = persisted(extract_and_tag(docs, self.model))
        m["ie_et.valid_frac"] = typed.filter("valid").count() / max(1, m["ie_et.triples_out"])
        with tr.span("align"):
            aligned, _ = persisted(align_graph_triples(typed, self.model, self.cfg))
        before = storage_by_rdd(spark)
        with tr.span("barrier"):
            fused = barrier(aligned)
        m["barrier.stored_mb"] = stored_since(spark, before)
        counts = fused.agg(
            F.sum(F.when(F.col("row_type") == "triple", 2).otherwise(0)).alias("mentions"),
            F.sum(F.when(F.col("row_type") == "main_pair", 1).otherwise(0)).alias("pairs"),
        ).first()
        ents = fused.filter(F.col("row_type") == "triple")
        m["align.mentions_in"] = counts["mentions"] or 0
        m["align.main_pairs_out"] = counts["pairs"] or 0
        m["align.entities_out"] = (
            ents.select("url", F.col("s_entity_id").alias("e"))
            .unionByName(ents.select("url", F.col("o_entity_id").alias("e")))
            .distinct().count()
        )
        with tr.span("lp"):
            links, m["lp.pairs_in"] = persisted(link_main_pairs(fused, docs, self.model))
        status = {r["status"]: r["count"] for r in links.groupBy("status").count().collect()}
        m["lp.links_ok"] = status.get("ok", 0)
        m["lp.hallucinations"] = status.get("hallucination", 0)
        predicted = links.filter(F.col("status") == "ok").select(
            "url", F.col("subject_text").alias("subj"), F.col("relation").alias("pred"),
            F.col("object_text").alias("obj"), F.lit("predicted").alias("source"))
        with tr.span("write"):
            extracted_triples(fused).unionByName(predicted).write.mode("overwrite").parquet(self.out_dir)
        m["write.mb"] = dir_mb(self.out_dir)
        for name in ("normalize", "ie_et", "align", "barrier", "lp", "write"):
            m[f"{name}.span_s"] = tr.seconds(name)
        m.update(self.client_metrics())
        for df in (docs, typed, aligned, links):
            df.unpersist()
        return m


class KgBatch(FusedKg):
    """Fused KG build with zero model latency: CPU-bound on the Arrow
    passes and the url shuffle, the client layer idle."""

    name = "kg_batch"
    n_docs = 600

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.model = StubModel(self.cfg)

    def setup(self) -> None:
        # No duplicate urls: fused_kg and run_pipeline disagree on
        # documents that share a url (fused_kg aligns them as one graph).
        write_documents(self.spark, self.docs_dir, self.n_docs, self.seed, frac_dup_url=0.0)

    def reference(self) -> None:
        """The modular path (run_pipeline) over the same corpus."""
        result = run_pipeline(self.spark.read.parquet(self.docs_dir), StubModel(self.cfg), self.cfg,
                              lang_filter="en")
        result.kg.select(*KG_COLUMNS).write.mode("overwrite").parquet(self.ref_dir)
        self.reference_digest = kg_digest(self.ref_dir)
        # run_pipeline caches its branch points; the warm runs come next
        for df in (result.documents_clean, result.triples_typed, result.aligned_nodes):
            df.unpersist()


class KgLlm(FusedKg):
    """Fused KG build bound by model latency and fan-out."""

    name = "kg_llm"
    n_docs = 300
    delay_s = 0.05

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.answerer = Answerer(seed)
        self.endpoint = SimEndpoint(self.answerer, delay_s=self.delay_s, fail_share=0.02).__enter__()
        self.model = HttpModelClient("sim", api_base=self.endpoint.api_base)

    def close(self) -> None:
        self.endpoint.__exit__(None, None, None)

    def prepare(self) -> None:
        self.endpoint.reset()

    def reference(self) -> None:
        local = HttpModelClient("sim", transport=InProcessTransport(self.answerer))
        fused_kg(self._docs(), local, self.cfg).write.mode("overwrite").parquet(self.ref_dir)
        self.reference_digest = kg_digest(self.ref_dir)

    def run(self) -> RunOutcome:
        super().run()
        records = self.endpoint.records()
        return RunOutcome(self.n_docs, len(records), sum(r.bytes_in for r in records) / 1024)

    def client_metrics(self) -> dict[str, float]:
        return {f"client.{k}": v for k, v in endpoint_stats(self.endpoint.records()).items()}


class TracedStageStore(StageStore):
    """StageStore whose calls open spans under checkpoint.<stage>. The
    stage's transform is materialized in its own `compute` span, so the
    `commit` span (the version write and manifest swap) holds only the
    write of rows already computed."""

    def __init__(self, root: str, tracer: Tracer, fresh_rows: dict[str, int]):
        super().__init__(root)
        self.tracer, self.fresh_rows = tracer, fresh_rows
        self.cached: list = []

    def run_stage(self, spark, stage, inputs, transform, key="url", partition_by=None):
        def materialized(todo):
            with self.tracer.span(f"checkpoint.{stage}.compute"):
                fresh, self.fresh_rows[stage] = persisted(transform(todo))
            self.cached.append(fresh)
            return fresh

        with self.tracer.span(f"checkpoint.{stage}"):
            return super().run_stage(spark, stage, inputs, materialized, key, partition_by)

    def remaining(self, spark, inputs, stage, key="url"):
        with self.tracer.span(f"checkpoint.{stage}.remaining"):
            todo = super().remaining(spark, inputs, stage, key)
            todo.count()
        return todo

    def load(self, spark, stage):
        with self.tracer.span(f"checkpoint.{stage}.load"):
            return super().load(spark, stage)

    def _append_version(self, df, stage, *args, **kwargs):
        with self.tracer.span(f"checkpoint.{stage}.commit"):
            return super()._append_version(df, stage, *args, **kwargs)


def _manifest_versions(store_root: str, stage: str) -> list[str]:
    path = os.path.join(store_root, stage, "_MANIFEST.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)["versions"]


class KgResume:
    """Bring a checkpointed KG up to date: resume over the full corpus
    from a store that already holds ~90% of the urls."""

    name = "kg_resume"
    n_docs = 1000
    delta_share = 0.1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.cfg = PipelineConfig()
        self.model = StubModel(self.cfg)
        self.docs_dir = os.path.join(work, "docs")
        self.base_store = os.path.join(work, "base_store")
        self.store = os.path.join(work, "store")
        self.out_dir = os.path.join(work, "kg")
        self.delta_docs = 0
        self.reference_digest = ""

    def close(self) -> None:
        pass

    def _is_delta(self):
        # seeded url hash: duplicate-url rows land on the same side
        return F.pmod(F.xxhash64(F.lit(f"{self.seed}:delta"), F.col("url")), F.lit(1000)) < int(
            1000 * self.delta_share)

    def setup(self) -> None:
        write_documents(self.spark, self.docs_dir, self.n_docs, self.seed)
        full = self.spark.read.parquet(self.docs_dir)
        self.delta_docs = full.filter(self._is_delta()).count()
        shutil.rmtree(self.base_store, ignore_errors=True)
        run_pipeline_checkpointed(
            self.spark, full.filter(~self._is_delta()), self.model, StageStore(self.base_store), self.cfg)

    def prepare(self) -> None:
        """Untimed: a fresh copy of the pre-committed store."""
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.base_store, self.store)

    def _resume(self, store: StageStore):
        return run_pipeline_checkpointed(
            self.spark, self.spark.read.parquet(self.docs_dir), self.model, store, self.cfg)

    def run(self) -> RunOutcome:
        self._resume(StageStore(self.store)).write.mode("overwrite").parquet(self.out_dir)
        return RunOutcome(self.delta_docs)

    def reference(self) -> None:
        """A from-scratch checkpointed run over the full corpus."""
        ref_store = os.path.join(self.work, "reference_store")
        ref_dir = os.path.join(self.work, "kg_reference")
        shutil.rmtree(ref_store, ignore_errors=True)
        self._resume(StageStore(ref_store)).write.mode("overwrite").parquet(ref_dir)
        self.reference_digest = kg_digest(ref_dir)
        shutil.rmtree(ref_store, ignore_errors=True)

    def snapshot(self) -> str:
        return kg_digest(self.out_dir)

    def check(self, snapshot: str) -> bool:
        return snapshot == self.reference_digest

    def traced_run(self, tr: Tracer) -> dict[str, float]:
        """run()'s calls with every StageStore call inside a span."""
        m: dict[str, float] = {}
        fresh: dict[str, int] = {}
        before_versions = {s: _manifest_versions(self.store, s) for s in STAGES}
        store = TracedStageStore(self.store, tr, fresh)
        with tr.span("resume"):
            kg = self._resume(store)
        with tr.span("write"):
            kg.write.mode("overwrite").parquet(self.out_dir)
        m["write.span_s"] = tr.seconds("write")
        m["write.mb"] = dir_mb(self.out_dir)
        for stage in STAGES:
            p = f"checkpoint.{stage}"
            new = [v for v in _manifest_versions(self.store, stage) if v not in before_versions[stage]]
            m[f"{p}.remaining_s"] = tr.seconds(f"{p}.remaining")
            m[f"{p}.load_s"] = tr.seconds(f"{p}.load", parent=p)
            m[f"{p}.commit_s"] = tr.seconds(f"{p}.commit")
            m[f"{p}.fresh_rows"] = fresh.get(stage, 0)
            m[f"{p}.commit_mb"] = sum(dir_mb(os.path.join(self.store, stage, v)) for v in new)
        for df in store.cached:
            df.unpersist()
        return m


class KgResolve:
    """Cross-document entity resolution over the entity texts of a KG
    built in set-up. A seeded share of the texts comes in disjoint
    (alias, canonical) pairs with identical embeddings."""

    name = "kg_resolve"
    n_docs = 400
    alias_share = 0.1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.cfg = PipelineConfig()
        self.docs_dir = os.path.join(work, "docs")
        self.kg_dir = os.path.join(work, "kg_input")
        self.out_dir = os.path.join(work, "resolved")
        self.texts: list[str] = []
        self.alias_of: dict[str, str] = {}
        self.model: StubModel | None = None

    def close(self) -> None:
        pass

    def setup(self) -> None:
        write_documents(self.spark, self.docs_dir, self.n_docs, self.seed)
        docs = normalize_documents(self.spark.read.parquet(self.docs_dir), lang_filter="en")
        fused_kg(docs, StubModel(self.cfg), self.cfg).write.mode("overwrite").parquet(self.kg_dir)
        self.texts = sorted({t for row in parquet_rows(self.kg_dir, ("subj", "obj")) for t in row if t is not None})
        self.alias_of = self._alias_pairs(self.texts)
        overrides = {a: stub_embedding(c, self.cfg.embedding_dim).tolist() for a, c in self.alias_of.items()}
        self.model = StubModel(self.cfg, embed_overrides=overrides)

    def _alias_pairs(self, texts: list[str]) -> dict[str, str]:
        """Seeded disjoint (alias -> canonical) pairs over alias_share of
        the texts. The alias gets its canonical's exact embedding, so
        every LSH banding puts the pair in one bucket."""
        order = sorted(texts, key=lambda t: hashlib.md5(f"{self.seed}:alias:{t}".encode()).digest())
        k = int(len(order) * self.alias_share) // 2
        return {order[2 * i]: order[2 * i + 1] for i in range(k)}

    def prepare(self) -> None:
        pass

    def _entities(self):
        kg = self.spark.read.parquet(self.kg_dir)
        return kg.select(F.col("subj").alias("entity_text")).unionByName(
            kg.select(F.col("obj").alias("entity_text")))

    def run(self) -> RunOutcome:
        global_entity_resolution(self._entities(), self.model, self.cfg.similarity_threshold).write.mode(
            "overwrite").parquet(self.out_dir)
        return RunOutcome(len(self.texts))

    def reference(self) -> None:
        """The expected rows follow from the texts and the alias map,
        both fixed in set-up."""

    def snapshot(self) -> list[tuple]:
        return parquet_rows(self.out_dir, ("entity_text", "global_id"))

    def check(self, rows: list[tuple]) -> bool:
        resolved = [(t, g) for t, g in rows if t is not None]
        texts = [t for t, _ in resolved]
        if len(texts) != len(set(texts)) or sorted(texts) != self.texts:
            return False
        got = dict(resolved)
        members: dict[str, list[str]] = {}
        for t, g in got.items():
            members.setdefault(g, []).append(t)
        return (all(got[a] == got[c] for a, c in self.alias_of.items())
                and all(g == min(ts) for g, ts in members.items()))

    def traced_run(self, tr: Tracer) -> dict[str, float]:
        """The calls global_entity_resolution makes, each boundary
        materialized inside a span."""
        spark, m = self.spark, {}
        before = storage_by_rdd(spark)
        with tr.span("barrier"):
            texts = barrier(self._entities().select("entity_text").distinct())
        m["resolve.texts_in"] = texts.count()
        with tr.span("resolve.embed"):
            emb = embed_mentions(texts.select(F.col("entity_text").alias("mention_text")), self.model)
            emb = barrier(emb.select(F.col("mention_text").alias("entity_text"), "embedding"))
        m["barrier.stored_mb"] = stored_since(spark, before)
        with tr.span("resolve.lsh"):
            pairs, m["resolve.pairs_out"] = persisted(embedding_near_dups_lsh(
                emb, id_col="entity_text", vec_col="embedding",
                threshold=self.cfg.similarity_threshold, input_materialized=True))
        with tr.span("resolve.cc"):
            comps, _ = persisted(connected_components(pairs, "a_id", "b_id"))
        m["resolve.components"] = comps.select("component").distinct().count()
        resolved = texts.join(comps.withColumnRenamed("vertex", "entity_text"), "entity_text", "left").select(
            "entity_text", F.coalesce(F.col("component"), F.col("entity_text")).alias("global_id"))
        with tr.span("write"):
            resolved.write.mode("overwrite").parquet(self.out_dir)
        m["resolve.merged_texts"] = sum(t != g for t, g in parquet_rows(self.out_dir))
        m["resolve.alias_frac"] = 2 * len(self.alias_of) / max(1, len(self.texts))
        m["resolve.embed_s"] = tr.seconds("resolve.embed")
        m["resolve.lsh_s"] = tr.seconds("resolve.lsh")
        m["resolve.cc_s"] = tr.seconds("resolve.cc")
        m["barrier.span_s"] = tr.seconds("barrier")
        m["write.span_s"] = tr.seconds("write")
        m["write.mb"] = dir_mb(self.out_dir)
        for df in (pairs, comps):
            df.unpersist()
        return m


WORKLOADS = {w.name: w for w in (KgBatch, KgLlm, KgResume, KgResolve)}
