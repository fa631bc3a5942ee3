"""The flagship KG-construction DAG (SURVEY.md §3 E3, §4.4) — one stage
graph, built once per Pipeline, in both modes:

documents_interleaved ──(JVM array ops)── full_text
  → word split (Arrow pandas UDF) → mention detection (broadcast dict join)
    → dictionary linking (broadcast join, J4)
  → BPE token arrays (Arrow pandas UDF, X1) ⋈ per-doc mention lists
    → encode + bi-affine score (mapInPandas, P1+P2)
  → LSE pooling (A2) → threshold (F7) → canonical triples (D8)
  → salted dedup/edges (A5/P3; run() only)

Lazy mode (``checkpoint=False``, what ``flagship()`` and ``entry()`` build)
composes the stages into one plan and touches no disk; under run() each
stage carries an Observation for its row count. The sf0.001 plan on local[4] has 3
ArrowEvalPython nodes (words_udf twice: Catalyst pushes the filter it
infers from detection's posexplode below the even repartition, so the UDF
also runs on the raw splits; ta_udf once), 1 MapInPandas and 5 shuffle
Exchanges: a round-robin split before each of the three Python stages, the
per-doc mention collect on doc_id, and the LSE pool on (doc, chem, dis).
tests/test_plan_shape.py pins these counts.

Checkpoint mode (``checkpoint=True``) runs the same stages but commits each
one through ManifestParquetTableIO (lineage, config hash, observed row
counts) and hands the re-read table to the next stage; ``resume=True``
serves a committed stage whose config and input snapshots still match.
Detection + linking commit once, and the unlinked quarantine is derived
from that commit, so the word split runs in one action. Scoring commits
per doc_id hash bucket; the bucket predicate reaches the document FileScan,
so each bucket tokenizes only its own documents. tests/test_resume.py
drives the kill-and-rerun path.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bran_spark.functions.bpe import (
    full_text_col,
    load_codec,
    with_token_arrays,
    with_words,
)
from bran_spark.model.encoder import Weights
from bran_spark.model.scorer import score_documents
from bran_spark.operators.evaluate import confusion
from bran_spark.operators.linking import canonical_triples, resolve_mentions, split_resolved
from bran_spark.operators.mentions import detect_mentions
from bran_spark.operators.pooling import dedup_triples, lse_pool, threshold, to_triples
from bran_spark.sources.tableio import ManifestParquetTableIO, observe_counts


@dataclass
class PipelineConfig:
    fixture_dir: str
    checkpoint_root: str | None = None  # required when checkpoint=True
    theta: float = 0.0
    score_buckets: int = 8          # resume granularity of the expensive stage
    salt_buckets: int = 16          # P3 skew fan-out
    max_tokens: int = 512           # F4 cap
    checkpoint: bool = True
    emit: str = "pairs"             # "pairs" | "both" (joint NER+pairs, P4)

    def __post_init__(self):
        if self.checkpoint and self.checkpoint_root is None:
            raise ValueError("checkpoint=True needs a checkpoint_root")


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig,
        docs_df: DataFrame | None = None,
        mesh_df: DataFrame | None = None,
    ):
        """``docs_df``/``mesh_df`` inject alternative inputs (e.g. the
        plain-corpus adapter, sources.interleave); default reads the
        fixture tables from cfg.fixture_dir."""
        self.spark = spark
        self.cfg = cfg
        self.io = ManifestParquetTableIO(cfg.checkpoint_root) if cfg.checkpoint else None
        self._docs_df = docs_df
        self._mesh_df = mesh_df
        self._codec_bc = None
        self._weights_bc = None
        self._src_parts = None
        # stage name -> reader of {"rows": n, **counters}, valid once the
        # stage has run. Lazy stages carry an Observation only once run()
        # counts: its CollectMetrics node blocks optimizer rewrites below it,
        # and a session's first Observation installs a listener that walks
        # the plan of every later query — flagship() and the registry
        # queries read no counts and pay for neither.
        self._counts: dict[str, Callable[[], dict[str, int]]] = {}
        self._counting = False

    # ---- inputs ----------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.cfg.fixture_dir, f"{name}.parquet")

    def documents(self) -> DataFrame:
        if self._docs_df is not None:
            return self._docs_df
        return self.spark.read.parquet(self._path("documents_interleaved"))

    def _n_docs(self) -> int:
        """Input row count from the parquet footer when driver-readable —
        a count() job on the corpus is ~1s of serial wall per run."""
        if self._docs_df is not None:
            return self._docs_df.count()
        try:
            import pyarrow.parquet as pq

            return pq.ParquetFile(self._path("documents_interleaved")).metadata.num_rows
        except OSError:
            return self.documents().count()

    def _even_repartition(self, df: DataFrame) -> DataFrame:
        """Round-robin repartition to 4×cores BEFORE a python stage when the
        source has too few splits — one fat parquet row group or a small
        file count would otherwise serialize the whole UDF chain onto a
        handful of tasks. On a real cluster the table layout provides the
        splits; this is the defensive floor. The probe result is cached:
        getNumPartitions launches a file-listing job per call, and the plan
        is probed from several stages."""
        if self._src_parts is None:
            self._src_parts = df.rdd.getNumPartitions()
        par = self.spark.sparkContext.defaultParallelism
        if self._src_parts < par:
            return df.repartition(par * 4)
        return df

    def mesh_dict(self) -> DataFrame:
        if self._mesh_df is not None:
            return self._mesh_df
        return self.spark.read.parquet(self._path("mesh_dict"))

    def codec_bc(self):
        if self._codec_bc is None:
            codec = load_codec(
                self.spark, self._path("bpe_merges"), self._path("vocab")
            )
            self._codec_bc = self.spark.sparkContext.broadcast(codec)
        return self._codec_bc

    def weights_bc(self):
        if self._weights_bc is None:
            w = Weights.load(os.path.join(self.cfg.fixture_dir, "model_weights.npz"))
            self._weights_bc = self.spark.sparkContext.broadcast(w)
        return self._weights_bc

    # ---- python-stage inputs ---------------------------------------------
    def texts(self) -> DataFrame:
        """documents + full_text, evenly repartitioned before the python
        stages (see _even_repartition)."""
        docs = self._even_repartition(self.documents())
        return docs.withColumn("full_text", full_text_col("spans"))

    def worded(self) -> DataFrame:
        """texts + words — the detection input. No BPE: the codec pass is
        needed only by the scorer."""
        return with_words(self.texts())

    def token_arrays(self, docs: DataFrame | None = None) -> DataFrame:
        """(doc_id, tok_ids, tok_starts) of ``docs`` (default: texts()) —
        the scorer's token input, BPE int arrays capped at max_tokens. The
        full struct form (with_tokens) would ship ~10× the bytes through
        Arrow for fields the scorer never reads."""
        return with_token_arrays(
            self.texts() if docs is None else docs,
            self.codec_bc(),
            max_tokens=self.cfg.max_tokens,
        ).select("doc_id", "tok_ids", "tok_starts")

    # ---- stages ----------------------------------------------------------
    def _observe(self, name: str, df: DataFrame, counters: dict[str, Column]) -> DataFrame:
        if not self._counting:
            return df
        df, self._counts[name] = observe_counts(df, counters)
        return df

    def _stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        *,
        stage: str,
        resume: bool,
        config: dict | None = None,
        inputs: tuple[str, ...] = (),
        partition_by: list[str] | None = None,
        counters: dict[str, Column] | None = None,
    ) -> DataFrame:
        """One non-bucketed stage. Lazy mode: the built frame, its row count
        (plus ``counters``) observed in flight under run(). Checkpoint mode: the
        committed table ``name``, re-read — served as-is when its config
        hash and the snapshots of its ``inputs`` tables still match,
        otherwise built and committed with the observed counts in its
        manifest, which is where the counter reads them either way."""
        counters = counters or {}
        if not self.cfg.checkpoint:
            return self._observe(name, build(), counters)
        lineage = {t: self.io.current_snapshot(t) for t in inputs}
        if not (resume and self.io.exists_valid(name, config, lineage)):
            self.io.write(
                build(), name, stage=stage, inputs=lineage,
                partition_by=partition_by, config=config, counters=counters,
            )
        self._counts[name] = lambda: self.io.manifest(name)
        return self.io.read(self.spark, name)

    def stage_mentions(self, resume: bool = True) -> DataFrame:
        """Linked mentions. Detection and dictionary resolution are one
        stage, so the word split is one action; in checkpoint mode the unlinked
        quarantine is committed from that stage's table (a filter over
        parquet, no second pass over the documents)."""
        mesh = self.mesh_dict()
        resolved = self._stage(
            "mentions",
            lambda: resolve_mentions(detect_mentions(self.worded(), mesh), mesh),
            stage="detect+link", resume=resume,
            counters={"linked": F.sum(F.col("linked").cast("long"))},
        )
        linked, unlinked = split_resolved(resolved)
        if self.cfg.checkpoint:
            self._stage(
                "mentions_unlinked", lambda: unlinked,
                stage="link", resume=resume, inputs=("mentions",),
            )
        return linked

    def _score_input(self, mentions: DataFrame) -> DataFrame:
        magg = mentions.groupBy("doc_id").agg(
            F.collect_list(
                F.struct("mention_id", "type", "mesh_id", "start", "end")
            ).alias("mentions")
        )
        return self.token_arrays().join(magg, "doc_id", "inner")

    def stage_scores(self, mentions: DataFrame, resume: bool = True) -> DataFrame:
        """Encode + bi-affine score behind one ROUND-ROBIN repartition to
        4×cores tasks — lazily over the whole input, or per doc_id hash
        bucket in checkpoint mode, each bucket committed on its own so a
        rerun recomputes only the missing ones.

        Round-robin, NOT hash-by-doc_id: the input is one row per doc, so
        no co-location is needed, and a hash repartition on doc_id collapses
        into the preceding join's identical partitioning — which AQE then
        coalesces into few, UNEVEN partitions (measured: 43 ragged tasks,
        15.9-37.9s, a 48s stage wall vs the 33.6s even-packing ideal at 32
        cores). repartition(n) has REPARTITION_BY_NUM origin, which AQE
        never coalesces; many tasks keep the tail short against the
        doc-length^2 encode-cost variance. No repartitionByRange either: its
        sampling pass would re-execute the input lineage."""
        par = self.spark.sparkContext.defaultParallelism
        counters = (
            {"ner": F.sum((F.col("kind") == "ner").cast("long"))}
            if self.cfg.emit == "both" else {}
        )
        inp = self._score_input(mentions)
        if not self.cfg.checkpoint:
            scores = score_documents(
                inp.repartition(par * 4), self.weights_bc(), emit=self.cfg.emit
            )
            return self._observe("pair_scores", scores, counters)
        B = self.cfg.score_buckets
        # only what the SCORES depend on (max_tokens, emit — a "both" run
        # writes the kind-discriminated union schema): theta gates
        # downstream at stage_triples, so a theta sweep reuses the committed
        # score buckets. score_buckets is part of the hash: buckets committed
        # under another modulus must never merge with the new partitioning
        # (a doc would appear in two buckets and its scores double)
        score_cfg = {"max_tokens": self.cfg.max_tokens, "emit": self.cfg.emit, "score_buckets": B}
        done = self.io.committed_buckets("pair_scores", score_cfg) if resume else set()
        for b in range(B):
            if b in done:
                continue
            part = inp.where(F.pmod(F.xxhash64("doc_id"), F.lit(B)) == b).repartition(
                max(4, par * 4 // B)
            )
            self.io.commit_bucket(
                score_documents(part, self.weights_bc(), emit=self.cfg.emit),
                "pair_scores", b, stage="encode+score",
                config=score_cfg, counters=counters,
            )
        self._counts["pair_scores"] = lambda: {
            k: self.io.bucket_rows("pair_scores", score_cfg, k)
            for k in ("rows", *counters)
        }
        # config-scoped read: after an emit/max_tokens change with a partial
        # recompute, stale-config buckets must not merge into the result
        return self.io.read_buckets(self.spark, "pair_scores", score_cfg)

    @staticmethod
    def split_joint_scores(scores: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Split the emit="both" kind-discriminated union into its two
        consumers' views: (pair_scores with SCORE_SCHEMA columns, ner_tags
        with NER_SCHEMA columns). Both are cheap filters over the ONE
        encoder output — the 100 TB point of the joint mode is that the
        corpus is encoded once for both artifacts."""
        pairs = scores.where(F.col("kind") == "pair").select(
            "doc_id", "chem_mention_id", "dis_mention_id",
            "chem_mesh", "dis_mesh", "score",
        )
        ner = scores.where(F.col("kind") == "ner").select(
            "doc_id", "tok_idx", "tok_start", "ner_tag",
            F.col("score").alias("ner_score"),
        )
        return pairs, ner

    def stage_triples(self, scores: DataFrame, resume: bool = True) -> DataFrame:
        def build() -> DataFrame:
            pair_scores = scores
            if self.cfg.emit == "both":
                pair_scores, _ = self.split_joint_scores(scores)
            pooled = lse_pool(pair_scores, ["doc_id", "chem_mesh", "dis_mesh"], "score")
            kept = threshold(pooled, self.cfg.theta)
            return canonical_triples(to_triples(kept), self.mesh_dict())

        # the gate must cover EVERY config determinant of the triples, not
        # just theta: a max_tokens/emit change recomputes the scores, and a
        # theta-only hash would then serve stale triples on top of them
        return self._stage(
            "triples", build, stage="pool+threshold+canonicalize", resume=resume,
            config={
                "theta": self.cfg.theta,
                "max_tokens": self.cfg.max_tokens,
                "emit": self.cfg.emit,
            },
            inputs=("pair_scores",),
            partition_by=["pred"],           # S7 layout mandate
        )

    def stage_edges(self, triples: DataFrame, resume: bool = True) -> DataFrame:
        return self._stage(
            "edges", lambda: dedup_triples(triples, self.cfg.salt_buckets),
            stage="dedup+support", resume=resume, inputs=("triples",),
            partition_by=["pred"],
        )

    # ---- end to end ------------------------------------------------------
    def run(self, resume: bool = True, evaluate: bool = True) -> dict:
        """Build the stage graph, run it to the edges sink and report the
        funnel from the per-stage counters. Lazily the edges count is the
        one action that runs the whole DAG; with checkpointing every stage
        has already run at its commit and the count re-reads the committed
        edges. The small triples table is persisted for the edges and eval
        consumers and released before returning."""
        t0 = time.time()
        self._counting = True
        scores = self.stage_scores(self.stage_mentions(resume), resume)
        triples = self.stage_triples(scores, resume).persist()
        try:
            self.stage_edges(triples, resume).count()
            c = {name: counts() for name, counts in self._counts.items()}
            n_ner = c["pair_scores"].get("ner")
            out = {
                "docs": self._n_docs(),
                "mentions": c["mentions"]["linked"],
                "pair_scores": c["pair_scores"]["rows"] - (n_ner or 0),
                "triples": c["triples"]["rows"],
                "edges": c["edges"]["rows"],
                "wall_s": round(time.time() - t0, 3),
            }
            if n_ner is not None:
                out["ner_tags"] = n_ner
            if evaluate:
                gold = self.spark.read.parquet(self._path("gold_relations")).select(
                    "doc_id", "chem_mesh", "dis_mesh"
                )
                pred = triples.select(
                    F.col("subj").alias("chem_mesh"),
                    F.col("obj").alias("dis_mesh"),
                    "doc_id",
                )
                m = confusion(pred, gold).head()
                out.update(
                    {"precision": m.precision, "recall": m.recall, "f1": m.f1}
                )
        finally:
            triples.unpersist()
        return out


def flagship(spark: SparkSession, fixture_dir: str, checkpoint_root: str | None = None,
             checkpoint: bool = False, theta: float = 0.0,
             docs_df: DataFrame | None = None, mesh_df: DataFrame | None = None) -> DataFrame:
    """The __spark_entry__.entry() DataFrame: end-to-end triples, lazily
    composed (no checkpointing) so the driver can inspect the single plan."""
    cfg = PipelineConfig(
        fixture_dir=fixture_dir,
        checkpoint_root=checkpoint_root,
        checkpoint=checkpoint,
        theta=theta,
    )
    p = Pipeline(spark, cfg, docs_df=docs_df, mesh_df=mesh_df)
    mentions = p.stage_mentions(resume=False)
    scores = p.stage_scores(mentions, resume=False)
    return p.stage_triples(scores, resume=False)


def flagship_plain(spark: SparkSession, sf_dir: str, theta: float = 0.0) -> DataFrame:
    """Flagship DAG over a *plain* corpus (the driver's documents.parquet):
    plain text → interleaved shape (sources.interleave) → full KG pipeline.
    BPE/weights come from the seeded sf0.001 fixtures (scale-independent)."""
    from bran_spark.fixtures.gen import ensure, fixture_dir as fdir
    from bran_spark.sources.interleave import interleave_documents, plain_mesh_dict

    ensure(0.001)
    plain = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return flagship(
        spark,
        fdir(0.001),
        theta=theta,
        docs_df=interleave_documents(plain),
        mesh_df=plain_mesh_dict(spark),
    )
