"""The two workloads and the traced layer run.

``flagship``: the lazy ``plans.pipeline.flagship`` DAG (the ``entry()`` /
bench path) over the seeded CDR corpus, every output column written to a
parquet sink. Nearly all of its time is Python (words ×2 and token-array
``ArrowEvalPython`` nodes, the ``MapInPandas`` scorer) plus the fixed cost
of its stages.

``registry_queries``: a fixed-round graph loop and a shingle join from
``plans.oracle_queries.QUERIES``. JVM shuffles and driver-side loops with no
Python UDF in the timed passes: it bypasses ``model`` and ``functions.bpe``
(their only use, the ``_FX_MEMO`` mention build, happens in set-up).

Each workload: ``setup()`` runs the untimed warm-up; ``run_pass()``
times one pass and keeps its output for ``check()``, which runs after the
timed window.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import checks
from tracing import StatusStores, Tracer, node_sum

# a fixed-round graph loop and a shingle join — what fits the per-run time
# budget on 4 cores next to two warm-up passes (README.md)
REGISTRY = [
    "q56_pagerank",
    "q28_dedup_ngram_jaccard",
]
GRAPH_QUERIES = {"q56_pagerank"}
DEDUP_QUERIES = {"q28_dedup_ngram_jaccard"}
PYTHON_NODES = {"ArrowEvalPython", "MapInPandas", "BatchEvalPython", "FlatMapGroupsInPandas"}
ENCODER_SAMPLE_DOCS = 32


class Context:
    def __init__(self, spark, cores: int, paths: dict[str, str], tmp: str, seed: int):
        self.spark = spark
        self.cores = cores
        self.corpus = paths["corpus"]
        self.tables = paths["tables"]
        self.tmp = tmp
        self.seed = seed
        self.n_docs = pq.ParquetFile(os.path.join(self.corpus, "documents_interleaved.parquet")).metadata.num_rows


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Flagship:
    min_passes = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.outputs: list[str] = []
        self.digest: str | None = None  # set by check()

    def _dag(self):
        from bran_spark.plans.pipeline import flagship

        return flagship(
            self.ctx.spark, self.ctx.corpus,
            checkpoint_root=os.path.join(self.ctx.tmp, "entry_ckpt"),
        )

    def setup(self) -> None:
        self.run_pass(keep=False)

    def run_pass(self, keep: bool = True, tracer: Tracer | None = None) -> tuple[float, int]:
        out = os.path.join(self.ctx.tmp, f"flagship-{len(self.outputs)}")
        tracer = tracer or Tracer("", enabled=False)
        t0 = time.perf_counter()
        with tracer.span("plans.pipeline.flagship"):
            df = self._dag()
        with tracer.span("sink.write"):
            df.write.mode("overwrite").parquet(out)
        wall = time.perf_counter() - t0
        rows = sum(
            pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
            for f in os.listdir(out) if f.endswith(".parquet")
        )
        if keep:
            self.outputs.append(out)
        else:
            shutil.rmtree(out)
        return wall, rows

    def ops_per_pass(self) -> int:
        return 1

    def check(self) -> tuple[int, list[str]]:
        """(checks attempted, failure messages)."""
        failures = []
        digests = set()
        mentions = os.path.join(self.ctx.corpus, "mentions.parquet")
        for out in self.outputs:
            t = checks.read_triples(out)
            if t.num_rows == 0:
                failures.append(f"{out}: no triples")
            bad = checks.cooccurrence_violations(t, mentions)
            if bad:
                failures.append(f"{out}: {bad} triples not co-occurring in mentions.parquet")
            digests.add(checks.triple_digest(t))
        if len(digests) > 1:
            failures.append(f"triple digests differ across passes: {sorted(digests)}")
        self.digest = digests.pop() if len(digests) == 1 else None
        return 2 * len(self.outputs) + 1, failures


class Registry:
    # a pass is ~4 s and is still getting faster over the first executions
    # in a process (q56: 18.9, 4.4, 3.2, 3.2, 3.4 s), so the median of three
    # passes after two warm-ups is reported
    min_passes = 3

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.results: dict[str, list[tuple[list[str], list[tuple]]]] = {q: [] for q in REGISTRY}
        self.per_query: dict[str, list[float]] = {q: [] for q in REGISTRY}

    def setup(self) -> None:
        # the first warm-up pass builds the _FX_MEMO mention memo (q56 is first)
        self.run_pass(keep=False)
        self.run_pass(keep=False)

    def run_query(self, q: str) -> tuple[float, list[str], list[tuple]]:
        from bran_spark.plans.oracle_queries import QUERIES

        t0 = time.perf_counter()
        df = QUERIES[q](self.ctx.spark, self.ctx.tables)
        rows = [tuple(r) for r in df.collect()]
        return time.perf_counter() - t0, df.columns, rows

    def run_pass(self, keep: bool = True, tracer: Tracer | None = None) -> tuple[float, int]:
        tracer = tracer or Tracer("", enabled=False)
        t0 = time.perf_counter()
        n = 0
        for q in REGISTRY:
            with tracer.span(f"plans.oracle_queries.{q}"):
                wall, cols, rows = self.run_query(q)
            n += len(rows)
            if keep:
                self.per_query[q].append(wall)
                self.results[q].append((cols, rows))
        return time.perf_counter() - t0, n

    def ops_per_pass(self) -> int:
        return len(REGISTRY)

    def query_geomean_s(self) -> float:
        return _geomean([statistics.median(v) for v in self.per_query.values()])

    def check(self) -> tuple[int, list[str]]:
        from bran_spark.fixtures.gen import fixture_dir
        from bran_spark.plans.oracle_queries import ORACLE

        failures = []
        attempted = 0
        oracle = checks.Oracle(self.ctx.tables, self.ctx.corpus, fixture_dir(0.01))
        try:
            for q, runs in self.results.items():
                if not runs:
                    continue
                cols, rows = runs[0]
                attempted += 1
                if q not in ORACLE:
                    failures.append(f"{q}: no DuckDB twin")
                    continue
                o_cols, o_rows = oracle.rows(ORACLE[q])
                bad = checks.registry_mismatch(cols, rows, o_cols, o_rows)
                if bad:
                    failures.append(f"{q}: {bad}")
                attempted += 1
                if len({checks.frame_hash(c, r) for c, r in runs}) > 1:
                    failures.append(f"{q}: rows differ across passes")
        finally:
            oracle.close()
        return attempted, failures


WORKLOADS = {"flagship": Flagship, "registry_queries": Registry}


# ---------------------------------------------------------------------------
# traced run: per-layer metrics
# ---------------------------------------------------------------------------

class TracedIO:
    """Wraps a ManifestParquetTableIO: a span (with stage counters) around
    every call into the tableio layer's public write/commit/read functions."""

    def __init__(self, io, tracer: Tracer, stores: StatusStores):
        self._io = io
        self._tracer = tracer
        self._stores = stores
        self.calls: list[tuple[str, str, float, dict]] = []

    def __getattr__(self, name):
        return getattr(self._io, name)

    def _traced(self, kind: str, label: str, fn, *a, **kw):
        mark = self._stores.mark()
        with self._tracer.span(f"sources.tableio.{kind}", table=label) as sp:
            out = fn(*a, **kw)
        self.calls.append((kind, label, sp.end - sp.start, self._stores.stage_totals(mark)))
        return out

    def write(self, df, table, stage, **kw):
        return self._traced("write", stage, self._io.write, df, table, stage, **kw)

    def commit_bucket(self, df, table, bucket, stage, **kw):
        return self._traced("commit_bucket", stage, self._io.commit_bucket, df, table, bucket, stage, **kw)

    def read(self, spark, table, snap=None):
        return self._traced("read", table, self._io.read, spark, table, snap)

    def read_buckets(self, spark, table, config=None):
        return self._traced("read", table, self._io.read_buckets, spark, table, config)

    def stage_s(self, stage: str) -> float:
        return sum(c[2] for c in self.calls if c[0] in ("write", "commit_bucket") and c[1] == stage)

    def stage_counter(self, stage: str, key: str, agg=sum) -> float:
        return agg([c[3][key] for c in self.calls if c[0] in ("write", "commit_bucket") and c[1] == stage])


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _pipeline_layers(ctx: Context, stores: StatusStores, run_lazy) -> dict[str, float]:
    """plans.pipeline / functions.bpe / model.scorer / operators.linking
    counters of one lazy flagship pass, from its executed plan."""
    mark = stores.mark()
    wall, _ = run_lazy()
    nodes = stores.plan_nodes(mark)
    st = stores.stage_totals(mark)
    scorer_time = [m["time to run Python workers"] for n, m in nodes
                   if n == "MapInPandas" and "time to run Python workers" in m]
    skew = max((t["max"] / t["med"] for t in scorer_time if t.get("med")), default=1.0)
    return {
        "plans.pipeline.wall_s": wall,
        "plans.pipeline.exchanges": sum(1 for n, _ in nodes if n == "Exchange"),
        "plans.pipeline.python_nodes": sum(1 for n, _ in nodes if n in PYTHON_NODES),
        "plans.pipeline.jobs": st["jobs"],
        "plans.pipeline.tasks": st["tasks"],
        "plans.pipeline.shuffle_bytes": st["shuffle_bytes"],
        "plans.pipeline.spill_bytes": st["spill_bytes"],
        "plans.pipeline.executor_run_s": st["executor_run_s"],
        "plans.pipeline.core_busy": st["executor_run_s"] / (wall * ctx.cores),
        "plans.pipeline.failed_tasks": st["failed_tasks"],
        "functions.bpe.udf_rows_per_doc": node_sum(nodes, "ArrowEvalPython", "number of output rows") / ctx.n_docs,
        "functions.bpe.python_s": node_sum(nodes, "ArrowEvalPython", "time to run Python workers"),
        "functions.bpe.worker_init_s": node_sum(nodes, "ArrowEvalPython", "time to initialize Python workers")
        + node_sum(nodes, "ArrowEvalPython", "time to start Python workers"),
        "functions.bpe.bytes_to_python": node_sum(nodes, "ArrowEvalPython", "data sent to Python workers"),
        "functions.bpe.bytes_from_python": node_sum(nodes, "ArrowEvalPython", "data returned from Python workers"),
        "model.scorer.python_s": node_sum(nodes, "MapInPandas", "time to run Python workers"),
        "model.scorer.worker_init_s": node_sum(nodes, "MapInPandas", "time to initialize Python workers")
        + node_sum(nodes, "MapInPandas", "time to start Python workers"),
        "model.scorer.bytes_to_python": node_sum(nodes, "MapInPandas", "data sent to Python workers"),
        "model.scorer.bytes_from_python": node_sum(nodes, "MapInPandas", "data returned from Python workers"),
        "model.scorer.rows_out": node_sum(nodes, "MapInPandas", "number of output rows"),
        "model.scorer.task_skew": skew,
        "operators.linking.broadcast_bytes": node_sum(nodes, "BroadcastExchange", "data size"),
        "operators.linking.broadcast_collect_s": node_sum(nodes, "BroadcastExchange", "time to collect"),
    }


def _checkpoint_layers(ctx: Context, stores: StatusStores, tracer: Tracer) -> tuple[dict[str, float], str, float]:
    """Staged mode: Pipeline.run(checkpoint=True) from an empty root commits
    every stage, so each tableio write/commit is timed on the previous
    layer's materialised output. Then a simulated kill deletes half the
    committed pair_scores buckets plus triples/edges and run(resume=True)
    finishes the job. Returns the metrics, the checkpoint root and theta."""
    from bran_spark.plans.pipeline import Pipeline, PipelineConfig

    root = os.path.join(ctx.tmp, "checkpoint")
    cfg = PipelineConfig(fixture_dir=ctx.corpus, checkpoint_root=root, checkpoint=True)
    p = Pipeline(ctx.spark, cfg)
    io = TracedIO(p.io, tracer, stores)
    p.io = io
    with tracer.span("plans.pipeline.run", checkpoint=True, resume=False) as sp:
        out = p.run(resume=False, evaluate=False)
    run_s = sp.end - sp.start
    written = _dir_bytes(root)

    buckets = sorted(os.listdir(os.path.join(root, "pair_scores", "buckets")))
    rng = np.random.default_rng(ctx.seed)
    for b in rng.choice(buckets, size=len(buckets) // 2, replace=False):
        shutil.rmtree(os.path.join(root, "pair_scores", "buckets", b))
    for table in ("triples", "edges"):
        shutil.rmtree(os.path.join(root, table))

    p2 = Pipeline(ctx.spark, cfg)
    p2.io = TracedIO(p2.io, tracer, stores)
    with tracer.span("plans.pipeline.run", checkpoint=True, resume=True) as sp:
        p2.run(resume=True, evaluate=False)
    resume_s = sp.end - sp.start

    staged = {
        "functions.bpe.staged_s": io.stage_s("tokenize"),
        "operators.mentions.staged_s": io.stage_s("link") + io.stage_s("detect+link"),
        "model.scorer.staged_s": io.stage_s("encode+score"),
        "operators.pooling.staged_s": io.stage_s("pool+threshold+canonicalize"),
        "operators.pooling.dedup_staged_s": io.stage_s("dedup+support"),
    }
    metrics = {
        **staged,
        "operators.mentions.rows_out": out["mentions"],
        "operators.pooling.shuffle_bytes": io.stage_counter("pool+threshold+canonicalize", "shuffle_bytes"),
        "operators.pooling.dedup_task_skew": io.stage_counter("dedup+support", "task_skew", max),
        "sources.tableio.write_s": sum(c[2] for c in io.calls if c[0] in ("write", "commit_bucket")),
        "sources.tableio.read_s": sum(c[2] for c in io.calls if c[0] == "read"),
        "sources.tableio.bytes_written": written,
        "sources.tableio.commits": sum(1 for c in io.calls if c[0] in ("write", "commit_bucket")),
        "sources.tableio.run_s": run_s,
        "sources.tableio.resume_s": resume_s,
        "_staged_sum_s": sum(staged.values()),
    }
    return metrics, root, cfg.theta


def _checkpoint_checks(ctx: Context, root: str, theta: float, lazy_digest: str | None) -> list[str]:
    """The resumed checkpoint against references outside the program: its
    pair_scores against mentions.parquet, its triples against a pooling of
    those scores, and its triple digest against the lazy flagship pass."""
    with open(os.path.join(root, "triples", "_current")) as f:
        snap = f.read().strip()
    triples = checks.read_triples(os.path.join(root, "triples", f"snap-{snap}"))
    scores = checks.read_bucketed(os.path.join(root, "pair_scores", "buckets"))
    failures = [
        bad for bad in (
            checks.pair_coverage_mismatch(scores, os.path.join(ctx.corpus, "mentions.parquet")),
            checks.pooled_triples_mismatch(scores, triples, theta),
        ) if bad
    ]
    if checks.triple_digest(triples) != lazy_digest:
        failures.append("checkpointed+resumed triples differ from the lazy flagship's")
    return failures


def _encoder_layers(ctx: Context) -> dict[str, float]:
    """Direct single-thread calls on the driver over a seeded doc sample:
    model.encoder.encode_one and score_pairs, per doc (median of 3)."""
    from bran_spark.functions.bpe import full_text_col, load_codec, with_token_arrays
    from bran_spark.model.encoder import Weights, encode_one, score_pairs

    spark = ctx.spark
    ids = sorted(
        np.random.default_rng(ctx.seed).choice(ctx.n_docs, ENCODER_SAMPLE_DOCS, replace=False).tolist()
    )
    docs = pq.read_table(os.path.join(ctx.corpus, "documents_interleaved.parquet")).take(ids)
    doc_ids = docs.column("doc_id").to_pylist()
    codec = spark.sparkContext.broadcast(
        load_codec(spark, os.path.join(ctx.corpus, "bpe_merges.parquet"), os.path.join(ctx.corpus, "vocab.parquet"))
    )
    toks = {
        r.doc_id: (np.asarray(r.tok_ids, dtype=np.int64), np.asarray(r.tok_starts, dtype=np.int64))
        for r in with_token_arrays(
            spark.createDataFrame(docs.to_pandas()).withColumn("full_text", full_text_col("spans")),
            codec, max_tokens=512,
        ).select("doc_id", "tok_ids", "tok_starts").collect()
    }
    codec.unpersist()
    men = pq.read_table(os.path.join(ctx.corpus, "mentions.parquet")).to_pydict()
    spans: dict[str, tuple[list, list]] = {d: ([], []) for d in doc_ids}
    for d, ty, s, e in zip(men["doc_id"], men["type"], men["start"], men["end"]):
        if d in spans:
            starts = toks[d][1]
            lo = int(np.searchsorted(starts, s, "left"))
            hi = max(int(np.searchsorted(starts, e, "left")), lo + 1)
            if lo < len(starts):
                spans[d][0 if ty == "Chemical" else 1].append((lo, min(hi, len(starts))))
    w = Weights.load(os.path.join(ctx.corpus, "model_weights.npz"))
    enc_runs, pair_runs = [], []
    for _ in range(3):
        te = tp = 0.0
        for d in doc_ids:
            t0 = time.perf_counter()
            enc = encode_one(toks[d][0], w)
            t1 = time.perf_counter()
            if spans[d][0] and spans[d][1]:
                score_pairs(enc, spans[d][0], spans[d][1], w)
            tp += time.perf_counter() - t1
            te += t1 - t0
        enc_runs.append(te)
        pair_runs.append(tp)
    n = len(doc_ids)
    return {
        "model.encoder.encode_ms_per_doc": 1000 * statistics.median(enc_runs) / n,
        "model.encoder.score_pairs_ms_per_doc": 1000 * statistics.median(pair_runs) / n,
    }


def _registry_layers(stores: StatusStores, registry: Registry, tracer: Tracer) -> dict[str, float]:
    """Per-query walls of one registry pass plus the counters of the
    graph-loop (operators.graphalgo) and corpus-dedup (operators.dedup)
    queries."""
    out: dict[str, float] = {}
    g = {"jobs": 0, "plan_nodes": 0, "shuffle_bytes": 0}
    dedup_shuffle = 0
    for q in REGISTRY:
        mark = stores.mark()
        with tracer.span(f"plans.oracle_queries.{q}") as sp:
            _, cols, rows = registry.run_query(q)
        registry.results[q].append((cols, rows))
        out[f"plans.oracle_queries.{q}_s"] = sp.end - sp.start
        st = stores.stage_totals(mark)
        if q in GRAPH_QUERIES:
            g["jobs"] += st["jobs"]
            g["shuffle_bytes"] += st["shuffle_bytes"]
            g["plan_nodes"] += stores.node_count(mark)
        if q in DEDUP_QUERIES:
            dedup_shuffle += st["shuffle_bytes"]
    out["plans.oracle_queries.geomean_s"] = _geomean([out[f"plans.oracle_queries.{q}_s"] for q in REGISTRY])
    out.update({f"operators.graphalgo.{k}": v for k, v in g.items()})
    out["operators.dedup.shuffle_bytes"] = dedup_shuffle
    return out


def traced_run(ctx: Context, workload, tracer: Tracer) -> tuple[dict[str, float], list[str], int]:
    """Every per-layer metric, measured in this workload's process.

    The workload's own pass runs first, traced: spans plus status-store
    reads after each action. ``trace.pass_wall_s`` is its wall, to set
    against the untraced run's ``wall_s``; ``trace.overhead_s`` is the time
    spent reading the status stores.

    Every traced run must report every per-layer metric, so the layers the
    workload's pass does not run are then measured in the same process,
    under the same names: on ``flagship`` one registry pass after an
    untimed one (which builds ``_FX_MEMO``); on ``registry_queries`` one
    flagship pass, the first of the process and so colder than flagship's
    own. The staged checkpoint run with its kill and resume, and the direct
    encoder calls, run on both. These cross-workload figures are comparable
    only between runs of the same workload. Returns (metrics, check
    failures, checks attempted)."""
    stores = StatusStores(ctx.spark)
    metrics: dict[str, float] = {}
    if isinstance(workload, Flagship):
        flag, reg = workload, Registry(ctx)
        metrics.update(_pipeline_layers(ctx, stores, lambda: flag.run_pass(tracer=tracer)))
        metrics["trace.pass_wall_s"] = metrics["plans.pipeline.wall_s"]
        reg.run_pass(keep=False)
        metrics.update(_registry_layers(stores, reg, tracer))
    else:
        flag, reg = Flagship(ctx), workload
        t0 = time.perf_counter()
        metrics.update(_registry_layers(stores, reg, tracer))
        metrics["trace.pass_wall_s"] = time.perf_counter() - t0
        metrics.update(_pipeline_layers(ctx, stores, lambda: flag.run_pass(tracer=tracer)))

    ckpt, root, theta = _checkpoint_layers(ctx, stores, tracer)
    metrics["plans.pipeline.staged_sum_ratio"] = ckpt.pop("_staged_sum_s") / metrics["plans.pipeline.wall_s"]
    metrics.update(ckpt)
    metrics.update(_encoder_layers(ctx))
    metrics["trace.overhead_s"] = stores.busy_s

    attempted, failures = flag.check()
    reg_attempted, reg_failures = reg.check()
    failures += reg_failures + _checkpoint_checks(ctx, root, theta, flag.digest)
    return metrics, failures, attempted + reg_attempted + 3
