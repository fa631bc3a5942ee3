"""Output checks that do not come from the code under test.

- KG triples are checked against the generator's own ``mentions.parquet``
  (read with pyarrow): every (subj, obj, doc_id) must be a Chemical × Disease
  pair that co-occurs in that document, with pred ``CID``.
- Completeness (traced run): the checkpointed ``pair_scores`` hold, for
  every co-occurring Chemical × Disease entity pair of ``mentions.parquet``,
  one row per mention pair and nothing else; and the checkpointed triples
  equal a log-sum-exp pooling and threshold of those scores computed here
  with NumPy.
- Triple digests compare passes, the lazy and checkpointed DAGs, and the
  killed-and-resumed run; they hash the sorted (subj, pred, obj, doc_id,
  6-decimal score) rows.
- Registry rows are compared with their DuckDB ``ORACLE`` twin by row count
  and the order-insensitive ``tools/oracle_check.frame_hash``.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from tools.oracle_check import frame_hash

TRIPLE_KEY = ["subj", "pred", "obj", "doc_id"]


def read_triples(path: str) -> pa.Table:
    """A triples parquet directory (hive-partitioned or not) → the key
    columns plus ``score``."""
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=TRIPLE_KEY + ["score"]
    )
    return t.cast(
        pa.schema([(c, pa.string()) for c in TRIPLE_KEY] + [("score", pa.float64())])
    )


def triple_digest(t: pa.Table) -> str:
    score = pc.round(t.column("score"), 6)
    rows = sorted(
        zip(*(t.column(c).to_pylist() for c in TRIPLE_KEY), score.to_pylist())
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def cooccurrence_violations(t: pa.Table, mentions_path: str) -> int:
    """Triples whose subject is not a Chemical, or whose object is not a
    Disease, mentioned in the triple's document — or whose pred is not CID."""
    m = pq.read_table(mentions_path, columns=["doc_id", "type", "mesh_id"]).to_pydict()
    present = set(zip(m["doc_id"], m["mesh_id"], m["type"]))
    bad = 0
    for s, p, o, d in zip(*(t.column(c).to_pylist() for c in TRIPLE_KEY)):
        if p != "CID" or (d, s, "Chemical") not in present or (d, o, "Disease") not in present:
            bad += 1
    return bad


def read_bucketed(path: str) -> pa.Table:
    """Every committed bucket (``bucket-<n>/part-*.parquet``) of a
    per-bucket table such as ``pair_scores``."""
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        if f.startswith("part-") and f.endswith(".parquet")
    )
    return ds.dataset(files, format="parquet").to_table()


def pair_coverage_mismatch(pair_scores: pa.Table, mentions_path: str) -> str | None:
    """Mention-pair rows per (doc_id, chem_mesh, dis_mesh) must be exactly
    (Chemical mentions of chem_mesh) × (Disease mentions of dis_mesh) in that
    document of ``mentions.parquet``: a dropped document, bucket or pair, or
    a stray one, shows."""
    m = pq.read_table(mentions_path, columns=["doc_id", "type", "mesh_id"]).to_pydict()
    chem: dict[str, Counter] = defaultdict(Counter)
    dis: dict[str, Counter] = defaultdict(Counter)
    for d, ty, mesh in zip(m["doc_id"], m["type"], m["mesh_id"]):
        if ty == "Chemical":
            chem[d][mesh] += 1
        elif ty == "Disease":
            dis[d][mesh] += 1
    want = Counter({
        (d, c, x): nc * nx
        for d in chem for c, nc in chem[d].items() for x, nx in dis[d].items()
    })
    got = Counter(zip(*(pair_scores.column(c).to_pylist() for c in ("doc_id", "chem_mesh", "dis_mesh"))))
    if got == want:
        return None
    missing = sum((want - got).values())
    extra = sum((got - want).values())
    return f"pair_scores: {missing} mention pairs missing, {extra} unexpected"


def pooled_triples_mismatch(pair_scores: pa.Table, triples: pa.Table, theta: float) -> str | None:
    """The triples must be the (chem_mesh, dis_mesh, doc_id) groups of
    ``pair_scores`` whose log-sum-exp score is ≥ theta, with that score
    (to 1e-6)."""
    groups: dict[tuple, list[float]] = defaultdict(list)
    for d, c, x, s in zip(*(pair_scores.column(k).to_pylist() for k in ("doc_id", "chem_mesh", "dis_mesh", "score"))):
        groups[(c, x, d)].append(s)
    want = {}
    for k, v in groups.items():
        a = np.asarray(v, dtype=np.float64)
        pooled = a.max() + np.log(np.exp(a - a.max()).sum())
        if pooled >= theta:
            want[k] = pooled
    have = dict(zip(zip(*(triples.column(c).to_pylist() for c in ("subj", "obj", "doc_id"))),
                    triples.column("score").to_pylist()))
    if len(have) != triples.num_rows:
        return f"triples: {triples.num_rows - len(have)} duplicate (subj, obj, doc_id) rows"
    if have.keys() != want.keys():
        return (f"triples: {len(want.keys() - have.keys())} missing, "
                f"{len(have.keys() - want.keys())} unexpected against pooled pair_scores")
    worst = max((abs(have[k] - want[k]) for k in want), default=0.0)
    if worst > 1e-6:
        return f"triples: pooled score off by {worst:.3g}"
    return None


class Oracle:
    """DuckDB over the benchmark's generated tables. Oracle SQL that reads
    the fixture corpus at the registry's hard-wired sf0.01 path is pointed
    at the corpus this run generated — the same files the Spark side read."""

    def __init__(self, tables_dir: str, corpus_dir: str, registry_fixture_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for f in sorted(os.listdir(tables_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(tables_dir, f)}'"
                )
        self.corpus_dir = corpus_dir
        self.registry_fixture_dir = registry_fixture_dir

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql.replace(self.registry_fixture_dir, self.corpus_dir))
        return [d[0] for d in cur.description], cur.fetchall()

    def close(self) -> None:
        self.con.close()


def registry_mismatch(cols: list[str], rows: list[tuple], o_cols: list[str], o_rows: list[tuple]) -> str | None:
    if len(rows) != len(o_rows):
        return f"rows spark={len(rows)} oracle={len(o_rows)}"
    if sorted(cols) != sorted(o_cols):
        return f"columns spark={sorted(cols)} oracle={sorted(o_cols)}"
    if frame_hash(cols, rows) != frame_hash(o_cols, o_rows):
        return "value hash differs"
    return None
