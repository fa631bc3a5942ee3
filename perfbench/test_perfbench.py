"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q               # fast ones
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/test_perfbench.py -q   # + smoke runs (~2 min)

The mutation tests alter one triple or one registry row and assert that the
benchmark's output checks fail; the smoke runs assert that every metric named
in BENCHMARK.json is emitted, with a unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

BENCH = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def test_parse_metric_values():
    assert tracing.parse_metric("35,823") == {"total": 35823.0}
    assert tracing.parse_metric("3.0 MiB")["total"] == 3 * 2**20
    m = tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n8.6 s (340 ms, 518 ms, 703 ms (stage 20.0: task 51))"
    )
    assert m == pytest.approx({"total": 8.6, "min": 0.34, "med": 0.518, "max": 0.703})


# ---- mutation tests: a changed triple / row must fail the checks ----------

def _kg_fixture(tmp_path):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": ["PM1", "PM1", "PM1", "PM2", "PM2"],
            "type": ["Chemical", "Disease", "Disease", "Chemical", "Disease"],
            "mesh_id": ["C1", "D1", "D2", "C2", "D3"],
        }),
        corpus / "mentions.parquet",
    )
    triples = {
        "subj": ["C1", "C1", "C2"], "pred": ["CID"] * 3, "obj": ["D1", "D2", "D3"],
        "doc_id": ["PM1", "PM1", "PM2"], "score": [0.5, -0.25, 1.125],
    }
    return str(corpus), triples


def _flagship_check(tmp_path, corpus, outputs):
    wl = workloads.Flagship(SimpleNamespace(corpus=corpus))
    for i, t in enumerate(outputs):
        d = tmp_path / f"out{i}"
        d.mkdir()
        pq.write_table(pa.table(t), d / "part-0.parquet")
        wl.outputs.append(str(d))
    return wl.check()[1]


def test_flagship_check_passes_on_consistent_triples(tmp_path):
    corpus, t = _kg_fixture(tmp_path)
    assert _flagship_check(tmp_path, corpus, [t, t]) == []


def test_flagship_check_fails_on_a_non_cooccurring_triple(tmp_path):
    corpus, t = _kg_fixture(tmp_path)
    bad = dict(t, obj=["D1", "D3", "D3"])  # D3 is not mentioned in PM1
    failures = _flagship_check(tmp_path, corpus, [bad])
    assert any("not co-occurring" in f for f in failures)


def test_flagship_check_fails_when_one_score_changes_between_passes(tmp_path):
    corpus, t = _kg_fixture(tmp_path)
    other = dict(t, score=[0.5, -0.25, 1.126])
    failures = _flagship_check(tmp_path, corpus, [t, other])
    assert any("digests differ" in f for f in failures)


def _scored_fixture(tmp_path):
    """mentions.parquet with PM1: 2× C1, 1× D1, 1× D2; PM2: C2, D3 — so 4
    mention pairs — plus their pair_scores and the triples pooled from them."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": ["PM1", "PM1", "PM1", "PM1", "PM2", "PM2"],
            "type": ["Chemical", "Chemical", "Disease", "Disease", "Chemical", "Disease"],
            "mesh_id": ["C1", "C1", "D1", "D2", "C2", "D3"],
        }),
        corpus / "mentions.parquet",
    )
    scores = pa.table({
        "doc_id": ["PM1", "PM1", "PM1", "PM1", "PM2"],
        "chem_mesh": ["C1", "C1", "C1", "C1", "C2"],
        "dis_mesh": ["D1", "D1", "D2", "D2", "D3"],
        "score": [0.5, -1.0, -3.0, -2.5, 1.125],
    })
    lse = lambda *xs: float(np.log(np.sum(np.exp(xs))))  # noqa: E731
    triples = pa.table({
        "subj": ["C1", "C2"], "pred": ["CID", "CID"], "obj": ["D1", "D3"],
        "doc_id": ["PM1", "PM2"], "score": [lse(0.5, -1.0), 1.125],
    })
    return str(corpus), scores, triples


def test_checkpoint_checks_pass_on_complete_output(tmp_path):
    corpus, scores, triples = _scored_fixture(tmp_path)
    assert checks.pair_coverage_mismatch(scores, os.path.join(corpus, "mentions.parquet")) is None
    assert checks.pooled_triples_mismatch(scores, triples, 0.0) is None


def test_pair_coverage_fails_on_one_dropped_pair_score(tmp_path):
    corpus, scores, _ = _scored_fixture(tmp_path)
    bad = checks.pair_coverage_mismatch(scores.slice(1), os.path.join(corpus, "mentions.parquet"))
    assert bad == "pair_scores: 1 mention pairs missing, 0 unexpected"


def test_pooled_triples_fail_on_one_dropped_triple(tmp_path):
    _, scores, triples = _scored_fixture(tmp_path)
    bad = checks.pooled_triples_mismatch(scores, triples.slice(0, 1), 0.0)
    assert bad == "triples: 1 missing, 0 unexpected against pooled pair_scores"


def test_pooled_triples_fail_on_one_wrong_score(tmp_path):
    _, scores, triples = _scored_fixture(tmp_path)
    wrong = triples.set_column(4, "score", pa.array([0.5, 1.125]))
    assert checks.pooled_triples_mismatch(scores, wrong, 0.0).startswith("triples: pooled score off by")


def test_plain_documents_match_the_measured_testdata_shape():
    t = inputs._plain_documents(3, 500).to_pydict()
    dups = [x for x in t["text"] if x.endswith(" dup")]
    assert len(dups) == 25
    words = [len(x.split()) for x in t["text"] if not x.endswith(" dup")]
    assert min(words) >= 10 and max(words) <= 99
    assert {w for x in t["text"] for w in x.split()} <= set(inputs.PLAIN_VOCAB) | {"dup"}
    assert t["n_chars"] == [len(x) for x in t["text"]]


def test_registry_check_fails_on_one_altered_row(tmp_path):
    """q23 rows from its own DuckDB twin pass the check; the same rows with
    one support count changed do not."""
    from bran_spark.plans.oracle_queries import ORACLE

    tables = tmp_path / "tables"
    tables.mkdir()
    pq.write_table(inputs._plain_documents(3, 200), tables / "documents.parquet")
    ctx = SimpleNamespace(tables=str(tables), corpus=str(tmp_path / "unused"))
    oracle = checks.Oracle(ctx.tables, ctx.corpus, str(tmp_path / "unused"))
    cols, rows = oracle.rows(ORACLE["q23_triple_dedup_support"])
    oracle.close()
    assert rows

    def run_check(result_rows):
        wl = workloads.Registry(ctx)
        wl.results = {"q23_triple_dedup_support": [(cols, result_rows)]}
        return wl.check()[1]

    assert run_check(rows) == []
    i = cols.index("support")
    altered = [tuple(v + 1 if j == i else v for j, v in enumerate(rows[0]))] + rows[1:]
    assert run_check(altered) == ["q23_triple_dedup_support: value hash differs"]


# ---- the command itself -------------------------------------------------

def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".data", ".runs", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "flagship", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert r.stdout == ""


def _run(workload: str, trace: int) -> dict:
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"), reason="set PERFBENCH_SMOKE=1 (Spark runs)")
@pytest.mark.parametrize("workload,trace,key", [
    ("flagship", 0, "end_to_end"),
    ("registry_queries", 1, "per_layer"),
])
def test_smoke_emits_every_metric_with_its_unit(workload, trace, key):
    out = _run(workload, trace)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH[key]}
    assert set(out["metrics"]) == set(want)
    for name, m in out["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], float)
