"""Tests of the benchmark itself: the generator is deterministic, its
planted inputs are what the checks assume, the result line keeps its
contract, and every workload runs end to end in its real configuration
with a one-second window.

    python3 -m pytest perfbench/tests -q

The smoke runs start a Spark session each (about a minute apiece).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _waves(seed: int, root: str) -> gen.WaveGenerator:
    g = gen.WaveGenerator(seed, root, docs_per_wave=10)
    for _ in range(3):
        g.next_wave()
    return g


def test_wave_files_are_a_function_of_the_seed(tmp_path):
    a = _waves(7, str(tmp_path / "a"))
    b = _waves(7, str(tmp_path / "b"))
    c = _waves(8, str(tmp_path / "c"))
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert [(w.fresh, w.corrupt, w.reuploads) for w in a.waves] == \
        [(w.fresh, w.corrupt, w.reuploads) for w in b.waves]


def test_waves_plant_corrupt_files_and_byte_identical_reuploads(tmp_path):
    g = _waves(3, str(tmp_path))
    first = g.waves[0]
    assert first.corrupt and first.fresh and not first.reuploads
    for w in g.waves[1:]:
        assert w.reuploads and w.fresh and not w.corrupt
        for name in w.reuploads:
            original = name.split("_", 2)[2]
            src = next(x.path for x in g.waves if original in x.fresh)
            with open(os.path.join(w.path, name), "rb") as f, \
                    open(os.path.join(src, original), "rb") as g_:
                assert f.read() == g_.read()
    assert any(n.endswith(".pdf") for n in first.fresh)
    assert any(n.endswith(".txt") for n in first.fresh)


def test_generated_pdfs_parse_and_corrupt_ones_raise():
    from data_ingestion_tool_bakasura__spark.multimodal.extract import minipdf_parse_pages

    pages = ["alpha beta (gamma)", "delta"]
    parsed = minipdf_parse_pages(gen.pdf_bytes(pages))
    assert [p[0].strip() for p in parsed] == pages
    with pytest.raises(Exception):
        minipdf_parse_pages(gen.pdf_bytes(pages, corrupt=True))


def test_curate_corpus_is_deterministic_and_its_ledger_holds():
    docs, ledger = gen.curate_corpus(5, 80)
    again, ledger2 = gen.curate_corpus(5, 80)
    assert docs == again and ledger == ledger2
    assert gen.curate_corpus(6, 80)[0] != docs
    by_id = {d["doc_id"]: d["text"] for d in docs}
    assert len(by_id) == len(docs) == 80 + len(ledger.exact_copies) + len(ledger.near_copies)
    for copy, orig in ledger.exact_copies.items():
        assert by_id[copy] == by_id[orig] and copy > orig
    for copy, orig in ledger.near_copies.items():
        a, b = by_id[copy].split(), by_id[orig].split()
        assert len(a) == len(b) >= 100 and sum(x != y for x, y in zip(a, b)) == 1
    for span in ledger.spans:
        assert sum(f" {span} " in f" {t} " for t in by_id.values()) >= 3


def test_reference_dedup_drops_copies_and_keeps_the_lowest_id():
    docs, ledger = gen.curate_corpus(5, 80)
    kept = workloads.reference_dedup(docs, num_hashes=32, bands=8)
    assert not kept & set(ledger.exact_copies)
    assert set(ledger.near_copies.values()) <= kept
    # a doc and a copy with one word added share a one-hash band: one
    # component, of which the lowest id is kept
    text = " ".join(f"w{i}" for i in range(50))
    same = [{"doc_id": i, "text": text + (" x" if i else "")} for i in (7, 3)]
    assert workloads.reference_dedup(same, num_hashes=32, bands=32) == {3}


def test_parse_metric_reads_rendered_sql_metrics():
    total = "total (min, med, max (stageId: taskId))\n8.0 s (1.9 s, 2.0 s, 2.1 s (stage 0.0: task 1))"
    assert spans.parse_metric(total) == pytest.approx(8.0)
    assert spans.parse_metric("853 ms") == pytest.approx(0.853)
    assert spans.parse_metric("1,000") == 1000
    assert spans.parse_metric("4.2 MiB") == pytest.approx(4.2 * 1024 ** 2)
    assert spans.parse_metric(None) == 0.0


def test_union_seconds_merges_overlaps():
    assert spans._union_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)


def test_benchmark_json_names_what_the_runner_emits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    layer = run.per_layer_units()
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == layer
    assert len(layer) <= 128


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _smoke(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_smoke_run(workload, trace):
    info, result = _smoke(workload, 1, trace)
    assert info["host_before"]["nproc"] >= 1 and info["master"] == run.MASTER
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"], info["failures"]
    if workload == "serve":
        assert info["window"]["table_rows"] >= workloads.MIN_INDEX_ROWS
    want = run.per_layer_units() if trace else run.END_TO_END
    assert set(result["metrics"]) == set(want)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
        return
    values = {k: m["value"] for k, m in result["metrics"].items()}
    spans_run = {k.rsplit(".", 1)[0] for k, v in values.items()
                 if k.endswith(".jobs") and v > 0}
    assert spans_run == set(run.WORKLOADS[workload])


def test_curate_output_hash_repeats_across_runs():
    first, _ = _smoke("curate", 2, 0)
    second, _ = _smoke("curate", 2, 0)
    assert first["window"]["output_sha256"] == second["window"]["output_sha256"]
    # the second run compared its output with the first one's itself
    assert second["window"]["runs_compared"] >= 1
    assert not [f for f in second["failures"] if "output hash" in f]
