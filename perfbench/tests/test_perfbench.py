"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The two tiny-run tests start Spark (about two minutes together); the
others run without it.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import inputs, workloads  # noqa: E402
from perfbench.trace import Span, self_time  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# shrink every input so a run takes a minute, not the benchmark's sizes
TINY = (
    "import sys; sys.path.insert(0, {root!r}); "
    "from perfbench import workloads as W; "
    "W.PAIRS_ROWS, W.DOCS, W.EVENTS = 600, 120, 3000; "
    "W.WARM_DOCS, W.WARM_EVENTS = 60, 1000; "
    "from perfbench.run import main; sys.exit(main({argv!r}))"
)


def tiny_run(workload: str, trace: int) -> tuple[dict, str]:
    argv = ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(
        [sys.executable, "-c", TINY.format(root=ROOT, argv=argv)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def test_tiny_run_emits_every_end_to_end_metric():
    res, out = tiny_run("pairs_pipeline", 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert "metric images_per_s" in out and "metric failed_ops_frac" in out


def test_tiny_traced_run_emits_every_layer_metric_and_nested_spans():
    res, out = tiny_run("corpus_prep", 1)
    assert res["correct"], out
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for span in ("prepare_corpus", "train_models_fused", "stage_and_drain_many",
                 "stream_sessionize", "minhash_lsh_pairs", "pack_bins"):
        assert res["metrics"][f"{span}.wall_s"]["value"] > 0, span
    with open(os.path.join(BENCH, ".work", "spans-corpus_prep-s7.json")) as fh:
        spans = json.load(fh)
    by_id = {s["run_id"]: s for s in spans}
    children = [s for s in spans if s["parent"]]
    assert children, "no nested spans recorded"
    for c in children:
        p = by_id[c["parent"]]
        assert c["end"] - c["start"] <= p["end"] - p["start"], (c["name"], p["name"])
        assert p["start"] <= c["start"] and c["end"] <= p["end"], (c["name"], p["name"])


def test_self_time_counts_overlapping_children_once():
    parent = Span("p", start=0.0, end=10.0, run_id="p")
    kids = [Span("a", 1.0, 4.0), Span("b", 3.0, 6.0), Span("c", 8.0, 9.0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 5.0 - 1.0)


@pytest.fixture(scope="module")
def pairs_wl(tmp_path_factory):
    return workloads.PairsPipeline(str(tmp_path_factory.mktemp("cache")), seed=3)


def _write_decisions(out: str, labels: pd.DataFrame) -> None:
    d = os.path.join(out, "decisions", "group=0")
    os.makedirs(d)
    labels.rename(
        columns={"true_decision": "decision", "true_scrubbed_caption": "caption_scrubbed"}
    )[["image_id", "decision", "caption_scrubbed"]].to_parquet(os.path.join(d, "p.parquet"))


def test_pairs_check_accepts_planted_truth_and_rejects_corruption(pairs_wl, tmp_path):
    labels = pd.read_parquet(os.path.join(pairs_wl.dir, "pairs_labels.parquet"))
    _write_decisions(str(tmp_path / "ok"), labels)
    f1, err = pairs_wl.check(str(tmp_path / "ok"))
    assert err is None and f1 == 1.0

    flipped = labels.copy()
    n = len(flipped) // 20
    flipped.loc[: n - 1, "true_decision"] = flipped.loc[: n - 1, "true_decision"].map(
        {"keep": "drop", "drop": "keep", "scrub": "keep"}
    )
    _write_decisions(str(tmp_path / "flip"), flipped)
    f1, err = pairs_wl.check(str(tmp_path / "flip"))
    assert err is not None and f1 < workloads.F1_FLOOR

    scrub = labels.copy()
    i = scrub.index[scrub["true_decision"] == "scrub"][0]
    scrub.loc[i, "true_scrubbed_caption"] += " leaked@example.com"
    _write_decisions(str(tmp_path / "scrub"), scrub)
    f1, err = pairs_wl.check(str(tmp_path / "scrub"))
    assert err is not None and "scrub" in err

    _write_decisions(str(tmp_path / "short"), labels.iloc[1:])
    assert pairs_wl.check(str(tmp_path / "short"))[1] is not None


def test_a_check_that_raises_counts_as_a_failed_operation():
    from perfbench.run import Run

    run = Run(None, io.StringIO())
    run.checked(lambda out: pd.DataFrame({"doc_id": [1, 1]}).set_index("doc_id").reindex([1]), None)
    assert run.failed == 1 and run.f1s == [0.0]
    assert "check raised" in run.out.getvalue()


def test_oracle_comparison_rejects_one_changed_cell():
    want = pd.DataFrame({"mode": ["decision"] * 3, "doc_id": [1, 2, 3], "decision": ["keep", "drop", "keep"]})
    assert workloads.same_rows(want.sample(frac=1, random_state=1), want) is None
    bad = want.copy()
    bad.loc[2, "decision"] = "drop"
    assert workloads.same_rows(bad, want) is not None
    assert workloads.same_rows(want.astype({"doc_id": float}), want) is not None


def test_generators_are_deterministic(tmp_path):
    a = inputs.build_documents(str(tmp_path), 5, 300)
    h = inputs.content_hash(str(tmp_path))
    shutil.rmtree(tmp_path)
    os.makedirs(tmp_path)
    assert inputs.build_documents(str(tmp_path), 5, 300) == a
    assert inputs.content_hash(str(tmp_path)) == h


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's
    files the command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    p = subprocess.run(
        SPEC["command"] + ["--workload", "pairs_pipeline", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
