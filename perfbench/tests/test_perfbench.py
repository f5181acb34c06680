"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The end-to-end cases start a JVM per run (about half a minute each).
"""

from __future__ import annotations

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
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- output checks ------------------------------------------------------------

EXPECTED = {101: ("positive", 1.0), 102: ("negative", 0.25),
            103: ("neutral", 0.5)}


def _results(rows):
    return pd.DataFrame(rows, columns=["record_id", "sentiment", "confidence"])


def _failed(out):
    return {name for name, ok, _ in out if not ok}


def test_correct_results_pass():
    res = _results([("101", "positive", 1.0), ("102", "negative", 0.25),
                    ("103", "neutral", 0.5)])
    assert _failed(checks.compare_results(res, EXPECTED)) == set()


def test_wrong_label_is_caught():
    res = _results([("101", "positive", 1.0), ("102", "mixed", 0.25),
                    ("103", "neutral", 0.5)])
    assert _failed(checks.compare_results(res, EXPECTED)) == {
        "labels_match_independent_scorer"}


def test_duplicate_and_missing_ids_are_caught():
    res = _results([("101", "positive", 1.0), ("101", "positive", 1.0),
                    ("102", "negative", 0.25)])
    assert _failed(checks.compare_results(res, EXPECTED)) == {
        "record_id_unique", "results_equal_landed_ids"}


def test_unflagged_source_row_is_caught():
    src = pd.DataFrame({"id": [101, 102, 103], "processed": [1, 0, 1]})
    assert _failed(checks.compare_source(src, EXPECTED)) == {
        "source_all_processed"}


def test_digest_ignores_order_and_numeric_render():
    a = checks.digest(["b", "a"], [(1, "x"), (2.0, "y")])
    b = checks.digest(["a", "b"], [("y", 2), ("x", 1.0000000001)])
    assert a == b
    assert a != checks.digest(["a", "b"], [("y", 2), ("x", 3)])


# -- generator ----------------------------------------------------------------

def test_generator_is_deterministic(tmp_path):
    a = gen.ReviewGenerator(7).land(str(tmp_path / "a"), 300, page_size=50)
    b = gen.ReviewGenerator(7).land(str(tmp_path / "b"), 300, page_size=50)
    assert a.expected == b.expected and a.corrupt_pages == b.corrupt_pages
    for pa, pb in zip(a.pages, b.pages):
        with open(pa) as fa, open(pb) as fb:
            assert fa.read() == fb.read()


def test_generator_redelivers_earlier_reviews(tmp_path):
    g = gen.ReviewGenerator(3)
    first = g.land(str(tmp_path / "a"), 400, page_size=50)
    second = g.land(str(tmp_path / "b"), 200, page_size=50,
                    redeliver_share=0.1)
    assert len(set(first.expected) & set(second.expected)) == 20


def test_independent_scorer_agrees_with_engine(tmp_path):
    from az_datapipeline_sentiment_analysis_spark.functions.text import (
        _score_series,
    )

    landed = gen.ReviewGenerator(5).land(str(tmp_path), 500, page_size=500)
    with open(landed.pages[0]) as f:
        reviews = json.load(f)["result"]
    texts = [". ".join(t for t in (r["title"], r["pros"], r["cons"]) if t)
             for r in reviews]
    engine = _score_series(pd.Series(texts))
    for text, label, scores in zip(texts, engine["sentiment"],
                                   engine["confidenceScores"]):
        assert gen.score_tokens(text) == (label, scores["positive"])


# -- the benchmark command ----------------------------------------------------

def _run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["trickle", "curation"])
def test_every_metric_prints_with_its_unit(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout[-3000:]
    declared = _bench_json()["end_to_end" if trace == 0 else "per_layer"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        _check_pipeline_counts(workload, {
            k: v["value"] for k, v in result["metrics"].items()})


def _check_pipeline_counts(workload, m):
    """The incremental layer's counts, read from the program, show a
    trickle increment's redelivered reviews and its full rewrite."""
    from workloads import TINY

    if workload != "trickle":
        return
    attempted = m["incremental.merge_attempted"]
    inserted = m["incremental.merge_inserted"]
    # redelivered reviews reach the merge but are not inserted, and
    # flagging an increment rewrites the whole preloaded source
    assert TINY.trickle_increment == attempted > inserted > 0
    assert m["incremental.mark_rows_flipped"] == attempted
    assert m["incremental.mark_rows_rewritten"] > TINY.trickle_base


def test_missing_engine_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("trickle", 0, cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_tampered_results_fail_the_pipeline_check(tmp_path):
    """A wrong row written into the results table is caught."""
    os.environ["PYTHONPATH"] = ROOT
    from az_datapipeline_sentiment_analysis_spark.session import get_spark
    from az_datapipeline_sentiment_analysis_spark.sources import json_ingest
    from az_datapipeline_sentiment_analysis_spark.streaming import incremental

    spark = get_spark("perfbench-test", master="local[2]",
                      extra_conf={"spark.local.dir": str(tmp_path / "local")})
    try:
        _tamper_and_check(spark, json_ingest, incremental, tmp_path)
    finally:
        spark.stop()


def _tamper_and_check(spark, json_ingest, incremental, tmp_path):
    pages, src, res = (str(tmp_path / d) for d in ("pages", "src", "res"))
    landed = gen.ReviewGenerator(9).land(pages, 200, page_size=50)
    corpus = json_ingest.review_text_corpus(
        json_ingest.silver_reviews(json_ingest.read_bronze(spark, pages)))
    incremental.init_source(spark, corpus, src)
    incremental.run_increment(spark, src, res)

    def run_checks():
        return _failed(checks.pipeline_checks(
            spark, incremental, json_ingest, src, res, [pages],
            landed.expected))

    assert run_checks() == set()
    bad = spark.read.parquet(res).toPandas()
    bad.loc[0, "sentiment"] = "mixed" if bad.loc[0, "sentiment"] != "mixed" \
        else "neutral"
    spark.createDataFrame(bad, schema=spark.read.parquet(res).schema) \
        .write.mode("overwrite").parquet(res + "_bad")
    shutil.rmtree(res)
    os.rename(res + "_bad", res)
    assert run_checks() == {"labels_match_independent_scorer"}
