"""Self-tests of the benchmark: metric coverage and that each output check
catches a corrupted output.

    python -m pytest perfbench/tests -q

The smoke runs start Spark twice (about four minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, vocab_gen  # noqa: E402


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _smoke(workload: str, trace: int) -> tuple[list[str], dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    return out, json.loads(out[-1])


@pytest.mark.parametrize("workload,trace,section", [
    ("er_vocab", 0, "end_to_end"),
    ("er_corpus", 1, "per_layer"),
])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace, section):
    lines, result = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = {m["name"]: m["unit"] for m in _bench_spec()[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == spec
    printed = {ln.split()[1]: ln.split()[3] for ln in lines if ln.startswith("metric ")}
    assert printed == spec
    if trace == 0:
        assert any(ln.startswith("failure_ratio 0.0000") for ln in lines)


def test_workload_names_match_the_command():
    from perfbench.run import WORKLOADS

    assert tuple(w["name"] for w in _bench_spec()["workloads"]) == WORKLOADS


def test_vocab_generator_is_seeded_and_sized_by_one_argument():
    a = vocab_gen.generate(5, 40)
    assert a == vocab_gen.generate(5, 40)
    assert a != vocab_gen.generate(6, 40)
    turns, lexicon, dicts = a
    text = " ".join(t[3] for t in turns)
    assert all(s in text for _, s, _ in lexicon)
    assert len(vocab_gen.generate(5, 80)[1]) > 1.9 * len(lexicon) - 10
    ents = vocab_gen.entities(5, 40)
    cui_less = [e for e in ents if e[1] is None]
    assert len(cui_less) == sum(1 for i in range(40) if i % 7 == 3) * 4


def test_union_find_check_catches_one_relabelled_node():
    edges = [("a", "b"), ("b", "c"), ("d", "e")]
    labels = checks.union_find_labels(edges)
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}
    assert checks.label_errors(edges, labels) == []
    assert checks.label_errors(edges, {**labels, "c": "c"})
    assert checks.label_errors(edges, {k: v for k, v in labels.items() if k != "e"})


def test_a_changed_second_digest_fails_the_run():
    from perfbench import workloads

    first = checks.digest_of({"n": 3, "h": 10})
    second = checks.digest_of({"n": 3, "h": 11})
    assert checks.digest_errors("run 1", first, first) == []
    result = workloads.Result(turns=1, measured_s=2.0)
    workloads._record(result, "run 0", 1.0, 0, first, [])
    workloads._record(result, "run 1", 1.0, 0, second, checks.digest_errors("run 1", second, first))
    assert len(result.failures) == 1 and "run 1" in result.failures[0]
    assert [it.ok for it in result.iterations] == [True, False]
    assert workloads.summarize(result)["success_ratio"] == 0.5


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from bern_spark.session import get_spark

    s = get_spark("perfbench_tests", extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _annotations(spark, text: str, start: int, end: int, mention: str):
    schema = (
        "conv_id string, turn_idx int, text string, "
        "denotations array<struct<start:int, end:int, mention:string>>"
    )
    return spark.createDataFrame(
        [("c1", 0, text, [(start, end, mention)]), ("c1", 1, "no entities", [])], schema
    )


def _observed(df) -> dict:
    return df.agg(*checks.annotations_aggs(df)).collect()[0].asDict()


def test_span_and_text_checks_catch_a_shifted_span_and_a_changed_turn(spark):
    from pyspark.sql import functions as F

    good = _annotations(spark, "take razol daily", 5, 10, "razol")
    digest = checks.text_digest(good.select("conv_id", "turn_idx", "text"))
    assert checks.annotation_errors(_observed(good), digest) == []

    shifted = _annotations(spark, "take razol daily", 6, 11, "razol")
    errors = checks.annotation_errors(_observed(shifted), digest)
    assert len(errors) == 1 and "text[start:end] != mention" in errors[0]

    changed = good.withColumn(
        "text", F.when(F.col("turn_idx") == 1, F.lit("no entity")).otherwise(F.col("text"))
    )
    errors = checks.annotation_errors(_observed(changed), digest)
    assert len(errors) == 1 and "per-turn text" in errors[0]
