"""Workload inputs, the timed closed loop, and the traced run.

Each workload builds its inputs from ``--seed`` (the program only ever sees
the generated tables), then runs ``resolve_entities`` as a closed loop with
one client: the next iteration starts only after the previous result has
been forced and checked. Checks run between iterations, outside the timed
interval.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import checks, probes, vocab_gen
from perfbench.trace import LAYERS, Tracer, dir_bytes, group_counters

# One size per workload. er_corpus: conversations, many turns over a small
# vocabulary. er_vocab: entities per type, few turns over a vocabulary >= 10x
# er_corpus's distinct surfaces. The self-tests run the small sizes.
SIZES = {"er_corpus": 2_000, "er_vocab": 60}
SMALL_SIZES = {"er_corpus": 100, "er_vocab": 6}
CORPUS_PER_TYPE = 6
CORPUS_FILES = 4
SETUP_REPEATS = 3
# a benchmark process must exit within 180 s; the calibration probe (6-9 s
# on 4 cores) is context, so it is left out when the run is later than this
CALIBRATION_DEADLINE_S = 120
STARTED = time.perf_counter()

DICT_SCHEMA = T.StructType(
    [T.StructField("oid", T.StringType()), T.StructField("name", T.StringType())]
)
META_SCHEMA = T.StructType(
    [
        T.StructField("oid", T.StringType()),
        T.StructField("ext_ids", T.ArrayType(T.StringType())),
    ]
)


@dataclass
class Inputs:
    transcripts: DataFrame
    lexicon: DataFrame
    dicts: dict
    turns: int
    input_bytes: int
    text_digest: tuple


@dataclass
class Iteration:
    wall: float
    shuffle_bytes: int
    digest: tuple
    ok: bool


@dataclass
class Result:
    iterations: list = field(default_factory=list)
    failures: list = field(default_factory=list)
    measured_s: float = 0.0
    turns: int = 0
    setup_s: float = 0.0
    session_start_s: float = 0.0
    worker_rss_mb: float = 0.0
    per_layer: dict = field(default_factory=dict)
    context: dict = field(default_factory=dict)


# -- inputs ------------------------------------------------------------------


def _small_dicts(spark, rows_by_table: dict) -> dict:
    dicts = {k: spark.createDataFrame(v or [("_", "_")], DICT_SCHEMA) for k, v in rows_by_table.items()}
    dicts["dict_gene_oldbest"] = spark.createDataFrame([], DICT_SCHEMA)
    dicts["dict_gene_freq"] = spark.createDataFrame([], DICT_SCHEMA)
    for k in ("meta_gene", "meta_disease", "meta_drug"):
        dicts[k] = spark.createDataFrame([], META_SCHEMA)
    return dicts


def _write_corpus(spark, seed: int, path: str, convs: int):
    from bern_spark.datagen_spark import scale_corpus

    tr, lexicon, dicts = scale_corpus(
        spark, convs, per_type=CORPUS_PER_TYPE, seed=seed, partitions=CORPUS_FILES
    )
    tr.write.mode("overwrite").parquet(path)
    return lexicon, dicts


def _write_vocab(spark, seed: int, path: str, per_type: int):
    import pyarrow as pa
    import pyarrow.parquet as pq

    turns, lex_rows, dict_rows = vocab_gen.generate(seed, per_type)
    cols = list(zip(*turns))
    table = pa.table(
        {
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            "ts": pa.array([t * 1_000_000 for t in cols[5]], pa.timestamp("us", tz="UTC")),
        }
    )
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    lexicon = spark.createDataFrame(lex_rows, ["etype", "surface", "weight"])
    return lexicon, _small_dicts(spark, dict_rows)


WRITERS = {"er_corpus": _write_corpus, "er_vocab": _write_vocab}


def build_inputs(spark, workload: str, seed: int, workdir: str, repeats: int,
                 size: int) -> tuple[Inputs, list[float]]:
    """Generate, write and load the workload's inputs ``repeats`` times (same
    seed, so the same tables); return the last build and every build's wall."""
    walls, built = [], None
    for k in range(repeats):
        t0 = time.perf_counter()
        path = os.path.join(workdir, f"input_{k}")
        lexicon, dicts = WRITERS[workload](spark, seed, path, size)
        tr = spark.read.parquet(path)
        text_digest = checks.text_digest(tr)
        walls.append(time.perf_counter() - t0)
        if k:
            shutil.rmtree(os.path.join(workdir, f"input_{k - 1}"), ignore_errors=True)
        built = Inputs(tr, lexicon, dicts, text_digest[0], dir_bytes(path), text_digest)
    return built, walls


# -- one iteration -----------------------------------------------------------


def _record(result: Result, name: str, wall: float, shuffle: int, digest: tuple, errors: list) -> None:
    result.iterations.append(Iteration(wall, shuffle, digest, not errors))
    result.failures += [f"{name}: {e}" for e in errors]


def run_once(spark, inp: Inputs, group: str, config=None, lineage_store=None):
    """Resolve, force ``mentions`` and ``annotations``; return the result dict,
    the wall from the call until both are forced, and the observed digests."""
    from bern_spark.pipeline import resolve_entities

    spark.sparkContext.setJobGroup(group, group)
    obs_m, obs_a = Observation(f"{group}-m"), Observation(f"{group}-a")
    t0 = time.perf_counter()
    res = resolve_entities(
        inp.transcripts, inp.lexicon, inp.dicts, config=config, lineage_store=lineage_store
    )
    m = res["mentions"]
    m.observe(obs_m, *checks.mentions_digest_aggs(m)).write.format("noop").mode("overwrite").save()
    a = res["annotations"]
    a.observe(obs_a, *checks.annotations_aggs(a)).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return res, wall, obs_m.get, obs_a.get


def check_iteration(inp: Inputs, res, obs_m: dict, obs_a: dict) -> list[str]:
    errors = checks.annotation_errors(obs_a, inp.text_digest)
    edges = [(r["src"], r["dst"]) for r in res["edges"].collect()]
    labels = {r["node"]: r["cluster_id"] for r in res["surface_labels"].collect()}
    errors += checks.label_errors(edges, labels)
    return errors


def timed_loop(spark, inp: Inputs, seconds: float, result: Result) -> None:
    sampler = probes.RssSampler()
    sampler.start()
    try:
        k = 0
        while True:
            group = f"pb-iter-{k}"
            t_begin = time.perf_counter()
            try:
                res, wall, obs_m, obs_a = run_once(spark, inp, group)
            except Exception as e:  # a raised run counts as a failed run
                wall = time.perf_counter() - t_begin
                result.measured_s += wall
                _record(result, f"run {k}", wall, 0, (), [f"raised {type(e).__name__}: {e}"])
            else:
                result.measured_s += wall
                sampler.pause()
                shuffle = group_counters(spark, group)["shuffle_bytes"]
                digest = checks.digest_of(obs_m)
                errors = check_iteration(inp, res, obs_m, obs_a)
                first = next((it.digest for it in result.iterations if it.digest), None)
                if first is None:
                    result.context["mentions_digest"] = digest
                else:
                    errors += checks.digest_errors(f"run {k}", digest, first)
                _record(result, f"run {k}", wall, shuffle, digest, errors)
                sampler.resume()
            k += 1
            if result.measured_s >= seconds:
                break
    finally:
        sampler.stop()
    result.worker_rss_mb = sampler.peak_workers_mb
    # the JVM's peak follows its garbage collector's heap sizing and moved by a
    # third between runs of one seed, so it is reported, not bounded
    result.context["peak_rss_mb"] = {
        "jvm_and_workers": round(sampler.peak_mb, 1), "jvm": round(sampler.peak_jvm_mb, 1)
    }


# -- traced run --------------------------------------------------------------


def _layer_metrics(tracer: Tracer) -> dict:
    out = {}
    for layer in LAYERS:
        spans = tracer.top_level(layer)
        inc = [tracer.inclusive(s) for s in spans]
        out[f"{layer}.wall_s"] = sum(s.wall for s in spans)
        for key in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"):
            out[f"{layer}.{key}"] = sum(c[key] for c in inc)
        out[f"{layer}.rows_in"] = spans[0].rows_in if spans else 0
        out[f"{layer}.rows_out"] = spans[-1].rows_out if spans else 0
    return out


def traced_run(spark, inp: Inputs, workload: str, workdir: str, spans_path: str,
               result: Result) -> None:
    """One traced iteration, first in its session like every timed run, then
    a second iteration whose ``mentions`` digest must match. On er_corpus
    the second goes through a fresh ``LineageStore``
    (``ERConfig(extract_buckets=8)``, as ``jobs/resolve.py`` runs with
    ``--lineage-dir``) with its store calls traced, followed by ``bench.py``'s
    fixed-work calibration probe; on er_vocab it is the same call untraced.
    Fills ``result.per_layer``."""
    from bench import _calibrate
    from bern_spark.lineage import LineageStore
    from bern_spark.operators.blocking import salting_stats
    from bern_spark.operators.normalize import CUI_LESS
    from bern_spark.pipeline import ERConfig

    tracer = Tracer(spark, "traced")
    with tracer.patch():
        with tracer.span("resolve_entities", "pipeline") as pipe:
            res, _, obs_m, obs_a = run_once(spark, inp, pipe.group)
    tracer.finish()
    digest = checks.digest_of(obs_m)
    result.context["mentions_digest"] = digest
    _record(result, "traced", pipe.wall, 0, digest, check_iteration(inp, res, obs_m, obs_a))

    out = _layer_metrics(tracer)
    norm = tracer.outputs["normalize_all"]
    n_norm = out["normalize.rows_out"]
    out["normalize.hit_ratio"] = (
        norm.where(F.col("oid") != CUI_LESS).count() / n_norm if n_norm else 0.0
    )
    surfaces = out["blocking.rows_in"]
    out["blocking.pairs_per_surface"] = out["blocking.rows_out"] / surfaces if surfaces else 0.0
    out["blocking.salted_blocks"] = salting_stats(
        tracer.outputs["with_block_keys"], ERConfig().max_block_size
    ).count()
    cands = out["scoring.rows_in"]
    out["scoring.match_ratio"] = out["scoring.rows_out"] / cands if cands else 0.0
    inc = tracer.inclusive(pipe)
    layer_wall = sum(s.wall for s in tracer.children(pipe))
    out.update({
        "pipeline.wall_s": pipe.wall,
        "pipeline.self_s": pipe.wall - layer_wall,
        "pipeline.jobs": inc["jobs"],
        "pipeline.stages": inc["stages"],
        "pipeline.shuffle_bytes": inc["shuffle_bytes"],
    })
    # unpersist first: a cached layer output would otherwise stand in for
    # the same plan in the second pass
    tracer.release()
    tracer.dump(spans_path)
    result.context["layer_shares"] = {
        layer: round(out[f"{layer}.wall_s"] / pipe.wall, 3) for layer in LAYERS
    }

    def check_against_traced(what, res, obs_m, obs_a) -> list[str]:
        return check_iteration(inp, res, obs_m, obs_a) + checks.digest_errors(
            what, checks.digest_of(obs_m), digest
        )

    out.update({"lineage.wall_s": 0.0, "lineage.stages": 0, "lineage.bytes_written": 0,
                "lineage.write_amplification": 0.0, "tracing.overhead_s": 0.0})
    if workload == "er_corpus":
        ltr = Tracer(spark, "lineage")
        with ltr.patch(layers=False):
            res, lwall, obs_m, obs_a = run_once(
                spark, inp, "pb-lineage", config=ERConfig(extract_buckets=8),
                lineage_store=LineageStore(os.path.join(workdir, "lineage")),
            )
        ltr.finish()
        errors = check_against_traced("the lineage-store path", res, obs_m, obs_a)
        _record(result, "lineage", lwall, 0, checks.digest_of(obs_m), errors)
        stores = [s for s in ltr.spans if s.layer == "lineage"]
        written = sum(s.extra["bytes_written"] for s in stores)
        out.update({
            "lineage.wall_s": sum(s.wall for s in ltr.top_level("lineage")),
            "lineage.stages": len(stores),
            "lineage.bytes_written": written,
            "lineage.write_amplification": written / inp.input_bytes,
        })
        result.context["lineage_resolve_wall_s"] = lwall
        if time.perf_counter() - STARTED < CALIBRATION_DEADLINE_S:
            result.context["calibration"] = _calibrate(spark)
        else:
            result.context["calibration"] = "skipped: too close to the time limit"
    else:
        res, wall, obs_m, obs_a = run_once(spark, inp, "pb-untraced")
        errors = check_against_traced("the untraced run", res, obs_m, obs_a)
        _record(result, "untraced", wall, 0, checks.digest_of(obs_m), errors)
        # the untraced call is the session's second, so this difference also
        # holds the first call's warm-up: an upper bound on the tracing cost
        out["tracing.overhead_s"] = pipe.wall - wall
        result.context["untraced_resolve_wall_s"] = wall
    out["session.start_s"] = result.session_start_s
    result.per_layer = out


def summarize(result: Result) -> dict:
    walls = [it.wall for it in result.iterations]
    ok = [it for it in result.iterations if it.ok]
    return {
        "wall_s": statistics.median(walls),
        "turns_per_s": result.turns * len(walls) / result.measured_s,
        "shuffle_bytes": statistics.median([it.shuffle_bytes for it in result.iterations]),
        "success_ratio": len(ok) / len(result.iterations),
    }
