"""Blocking (distinct-surface pairing, token keys, LSH bands, salting)
and pairwise scoring."""

import random
import re
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bern_spark.operators.blocking import candidate_pairs, with_block_keys
from bern_spark.operators.scoring import score_pairs


def _surfaces(spark, rows):
    return spark.createDataFrame(rows, ["etype", "surface"])


def test_block_keys_token_and_full(spark):
    m = with_block_keys(_surfaces(spark, [("drug", "Beta-Blocker X")]))
    r = m.collect()[0]
    assert r.block_key == "drug:beta"  # first alnum token, tmchem'd
    assert r.block_key_full == "drug:fk:betablockerx"
    assert len(r.bands) == 4


def test_candidate_pairs_same_key_and_order(spark):
    m = with_block_keys(
        _surfaces(spark, [("drug", "aspirin"), ("drug", "Aspirin!"), ("gene", "aspirin")])
    )
    pairs = candidate_pairs(m, use_lsh=False).collect()
    got = {(p.etype, p.mention_a, p.mention_b) for p in pairs}
    # same etype + same key pairs once, canonical order; never cross-etype
    assert got == {("drug", "Aspirin!", "aspirin")}


def test_lsh_catches_typo_pair(spark):
    m = with_block_keys(
        _surfaces(spark, [("drug", "pembrolizumab"), ("drug", "zembrolizumab")])
    )
    pairs = candidate_pairs(m, use_lsh=True).collect()
    assert {(p.mention_a, p.mention_b) for p in pairs} == {("pembrolizumab", "zembrolizumab")}


def test_salting_caps_block_size(spark):
    # 60 distinct surfaces sharing one token key -> salted into shards
    m = with_block_keys(
        _surfaces(spark, [("drug", f"hot blend{i:03d}") for i in range(60)])
    )
    pairs = candidate_pairs(m, max_block_size=10, use_lsh=False)
    n = pairs.count()
    assert 0 < n < 60 * 59 / 2  # far below the unsalted quadratic


def test_scoring_short_circuit_and_threshold(spark):
    pairs = spark.createDataFrame(
        [
            ("b", "Beta Blocker", "beta-blocker", "drug"),
            ("b", "aspirin", "wildly different", "drug"),
            ("b", "BRCA1 gene", "brca1", "gene"),
            ("b", "c.123A>G", "c.124A>G", "mutation"),
        ],
        ["block_key", "mention_a", "mention_b", "etype"],
    )
    out = {r.mention_a: r.score for r in score_pairs(pairs, threshold=0.85).collect()}
    assert out.get("Beta Blocker") == 1.0  # tmchem-equal short circuit
    assert "aspirin" not in out  # below threshold
    assert out.get("BRCA1 gene") == pytest.approx(1.0)  # gene-suffix strip + case
    assert "c.123A>G" not in out  # mutation: exact-equivalence only


# ---------------------------------------------------------------------------
# blocking: cross-shard bridges + salting stats
# ---------------------------------------------------------------------------


def test_salted_block_bridges_and_stats(spark):
    from bern_spark.operators.blocking import (
        candidate_pairs,
        salting_stats,
        with_block_keys,
    )

    # 300 surfaces sharing the first-token block key 'hot'
    surfaces = spark.range(300).select(
        F.lit("drug").alias("etype"),
        F.concat(F.lit("hot variant"), F.col("id")).alias("surface"),
    )
    blocked = with_block_keys(surfaces).persist()
    pairs = candidate_pairs(blocked, max_block_size=50, use_lsh=False).persist()

    stats = salting_stats(blocked, max_block_size=50, use_lsh=False).collect()
    assert any(r.bsize == 300 and r.n_shards >= 2 for r in stats)

    bridges = pairs.where(F.col("block_key").endswith("#rep"))
    assert bridges.count() > 0
    # every bridge touches the block representative (global min surface)
    brep = surfaces.agg(F.min("surface")).collect()[0][0]
    assert bridges.where(F.col("mention_a") != brep).count() == 0

    # transitive reachability: bridge edges + within-shard edges connect
    # the whole hot block into one component
    from bern_spark.operators.cc import connected_components

    edges = pairs.select(
        F.col("mention_a").alias("src"), F.col("mention_b").alias("dst")
    )
    k = (
        connected_components(edges)
        .agg(F.countDistinct("cluster_id"))
        .collect()[0][0]
    )
    assert k == 1
    pairs.unpersist()
    blocked.unpersist()


def test_block_keys_plan_is_jvm_only(spark):
    # relational minhash: no Python eval node anywhere in the blocking plan
    from bern_spark.operators.blocking import with_block_keys

    surfaces = spark.createDataFrame(
        [("drug", "aspirin"), ("drug", "asprin")], ["etype", "surface"]
    )
    plan = with_block_keys(surfaces)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # near-identical surfaces still share at least one band bucket
    rows = with_block_keys(surfaces).collect()
    assert len(rows[0].bands) == 4


# ---------------------------------------------------------------------------
# property: candidate_pairs == a pure-Python blocking reference
# ---------------------------------------------------------------------------


def _blocks(blocked, use_lsh):
    """bkey -> {(etype, surface, hash(surface))}: one block per distinct
    key, with Spark's ``hash(surface)`` from one select."""
    rows = blocked.select(
        "etype", "surface", "block_key", "block_key_full", "bands", F.hash("surface").alias("h")
    ).collect()
    blocks = defaultdict(set)
    for r in rows:
        keys = [r.block_key, r.block_key_full] + (list(r.bands) if use_lsh else [])
        for k in set(keys):
            blocks[k].add((r.etype, r.surface, r.h))
    return blocks


def _reference_pairs(blocks, cap):
    """(etype, mention_a, mention_b) -> the keys that yield the pair, by
    the blocking contract in plain Python: blocks above ``cap`` split into
    ``ceil(bsize / cap)`` shards by hash, all pairs a < b within a shard
    (key ``<bkey>#<shard>``), and one bridge per shard from the block's
    min surface to the shard's min (key ``<bkey>#rep``)."""
    out = defaultdict(set)
    for bkey, ms in blocks.items():
        n_shards = -(-len(ms) // cap) if len(ms) > cap else 1
        shards = defaultdict(list)  # (etype, shard) -> surfaces
        for et, s, h in ms:
            shards[(et, h % n_shards)].append(s)
        for (et, shard), ss in shards.items():
            for a in ss:
                for b in ss:
                    if a < b:
                        out[(et, a, b)].add(f"{bkey}#{shard}")
        if len(ms) > cap:
            for et in {et for et, _ in shards}:
                reps = [min(ss) for (e, _), ss in shards.items() if e == et]
                for r in reps:
                    if r != min(reps):
                        out[(et, min(reps), r)].add(f"{bkey}#rep")
    return out


def _pairs(df):
    return {(r.etype, r.mention_a, r.mention_b) for r in df.collect()}


def _pair_keys(df):
    """(etype, mention_a, mention_b) -> block_key; each pair occurs once."""
    rows = df.collect()
    out = {(r.etype, r.mention_a, r.mention_b): r.block_key for r in rows}
    assert len(out) == len(rows)
    return out


_HEADS = ["hot", "Hot", "cold", "a", "é", "字", "😀", "β-1", "x"]
_TAILS = ["", " a", " b", " 1", "-b", "!", " é", " 字", " gene"]


@st.composite
def _vocabularies(draw):
    """Distinct (etype, surface) rows over a small token pool: shared first
    tokens make hot blocks, case/punctuation variants share both the token
    and the full-surface key, non-ASCII heads share the empty token key,
    and a surface may recur under another etype."""
    surface = st.builds(lambda h, t: h + t, st.sampled_from(_HEADS), st.sampled_from(_TAILS))
    rows = draw(
        st.sets(st.tuples(st.sampled_from(["drug", "gene"]), surface), min_size=1, max_size=24)
    )
    return sorted(rows), draw(st.sampled_from([2, 3])), draw(st.booleans())


_HOT = [("drug", f"hot {c}") for c in "abcdefg"]
_SYLLABLES = ("ra", "zo", "mi", "ta", "lek", "vor", "din", "ax", "bru", "cel", "fi", "gor", "han")


def _syllable_vocab(seed, n):
    """``n`` drug surfaces: seeded syllable stems with case, hyphen and
    deletion variants, so many pairs share several keys of every family."""
    rng = random.Random(seed)
    out = set()
    while len(out) < n:
        stem = "".join(rng.choice(_SYLLABLES) for _ in range(3 + rng.randrange(2)))
        i = rng.randrange(1, len(stem) - 1)
        for s in (stem, stem.capitalize(), stem[:3] + "-" + stem[3:], stem[:i] + stem[i + 1 :]):
            out.add(("drug", s))
    return sorted(out)[:n]


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_vocabularies())
@example((_HOT, 2, False))  # one hot block, 4 shards: bridges carry cross-shard pairs
@example((_HOT + [("gene", s) for _, s in _HOT], 3, True))  # same keys under two etypes
@example(([("drug", s) for s in ["a", "é", "字", "😀", "x", "Aspirin", "aspirin!"]], 2, True))
@example(([("drug", "a")], 2, False))  # a lone surface has no pair
@example((_syllable_vocab(2, 290), 5, True))  # ~120 pairs found under several keys
def test_candidate_pairs_match_reference(spark, case):
    rows, cap, use_lsh = case
    blocked = with_block_keys(_surfaces(spark, rows))
    blocks = _blocks(blocked, use_lsh)
    got = _pair_keys(candidate_pairs(blocked, max_block_size=cap, use_lsh=use_lsh))
    ref = _reference_pairs(blocks, cap)
    assert set(got) == set(ref)
    # a pair found under several keys keeps the smallest of them
    assert got == {p: min(keys) for p, keys in ref.items()}
    # at a cap no block exceeds, the salted path is the unsalted one
    top = max(len(ms) for ms in blocks.values())
    assert _pairs(candidate_pairs(blocked, max_block_size=top, use_lsh=use_lsh)) == _pairs(
        candidate_pairs(blocked, max_block_size=10_000, use_lsh=use_lsh)
    )


# ---------------------------------------------------------------------------
# plan guard: blocking + scoring behind two exchanges
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("cap", [200, 3])
def test_blocking_and_scoring_two_exchanges_three_jobs(spark, cap):
    """Blocking + scoring of 900 surfaces (one 300-surface hot block, 150
    blocks of 4) shuffles once on the block key and once for the
    cross-family dedup, joins nothing, and forces in at most 3 jobs (two
    shuffle stages plus the result stage under AQE)."""
    i = F.col("id").cast("string")
    hot = spark.range(300).select(F.concat(F.lit("hot variant"), i))
    rest = spark.range(600).select(
        F.concat(F.lit("w"), (F.col("id") % 150).cast("string"), F.lit(" t"), i)
    )
    surfaces = (
        hot.union(rest)
        .toDF("surface")
        .select(F.lit("drug").alias("etype"), "surface")
        .localCheckpoint()
    )
    df = score_pairs(candidate_pairs(with_block_keys(surfaces), max_block_size=cap))
    sc = spark.sparkContext
    group = f"blocking_scoring_jobs_{cap}"
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup("", "")
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n <= 3, n

    df.collect()  # AQE settles the final plan of THIS query execution
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    shuffles = [
        ln for ln in final.splitlines() if re.match(r"^[\s:+\-]*(\*\(\d+\) )?Exchange ", ln)
    ]
    assert len(shuffles) == 2, final
    assert "Join" not in final, final
