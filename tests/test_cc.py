"""Connected components: both paths of the size gate (driver union-find and
star rounds) against each other and a pure-Python reference; star-round
skew safety and shuffle budget; max_iter exhaustion; the caller's cut,
durable iteration stages and resume; job counts."""

import itertools
import os
from contextlib import contextmanager, nullcontext
from unittest import mock

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bern_spark.operators import cc
from bern_spark.operators.cc import connected_components


@contextmanager
def star_path():
    """Force the star rounds: every graph is over a bound of 0 edges."""
    with mock.patch.object(cc, "LOCAL_MAX_EDGES", 0):
        yield


def _labels(df):
    return {r.node: r.cluster_id for r in df.collect()}


def _is_local(df):
    """The local path returns a broadcast-hinted relation; the star path
    attaches no hint."""
    return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()


def _both(spark, edges, **kw):
    """Labels from the local path and the star path, asserted equal. An
    empty graph is within any bound, so it never reaches the star path."""
    df = spark.createDataFrame(edges, "src string, dst string")
    local = connected_components(df, **kw)
    assert _is_local(local)
    with star_path():
        star = connected_components(df, **kw)
    assert _is_local(star) == (not edges)
    got = _labels(local)
    assert _labels(star) == got
    return got


def _reference(edges):
    """Pure-Python components by breadth-first search; label = min member."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    out = {}
    for start in adj:
        if start in out:
            continue
        comp, todo = {start}, [start]
        while todo:
            for v in adj[todo.pop()]:
                if v not in comp:
                    comp.add(v)
                    todo.append(v)
        root = min(comp)
        out.update(dict.fromkeys(comp, root))
    return out


def test_chain(spark):
    got = _both(spark, [("b", "a"), ("c", "b"), ("d", "c")])
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_cycle_and_self_loop(spark):
    got = _both(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("z", "z")])
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["z"] == "z"


def test_two_components(spark):
    got = _both(spark, [("a", "b"), ("x", "y")])
    assert got["a"] == got["b"] == "a"
    assert got["x"] == got["y"] == "x"


def test_star_and_long_path(spark):
    edges = [("hub", f"leaf{i}") for i in range(20)]
    edges += [(f"p{i}", f"p{i+1}") for i in range(12)]
    got = _both(spark, edges)
    assert all(got[f"leaf{i}"] == "hub" for i in range(20))
    assert len({got[f"p{i}"] for i in range(13)}) == 1


def test_determinism(spark):
    edges = [("b", "a"), ("c", "b"), ("d", "a"), ("x", "y"), ("y", "z")]
    assert _both(spark, edges) == _both(spark, list(reversed(edges)))


def test_empty_edge_set(spark):
    assert _both(spark, []) == {}


# ---------------------------------------------------------------------------
# property: local path == star path == pure-Python reference
# ---------------------------------------------------------------------------

_IDS = ["a", "b", "c", "d", "e", "f", "é", "É", "字", "中文", "😀", "x:y", "oid:gene:1"]


@st.composite
def _graphs(draw):
    """Random edges over a small id pool (unicode included, so duplicates,
    both orientations and self-loops are frequent), plus isolated pairs
    and a long path in shuffled orientation."""
    node = st.sampled_from(_IDS)
    edges = draw(st.lists(st.tuples(node, node), max_size=12))
    edges += draw(st.lists(st.sampled_from(edges), max_size=4)) if edges else []
    for k in range(draw(st.integers(0, 3))):
        edges.append((f"iso{k}a", f"iso{k}b"))
    n = draw(st.integers(0, 24))
    flips = draw(st.lists(st.booleans(), min_size=n, max_size=n))
    path = [(f"p{i:02d}", f"p{i+1:02d}") for i in range(n)]
    edges += [(d, s) if f else (s, d) for (s, d), f in zip(path, flips)]
    return draw(st.permutations(edges))


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_graphs())
@example([("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")])  # loop, dup, both orientations
@example([("😀", "字"), ("é", "É"), ("x:y", "x:y")])  # unicode, loop-only node
@example([(f"p{i:02d}", f"p{i+1:02d}") for i in range(30)][::-1])  # long path
def test_local_star_and_reference_agree(spark, edges):
    assert _both(spark, edges) == _reference(edges)


# ---------------------------------------------------------------------------
# size gate: job counts and the broadcast relation
# ---------------------------------------------------------------------------


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_local_path_is_two_jobs_and_a_broadcast(spark):
    from bern_spark.entry_queries import CC_EDGES

    edges = spark.createDataFrame(CC_EDGES, ["src", "dst"]).localCheckpoint()
    out = {}
    # the canonical dedup's shuffle and the bounded fetch; nothing else
    assert _jobs(spark, "cc_local", lambda: out.update(df=connected_components(edges))) <= 2
    plan = out["df"]._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan and "broadcast" in plan, plan
    assert _labels(out["df"]) == _reference(CC_EDGES)


def test_gate_counts_self_loops_and_duplicates_once(spark):
    # 3 raw rows, 2 canonical edges: (a, b) twice in both orientations and
    # the self-loop (c, c); a bound of 2 keeps the local path
    df = spark.createDataFrame([("a", "b"), ("b", "a"), ("c", "c")], ["src", "dst"])
    with mock.patch.object(cc, "LOCAL_MAX_EDGES", 2):
        out = connected_components(df)
    assert _is_local(out)
    assert _labels(out) == {"a": "a", "b": "a", "c": "c"}
    with mock.patch.object(cc, "LOCAL_MAX_EDGES", 1):
        assert not _is_local(connected_components(df))


# ---------------------------------------------------------------------------
# star rounds: skew safety, convergence warning
# ---------------------------------------------------------------------------


def test_cc_high_degree_hub(spark):
    # one node of degree 100k: must complete without materializing the
    # neighborhood as a single array row
    edges = spark.range(100_000).select(
        F.lit("hub").alias("src"), F.concat(F.lit("n"), F.col("id")).alias("dst")
    )
    for path in ("local", "star"):
        with star_path() if path == "star" else nullcontext():
            labels = connected_components(edges)
            agg = labels.agg(
                F.countDistinct("cluster_id").alias("k"), F.count("*").alias("n")
            ).collect()[0]
        assert agg["k"] == 1 and agg["n"] == 100_001, path


def test_cc_warns_on_max_iter_exhaustion(spark):
    path = spark.createDataFrame(
        [(f"p{i:02d}", f"p{i+1:02d}") for i in range(40)], ["src", "dst"]
    )
    with star_path(), pytest.warns(RuntimeWarning, match="max_iter"):
        connected_components(path, max_iter=1).collect()


# ---------------------------------------------------------------------------
# The caller's cut: once for the canonical set, once per star iteration;
# over a lineage store, durable iteration stages and resume
# ---------------------------------------------------------------------------


def test_star_path_cuts_canonical_set_and_each_iteration(spark):
    """A recording cut sees the canonical edge set (self-loops kept) and
    then one edge set per star-round iteration, up to the first that
    equals its predecessor; the labels are the reference's."""
    edges = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(12)][::-1]
    edges += [("y", "x"), ("x", "y"), ("z", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    seen = []

    def recording_cut(d):
        seen.append({tuple(r) for r in d.collect()})
        return cc.lazy_cut(d)

    with star_path():
        got = _labels(connected_components(df, cut=recording_cut))
    assert got == _reference(edges)
    assert seen[0] == {(min(e), max(e)) for e in edges}
    iters = seen[1:]
    assert len(iters) >= 2 and iters[-1] == iters[-2]
    assert all(a != b for a, b in zip(seen, iters[:-1]))

    seen.clear()
    with star_path(), pytest.warns(RuntimeWarning, match="max_iter"):
        connected_components(df, max_iter=1, cut=recording_cut)
    assert len(seen) == 2


def _store_cut(spark, store, fingerprint):
    """The cut ``resolve_entities`` uses over a lineage store: each call
    is the store's next positional stage under one fingerprint."""
    names = (f"stage_{i:02d}" for i in itertools.count(1))
    return lambda df: store.run_stage(spark, next(names), lambda: df, fingerprint=fingerprint)


def _stage_ts(store):
    """stage -> manifest ``ts`` of every stage in the store."""
    stages = [
        f.removesuffix(".manifest.json") for f in os.listdir(store.base) if f.endswith(".manifest.json")
    ]
    return {s: store.read_manifest(s)["ts"] for s in stages}


def test_cc_durable_iterations_and_fast_forward(spark, tmp_path):
    """With a store-backed cut, every star-round iteration lands as a
    durable stage keyed by fingerprint: labels match the in-memory path
    bit-for-bit, a rerun with the same fingerprint fast-forwards (no
    stage rewrite — manifest timestamps unchanged), and a fingerprint
    drift recomputes."""
    from bern_spark.entry_queries import CC_EDGES
    from bern_spark.lineage import LineageStore

    edges = spark.createDataFrame(CC_EDGES, ["src", "dst"])
    ref = {(r["node"], r["cluster_id"]) for r in connected_components(edges).collect()}

    store = LineageStore(str(tmp_path / "cc"))
    with star_path():
        a = {
            (r["node"], r["cluster_id"])
            for r in connected_components(edges, cut=_store_cut(spark, store, "f1")).collect()
        }
        assert a == ref
        init_man = store.read_manifest("stage_01")
        it0_man = store.read_manifest("stage_02")
        assert init_man["status"] == "complete" and it0_man["status"] == "complete"
        ts = _stage_ts(store)

        # same fingerprint -> fast-forward: stages are read, never rewritten
        b = {
            (r["node"], r["cluster_id"])
            for r in connected_components(edges, cut=_store_cut(spark, store, "f1")).collect()
        }
        assert b == ref
        assert _stage_ts(store) == ts

        # fingerprint drift (different edge set claim) -> recompute
        c = connected_components(edges, cut=_store_cut(spark, store, "f2"))
        assert {(r["node"], r["cluster_id"]) for r in c.collect()} == ref
        assert store.read_manifest("stage_02")["ts"] != it0_man["ts"]


def test_cc_local_path_with_store_writes_no_iterations(spark, tmp_path):
    """Under the bound, a store-backed cut holds the canonical edge set
    (so a graph over the bound would not be deduplicated twice) and no
    star-round iteration stage."""
    from bern_spark.entry_queries import CC_EDGES
    from bern_spark.lineage import LineageStore

    edges = spark.createDataFrame(CC_EDGES, ["src", "dst"])
    store = LineageStore(str(tmp_path / "cc"))
    got = _labels(connected_components(edges, cut=_store_cut(spark, store, "f")))
    assert got == _reference(CC_EDGES)
    assert store.read_manifest("stage_01")["status"] == "complete"
    assert store.read_manifest("stage_02") is None


def test_resolve_entities_cc_stages_in_lineage(spark, tmp_path):
    """The pipeline hands CC its own cut when a lineage store is present:
    on the star path CC's canonical edge set and iterations follow the
    pipeline's four stages as stage_05, stage_06, ..., and the resumed
    pipeline rewrites no stage and produces identical labels."""
    from bern_spark.datagen import generate, to_spark
    from bern_spark.lineage import LineageStore
    from bern_spark.pipeline import resolve_entities

    dfs = to_spark(spark, generate(n_convs=12))
    dd = {k: dfs[k] for k in dfs if k.startswith(("dict_", "meta_"))}
    store = LineageStore(str(tmp_path / "lin"))
    with star_path():
        res = resolve_entities(
            dfs["transcripts"], dfs["lexicon"], dd, id_merge=dfs["id_merge"],
            lineage_store=store,
        )
        labels1 = {(r["node"], r["cluster_id"]) for r in res["labels"].collect()}
        assert store.read_manifest("stage_05")["status"] == "complete"
        assert store.read_manifest("stage_06")["status"] == "complete"
        ts = _stage_ts(store)
        # resume into a fresh process-equivalent: same store, same inputs
        res2 = resolve_entities(
            dfs["transcripts"], dfs["lexicon"], dd, id_merge=dfs["id_merge"],
            lineage_store=LineageStore(str(tmp_path / "lin")),
        )
        labels2 = {(r["node"], r["cluster_id"]) for r in res2["labels"].collect()}
    assert labels1 == labels2
    assert _stage_ts(store) == ts


def test_cc_star_round_has_no_wide_row_aggregate(spark):
    from bern_spark.operators.cc import _canonical_undirected, _star_round

    e = _canonical_undirected(
        spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    )
    for large in (True, False):
        plan = _star_round(e, large=large)._jdf.queryExecution().optimizedPlan().toString()
        assert "collect_set" not in plan and "collect_list" not in plan


def test_cc_star_round_shuffle_budget(spark):
    """Pin the audited per-iteration exchange budget of the relational CC
    star rounds (large: 3 = min-agg + join-back + canonical dedup; small:
    4 = + union branch). A future CC edit that re-widens the flagship
    (extra shuffles, collect_set wide rows) fails here before it hits the
    bench."""
    import re

    from bern_spark.operators.cc import _star_round
    from bern_spark.plans import formatted_plan

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    ).localCheckpoint()
    large = _star_round(edges, large=True)
    p_large = formatted_plan(large)  # BEFORE execution: single plan listing
    small = _star_round(large.localCheckpoint(), large=False)
    p_small = formatted_plan(small)

    def n_exchanges(p):
        return len(set(re.findall(r"\((\d+)\) Exchange", p)))

    assert n_exchanges(p_large) <= 3, p_large
    assert n_exchanges(p_small) <= 4, p_small
    for p in (p_large, p_small):
        assert "collect_set" not in p and "CollectSet" not in p, p
        assert "BatchEvalPython" not in p, p
