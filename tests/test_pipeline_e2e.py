"""End-to-end gate: pairwise F1 >= 0.99, golden mention parity, invariants
(SURVEY §5 rebuild test plan; BASELINE.md targets)."""

import datetime

import pytest
from pyspark.sql import functions as F

from bern_spark.functions.text import canonical_text
from bern_spark.pipeline import ERConfig, pairwise_f1, resolve_entities


@pytest.fixture(scope="module")
def result(spark, dfs, dicts):
    res = resolve_entities(
        dfs["transcripts"], dfs["lexicon"], dicts, id_merge=dfs["id_merge"],
        config=ERConfig(),
    )
    res["mentions"] = res["mentions"].persist()
    res["annotations"] = res["annotations"].persist()
    return res


def test_pairwise_f1_gate(result, dfs):
    m = pairwise_f1(result["labels"], dfs["labeled_pairs"])
    assert m["f1"] >= 0.99, m


def test_golden_mention_parity(result, dfs):
    got = result["mentions"].select("conv_id", "turn_idx", "start", "end", "mention", "etype")
    want = dfs["golden_mentions"].select("conv_id", "turn_idx", "start", "end", "mention", "etype")
    missing = want.exceptAll(got).count()
    extra = got.exceptAll(want).count()
    assert missing == 0 and extra == 0, (missing, extra)


def test_per_turn_text_equality(result, dfs):
    canon = dfs["transcripts"].select(
        "conv_id", "turn_idx", canonical_text("text").alias("ct")
    )
    ann = result["annotations"]
    assert ann.count() == dfs["transcripts"].count()
    bad = ann.join(canon, ["conv_id", "turn_idx"]).where(F.col("text") != F.col("ct")).count()
    assert bad == 0


def test_span_substring_equality(result):
    ex = result["annotations"].select("text", F.explode("denotations").alias("d"))
    bad = ex.where(
        F.expr("substring(text, d.start+1, d.end-d.start)") != F.col("d.mention")
    ).count()
    assert bad == 0


def test_same_oid_same_cluster(result):
    m = result["mentions"].where(F.col("oid") != "CUI-less")
    n = (
        m.groupBy("etype", "oid")
        .agg(F.countDistinct("cluster_id").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert n == 0


def test_id_merge_unifies_old_oids(result, dfs):
    # mentions normalized to an old gene oid must share a cluster with the
    # canonical oid's mentions (J6 fixpoint vs reference one-hop)
    edges = {(r.src_oid, r.dst_oid) for r in dfs["id_merge"].collect()}
    chains = [s for (s, d) in edges if s != d]
    if not chains:
        pytest.skip("no merge edges in fixture")
    labels = {r.node: r.cluster_id for r in result["surface_labels"].collect()}
    for s, d in edges:
        a, b = f"oid:gene:{s}", f"oid:gene:{d}"
        if a in labels and b in labels:
            assert labels[a] == labels[b], (s, d)


def test_mention_count_conservation(result):
    # A2 analog: every extracted mention survives normalization exactly once
    m = result["mentions"]
    assert m.groupBy("etype", "mention_id").count().where(F.col("count") > 1).count() == 0


def test_resolve_entities_job_count(spark, dfs, dicts):
    """One call plus forcing its outputs runs at most 22 Spark jobs on this
    fixture (22 measured with 4 and 8 cores). The star-round CC alone
    used to add ~50 more, extraction's containment self-joins ~6, and
    blocking's size/representative group-bys, joins and the scorer's
    distinct + join-back another 6: a regression in the job floor fails
    here."""
    sc = spark.sparkContext
    sc.setJobGroup("resolve_job_count", "resolve_job_count")
    try:
        res = resolve_entities(
            dfs["transcripts"], dfs["lexicon"], dicts, id_merge=dfs["id_merge"]
        )
        for k in ("mentions", "annotations", "labels"):
            res[k].write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup("", "")
    n = len(sc.statusTracker().getJobIdsForGroup("resolve_job_count"))
    assert n <= 22, n


def test_regex_taggers_through_pipeline(spark, dfs, dicts):
    """The miRNA/pathway tagger branch of resolve_entities: tagged mentions
    reach ``annotations`` (miRNA with its J11 oid), turn text is the
    canonical input text, and every span slices its mention."""
    ts = datetime.datetime(2024, 1, 1)
    turns = [
        ("r1", 0, "user", "levels of hsa-mir-21 and miR-155 rose", "calc", ts),
        ("r1", 1, "assistant", "the MAPK pathway and notch signaling", "calc", ts),
        ("r2", 0, "user", "let-7a is unknown here", "calc", ts),
    ]
    tr = spark.createDataFrame(turns, dfs["transcripts"].schema)
    mirna = spark.createDataFrame(
        [("MIRBASE:hsa21", "hsa-mir-21"), ("MIRBASE:mmu21", "mmu-mir-21"),
         ("MIRBASE:hsa155", "hsa-mir-155")],
        ["oid", "name"],
    )
    res = resolve_entities(
        tr, dfs["lexicon"], dicts, mirna_dict=mirna, pathway_names=["MAPK", "notch"]
    )
    ann = res["annotations"].collect()
    got = {(d.etype, d.mention, d.oid) for r in ann for d in r.denotations}
    assert {
        ("miRNA", "hsa-mir-21", "MIRBASE:hsa21"),
        ("miRNA", "miR-155", "MIRBASE:hsa155"),
        ("miRNA", "let-7a", "CUI-less"),
        ("pathway", "MAPK pathway", "CUI-less"),
        ("pathway", "notch", "CUI-less"),
    } <= got

    canon = {
        (r.conv_id, r.turn_idx): r.ct
        for r in tr.select("conv_id", "turn_idx", canonical_text("text").alias("ct")).collect()
    }
    assert {(r.conv_id, r.turn_idx): r.text for r in ann} == canon
    for r in ann:
        for d in r.denotations:
            assert r.text[d.start:d.end] == d.mention, (r.text, d)
