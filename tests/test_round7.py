"""Round-7 optimization guards.

Every test here pins an equivalence or plan property that a round-7
optimization introduced:

- normalize_all's single-pass tagged-dictionary form must reproduce the
  per-etype normalizer branches exactly (cascade order, species fallback,
  taxid/root transforms, CUI-less on miss, unknown etypes);
- the row-local query rewrites must keep their plans row-local (no
  Generate/Window/Exchange re-introduced by a refactor);
- the fused framing path must cross the Python boundary exactly once.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r) for r in df.select(*sorted(cols)).collect())


# ---------------------------------------------------------------------------
# single-pass normalize_all == per-branch normalizers
# ---------------------------------------------------------------------------


def test_normalize_all_single_pass_matches_branches(spark):
    from bern_spark.operators.normalize import (
        normalize_all,
        normalize_disease,
        normalize_drug,
        normalize_gene,
        normalize_mutation,
        normalize_species,
        CUI_LESS,
    )

    mentions = spark.createDataFrame(
        [
            ("m1", "drug", "As-pirin!"),      # tmChem key hit
            ("m2", "drug", "unknownium"),     # miss -> CUI-less
            ("m3", "species", "Human"),       # exact hit
            ("m4", "species", "MOUSE"),       # lower-fallback hit
            ("m5", "species", "unknown"),     # miss
            ("m6", "mutation", "p.V600E;x"),  # ;-head hit
            ("m7", "disease", "Long QT"),     # tmChem key hit
            ("m8", "gene", "BRCA1 gene"),     # suffix-strip, dict1
            ("m9", "gene", "oldname"),        # dict2 (cascade order)
            ("m10", "gene", "freqname"),      # dict3
            ("m11", "pathway", "wnt"),        # unknown etype -> CUI-less
        ],
        ["mention_id", "etype", "mention"],
    )
    dicts = {
        "dict_drug": spark.createDataFrame([("D1", "aspirin")], ["oid", "name"]),
        "dict_species": spark.createDataFrame(
            [("9606", "Human"), ("1090000", "mouse")], ["oid", "name"]
        ),
        "dict_mutation": spark.createDataFrame([("M1", "p.V600E")], ["oid", "name"]),
        "dict_disease": spark.createDataFrame([("DIS1", "longqt")], ["oid", "name"]),
        "dict_gene": spark.createDataFrame([("672-2", "BRCA1")], ["oid", "name"]),
        "dict_gene_oldbest": spark.createDataFrame(
            [("111", "oldname"), ("999", "BRCA1")], ["oid", "name"]
        ),
        "dict_gene_freq": spark.createDataFrame(
            [("222", "freqname"), ("888", "oldname")], ["oid", "name"]
        ),
    }
    got = {
        (r["mention_id"], r["oid"])
        for r in normalize_all(mentions, dicts).select("mention_id", "oid").collect()
    }
    e = lambda t: mentions.where(F.col("etype") == t)  # noqa: E731
    parts = [
        normalize_drug(e("drug"), dicts["dict_drug"]),
        normalize_species(e("species"), dicts["dict_species"]),
        normalize_mutation(e("mutation"), dicts["dict_mutation"]),
        normalize_disease(e("disease"), dicts["dict_disease"]),
        normalize_gene(
            e("gene"),
            dicts["dict_gene"],
            dicts["dict_gene_oldbest"],
            dicts["dict_gene_freq"],
        ),
        e("pathway").withColumn("oid", F.lit(CUI_LESS)),
    ]
    want = set()
    for p in parts:
        want |= {(r["mention_id"], r["oid"]) for r in p.select("mention_id", "oid").collect()}
    assert got == want
    # spot-pin the semantics the tagged dict must preserve
    d = dict(got)
    assert d["m1"] == "D1" and d["m2"] == CUI_LESS
    assert d["m3"] == "NCBI:txid96" and d["m4"] == "NCBI:txid10900"
    assert d["m6"] == "M1" and d["m7"] == "DIS1"
    assert d["m8"] == "672"      # dict1 wins over oldbest, id rooted at '-'
    assert d["m9"] == "111"      # oldbest wins over freq
    assert d["m10"] == "222" and d["m11"] == CUI_LESS


# ---------------------------------------------------------------------------
# row-local plans stay row-local
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "qname", ["dedup_minhash", "dedup_simhash", "text_quality", "doc_fingerprint"]
)
def test_rowlocal_rewrites_have_no_generate_window_agg(spark, qname, tmp_path):
    """The round-7 rewrites compute these per-doc: the plan must contain
    no Generate (explode), no Window, and no aggregate Exchange — the
    only allowed Exchange is the _spread round-robin repartition."""
    from bern_spark.entry_queries import QUERIES

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta", "en") for i in range(20)],
        ["doc_id", "text", "lang"],
    )
    p = str(tmp_path / "documents.parquet")
    docs.write.parquet(p)
    plan = (
        QUERIES[qname](spark, str(tmp_path))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Generate" not in plan, plan
    assert "Window" not in plan, plan
    assert "Aggregate" not in plan, plan
    assert plan.count("Exchange") <= 1, plan  # the _spread repartition only


def test_fused_framing_single_python_stage(spark):
    """frame_turns crosses the Python boundary exactly once (was three
    chained stages: sentences UDF, tokens UDF, framing mapInPandas)."""
    from bern_spark.jobs.export_tfrecords import frame_turns

    turns = spark.createDataFrame(
        [("c1", 0, "user", "One two three. Four five", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    vocab = {t: i for i, t in enumerate(
        ["[PAD]", "[UNK]", "[CLS]", "[SEP]", "One", "two", "three", "Four", "five", "."]
    )}
    framed = frame_turns(turns, vocab, max_seq_length=16)
    plan = framed._jdf.queryExecution().executedPlan().toString()
    n_py = sum(plan.count(tag) for tag in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"))
    assert n_py == 1, plan
    rows = framed.collect()
    # 2 sentences ("." ends the first), tokens tile losslessly:
    # one/two/three/. + four/five = 6 CoNLL tokens
    assert sorted(r["sent_idx"] for r in rows) == [0, 1]
    assert sum(r["n_words"] for r in rows) == 6
