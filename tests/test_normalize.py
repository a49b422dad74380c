"""Normalization joins J1-J9 on hand-built fixtures, the metadata attach,
and the fused `normalize_all` against the per-branch normalizers."""

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bern_spark.operators import normalize as N


def _mentions(spark, rows):
    return spark.createDataFrame(
        [(m, e, str(i)) for i, (m, e) in enumerate(rows)],
        ["mention", "etype", "mention_id"],
    )


def _dict(spark, rows):
    return spark.createDataFrame(rows, ["oid", "name"])


def _collect(df):
    return {r.mention: r.oid for r in df.collect()}


def test_drug_tmchem_key_join(spark):
    d = _dict(spark, [("C1", "beta-blocker"), ("C2", "Aspirin")])
    m = _mentions(spark, [("Beta Blocker", "drug"), ("ASPIRIN!", "drug"), ("unknown", "drug")])
    got = _collect(N.normalize_drug(m, d))
    assert got == {"Beta Blocker": "C1", "ASPIRIN!": "C2", "unknown": "CUI-less"}


def test_species_cascade_and_taxid(spark):
    # reference fallback (species_normalizer.py:49-50) lowercases only the
    # query: dict keys stay raw, so only a lowercase DICT name is reachable
    # from a differently-cased mention.
    d = _dict(spark, [("960601", "Homo sapiens"), ("1000001", "danio rerio")])
    m = _mentions(
        spark,
        [
            ("Homo sapiens", "species"),
            ("homo sapiens", "species"),  # exact miss, lower("homo sapiens") not a dict key
            ("Danio Rerio", "species"),  # fallback: lower() hits lowercase dict name
            ("nope", "species"),
        ],
    )
    got = _collect(N.normalize_species(m, d))
    assert got["Homo sapiens"] == "NCBI:txid9606"
    assert got["homo sapiens"] == "CUI-less"
    assert got["Danio Rerio"] == "NCBI:txid10000"
    assert got["nope"] == "CUI-less"


def test_mutation_exact_no_fallback(spark):
    d = _dict(spark, [("M1", "p.V600E")])
    m = _mentions(spark, [("p.V600E", "mutation"), ("P.V600E", "mutation"), ("p.V600E;c.1799", "mutation")])
    got = _collect(N.normalize_mutation(m, d))
    assert got["p.V600E"] == "M1"
    assert got["P.V600E"] == "CUI-less"  # deliberately no lowercase fallback
    assert got["p.V600E;c.1799"] == "M1"  # P9 ';'-head


def test_gene_cascade_and_suffix(spark):
    d1 = _dict(spark, [("672-2", "BRCA1")])
    d2 = _dict(spark, [("100", "OLDY")])
    d3 = _dict(spark, [("200", "FREQY")])
    m = _mentions(
        spark,
        [("BRCA1", "gene"), ("BRCA1 gene", "gene"), ("OLDY", "gene"), ("FREQY", "gene"), ("nah", "gene")],
    )
    got = _collect(N.normalize_gene(m, d1, d2, d3))
    assert got["BRCA1"] == "672"  # '-' root truncation
    assert got["BRCA1 gene"] == "672"  # P8 suffix strip
    assert got["OLDY"] == "100"
    assert got["FREQY"] == "200"
    assert got["nah"] == "CUI-less"


def test_metadata_attach_gene_hgnc_fix(spark):
    meta = spark.createDataFrame(
        [("672", ["HGNC:HGNC:1100", "MIM:113705"]), ("X", [])],
        ["oid", "ext_ids"],
    )
    empty = spark.createDataFrame([], meta.schema)
    dicts = {"meta_gene": meta, "meta_disease": empty, "meta_drug": empty}
    norm = spark.createDataFrame(
        [("BRCA1", "gene", "1", "672"), ("misс", "gene", "2", "CUI-less")],
        ["mention", "etype", "mention_id", "oid"],
    )
    out = {r.mention: r.norm_ids for r in N.attach_metadata(norm, dicts).collect()}
    assert out["BRCA1"] == ["HGNC:1100", "MIM:113705", "BERN:672"]
    assert out["misс"] == ["CUI-less"]


def test_normalize_all_routes_and_cuiless_ratio(spark, dfs, dicts):
    m = _mentions(
        spark,
        [("whatever", "pathway"), ("zzz", "drug")],
    )
    out = N.normalize_all(m, dicts)
    got = _collect(out)
    assert got["whatever"] == "CUI-less"  # unknown etype passthrough
    ratios = {r.etype: r.cuiless_ratio for r in N.cuiless_ratio(out).collect()}
    assert ratios["pathway"] == 1.0


def test_normalize_all_null_oid_never_shadows_a_hit(spark):
    # a dictionary row with a null oid is no hit: it must neither shadow a
    # real oid for the same name in the same dict nor stop the gene
    # cascade from reaching a later-priority dict
    schema = "oid string, name string"
    empty = spark.createDataFrame([], schema)
    dicts = {
        "dict_drug": spark.createDataFrame([(None, "aspirin"), ("D1", "aspirin")], schema),
        "dict_species": empty,
        "dict_mutation": empty,
        "dict_disease": empty,
        "dict_gene": spark.createDataFrame([(None, "TP53"), ("672", "BRCA1")], schema),
        "dict_gene_oldbest": spark.createDataFrame([("7157", "TP53")], schema),
        "dict_gene_freq": empty,
    }
    m = _mentions(spark, [("Aspirin", "drug"), ("TP53", "gene"), ("BRCA1", "gene")])
    got = _collect(N.normalize_all(m, dicts))
    assert got == {"Aspirin": "D1", "TP53": "7157", "BRCA1": "672"}
    genes = m.where(F.col("etype") == "gene")
    branch = _collect(
        N.normalize_gene(
            genes, dicts["dict_gene"], dicts["dict_gene_oldbest"], dicts["dict_gene_freq"]
        )
    )
    assert branch == {"TP53": "7157", "BRCA1": "672"}


# ---------------------------------------------------------------------------
# property: the fused normalize_all == the per-branch normalizers
# ---------------------------------------------------------------------------

_NAMES = [
    "aspirin", "Aspirin", "ASPIRIN!", "beta-blocker", "Beta Blocker", "BRCA1",
    "BRCA1 gene", "brca1", "p.V600E", "P.V600E", "p.V600E;c.1799", "Homo sapiens",
    "homo sapiens", "HOMO SAPIENS", "é", "É", "字", "中文 gene", "😀", "x-y z",
]
_ETYPES = ["drug", "disease", "mutation", "species", "gene", "pathway"]
# species oids are numeric (the J9 taxid transform casts them); gene oids
# carry '-' suffixes for the root truncation; the rest are free-form
_OIDS = {
    "species": ["960601", "1000001", "12", "99"],
    "gene": ["672", "672-2", "7157", "7157-1", "10"],
    "other": ["C1", "C2", "D9", "字1", "😀"],
}
_DICTS = {
    "dict_drug": "other", "dict_disease": "other", "dict_mutation": "other",
    "dict_species": "species", "dict_gene": "gene", "dict_gene_oldbest": "gene",
    "dict_gene_freq": "gene",
}


@st.composite
def _dicts_and_mentions(draw):
    """Dictionaries over one shared name pool (so names recur across
    dictionaries and, with the small oid pools, as duplicate keys with
    different oids), null oids included; mentions of every etype plus one
    without a dictionary."""
    name = st.sampled_from(_NAMES)
    dicts = {
        k: draw(st.lists(st.tuples(st.sampled_from(_OIDS[pool] + [None]), name), max_size=8))
        for k, pool in _DICTS.items()
    }
    mentions = draw(st.lists(st.tuples(name, st.sampled_from(_ETYPES)), min_size=1, max_size=14))
    return dicts, mentions


def _per_branch(m, d):
    """The per-branch normalizers, each on its etype's mentions; etypes
    without a dictionary stay CUI-less."""
    by = lambda et: m.where(F.col("etype") == et)  # noqa: E731
    parts = [
        N.normalize_drug(by("drug"), d["dict_drug"]),
        N.normalize_disease(by("disease"), d["dict_disease"]),
        N.normalize_mutation(by("mutation"), d["dict_mutation"]),
        N.normalize_species(by("species"), d["dict_species"]),
        N.normalize_gene(by("gene"), d["dict_gene"], d["dict_gene_oldbest"], d["dict_gene_freq"]),
        m.where(~F.col("etype").isin(*_ETYPES[:-1])).withColumn("oid", F.lit(N.CUI_LESS)),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_dicts_and_mentions())
@example(
    (
        {
            "dict_drug": [(None, "aspirin"), ("C2", "ASPIRIN!"), ("C1", "Aspirin")],
            "dict_disease": [("D9", "Beta Blocker"), ("C1", "beta-blocker")],
            "dict_mutation": [("C1", "p.V600E"), ("C2", "p.V600E")],
            "dict_species": [("960601", "Homo sapiens"), ("12", "homo sapiens"), (None, "é")],
            "dict_gene": [(None, "BRCA1"), ("7157-1", "字")],
            "dict_gene_oldbest": [("672-2", "BRCA1"), ("10", "BRCA1")],
            "dict_gene_freq": [("7157", "字"), ("672", "中文")],
        },
        [(n, et) for n in _NAMES for et in _ETYPES],
    )
)
def test_normalize_all_matches_per_branch_normalizers(spark, case):
    rows, mentions = case
    d = {k: spark.createDataFrame(v, "oid string, name string") for k, v in rows.items()}
    m = _mentions(spark, mentions)
    got = {r.mention_id: r.oid for r in N.normalize_all(m, d).collect()}
    ref = {r.mention_id: r.oid for r in _per_branch(m, d).collect()}
    assert got == ref
    assert len(got) == len(mentions)
