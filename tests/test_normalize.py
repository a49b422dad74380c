"""Normalization joins J1-J9 on hand-built fixtures."""

import pytest
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
    norm = spark.createDataFrame(
        [("BRCA1", "gene", "1", "672"), ("misс", "gene", "2", "CUI-less")],
        ["mention", "etype", "mention_id", "oid"],
    )
    out = {r.mention: r.norm_ids for r in N.attach_metadata(norm, meta, "gene").collect()}
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
