"""Normalization: dictionary lookups as broadcast hash joins (SURVEY §2.3).

Every reference normalizer is a socket/file-IPC dict lookup
(normalize.py:298-636, normalizers/*.py); here each becomes a broadcast
left-outer join with ``CUI-less`` on miss (chemical_normalizer.py:52-55).
The fragile positional zip identity of the reference
(zip(norm_out_f, norm_in_f), normalize.py:571-576) is replaced by carrying
``mention_id`` through every join (J10).

Scale notes: all dictionaries are small dims -> ``F.broadcast``; no
shuffle is introduced by this module at all. The per-etype thread fan-out
of the reference (normalize.py:255-267) collapses into independent
branches of one DataFrame plan, unioned by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bern_spark.functions.keys import (
    gene_id_root,
    gene_suffix_strip,
    hgnc_fix,
    mutation_head,
    species_fallback_key,
    species_taxid,
    tmchem_key,
)

CUI_LESS = "CUI-less"


def _bcast_lookup(dict_df: DataFrame, key_expr, out_name: str) -> DataFrame:
    """Dictionary keyed for joining: (join_key, oid) with first-wins dedup
    (reference dict load overwrites -> last wins; we pick min(oid) for
    determinism under parallel load, documented deviation)."""
    return F.broadcast(
        dict_df.select(key_expr(F.col("name")).alias("join_key"), "oid")
        .groupBy("join_key")
        .agg(F.min("oid").alias(out_name))
    )


def normalize_drug(mentions: DataFrame, dict_drug: DataFrame) -> DataFrame:
    """J1: tmChem key join (chemical_normalizer.py:25-72). Miss -> CUI-less."""
    d = _bcast_lookup(dict_drug, tmchem_key, "oid")
    return (
        mentions.withColumn("join_key", tmchem_key(F.col("mention")))
        .join(d, "join_key", "left")
        .drop("join_key")
        .withColumn("oid", F.coalesce("oid", F.lit(CUI_LESS)))
    )


def normalize_species(mentions: DataFrame, dict_species: DataFrame) -> DataFrame:
    """J2: exact match, then lowercase fallback (species_normalizer.py:24-58),
    then J9 taxid transform (normalize.py:486-495)."""
    exact = F.broadcast(
        dict_species.groupBy(F.col("name").alias("join_key")).agg(F.min("oid").alias("oid_exact"))
    )
    # fallback lowercases only the QUERY (species_normalizer.py:49-50:
    # ``name.lower() in species2oid`` — dict keys stay raw), so an
    # all-caps mention does NOT match a capitalized dictionary name.
    lower = F.broadcast(
        dict_species.groupBy(F.col("name").alias("join_key")).agg(F.min("oid").alias("oid_lower"))
    )
    out = (
        mentions.withColumn("join_key", F.col("mention"))
        .join(exact, "join_key", "left")
        .drop("join_key")
        .withColumn("join_key", species_fallback_key(F.col("mention")))
        .join(lower, "join_key", "left")
        .drop("join_key")
        .withColumn("_oid", F.coalesce("oid_exact", "oid_lower"))
        .drop("oid_exact", "oid_lower")
    )
    return out.withColumn(
        "oid",
        F.when(F.col("_oid").isNull(), F.lit(CUI_LESS)).otherwise(species_taxid(F.col("_oid"))),
    ).drop("_oid")


def normalize_mutation(mentions: DataFrame, dict_mutation: DataFrame) -> DataFrame:
    """J3: exact join on the ``;``-head of the normalized name (P9,
    normalize.py:208-212); deliberately NO lowercase fallback
    (mutation_normalizer.py:48-49)."""
    d = _bcast_lookup(dict_mutation, lambda c: c, "oid")
    return (
        mentions.withColumn("join_key", mutation_head(F.col("mention")))
        .join(d, "join_key", "left")
        .drop("join_key")
        .withColumn("oid", F.coalesce("oid", F.lit(CUI_LESS)))
    )


def normalize_disease(mentions: DataFrame, dict_disease: DataFrame) -> DataFrame:
    """J4: disease lookup (sieve jar stand-in) on the tmChem-style key; the
    reference's multi-ID tab-packing becomes an array downstream (J8)."""
    d = _bcast_lookup(dict_disease, tmchem_key, "oid")
    return (
        mentions.withColumn("join_key", tmchem_key(F.col("mention")))
        .join(d, "join_key", "left")
        .drop("join_key")
        .withColumn("oid", F.coalesce("oid", F.lit(CUI_LESS)))
    )


def normalize_gene(
    mentions: DataFrame,
    dict_gene: DataFrame,
    dict_gene_oldbest: DataFrame,
    dict_gene_freq: DataFrame,
) -> DataFrame:
    """J5: the 3-dictionary first-match cascade (normalize.py:584-589) as
    three broadcast left joins + coalesce; gene ids root-truncated at ``-``
    (normalize.py:578-580) and the `" gene"` suffix stripped from the
    lookup key (P8, normalize.py:540-548)."""
    key = lambda c: gene_suffix_strip(c)  # noqa: E731
    d1 = _bcast_lookup(dict_gene, lambda c: c, "oid1")
    d2 = _bcast_lookup(dict_gene_oldbest, lambda c: c, "oid2")
    d3 = _bcast_lookup(dict_gene_freq, lambda c: c, "oid3")
    out = (
        mentions.withColumn("join_key", key(F.col("mention")))
        .join(d1, "join_key", "left")
        .join(d2, "join_key", "left")
        .join(d3, "join_key", "left")
        .drop("join_key")
        .withColumn("_oid", F.coalesce("oid1", "oid2", "oid3"))
        .drop("oid1", "oid2", "oid3")
    )
    return out.withColumn(
        "oid",
        F.when(F.col("_oid").isNull(), F.lit(CUI_LESS)).otherwise(gene_id_root(F.col("_oid"))),
    ).drop("_oid")


def attach_metadata(mentions: DataFrame, dicts: dict[str, DataFrame]) -> DataFrame:
    """J7/J8: ``norm_ids`` from the external ids of ``dicts``'
    meta_{gene,disease,drug} (normalize.py:594-603). A miss keeps the bare
    ``BERN:<oid>``; CUI-less stays ``[CUI-less]``; multi-IDs stay an array
    (not tab-packed); gene ext ids get the HGNC:HGNC: cleanup
    (normalize.py:114).

    One pass: the three meta dims union into one etype-tagged broadcast
    ``(etype, oid) -> ext_ids`` joined on (etype, oid), so a mention of
    any other etype simply misses."""
    meta = None
    for etype in ("gene", "disease", "drug"):
        ext = F.col("ext_ids")
        part = dicts[f"meta_{etype}"].select(
            F.lit(etype).alias("etype"),
            "oid",
            F.transform(ext, hgnc_fix).alias("ext_ids") if etype == "gene" else ext,
        )
        meta = part if meta is None else meta.unionByName(part)
    return mentions.join(F.broadcast(meta), ["etype", "oid"], "left").withColumn(
        "norm_ids",
        F.when(F.col("oid") == CUI_LESS, F.array(F.lit(CUI_LESS))).otherwise(
            F.concat(
                F.coalesce(F.col("ext_ids"), F.array().cast("array<string>")),
                F.array(F.concat(F.lit("BERN:"), F.col("oid"))),
            )
        ),
    ).drop("ext_ids")


def _tagged_dict(dicts: dict[str, DataFrame]) -> DataFrame:
    """All J1-J5 dictionaries as ONE tagged lookup relation
    ``(join_key, oid)`` with per-branch key prefixes, priorities resolved
    DICT-side (round-7 optimization — the old per-etype fan-out built 8
    broadcast relations and re-scanned the mentions 6 times; this builds
    one broadcast and scans the mentions once):

    - ``drug|`` / ``dis|``: tmChem key of the name (J1/J4);
    - ``mut|``: raw name (J3 — the QUERY side keys by mutation_head);
    - ``spe|`` / ``spl|``: raw name for the exact and lowercase-query
      species levels (J2 — dict keys stay raw in both, only the query
      key lowers on the fallback level, species_normalizer.py:49-50);
    - ``gene|``: the 3-dictionary cascade (J5) collapsed by priority:
      min(struct(priority, min-oid-within-dict)) == coalesce of the three
      per-dict min-oid lookups, because a lower priority wins whenever
      its dict has the key at all.

    Prefixes all end in ``|`` and none is a prefix of another, so tagged
    keys cannot collide across branches. Per (tag, key) the min() dedup
    reproduces _bcast_lookup's first-wins determinism."""
    def tag(df: DataFrame, t: str, key_expr, prio: int) -> DataFrame:
        # a null oid is no hit: struct ordering puts it FIRST, so kept it
        # would shadow a real oid of the same or a later-priority dict
        return df.where(F.col("oid").isNotNull()).select(
            F.concat(F.lit(t), key_expr(F.col("name"))).alias("join_key"),
            F.lit(prio).alias("_prio"),
            "oid",
        )

    ident = lambda c: c  # noqa: E731
    parts = [
        tag(dicts["dict_drug"], "drug|", tmchem_key, 0),
        tag(dicts["dict_disease"], "dis|", tmchem_key, 0),
        tag(dicts["dict_mutation"], "mut|", ident, 0),
        tag(dicts["dict_species"], "spe|", ident, 0),
        tag(dicts["dict_species"], "spl|", ident, 0),
        tag(dicts["dict_gene"], "gene|", ident, 0),
        tag(dicts["dict_gene_oldbest"], "gene|", ident, 1),
        tag(dicts["dict_gene_freq"], "gene|", ident, 2),
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # two-level min: min oid within (key, prio) like _bcast_lookup, then
    # lowest prio wins across gene dicts — one struct-min does both
    return (
        u.groupBy("join_key")
        .agg(F.min(F.struct("_prio", "oid")).alias("_m"))
        .select("join_key", F.col("_m.oid").alias("_doid"))
    )


def normalize_all(
    mentions: DataFrame,
    dicts: dict[str, DataFrame],
) -> DataFrame:
    """Route each etype through its normalizer — the DataFrame form of the
    reference's per-type thread fan-out (normalize.py:255-267). ``dicts``
    holds dict_/meta_ tables by name.

    Single-pass form (round-7): instead of splitting the mentions into 6
    etype branches (6 scans of the corpus-sized relation, 8 broadcast
    builds, 6-way union), every branch's lookup key is computed row-local
    with an etype-dispatched prefix and resolved against ONE tagged
    broadcast dictionary in two left joins (the second join exists only
    for the species lowercase-fallback level, which needs a second query
    key). Per-branch oid semantics (coalesce order, J9 taxid transform,
    gene id rooting, CUI-less on miss) are unchanged — see _tagged_dict.

    Unknown etypes (e.g. regex-tagger types without a dictionary) pass
    through as CUI-less.
    """
    lookup = F.broadcast(_tagged_dict(dicts))
    k1 = (
        F.when(F.col("etype") == "drug", F.concat(F.lit("drug|"), tmchem_key(F.col("mention"))))
        .when(F.col("etype") == "disease", F.concat(F.lit("dis|"), tmchem_key(F.col("mention"))))
        .when(F.col("etype") == "mutation", F.concat(F.lit("mut|"), mutation_head(F.col("mention"))))
        .when(F.col("etype") == "species", F.concat(F.lit("spe|"), F.col("mention")))
        .when(F.col("etype") == "gene", F.concat(F.lit("gene|"), gene_suffix_strip(F.col("mention"))))
    )
    k2 = F.when(
        F.col("etype") == "species",
        F.concat(F.lit("spl|"), species_fallback_key(F.col("mention"))),
    )
    l1 = lookup.select(F.col("join_key").alias("_k1"), F.col("_doid").alias("_oid1"))
    l2 = lookup.select(F.col("join_key").alias("_k2"), F.col("_doid").alias("_oid2"))
    out = (
        mentions.withColumn("_k1", k1)
        .withColumn("_k2", k2)
        .join(l1, "_k1", "left")
        .join(l2, "_k2", "left")
    )
    sp = F.coalesce("_oid1", "_oid2")
    oid = (
        F.when(F.col("etype") == "species",
               F.when(sp.isNull(), F.lit(CUI_LESS)).otherwise(species_taxid(sp)))
        .when(F.col("etype") == "gene",
              F.when(F.col("_oid1").isNull(), F.lit(CUI_LESS)).otherwise(gene_id_root(F.col("_oid1"))))
        .when(F.col("etype").isin("drug", "disease", "mutation"),
              F.coalesce("_oid1", F.lit(CUI_LESS)))
        .otherwise(F.lit(CUI_LESS))
    )
    return out.withColumn("oid", oid).drop("_k1", "_k2", "_oid1", "_oid2")


def cuiless_ratio(normalized: DataFrame) -> DataFrame:
    """A4 (normalize.py:626-635): per-etype share of unresolved mentions."""
    return normalized.groupBy("etype").agg(
        F.count("*").alias("n_mentions"),
        F.avg(F.when(F.col("oid") == CUI_LESS, 1.0).otherwise(0.0)).alias("cuiless_ratio"),
    )
