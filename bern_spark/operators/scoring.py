"""Pairwise mention scoring (SURVEY §7 step 5).

The reference's scoring surface is the mean-softmax span score
(ops.py:219-230) used to arbitrate overlaps (W9); the graft's pairwise
match score combines Jaro-Winkler, normalized Levenshtein, and token
Jaccard over the two surfaces — batched in an **iterator-form pandas UDF**
(the FastPredict pattern: per-executor init once, fast_predict2.py:20-74
-> free with iterator UDFs, SURVEY §2.10 U1).

Scale design: scores are computed once per **distinct surface pair**, not
per mention pair (orders of magnitude fewer under Zipfian surface
distributions; the "cancer" block has one distinct pair). Blocking already
emits distinct pairs, and vectorized UDFs run on every row of their input
anyway, so the scorer works in place: no dedup or join-back of its own.
"""

from __future__ import annotations

from collections.abc import Iterator
from hashlib import blake2b

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bern_spark.functions.keys import tmchem_key
from bern_spark.functions.pytext import jaro_winkler, levenshtein_sim, token_jaccard

EMB_DIM = 64
# weight of the embedding cosine in the blended pair score
COSINE_WEIGHT = 0.3
# mutations match on exact equivalence only: the reference's J3 join is
# deliberately fuzz-free (mutation_normalizer.py:48-49)
MUTATION_THRESHOLD = 0.999


def _hashed_embedding(s: str, dim: int = EMB_DIM) -> list[float]:
    """Deterministic signed feature-hashing embedding over character
    3-grams (Weinberger et al. 2009) — the model-free stand-in for a
    learned surface embedding. Same-ish strings share most trigrams =>
    high cosine; blake2b keys keep it identical across driver/executors."""
    t = " ".join((s or "").lower().split())
    if len(t) < 3:
        grams = [t] if t else []
    else:
        grams = [t[i : i + 3] for i in range(len(t) - 2)]
    v = np.zeros(dim, dtype=np.float64)
    for g in grams:
        d = blake2b(g.encode("utf-8"), digest_size=8).digest()
        h = int.from_bytes(d, "little")
        v[(h >> 1) % dim] += 1.0 if h & 1 else -1.0
    n = float(np.linalg.norm(v))
    if n > 0:
        v /= n
    return [float(x) for x in v]


@F.pandas_udf(T.ArrayType(T.DoubleType()))
def surface_embedding_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """L2-normalized hashed-trigram embedding per surface, Arrow-batched."""
    for batch in it:
        yield batch.map(lambda s: _hashed_embedding(s or ""))


@F.pandas_udf(T.DoubleType())
def cosine_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    """Cosine similarity of two array<double> columns (unit vectors ->
    dot product), vectorized over the Arrow batch with numpy. Null-safe:
    Spark evaluates vectorized UDFs on every row even under a when()
    guard, so rows with a missing vector yield NaN here (and the guard
    discards them)."""
    for a, b in it:
        mask = a.notna() & b.notna()
        out = np.full(len(a), np.nan)
        if mask.any():
            av = np.stack([np.asarray(x, dtype=np.float64) for x in a[mask]])
            bv = np.stack([np.asarray(x, dtype=np.float64) for x in b[mask]])
            out[mask.to_numpy()] = np.einsum("ij,ij->i", av, bv)
        yield pd.Series(out)


def hashed_surface_embeddings(surfaces: DataFrame, surface_col: str = "surface") -> DataFrame:
    """(surface, emb) relation from a distinct-surface DataFrame; swap in
    model embeddings of the same shape when available."""
    return surfaces.select(
        F.col(surface_col).alias("surface"),
        surface_embedding_udf(F.col(surface_col)).alias("emb"),
    )


@F.pandas_udf(T.DoubleType())
def pair_score_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    """Blended string similarity in [0,1] per (surface_a, surface_b)."""
    for a, b in it:
        out = []
        for x, y in zip(a, b):
            x = x or ""
            y = y or ""
            if x == y:
                out.append(1.0)
                continue
            xl, yl = x.lower(), y.lower()
            if xl == yl:
                out.append(0.99)
                continue
            jw = jaro_winkler(xl, yl)
            lv = levenshtein_sim(xl, yl)
            tj = token_jaccard(x, y)
            out.append(0.5 * jw + 0.35 * lv + 0.15 * tj)
        yield pd.Series(out)


def score_pairs(
    pairs: DataFrame,
    threshold: float = 0.85,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """Score candidate pairs; return edges at or above ``threshold``
    (``MUTATION_THRESHOLD`` for mutations).

    Scores each row in place (``pairs`` holds distinct surface pairs, as
    ``candidate_pairs`` emits them), canonicalizing (lo, hi) surface order
    so (a,b) and (b,a) score identically. Identical tmChem keys
    short-circuit to 1.0 without touching Python (the J1 key equivalence
    is a match by construction).

    ``embeddings`` (optional): a (surface, emb) relation — e.g.
    ``hashed_surface_embeddings`` or a model's vectors. When given, the
    embedding-cosine of the pair blends into the string score with weight
    ``COSINE_WEIGHT`` (the north-star's JW/Levenshtein/embedding-cosine
    scorer set). Joined per pair side, so the embedding UDF runs once per
    surface, not per pair; pairs whose surface lacks a vector fall back
    to the pure string blend.
    """
    # P8: the " gene" suffix is non-distinguishing for gene mentions
    # (normalize.py:540-548 strips it before lookup); strip it before
    # scoring so "BRCA1" ~ "BRCA1 gene" compare on the informative part.
    strip = lambda c: F.when(  # noqa: E731
        F.col("etype") == "gene", F.regexp_replace(c, "(?i) gene$", "")
    ).otherwise(c)
    scored = (
        pairs.withColumn("_sa", strip(F.col("mention_a")))
        .withColumn("_sb", strip(F.col("mention_b")))
        .withColumn("_lo", F.least("_sa", "_sb"))
        .withColumn("_hi", F.greatest("_sa", "_sb"))
        .drop("_sa", "_sb")
        .withColumn(
            "score",
            F.when(tmchem_key(F.col("_lo")) == tmchem_key(F.col("_hi")), F.lit(1.0)).otherwise(
                pair_score_udf(F.col("_lo"), F.col("_hi"))
            ),
        )
    )
    if embeddings is not None:
        e_lo = embeddings.select(F.col("surface").alias("_lo"), F.col("emb").alias("_e_lo"))
        e_hi = embeddings.select(F.col("surface").alias("_hi"), F.col("emb").alias("_e_hi"))
        scored = (
            scored.join(e_lo, "_lo", "left")
            .join(e_hi, "_hi", "left")
            .withColumn(
                "_cos",
                F.when(
                    F.col("_e_lo").isNotNull() & F.col("_e_hi").isNotNull(),
                    cosine_udf(F.col("_e_lo"), F.col("_e_hi")),
                ),
            )
            .withColumn(
                "score",
                F.when(F.col("score") >= 1.0, F.col("score")).otherwise(
                    F.when(
                        F.col("_cos").isNotNull(),
                        (1.0 - COSINE_WEIGHT) * F.col("score")
                        + COSINE_WEIGHT * F.greatest(F.col("_cos"), F.lit(0.0)),
                    ).otherwise(F.col("score"))
                ),
            )
            .drop("_e_lo", "_e_hi", "_cos")
        )
    scored = scored.drop("_lo", "_hi")
    thr_col = F.when(F.col("etype") == "mutation", F.lit(MUTATION_THRESHOLD)).otherwise(
        F.lit(threshold)
    )
    return scored.where(F.col("score") >= thr_col)
