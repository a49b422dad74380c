"""Output checks. The Spark side is a set of aggregates that ride the
forcing action of each run (``DataFrame.observe``), so checking needs no
second pass over the outputs; the comparisons are plain Python."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hash_sum(*cols) -> F.Column:
    # order-independent: a sum of row hashes (decimal, so it cannot overflow)
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def text_digest(transcripts: DataFrame) -> tuple[int, str]:
    """(turns, digest of (conv_id, turn_idx, canonical text)) of the input."""
    from bern_spark.functions.text import canonical_text

    r = transcripts.agg(
        F.count(F.lit(1)).alias("n"),
        _hash_sum("conv_id", "turn_idx", canonical_text("text")).alias("h"),
    ).collect()[0]
    return int(r["n"]), str(r["h"])


def mentions_digest_aggs(mentions: DataFrame) -> list[F.Column]:
    cols = sorted(mentions.columns)
    return [F.count(F.lit(1)).alias("n"), _hash_sum(*cols).alias("h")]


def digest_of(obs: dict) -> tuple[int, str]:
    return int(obs["n"]), str(obs["h"])


def digest_errors(what: str, digest: tuple, reference: tuple) -> list[str]:
    """A run's ``mentions`` digest must equal that of the reference run."""
    if digest == reference:
        return []
    return [f"mentions digest of {what} differs from the reference run: {digest} != {reference}"]


def annotations_aggs(annotations: DataFrame) -> list[F.Column]:
    """Turn count, digest of (conv_id, turn_idx, text), and the number of
    denotations whose ``text[start:end]`` (exclusive end) is not its mention."""
    bad = F.filter(
        "denotations",
        lambda d: F.coalesce(
            F.substring(F.col("text"), d["start"] + 1, d["end"] - d["start"]) != d["mention"],
            F.lit(True),
        ),
    )
    return [
        F.count(F.lit(1)).alias("n"),
        _hash_sum("conv_id", "turn_idx", "text").alias("h"),
        F.sum(F.size(bad)).alias("bad_spans"),
    ]


def annotation_errors(obs: dict, text_digest: tuple[int, str]) -> list[str]:
    errors = []
    if (int(obs["n"]), str(obs["h"])) != text_digest:
        errors.append(
            f"per-turn text differs from the canonical input: "
            f"(turns, digest) {(obs['n'], str(obs['h']))} != {text_digest}"
        )
    if obs["bad_spans"]:
        errors.append(f"{obs['bad_spans']} denotations with text[start:end] != mention")
    return errors


def union_find_labels(edges) -> dict:
    """node -> minimum node of its connected component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def label_errors(edges, labels: dict) -> list[str]:
    """Compare the pipeline's surface labels with a union-find over its edges."""
    expected = union_find_labels(edges)
    if labels == expected:
        return []
    missing = expected.keys() - labels.keys()
    extra = labels.keys() - expected.keys()
    wrong = [n for n in expected.keys() & labels.keys() if expected[n] != labels[n]]
    return [
        f"surface_labels differ from union-find: {len(missing)} missing, "
        f"{len(extra)} extra, {len(wrong)} relabelled (e.g. {sorted(wrong)[:1]})"
    ]
