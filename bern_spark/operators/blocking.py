"""Blocking: candidate-pair generation without the O(n^2) blow-up.

Pairing operates on **distinct (etype, surface) strings**, never mention
occurrences — the Spark form of the reference's name-level batching
(normalize.py:196-219 dedups mentions by name before the normalizer
round-trip). Identical surfaces are linked to one surface node by star
edges in the clustering graph, so a surface occurring 10^9 times in a
10^12-turn corpus contributes ONE node here, and the hot-block quadratic
("cancer" pinning a key) collapses to the distinct-vocabulary quadratic.

Key families (SURVEY §7 step 4):

- **token block key**: tmChem key (chemical_normalizer.py:64-72) of the
  first CoNLL token, etype-prefixed;
- **full-surface key**: tmChem key of the whole surface — the J1
  key-equivalence class (catches punctuation/space variants exactly);
- **MinHash-LSH bands** over character 3-shingles with seeded
  permutations (deterministic: JVM xxhash64 with per-permutation seeds —
  no PYTHONHASHSEED exposure, no Python at all), catching typo variants
  whose token keys differ.

Hot-block defense for *distinct-surface* blocks that are still large:
after one exchange on the block key, block sizes are a window count,
oversized blocks are salted into shards and bridged by a window min, all
inside the partition — skew costs no extra shuffle round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bern_spark.functions.keys import tmchem_key

N_PERM = 16  # minhash permutations
N_BANDS = 4  # 4 rows per band


def _shingle_array(surface) -> F.Column:
    """Character 3-shingles of the lowercased, space-collapsed surface as
    a row-local Catalyst array (mirror of pytext.char_shingles; duplicates
    are harmless under min)."""
    norm = F.trim(F.regexp_replace(F.lower(surface), r"\s+", " "))
    return F.when(
        F.length(norm) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - 2),
            lambda i: norm.substr(i, F.lit(3)),
        ),
    ).otherwise(F.array(norm))


def _perm_min(sh: F.Column, seed: str) -> F.Column:
    """Min over shingles of xxhash64(seed || shingle) for one seeded
    permutation. The seed is captured via THIS function's scope, not a
    lambda default arg: ``lambda g, p=p`` has two parameters, which
    PySpark's ``transform`` treats as an (element, index) lambda — ``p``
    silently binds to the index Column and ``F.lit(str(p))`` embeds that
    Column's repr (containing a per-construction lambda-variable id) as
    the seed. Signatures were then stable within one plan but DIFFERENT
    across plan constructions — breaking cross-run determinism and
    resume parity (found by the round-5 bucketed-vs-whole-stage test)."""
    lit_seed = F.lit(seed)
    return F.array_min(F.transform(sh, lambda g: F.xxhash64(F.concat(lit_seed, g))))


def minhash_signature(surface) -> F.Column:
    """N_PERM seeded-permutation minima, entirely inside whole-stage
    codegen: per permutation p, min over shingles of xxhash64(p || g).
    Replaces a per-row Python md5 loop (16 digests x shingles per
    surface) with JVM hashing — same statistical contract (independent
    uniform permutations), zero Python worker involvement."""
    sh = _shingle_array(surface)
    return F.array(*[_perm_min(sh, str(p)) for p in range(N_PERM)])


def token_block_key(col) -> F.Column:
    first_tok = F.regexp_extract(col, r"[0-9a-zA-Z]+", 0)
    return tmchem_key(first_tok)


def with_block_keys(surfaces: DataFrame) -> DataFrame:
    """Add ``block_key`` (first-token key), ``block_key_full``
    (whole-surface tmChem key), and ``bands`` (LSH band buckets) to a
    distinct-surface relation. Minhash runs once per DISTINCT surface —
    vocabulary-bounded, not corpus-bounded — and is pure Catalyst
    (no Python worker in the blocking path at all)."""
    m = surfaces.withColumn(
        "block_key",
        F.concat_ws(":", F.col("etype"), token_block_key(F.col("surface"))),
    ).withColumn(
        "block_key_full",
        F.concat_ws(":", F.col("etype"), F.lit("fk"), tmchem_key(F.col("surface"))),
    )
    m = m.withColumn("_sig", minhash_signature(F.col("surface")))
    rows_per_band = N_PERM // N_BANDS
    bands = F.array(
        *[
            F.concat_ws(
                ":",
                F.col("etype"),
                F.lit(f"b{b}"),
                F.hash(F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band)).cast("string"),
            )
            for b in range(N_BANDS)
        ]
    )
    return m.withColumn("bands", bands).drop("_sig")


def _keyed(surfaces: DataFrame, use_lsh: bool) -> DataFrame:
    """(surface, etype, bkey, bsize): one row per surface per block key,
    hash-partitioned on ``bkey`` (blocking's one exchange), with the block
    size as a window count over that partitioning. Rows are unique per
    (etype, bkey): the input is a distinct-surface relation and each
    surface's keys are array_distinct'd."""
    key_arr = F.array(F.col("block_key"), F.col("block_key_full"))
    if use_lsh:
        key_arr = F.concat(key_arr, F.col("bands"))
    return (
        surfaces.select("surface", "etype", F.explode(F.array_distinct(key_arr)).alias("bkey"))
        .repartition("bkey")
        .withColumn("bsize", F.count(F.lit(1)).over(Window.partitionBy("bkey")))
    )


def candidate_pairs(
    surfaces: DataFrame,
    max_block_size: int = 200,
    use_lsh: bool = True,
) -> DataFrame:
    """Within-block distinct-surface pairs, ``surface_a < surface_b``,
    deduped across key families. Returns (block_key, mention_a, mention_b,
    etype) — column names match the scoring stage's contract; a pair found
    under several keys carries the smallest (``<bkey>#<shard>`` or
    ``<bkey>#rep``).

    Two exchanges: after the one on ``bkey`` every block is
    partition-local, and the cross-family dedup is the second. Each
    (bkey, etype, shard) group collects its sorted surfaces, and a
    generator emits every pair in sorted order — no self-join.

    Salting: blocks larger than ``max_block_size`` split into shards by a
    deterministic surface hash, bounding per-block pair work at cap^2 per
    shard (and each group's array at about cap surfaces). Cross-shard
    recall is a DISCLOSED tradeoff, partially recoverable via
    representative bridge pairs: each shard's lexicographic-min surface
    additionally pairs with the block's overall min (a window min over the
    same partitioning), so a true match (x, y) split across shards can be
    recovered by transitive clustering — but only when every hop in
    x–shardRep–blockRep–shardRep'–y independently scores above threshold,
    which unrelated representative surfaces generally won't. The mechanism
    adds connectivity, not guaranteed recall; no false merges are
    introduced (bridges still have to *score*). ``salting_stats`` reports
    which blocks sharded so the recall exposure is measurable.
    """
    hot = F.col("bsize") > max_block_size
    shard = F.pmod(F.hash("surface"), F.ceil(F.col("bsize") / max_block_size))
    groups = (
        _keyed(surfaces, use_lsh)
        .groupBy("bkey", "etype", F.when(hot, shard).otherwise(0).alias("shard"), "bsize")
        .agg(F.sort_array(F.collect_list("surface")).alias("ss"))
    )
    ss = F.col("ss")
    # (element, index) lambda on purpose: each surface pairs with the ones
    # after it (surfaces are unique per group, so mention_a < mention_b)
    pairs = F.flatten(
        F.transform(
            ss,
            lambda x, i: F.transform(
                F.slice(ss, i + 2, F.size(ss)),
                lambda y: F.struct(x.alias("mention_a"), y.alias("mention_b")),
            ),
        )
    )
    within = groups.select(
        F.concat_ws("#", "bkey", F.col("shard").cast("string")).alias("block_key"),
        F.inline(pairs),
        "etype",
    )
    # bridge pairs for sharded blocks: block-min <-> shard-min
    bridges = (
        groups.where(hot)
        .select(
            F.concat_ws("#", "bkey", F.lit("rep")).alias("block_key"),
            F.min(ss[0]).over(Window.partitionBy("bkey", "etype")).alias("mention_a"),
            ss[0].alias("mention_b"),
            "etype",
        )
        .where(F.col("mention_a") != F.col("mention_b"))
    )
    # cross-family dedup; the pair keeps its smallest contributing key so
    # ``block_key`` does not depend on which row reaches the exchange first
    return (
        within.unionByName(bridges)
        .groupBy("mention_a", "mention_b", "etype")
        .agg(F.min("block_key").alias("block_key"))
        .select("block_key", "mention_a", "mention_b", "etype")
    )


def salting_stats(surfaces: DataFrame, max_block_size: int = 200, use_lsh: bool = True) -> DataFrame:
    """Observability for the hot-block defense: one row per block that
    got sharded — (bkey, bsize, n_shards), projected from the keyed
    relation ``candidate_pairs`` pairs. Pair volume capped at bsize*cap
    per block instead of bsize^2; the bridge pairs above keep cross-shard
    matches reachable, but a spike here means the block keys are too
    coarse and deserves a look."""
    return (
        _keyed(surfaces, use_lsh)
        .where(F.col("bsize") > max_block_size)
        .dropDuplicates(["bkey"])
        .select("bkey", "bsize", F.ceil(F.col("bsize") / max_block_size).alias("n_shards"))
    )
