"""Mention extraction: the NER stand-in (SURVEY §2.5 W1-W8, §2.10 U3/U4).

The reference tags mentions with BioBERT + external Java taggers; the graft
extracts them by dictionary n-gram matching plus regex taggers — but the
*shape* of the computation is the Spark-idiomatic one:

1. tokenize with char offsets — one Arrow-batched pandas UDF per text row
   (the only Python step; mirrors CoNLL_tokenizer + input_form,
   ops.py:5,37-63,91-95, with the exclusive-end fix of SURVEY §1.2);
2. candidate n-gram spans — emitted by the same UDF, only at tokens that
   start some lexicon surface (``make_anchored_candidates_udf``);
3. surface lookup — **broadcast hash join** against the lexicon
   (extraction analog of the J1-J3 dictionary joins);
4. longest-match containment pruning — per-(turn, etype) self-anti-join;
5. W9 cross-type overlap resolution — window max over identical spans,
   keep-the-higher-score with ties keeping both (ops.py:232-476, tie
   fall-through at ops.py:292-298);
6. P5 species stoplist filter (utils.py:279-308).

At 100 TB the only shuffle here is the final window (partition-local by
(conv_id, turn_idx) which is also the natural input partitioning); the
lexicon join is broadcast, candidate generation is embarrassingly parallel.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bern_spark.datagen import SPECIES_STOPLIST
from bern_spark.functions.pytext import tokenize_with_offsets
from bern_spark.functions.text import canonical_text

# Default candidate n-gram ceiling; ``extract_mentions`` derives the real
# value from the lexicon (longest surface in CoNLL tokens, capped at 8 —
# "c.1847G>T" alone is 5 tokens: c / . / 1847G / > / T).
MAX_NGRAM = 8

_TOKENS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("tok", T.StringType()),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
        ]
    )
)


@F.pandas_udf(_TOKENS_TYPE)
def tokens_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """CoNLL tokens with exclusive-end char offsets, Arrow-batched."""
    for batch in texts:
        yield batch.map(lambda t: tokenize_with_offsets(t) if t else [])


def make_wordpiece_udf(vocab: frozenset[str], unk_token: str = "[UNK]"):
    """W5: Arrow-batched WordPiece tokenization over whitespace tokens
    (reference tokenization.py:304-360 via pytext.wordpiece_tokens).
    WordPiece vocabularies are model-sized (~30k pieces), so the set ships
    in the closure like the anchor set. The natural pre-stage for any
    learned-embedding scorer this pipeline plugs in."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def wp_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from bern_spark.functions.pytext import wordpiece_tokens

        for batch in texts:
            yield batch.map(lambda t: wordpiece_tokens(t or "", vocab, unk_token))

    return wp_udf


def with_canonical_text(transcripts: DataFrame) -> DataFrame:
    """Apply the P1-P4 canonical preprocessing chain; the resulting ``text``
    is the invariant text all spans refer to."""
    return transcripts.withColumn("text", canonical_text("text"))


_CAND_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("surface", T.StringType()),
        ]
    )
)


def make_anchored_candidates_udf(first_tokens, max_ngram: int):
    """Anchor-gated candidate generation: one Arrow pass that tokenizes
    AND emits n-gram spans only at positions whose token is the first
    token of some lexicon surface.

    ``first_tokens`` is anything supporting ``in``: a frozenset for
    vocabulary-sized lexicons, or a ``bern_spark.functions.bloom.
    BloomFilter`` for huge ones (see ``anchor_set_for``). Either way it
    ships in the UDF closure — the Python-side mirror of the broadcast
    lexicon (the reference loads its dictionaries into every normalizer
    process the same way, chemical_normalizer.py:30-40). Cuts candidate
    volume from O(tokens x max_ngram) to O(anchor hits x max_ngram): on
    the synthetic corpus that is ~30x fewer rows through the lexicon
    join, and the explode stops being the pipeline's memory-bandwidth
    ceiling. Bloom false positives only admit extra candidates, which
    the lexicon inner join discards — recall is unaffected.
    """

    @F.pandas_udf(_CAND_TYPE)
    def cands_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        anchors = first_tokens

        def one(t: str):
            if not t:
                return []
            toks = tokenize_with_offsets(t)
            out = []
            n_toks = len(toks)
            for i, (tok, s, _e) in enumerate(toks):
                if tok not in anchors:
                    continue
                hi = min(max_ngram, n_toks - i)
                for n in range(1, hi + 1):
                    e = toks[i + n - 1][2]
                    out.append((s, e, t[s:e]))
            return out

        for batch in texts:
            yield batch.map(one)

    return cands_udf


_TOK_RE_SQL = r"[0-9a-zA-Z]+|[^0-9a-zA-Z\s]"

# Above this many distinct first tokens, the anchor set switches from an
# exact driver-side frozenset to an executor-built Bloom filter: the
# frozenset for 10^6 surfaces pickles to ~10^8 bytes of closure shipped
# with every task, while the Bloom is ~1.2 MB at 1% fp.
ANCHOR_EXACT_LIMIT = 100_000


def anchor_set_for(lexicon: DataFrame, exact_limit: int = ANCHOR_EXACT_LIMIT):
    """Membership structure over the lexicon surfaces' first CoNLL tokens.

    Small vocabularies: exact frozenset via a bounded driver collect
    (``limit(exact_limit + 1)`` caps driver memory regardless of lexicon
    size). Beyond the limit: a Bloom filter built executor-side
    (functions/bloom.py) — O(bits) on the driver, never the tokens.
    """
    ft = lexicon.select(
        F.regexp_extract("surface", _TOK_RE_SQL, 0).alias("ft")
    ).distinct()
    head = ft.limit(exact_limit + 1).collect()
    if len(head) <= exact_limit:
        return frozenset(r["ft"] for r in head)
    from bern_spark.functions.bloom import bloom_from_rdd

    n = ft.count()
    return bloom_from_rdd(ft.rdd.map(lambda r: r[0]), n_items=n, fp_rate=0.01)


def lexicon_max_ngram(lexicon: DataFrame, cap: int = MAX_NGRAM) -> int:
    """Longest lexicon surface in CoNLL tokens — the candidate window the
    extractor must generate. One tiny JVM-side aggregate (regexp token
    count mirrors the CoNLL token classes; no Python worker spin-up)."""
    n = lexicon.select(
        F.max(
            F.size(F.regexp_extract_all("surface", F.lit(r"[0-9a-zA-Z]+|[^0-9a-zA-Z\s]"), 0))
        ).alias("n")
    ).collect()[0]["n"]
    return min(int(n or 1), cap)


def lexicon_stats(lexicon: DataFrame, cap: int = MAX_NGRAM) -> tuple[int, int]:
    """(max_ngram, max rows sharing one surface) in ONE tiny dim-sized
    job — the two facts that let :func:`extract_mentions` skip provably
    vacuous corpus-wide stages (round-7 optimization):

    - ``max_ngram == 1``  => every candidate is a single CoNLL token;
      tokens of one turn are disjoint spans, so no mention can strictly
      contain another and the containment anti-join is a no-op;
    - ``max multiplicity == 1`` => a span's surface text determines at
      most ONE lexicon row, so no span is ever claimed twice and the W9
      overlap window is a no-op.
    """
    r = (
        lexicon.groupBy("surface")
        .agg(F.count("*").alias("c"))
        .agg(
            F.max(
                F.size(
                    F.regexp_extract_all(
                        "surface", F.lit(r"[0-9a-zA-Z]+|[^0-9a-zA-Z\s]"), 0
                    )
                )
            ).alias("n"),
            F.max("c").alias("m"),
        )
        .collect()[0]
    )
    return min(int(r["n"] or 1), cap), int(r["m"] or 0)


def extract_mentions(
    transcripts: DataFrame,
    lexicon: DataFrame,
    max_ngram: int | None = None,
    apply_species_filter: bool = True,
) -> DataFrame:
    """Full extraction: canonical text -> candidates -> lexicon join ->
    longest-match pruning -> W9 overlap resolution -> P5 stoplist.

    Returns one row per surviving mention:
    (conv_id, turn_idx, start, end, mention, etype, score, mention_id).
    """
    # multiplicity only matters for the W9-skip below; when the caller
    # pins max_ngram we stay conservative (run W9) rather than pay a
    # second lexicon job
    unique_surfaces = False
    first_toks = None
    if max_ngram is None:
        # ONE dim-sized job derives anchors + max_ngram + multiplicity
        # together (was two: the anchor collect and the stats aggregate).
        # The bounded collect caps driver memory exactly like
        # anchor_set_for; oversized vocabularies fall back to the
        # separate Bloom + aggregate path below.
        head = (
            lexicon.groupBy("surface")
            .agg(F.count("*").alias("c"))
            .select(
                "c",
                F.regexp_extract("surface", _TOK_RE_SQL, 0).alias("ft"),
                F.size(
                    F.regexp_extract_all("surface", F.lit(_TOK_RE_SQL), 0)
                ).alias("nt"),
            )
            .limit(ANCHOR_EXACT_LIMIT + 1)
            .collect()
        )
        if len(head) <= ANCHOR_EXACT_LIMIT:
            first_toks = frozenset(r["ft"] for r in head)
            max_ngram = min(max((int(r["nt"]) for r in head), default=1) or 1, MAX_NGRAM)
            unique_surfaces = all(r["c"] == 1 for r in head)
        else:
            max_ngram, mult = lexicon_stats(lexicon)
            unique_surfaces = mult <= 1
    # Parallelism floor: small-file sources get coalesced by
    # spark.sql.files.maxPartitionBytes into a handful of scan partitions,
    # which would serialize the Arrow tokenizer (measured: flat wall time
    # from 4 to 16 cores). Repartition up-front when the scan is narrower
    # than the cluster; at real scale input partitions >> cores and this
    # is a no-op. BOTH signals are needed: with a scan-parallelism floor
    # (session.py minPartitionNum) a single-file table reports
    # cores-many byte splits, but a 1-row-group parquet file still feeds
    # every row through one split — the file count is the honest signal
    # there, while getNumPartitions covers filtered/derived inputs.
    if not transcripts.isStreaming:
        target = transcripts.sparkSession.sparkContext.defaultParallelism
        files = transcripts.inputFiles()
        few_files = 0 < len(files) < target
        if few_files or transcripts.rdd.getNumPartitions() < target:
            transcripts = transcripts.repartition(target)
    turns = with_canonical_text(transcripts)

    # anchor set: first CoNLL token of every lexicon surface — exact set
    # when vocab-sized (already collected by the combined stats job
    # above when max_ngram was derived), executor-built Bloom filter
    # beyond (bounded driver memory + bounded task-closure size at
    # 10^8-surface scale)
    if first_toks is None:
        first_toks = anchor_set_for(lexicon)
    cands_udf = make_anchored_candidates_udf(first_toks, max_ngram)
    cands = turns.select(
        "conv_id", "turn_idx", F.explode(cands_udf(F.col("text"))).alias("_s")
    ).select(
        "conv_id",
        "turn_idx",
        F.col("_s.start").alias("start"),
        F.col("_s.end").alias("end"),
        F.col("_s.surface").alias("surface"),
    )

    # 3. broadcast lexicon lookup (inner: non-matches are not mentions)
    m = cands.join(
        F.broadcast(lexicon.withColumnRenamed("weight", "score")),
        on="surface",
        how="inner",
    ).select(
        "conv_id",
        "turn_idx",
        "start",
        "end",
        F.col("surface").alias("mention"),
        "etype",
        "score",
    )

    # 4. longest-match containment pruning within (turn, etype): drop a
    # mention strictly contained in a longer same-type mention. Self
    # anti-join keyed by the turn — blocks are tiny, AQE handles residue.
    # VACUOUS for a unigram lexicon (guide §2.4 — remove shuffles
    # outright): max_ngram == 1 makes every candidate a single token,
    # tokens of a turn are disjoint spans, and "strictly contains" needs
    # a strictly longer covering span — impossible, so both corpus-sized
    # join shuffles are skipped.
    if max_ngram > 1:
        a, b = m.alias("a"), m.alias("b")
        contained = a.join(
            b,
            on=[
                F.col("a.conv_id") == F.col("b.conv_id"),
                F.col("a.turn_idx") == F.col("b.turn_idx"),
                F.col("a.etype") == F.col("b.etype"),
                F.col("b.start") <= F.col("a.start"),
                F.col("b.end") >= F.col("a.end"),
                (F.col("b.end") - F.col("b.start")) > (F.col("a.end") - F.col("a.start")),
            ],
            how="left_semi",
        )
        m = a.join(
            contained.select(
                F.col("a.conv_id").alias("conv_id"),
                F.col("a.turn_idx").alias("turn_idx"),
                F.col("a.start").alias("start"),
                F.col("a.end").alias("end"),
                F.col("a.etype").alias("etype"),
            ),
            on=["conv_id", "turn_idx", "start", "end", "etype"],
            how="left_anti",
        )

    # 5. W9: identical spans claimed by >1 etype -> keep max score; a tie
    # keeps both (the reference's == fall-through, ops.py:292-298).
    # VACUOUS when no surface occurs in more than one lexicon row: an
    # identical (turn, start, end) span has identical surface text, so
    # multiple claims on one span can only come from multiple lexicon
    # rows for that surface — the window (a full corpus Exchange+Sort)
    # is skipped when lexicon_stats proved multiplicity 1.
    if not unique_surfaces:
        from pyspark.sql import Window

        w = Window.partitionBy("conv_id", "turn_idx", "start", "end")
        m = (
            m.withColumn("_max_score", F.max("score").over(w))
            .where(F.col("score") == F.col("_max_score"))
            .drop("_max_score")
        )

    # 6. P5 species stoplist (exact surface match, utils.py:279-308)
    if apply_species_filter:
        m = m.where(
            ~((F.col("etype") == "species") & F.col("mention").isin(SPECIES_STOPLIST))
        )

    # Durable mention identity (replaces the reference's order-based zip
    # identity, J10/normalize.py:571-576 — SURVEY §7 hard part c).
    m = m.withColumn(
        "mention_id",
        F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"), F.col("start").cast("string")),
    )
    return m
