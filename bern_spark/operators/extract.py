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
4. longest-match containment pruning within (turn, etype) and
5. W9 cross-type overlap resolution — window max over identical spans,
   keep-the-higher-score with ties keeping both (ops.py:232-476, tie
   fall-through at ops.py:292-298) — both as partition-local windows
   behind ONE exchange by (conv_id, turn_idx): each turn's decision needs
   only that turn's matches, so the candidate UDF runs once per turn;
6. P5 species stoplist filter (utils.py:279-308), after W9.

At 100 TB the only shuffle here is that per-turn exchange of the lexicon
matches (plus the input repartition when the scan is narrower than the
cluster); the lexicon join is broadcast, candidate generation is
embarrassingly parallel. Streaming (streaming/incremental.py) shares
steps 1-3 and the stoplist; steps 4-5 need non-time windows, which
unbounded streams do not support.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bern_spark.datagen import SPECIES_STOPLIST
from bern_spark.functions.pytext import tokenize_with_offsets
from bern_spark.functions.text import canonical_text

# Candidate n-gram ceiling; ``lexicon_profile`` derives the real value
# from the lexicon (longest surface in CoNLL tokens, capped at 8 —
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
    BloomFilter`` for huge ones (see ``lexicon_profile``). Either way it
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


def lexicon_profile(lexicon: DataFrame):
    """``(anchors, max_ngram)``: the lexicon facts the candidate generator
    needs — the membership structure over the surfaces' first CoNLL
    tokens, and the longest surface in CoNLL tokens (capped at
    ``MAX_NGRAM``). The regexp token classes mirror the CoNLL tokenizer.

    Small vocabularies: an exact frozenset from ONE bounded driver
    collect of the per-first-token aggregate. Beyond the limit: a Bloom
    filter built executor-side (functions/bloom.py) — O(bits) on the
    driver, never the tokens.
    """
    prof = lexicon.groupBy(
        F.regexp_extract("surface", _TOK_RE_SQL, 0).alias("ft")
    ).agg(
        F.max(F.size(F.regexp_extract_all("surface", F.lit(_TOK_RE_SQL), 0))).alias("nt")
    )
    # limit() over this unordered aggregate keeps an arbitrary subset of
    # groups, but the subset is used only when it is ALL of them: with at
    # most ANCHOR_EXACT_LIMIT groups, a limit one higher cannot drop any;
    # with more, the head is discarded and both facts are recomputed over
    # the full aggregate below. The limit only caps driver memory.
    head = prof.limit(ANCHOR_EXACT_LIMIT + 1).collect()
    if len(head) <= ANCHOR_EXACT_LIMIT:
        anchors = frozenset(r["ft"] for r in head)
        longest = max((r["nt"] or 0 for r in head), default=0)
    else:
        from bern_spark.functions.bloom import bloom_from_rdd

        n, longest = prof.agg(F.count("*"), F.max("nt")).collect()[0]
        anchors = bloom_from_rdd(prof.rdd.map(lambda r: r[0]), n_items=n, fp_rate=0.01)
    return anchors, min(max(longest or 0, 1), MAX_NGRAM)


def _lexicon_matches(turns: DataFrame, lexicon: DataFrame, carry=()) -> DataFrame:
    """The row-local extraction prefix, shared by batch and streaming:
    canonical text -> anchored candidate spans -> broadcast lexicon
    lookup (inner: non-matches are not mentions). ``carry`` names extra
    input columns passed through (the stream's ``ts``).

    Returns (conv_id, turn_idx, *carry, start, end, mention, etype, score).
    """
    anchors, max_ngram = lexicon_profile(lexicon)
    cands_udf = make_anchored_candidates_udf(anchors, max_ngram)
    keys = ["conv_id", "turn_idx", *carry]
    cands = with_canonical_text(turns).select(
        *keys, F.explode(cands_udf(F.col("text"))).alias("_s")
    ).select(*keys, "_s.start", "_s.end", "_s.surface")
    return cands.join(
        F.broadcast(lexicon.withColumnRenamed("weight", "score")), on="surface"
    ).select(
        *keys, "start", "end", F.col("surface").alias("mention"), "etype", "score"
    )


def _drop_stoplisted_species(m: DataFrame) -> DataFrame:
    """P5 species stoplist (exact surface match, utils.py:279-308)."""
    return m.where(
        ~((F.col("etype") == "species") & F.col("mention").isin(SPECIES_STOPLIST))
    )


def extract_mentions(transcripts: DataFrame, lexicon: DataFrame) -> DataFrame:
    """Full extraction: canonical text -> candidates -> lexicon join ->
    longest-match pruning -> W9 overlap resolution -> P5 stoplist.

    Returns one row per surviving mention:
    (conv_id, turn_idx, start, end, mention, etype, score, mention_id).
    """
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
    target = transcripts.sparkSession.sparkContext.defaultParallelism
    few_files = 0 < len(transcripts.inputFiles()) < target
    if few_files or transcripts.rdd.getNumPartitions() < target:
        transcripts = transcripts.repartition(target)

    # One exchange co-locates each turn's matches; the three windows
    # below partition by supersets of (conv_id, turn_idx), which that
    # hash partitioning already satisfies, so they add sorts, not shuffles.
    m = _lexicon_matches(transcripts, lexicon).repartition("conv_id", "turn_idx")

    # 4. longest-match containment within (turn, etype): drop a mention
    # when a same-etype mention starts earlier and ends no earlier, or
    # starts at the same offset and ends later.
    by_type = Window.partitionBy("conv_id", "turn_idx", "etype")
    earlier = by_type.orderBy("start").rangeBetween(Window.unboundedPreceding, -1)
    same_start = Window.partitionBy("conv_id", "turn_idx", "etype", "start")
    m = (
        m.withColumn("_earlier_end", F.coalesce(F.max("end").over(earlier), F.lit(-1)))
        .withColumn("_same_start_end", F.max("end").over(same_start))
        .where((F.col("_earlier_end") < F.col("end")) & (F.col("_same_start_end") == F.col("end")))
        .drop("_earlier_end", "_same_start_end")
    )

    # 5. W9: identical spans claimed by >1 etype -> keep max score; a tie
    # keeps both (the reference's == fall-through, ops.py:292-298). A
    # null score never equals the max, so null-weight claims drop.
    same_span = Window.partitionBy("conv_id", "turn_idx", "start", "end")
    m = (
        m.withColumn("_max_score", F.max("score").over(same_span))
        .where(F.col("score") == F.col("_max_score"))
        .drop("_max_score")
    )

    # 6. after W9: a stoplisted species claim still outscores other types
    # on its span before it is dropped
    m = _drop_stoplisted_species(m)

    # Durable mention identity (replaces the reference's order-based zip
    # identity, J10/normalize.py:571-576 — SURVEY §7 hard part c).
    return m.withColumn(
        "mention_id",
        F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"), F.col("start").cast("string")),
    )
