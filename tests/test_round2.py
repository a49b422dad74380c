"""Round-2 coverage: Bloom filter, anchored streaming parity,
embedding-cosine scoring, WordPiece (W5), force-chunking (W1)."""

import datetime
import re

from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Bloom-filter anchor set
# ---------------------------------------------------------------------------


def test_bloom_filter_no_false_negatives():
    from bern_spark.functions.bloom import BloomFilter

    bf = BloomFilter.sized_for(1000, fp_rate=0.01)
    items = [f"tok{i}" for i in range(1000)]
    for s in items:
        bf.add(s)
    assert all(s in bf for s in items)
    # fp rate sanity: well under 10x the target on fresh probes
    fps = sum(1 for i in range(10_000) if f"absent{i}" in bf)
    assert fps < 500


# ---------------------------------------------------------------------------
# streaming prefix: anchored generator, lexicon-derived max_ngram, parity
# ---------------------------------------------------------------------------

_TR_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def test_streaming_matches_batch_and_keeps_long_surfaces(spark, tmp_path):
    from bern_spark.operators.extract import extract_mentions
    from bern_spark.streaming.incremental import streaming_candidate_mentions

    rows = [
        ("c1", 0, "user", "take aspirin now", None, datetime.datetime(2024, 1, 1, 0, 1)),
        # 'c.1847G>T' is 5 CoNLL tokens: a fixed max_ngram=4 default
        # silently dropped it (ADVICE round 1)
        ("c1", 1, "user", "variant c.1847G>T observed", None, datetime.datetime(2024, 1, 1, 0, 2)),
    ]
    src = str(tmp_path / "stream_src2")
    spark.createDataFrame(rows, _TR_SCHEMA).write.parquet(src)
    lex = spark.createDataFrame(
        [("drug", "aspirin", 0.8), ("mutation", "c.1847G>T", 0.9)],
        ["etype", "surface", "weight"],
    )

    stream = spark.readStream.schema(_TR_SCHEMA).parquet(src)
    m = streaming_candidate_mentions(stream, lex)
    q = (
        m.writeStream.format("memory")
        .queryName("r2_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.conv_id, r.turn_idx, r.start, r.end, r.mention, r.etype)
        for r in spark.sql("select * from r2_stream").collect()
    }
    # fixture has no containment/overlap, so the batch pipeline's mention
    # set equals the stateless streaming prefix's output exactly
    batch = {
        (r.conv_id, r.turn_idx, r.start, r.end, r.mention, r.etype)
        for r in extract_mentions(
            spark.createDataFrame(rows, _TR_SCHEMA), lex
        ).collect()
    }
    assert streamed == batch
    assert ("c1", 1, 8, 17, "c.1847G>T", "mutation") in streamed


def test_streaming_plan_is_anchored_not_exploded(spark, tmp_path):
    # the O(tokens x max_ngram) unanchored generator stacks one slide
    # projection per n (Catalyst transform/sequence); the anchored path is
    # a single Arrow UDF eval — assert the streaming plan uses the latter
    from bern_spark.streaming.incremental import streaming_candidate_mentions

    src = str(tmp_path / "stream_src3")
    spark.createDataFrame(
        [("c1", 0, "user", "x", None, datetime.datetime(2024, 1, 1))], _TR_SCHEMA
    ).write.parquet(src)
    stream = spark.readStream.schema(_TR_SCHEMA).parquet(src)
    lex = spark.createDataFrame([("drug", "aspirin", 0.8)], ["etype", "surface", "weight"])
    m = streaming_candidate_mentions(stream, lex)
    plan = m._jdf.queryExecution().analyzed().toString()
    assert "cands_udf" in plan
    assert "sequence(" not in plan


# ---------------------------------------------------------------------------
# embedding-cosine scoring
# ---------------------------------------------------------------------------


def test_hashed_embedding_properties():
    import numpy as np

    from bern_spark.operators.scoring import _hashed_embedding

    a = np.array(_hashed_embedding("aspirin"))
    assert abs(float(np.linalg.norm(a)) - 1.0) < 1e-9
    assert _hashed_embedding("aspirin") == _hashed_embedding("aspirin")
    near = float(a @ np.array(_hashed_embedding("aspirine")))
    far = float(a @ np.array(_hashed_embedding("metformin")))
    assert near > far


def test_score_pairs_with_embeddings(spark):
    from bern_spark.operators.scoring import hashed_surface_embeddings, score_pairs

    pairs = spark.createDataFrame(
        [
            ("k", "aspirin", "aspirine", "drug"),
            ("k", "aspirin", "zzqv", "drug"),
        ],
        ["block_key", "mention_a", "mention_b", "etype"],
    )
    surfaces = spark.createDataFrame(
        [("aspirin",), ("aspirine",), ("zzqv",)], ["surface"]
    )
    emb = hashed_surface_embeddings(surfaces)
    got = {
        (r.mention_a, r.mention_b): r.score
        for r in score_pairs(pairs, threshold=0.0, embeddings=emb).collect()
    }
    base = {
        (r.mention_a, r.mention_b): r.score
        for r in score_pairs(pairs, threshold=0.0).collect()
    }
    k_near, k_far = ("aspirin", "aspirine"), ("aspirin", "zzqv")
    assert got[k_near] > got[k_far]
    assert got[k_near] != base[k_near]  # cosine actually blended
    assert got[k_near] > 0.8  # near-dup still scores as a match


def test_pipeline_f1_gate_with_embedding_cosine(spark, dfs, dicts):
    from bern_spark.pipeline import ERConfig, pairwise_f1, resolve_entities

    res = resolve_entities(
        dfs["transcripts"],
        dfs["lexicon"],
        dicts,
        id_merge=dfs["id_merge"],
        config=ERConfig(use_embedding_cosine=True),
    )
    m = pairwise_f1(res["labels"], dfs["labeled_pairs"])
    assert m["f1"] >= 0.99, m


# ---------------------------------------------------------------------------
# W5 WordPiece
# ---------------------------------------------------------------------------

_WP_VOCAB = frozenset(
    ["un", "##aff", "##able", "aspirin", "##s", "brca", "##1", "[UNK]"]
)


def test_wordpiece_golden():
    from bern_spark.functions.pytext import wordpiece_tokenize, wordpiece_tokens

    # the reference's own docstring example (tokenization.py:316-318)
    assert wordpiece_tokenize("unaffable", _WP_VOCAB) == ["un", "##aff", "##able"]
    assert wordpiece_tokenize("aspirins", _WP_VOCAB) == ["aspirin", "##s"]
    assert wordpiece_tokenize("brca1", _WP_VOCAB) == ["brca", "##1"]
    # unmatched position -> whole token is UNK (tokenization.py:349-353)
    assert wordpiece_tokenize("xyz", _WP_VOCAB) == ["[UNK]"]
    # over-long token -> UNK (tokenization.py:331-333)
    assert wordpiece_tokenize("a" * 201, _WP_VOCAB) == ["[UNK]"]
    assert wordpiece_tokens("unaffable aspirins", _WP_VOCAB) == [
        "un", "##aff", "##able", "aspirin", "##s",
    ]
    assert wordpiece_tokens("", _WP_VOCAB) == []


def test_wordpiece_udf(spark):
    from bern_spark.operators.extract import make_wordpiece_udf

    df = spark.createDataFrame(
        [("unaffable aspirins",), ("xyz",), (None,)], ["text"]
    )
    wp = make_wordpiece_udf(_WP_VOCAB)
    got = [r.wp for r in df.select(wp(F.col("text")).alias("wp")).collect()]
    assert got == [["un", "##aff", "##able", "aspirin", "##s"], ["[UNK]"], []]


# ---------------------------------------------------------------------------
# W1 force-chunking
# ---------------------------------------------------------------------------


def _ref_force_chunk(sent: str) -> list[str]:
    """The reference's over-long-sentence rule (ops.py:119-143), restated
    for the test oracle: cut 200 raw tokens while the remainder has >=100
    CoNLL tokens; drop a whitespace-only tail."""
    conll = re.compile(r"[0-9a-zA-Z]+|[^0-9a-zA-Z\s]")
    raw = re.compile(r"([0-9a-zA-Z]+|[^0-9a-zA-Z])")
    out = []
    if len(conll.findall(sent)) <= 100:
        return [sent]
    while True:
        toks = [t for t in raw.split(sent) if t]
        cut, sent = "".join(toks[:200]), "".join(toks[200:])
        out.append(cut)
        if len(conll.findall(sent)) < 100:
            if sent.strip():
                out.append(sent)
            break
    return out


def test_force_chunk_matches_reference_rule():
    from bern_spark.functions.pytext import sentence_spans

    for text in [
        " ".join(f"w{i}" for i in range(500)),  # giant no-period sentence
        " ".join(f"w{i}" for i in range(150)),
        "short one",
        ("x " * 199) + "tail   ",  # whitespace-dominant tail
    ]:
        got = [text[s:e] for s, e in sentence_spans(text, force_chunk=True)]
        assert got == _ref_force_chunk(text), text[:40]


def test_force_chunk_mixed_sentences():
    from bern_spark.functions.pytext import conll_tokens, sentence_spans

    # capitalized tokens: the '.'-split rule requires an uppercase /
    # quote / dash after the space (ops.py:116)
    giant = " ".join(f"Tok{i}" for i in range(300))
    text = f"Short lead. {giant}. The end."
    spans = sentence_spans(text, force_chunk=True)
    chunks = [text[s:e] for s, e in spans]
    assert chunks[0] == "Short lead."
    assert all(len(conll_tokens(c)) <= 200 for c in chunks)
    assert chunks[-1] == " The end."
    # default path still tiles exactly
    tiled = sentence_spans(text)
    assert "".join(text[s:e] for s, e in tiled) == text
