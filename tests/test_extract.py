"""Extraction operator: lexicon profile, candidates, lexicon join,
containment, W9 overlap, P5 filter — checked against a naive per-turn
pure-Python reference."""

import pickle
import random
import re
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bern_spark.datagen import SPECIES_STOPLIST
from bern_spark.functions.pytext import tokenize_with_offsets
from bern_spark.operators.extract import (
    extract_mentions,
    lexicon_profile,
    with_canonical_text,
)


def _transcripts(spark, rows):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("tool", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    return spark.createDataFrame(
        [(c, i, "user", t, None, None) for (c, i, t) in rows], schema=schema
    )


def _lexicon(spark, rows):
    return spark.createDataFrame(rows, ["etype", "surface", "weight"])


@pytest.fixture(scope="module")
def simple(spark):
    lex = _lexicon(
        spark,
        [
            ("drug", "aspirin", 0.8),
            ("gene", "BRCA1", 0.8),
            ("gene", "BRCA1 gene", 0.8),
            ("disease", "weird syndrome", 0.8),
            ("drug", "clash", 0.9),
            ("gene", "clash", 0.6),
            ("drug", "evenly", 0.7),
            ("gene", "evenly", 0.7),
            ("species", "patients", 0.8),
            ("species", "Danio rerio", 0.8),
        ],
    )
    return lex


def _extract(spark, lex, rows):
    df = extract_mentions(_transcripts(spark, rows), lex)
    return {
        (r.conv_id, r.turn_idx, r.start, r.end, r.etype): r.mention
        for r in df.collect()
    }


def test_basic_offsets_and_multiword(spark, simple):
    got = _extract(spark, simple, [("c1", 0, "take aspirin for weird syndrome now")])
    assert got[("c1", 0, 5, 12, "drug")] == "aspirin"
    assert got[("c1", 0, 17, 31, "disease")] == "weird syndrome"


def test_longest_match_wins_same_etype(spark, simple):
    got = _extract(spark, simple, [("c1", 0, "the BRCA1 gene variant")])
    # only the longer gene mention survives containment pruning
    assert ("c1", 0, 4, 9, "gene") not in got
    assert got[("c1", 0, 4, 14, "gene")] == "BRCA1 gene"


def test_w9_overlap_keeps_higher_score(spark, simple):
    got = _extract(spark, simple, [("c1", 0, "clash here")])
    assert ("c1", 0, 0, 5, "drug") in got  # 0.9 beats 0.6
    assert ("c1", 0, 0, 5, "gene") not in got


def test_w9_tie_keeps_both(spark, simple):
    got = _extract(spark, simple, [("c1", 0, "evenly matched")])
    assert ("c1", 0, 0, 6, "drug") in got
    assert ("c1", 0, 0, 6, "gene") in got


def test_species_stoplist_filter(spark, simple):
    got = _extract(spark, simple, [("c1", 0, "patients with Danio rerio")])
    assert not any(k[4] == "species" and got[k] == "patients" for k in got)
    assert got[("c1", 0, 14, 25, "species")] == "Danio rerio"


def test_offsets_on_canonical_text(spark, simple):
    # exotic unicode space (1:1 map) keeps offsets aligned
    got = _extract(spark, simple, [("c1", 0, "take aspirin now")])
    assert got[("c1", 0, 5, 12, "drug")] == "aspirin"


def test_canonical_text_projection(spark):
    t = _transcripts(spark, [("c1", 0, "a b\r\nc")])
    out = with_canonical_text(t).select("text").collect()[0][0]
    assert out == "a b  c"


# ---------------------------------------------------------------------------
# naive per-turn reference
# ---------------------------------------------------------------------------

_LEX_SCHEMA = "etype string, surface string, weight double"
_OUT_COLS = ["conv_id", "turn_idx", "start", "end", "mention", "etype", "score"]


def _reference(texts, lex_rows):
    """BERN's per-document decision, spelled out: every token-aligned span
    whose text is a lexicon surface, once per lexicon row of that surface;
    drop a mention strictly contained in a longer same-etype mention; W9
    keeps the max score per span (ties kept, a null score never wins);
    then the species stoplist. ``texts`` maps (conv_id, turn_idx) to the
    canonical text."""
    rows_of = defaultdict(list)
    for etype, surface, weight in lex_rows:
        rows_of[surface].append((etype, weight))
    longest = max((len(tokenize_with_offsets(s)) for s in rows_of if s), default=0)
    out = []
    for (conv_id, turn_idx), text in texts.items():
        toks = tokenize_with_offsets(text) if text else []
        found = [
            (toks[i][1], toks[j][2], etype, w)
            for i in range(len(toks))
            for j in range(i, min(i + longest, len(toks)))
            for etype, w in rows_of.get(text[toks[i][1] : toks[j][2]], ())
        ]
        # a container of x starts at most `widest` chars before x does
        widest = max((e - s for s, e, _, _ in found), default=0)
        at = defaultdict(list)
        for m in found:
            at[(m[2], m[0])].append(m)
        kept = [
            (s, e, etype, w)
            for s, e, etype, w in found
            if not any(
                ye >= e and ye - ys > e - s
                for near in range(s - widest, s + 1)
                for ys, ye, _, _ in at.get((etype, near), ())
            )
        ]
        best = {}
        for s, e, _, w in kept:
            if w is not None:
                best[(s, e)] = max(best.get((s, e), w), w)
        out += [
            (conv_id, turn_idx, s, e, text[s:e], etype, w)
            for s, e, etype, w in kept
            if w is not None
            and w == best[(s, e)]
            and not (etype == "species" and text[s:e] in SPECIES_STOPLIST)
        ]
    return sorted(out)


def _canonical_texts(turns):
    return {
        (r.conv_id, r.turn_idx): r.text
        for r in with_canonical_text(turns).select("conv_id", "turn_idx", "text").collect()
    }


def _assert_matches_reference(turns, lex_rows, lex):
    """extract_mentions == the reference, and every span slices its mention
    out of the canonical text (exclusive ends). Returns the rows."""
    texts = _canonical_texts(turns)
    got = sorted(tuple(r) for r in extract_mentions(turns, lex).select(*_OUT_COLS).collect())
    assert got == _reference(texts, lex_rows)
    for conv_id, turn_idx, start, end, mention, _, _ in got:
        assert texts[(conv_id, turn_idx)][start:end] == mention
    return got


# ---------------------------------------------------------------------------
# lexicon profile: anchor set (exact / Bloom) and max_ngram
# ---------------------------------------------------------------------------


def test_anchor_set_bloom_path_bounded_and_correct(spark):
    from bern_spark.functions.bloom import BloomFilter

    # 10^6 distinct single-token surfaces + one real drug surface
    big_lex = spark.range(1_000_000).select(
        F.lit("drug").alias("etype"),
        F.concat(F.lit("syn"), F.col("id")).alias("surface"),
        F.lit(0.8).alias("weight"),
    ).unionByName(
        spark.createDataFrame([("drug", "aspirin", 0.9)], ["etype", "surface", "weight"])
    )
    anchors, _ = lexicon_profile(big_lex)
    assert isinstance(anchors, BloomFilter)
    # bounded task closure: ~1.2 MB at 1% fp for 10^6 items, never the
    # ~10^8-byte frozenset
    assert len(pickle.dumps(anchors)) < 5_000_000
    assert "aspirin" in anchors and "syn12345" in anchors

    transcripts = spark.createDataFrame(
        [("c1", 0, "user", "take aspirin and syn42 now", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {
        r.mention
        for r in extract_mentions(transcripts, big_lex).collect()
    }
    assert got == {"aspirin", "syn42"}


def test_anchor_set_exact_path_small_lexicon(spark):
    lex = spark.createDataFrame(
        [("drug", "aspirin", 0.8), ("mutation", "c.1847G>T", 0.9)],
        ["etype", "surface", "weight"],
    )
    anchors, _ = lexicon_profile(lex)
    assert isinstance(anchors, frozenset)
    assert anchors == frozenset({"aspirin", "c"})


# ---------------------------------------------------------------------------
# one pruning path: containment + W9 + stoplist
# ---------------------------------------------------------------------------


def test_extract_skip_paths_match_conservative_path(spark):
    """Unigram unique-surface lexicon — the shape the removed "provably
    vacuous" skips served: the one pruning path emits exactly the naive
    reference's rows."""
    turns = spark.createDataFrame(
        [
            ("c1", 0, "user", "aspirin and warfarin dose", None),
            ("c2", 0, "user", "aspirin aspirin twice", None),
            ("c3", 0, "user", "no matches here", None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    lex_rows = [("drug", "aspirin", 0.9), ("drug", "warfarin", 0.8)]
    lex = spark.createDataFrame(lex_rows, ["etype", "surface", "weight"])
    assert len(_assert_matches_reference(turns, lex_rows, lex)) == 4


def test_extract_multi_token_lexicon_keeps_full_path(spark):
    """Multi-token + duplicated-surface lexicon: containment pruning and
    W9 max-score-with-tie semantics."""
    turns = spark.createDataFrame(
        [("c1", 0, "user", "acute myeloid leukemia therapy", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    lex = spark.createDataFrame(
        [
            ("disease", "acute myeloid leukemia", 0.9),
            ("disease", "myeloid leukemia", 0.8),  # strictly contained: pruned
            ("gene", "therapy", 0.7),
            ("drug", "therapy", 0.7),  # W9 tie at the same span: keep both
            ("species", "therapy", 0.2),  # W9 loser: dropped
        ],
        ["etype", "surface", "weight"],
    )
    out = extract_mentions(turns, lex).select("mention", "etype").collect()
    got = sorted((r["mention"], r["etype"]) for r in out)
    assert got == [
        ("acute myeloid leukemia", "disease"),
        ("therapy", "drug"),
        ("therapy", "gene"),
    ]


def test_null_weight_claim_drops_whatever_the_other_rows(spark):
    """A null-weight mention never wins W9, whether or not some other
    lexicon surface is claimed by several etypes (the removed W9 skip let
    it through when every surface was unique)."""
    turn = [("c1", 0, "take aspirin now")]
    unique = [("drug", "aspirin", None), ("drug", "warfarin", 0.8)]
    for rows in (unique, unique + [("gene", "warfarin", 0.7)]):
        lex = spark.createDataFrame(rows, _LEX_SCHEMA)
        assert _extract(spark, lex, turn) == {}, rows


# ---------------------------------------------------------------------------
# property: extract_mentions == naive per-turn reference
# ---------------------------------------------------------------------------

_WORDS = [
    "aspirin", "BRCA1", "gene", "acute", "myeloid", "leukemia", "patients",
    "Danio", "rerio", "c", ".", "1847G", ">", "T", "naïve", "β", "字", "IL", "-", "2",
]
_ETYPES = ["drug", "gene", "disease", "species"]
_WEIGHTS = [None, 0.5, 0.7, 0.9]


@st.composite
def _cases(draw):
    """A lexicon over a small word pool (multi-token surfaces, one surface
    under several etypes, equal and null weights, stoplisted species,
    unicode) and turns built from its surfaces and pool words (null,
    empty and long texts)."""
    seps = st.sampled_from([" ", "", "-", ", "])

    def phrase():
        parts = draw(st.lists(st.sampled_from(_WORDS), min_size=1, max_size=3))
        return "".join(w + draw(seps) for w in parts[:-1]) + parts[-1]

    surfaces = [phrase() for _ in range(draw(st.integers(1, 5)))]
    lex_rows = draw(
        st.lists(
            st.tuples(st.sampled_from(_ETYPES), st.sampled_from(surfaces), st.sampled_from(_WEIGHTS)),
            min_size=1,
            max_size=8,
        )
    )
    chunk = st.sampled_from(surfaces + _WORDS)
    turns = []
    for _ in range(draw(st.integers(1, 4))):
        kind = draw(st.sampled_from(["null", "empty", "short", "long"]))
        if kind in ("null", "empty"):
            turns.append(None if kind == "null" else "")
            continue
        chunks = draw(st.lists(chunk, min_size=1, max_size=12))
        text = "".join(c + draw(seps) for c in chunks)
        turns.append(text * (60 if kind == "long" else 1))
    return lex_rows, turns


def _run_case(spark, lex_rows, texts):
    turns = _transcripts(spark, [(f"c{i // 2}", i % 2, t) for i, t in enumerate(texts)])
    return _assert_matches_reference(turns, lex_rows, spark.createDataFrame(lex_rows, _LEX_SCHEMA))


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_cases())
# a stoplisted species claim outscores the disease claim on its span, so
# W9 drops the disease claim before the stoplist drops the species one
@example(([("species", "patients", 0.9), ("disease", "patients", 0.5)], ["patients here"]))
# null weights: alone on a span, tied with nothing, under a repeated surface
@example(([("drug", "aspirin", None), ("drug", "warfarin", 0.8)], ["take aspirin now"]))
@example(
    (
        [("drug", "aspirin", None), ("drug", "warfarin", 0.8), ("gene", "warfarin", 0.7)],
        ["take aspirin now", "warfarin"],
    )
)
# containment within one etype, not across etypes; W9 tie keeps both
@example(
    (
        [
            ("disease", "acute myeloid leukemia", 0.9),
            ("disease", "myeloid leukemia", 0.8),
            ("gene", "myeloid", 0.5),
            ("gene", "leukemia", 0.7),
            ("drug", "leukemia", 0.7),
        ],
        ["acute myeloid leukemia and myeloid leukemia", None, ""],
    )
)
# same start, longer end; duplicate lexicon rows; unicode
@example(
    (
        [("gene", "IL", 0.5), ("gene", "IL-2", 0.5), ("gene", "IL-2", 0.5), ("drug", "naïve β", 0.9)],
        ["IL-2 and IL and naïve β 字"],
    )
)
def test_extract_matches_reference(spark, case):
    lex_rows, texts = case
    _run_case(spark, lex_rows, texts)


def test_dense_long_turn_matches_reference(spark):
    """One 10k-token turn where nearly every token starts a candidate."""
    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "kinase", "patients", "IL", "-", "2"]
    lex_rows = [(rng.choice(_ETYPES), w, rng.choice(_WEIGHTS)) for w in words for _ in range(2)]
    lex_rows += [
        ("gene", "alpha beta", 0.9),
        ("gene", "alpha beta gamma", 0.5),
        ("drug", "beta gamma", 0.9),
        ("species", "patients", 0.9),
        ("gene", "IL-2", 0.7),
        ("drug", "IL-2", 0.7),
        ("disease", "delta kinase", None),
    ]
    text = " ".join(rng.choice(words) for _ in range(10_000))
    rows = _run_case(spark, lex_rows, [text])
    assert len(rows) > 1000


# ---------------------------------------------------------------------------
# job floor and plan shape
# ---------------------------------------------------------------------------


def test_candidate_tokenizer_runs_once_per_turn(spark, dfs, dicts, monkeypatch):
    """resolve_entities tokenizes each fixture turn exactly once: the
    pruning reads the lexicon matches through ONE exchange, so the
    candidate UDF is not evaluated again for a second join side."""
    from bern_spark.operators import extract
    from bern_spark.pipeline import resolve_entities

    calls = spark.sparkContext.accumulator(0)
    tokenize = extract.tokenize_with_offsets

    def counted(text):
        calls.add(1)
        return tokenize(text)

    monkeypatch.setattr(extract, "tokenize_with_offsets", counted)
    res = resolve_entities(dfs["transcripts"], dfs["lexicon"], dicts, id_merge=dfs["id_merge"])
    for k in ("mentions", "annotations", "labels"):
        res[k].write.format("noop").mode("overwrite").save()
    n_turns = dfs["transcripts"].where(F.length("text") > 0).count()
    assert calls.value == n_turns, (calls.value, n_turns)


def test_extract_plan_has_one_pruning_exchange(spark, dfs):
    """At most the input repartition and the per-turn exchange, and no
    semi/anti self-join."""
    m = extract_mentions(dfs["transcripts"], dfs["lexicon"])
    m.collect()  # AQE settles the final plan of THIS query execution
    plan = m._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    shuffles = [
        ln
        for ln in final.splitlines()
        if re.match(r"^[\s:+\-]*(\*\(\d+\) )?(Reused)?Exchange ", ln)
        and "BroadcastExchange" not in ln
    ]
    assert len(shuffles) <= 2, final
    assert "LeftSemi" not in final and "LeftAnti" not in final, final
