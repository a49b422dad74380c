"""Round-6 regression tests: the four ADVICE r5 findings (BIO window
carry-in, return_raw release contract, V1-catalog in-place rewrite
detection, PIPELINE_VERSION invalidation), the Iceberg/Delta snapshot
branch of the catalog fingerprint (VERDICT r5 item 1 — previously dead
code under test), and adversarial MP4 box fuzzing (item 8)."""

import os
import struct

import pytest
from pyspark.sql import functions as F

from tests.test_round4 import _DOC

# ---------------------------------------------------------------------------
# ADVICE r5: bio_labels carry-in across the 30-token window split
# ---------------------------------------------------------------------------


def test_bio_labels_carry_in_unit():
    from bern_spark.jobs.export_tfrecords import bio_labels

    # span (0, 28) covers tokens in two windows; window 2 starts at
    # base=20 mid-span ("leukemia" continues the mention)
    win2 = [("leukemia", 0, 8), ("is", 9, 11)]
    assert bio_labels(win2, 20, [(0, 28)]) == ["B", "O"]  # legacy restart
    assert bio_labels(win2, 20, [(0, 28)], carry_in=True) == ["I", "O"]
    # carry_in with NO span covering base-1: first token still opens B
    assert bio_labels(win2, 20, [(20, 28)], carry_in=True) == ["B", "O"]
    # carry_in where the continuing span differs from the first token's
    # span: a span ending exactly at base does NOT cover char base-1+1
    assert bio_labels(win2, 20, [(0, 20), (20, 28)], carry_in=True) == ["B", "O"]
    # carry_boundary: a span starting in the inter-window whitespace gap
    # (after the previous window's last token, end=17) never overlapped a
    # previous token — no B was ever emitted, so it must OPEN with B here,
    # not continue as I (I-with-no-B would be an invalid BIO sequence)
    assert bio_labels(
        win2, 20, [(18, 28)], carry_in=True, carry_boundary=17
    ) == ["B", "O"]
    # ...but a span that did overlap the previous window's tokens carries
    assert bio_labels(
        win2, 20, [(15, 28)], carry_in=True, carry_boundary=17
    ) == ["I", "O"]


def test_frame_turns_bio_continues_across_window_split(spark):
    """A mention spanning the W4 window boundary is labeled B in the
    first window and I (not B) at the start of the next — one entity,
    not two fragments, in training labels (reference CoNLL chunking
    carries labels through the split, run_ner.py)."""
    from bern_spark.functions.pytext import NER_LABELS
    from bern_spark.jobs.export_tfrecords import build_vocab, frame_turns

    label_of = {i: l for i, l in enumerate(NER_LABELS, 1)}
    turns = spark.createDataFrame(
        [("c1", 0, "user", "aa bb cc dd ee ff gg", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    # words: aa(0,2) bb(3,5) cc(6,8) dd(9,11) ee(12,14) ff(15,17) gg(18,20)
    # window_tokens=4 -> win0 = aa..dd, win1 = ee..gg; span dd..ee crosses
    mentions = spark.createDataFrame(
        [("c1", 0, 9, 14)], "conv_id string, turn_idx int, start int, end int"
    )
    vocab = build_vocab(turns)
    framed = {
        r["win_idx"]: r
        for r in frame_turns(
            turns, vocab, mentions=mentions, window_tokens=4, max_seq_length=16
        ).collect()
    }
    assert set(framed) == {0, 1}

    def tags(r):
        n = sum(r["input_mask"])
        return [label_of[i] for i in r["label_ids"][1 : n - 1]]  # strip CLS/SEP

    assert tags(framed[0]) == ["O", "O", "O", "B"]  # dd opens the mention
    assert tags(framed[1]) == ["I", "O", "O"]  # ee CONTINUES it across the split


def test_frame_turns_gap_start_span_opens_b_not_i(spark):
    """A span starting in the whitespace gap BETWEEN windows (after the
    previous window's last token end, before the next window's base)
    never got a B in the previous window — the next window must open it
    with B, not emit an I-with-no-B (invalid BIO in training shards)."""
    from bern_spark.functions.pytext import NER_LABELS
    from bern_spark.jobs.export_tfrecords import build_vocab, frame_turns

    label_of = {i: l for i, l in enumerate(NER_LABELS, 1)}
    turns = spark.createDataFrame(
        [("c1", 0, "user", "aa bb cc dd ee ff gg", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    # win0 = aa..dd (last token end 11), win1 base = 12 ('ee'); span
    # (11, 14) starts at the space char 11 — overlaps NO win0 token
    mentions = spark.createDataFrame(
        [("c1", 0, 11, 14)], "conv_id string, turn_idx int, start int, end int"
    )
    vocab = build_vocab(turns)
    framed = {
        r["win_idx"]: r
        for r in frame_turns(
            turns, vocab, mentions=mentions, window_tokens=4, max_seq_length=16
        ).collect()
    }

    def tags(r):
        n = sum(r["input_mask"])
        return [label_of[i] for i in r["label_ids"][1 : n - 1]]

    assert tags(framed[0]) == ["O", "O", "O", "O"]  # no B in win0
    assert tags(framed[1]) == ["B", "O", "O"]  # ee OPENS the mention


# ---------------------------------------------------------------------------
# ADVICE r5: return_raw implies cache — the release contract always holds
# ---------------------------------------------------------------------------


def test_fetch_return_raw_forces_cache(spark, tmp_path):
    """return_raw=True with cache=False (the ADVICE r5 hole): the raw
    handle must still be a persisted relation — GETs run exactly once
    regardless of how many downstream actions run, and raw.unpersist()
    is a real release, matching the docstring contract."""
    from bern_spark.sources.remote import fetch_pubtator

    marker = str(tmp_path / "gets")

    def counting(url, _m=marker):
        with open(_m, "a") as f:
            f.write("x")
        return _DOC

    pmids = spark.createDataFrame([("1001",)], ["pmid"]).coalesce(1)
    docs, errors, raw = fetch_pubtator(
        pmids, transport=counting, cache=False, return_raw=True
    )
    assert raw.storageLevel.useMemory  # persisted despite cache=False
    for _ in range(3):
        assert docs.count() == 1
    assert errors.count() == 0
    raw.unpersist()
    assert not raw.storageLevel.useMemory
    assert docs.count() == 1  # parsed relations are checkpointed, no refetch
    with open(marker) as f:
        assert len(f.read()) == 1  # exactly one GET ever


# ---------------------------------------------------------------------------
# ADVICE r5: V1 catalog token must see in-place data-file rewrites
# ---------------------------------------------------------------------------


def test_v1_catalog_token_detects_inplace_rewrite(spark, tmp_path):
    """An external writer rewriting an existing data file in place (same
    name) changes neither the root dir's size nor its mtime — the token
    folds a digest of every child's (name, size, mtime_ns) from one
    os.scandir so this invalidates, including backdated rewrites."""
    from bern_spark.pipeline import _input_token

    loc = str(tmp_path / "rtbl")
    spark.sql("DROP TABLE IF EXISTS r6_rtbl")
    spark.sql(
        f"CREATE TABLE r6_rtbl (id BIGINT, v STRING) USING parquet LOCATION '{loc}'"
    )
    spark.sql("INSERT INTO r6_rtbl VALUES (1, 'a')")
    try:
        t1 = _input_token(spark.table("r6_rtbl"))
        assert t1.startswith("cat:table:")
        data_files = [f for f in os.listdir(loc) if f.endswith(".parquet")]
        assert data_files
        # simulate the in-place rewrite: same name/content, newer mtime;
        # the directory stat is untouched by a child utime
        target = os.path.join(loc, data_files[0])
        st = os.stat(target)
        os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 10_000_000_000))
        t2 = _input_token(spark.table("r6_rtbl"))
        assert t2 != t1
        # a BACKDATED rewrite (restore tools preserve older timestamps)
        # must also invalidate — a max-mtime fold would miss this; the
        # per-child digest does not
        os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns - 10_000_000_000))
        t3 = _input_token(spark.table("r6_rtbl"))
        assert t3 not in (t1, t2)
    finally:
        spark.sql("DROP TABLE IF EXISTS r6_rtbl")


# ---------------------------------------------------------------------------
# VERDICT r5 item 1: the Iceberg/Delta snapshot branch, exercised.
# No Iceberg connector ships in this container, so the py4j surface the
# branch duck-types (getClass/getSimpleName, table().name()/properties()/
# version()) is faked with plain Python objects — the branch only ever
# touches that surface, so the fake exercises exactly the shipped code.
# ---------------------------------------------------------------------------


class _JClass:
    def __init__(self, name, simple):
        self._n, self._s = name, simple

    def getName(self):
        return self._n

    def getSimpleName(self):
        return self._s


class _JMap:
    def __init__(self, d):
        self._d = d

    def get(self, k):  # java.util.Map.get: null -> py4j None
        return self._d.get(k)


class _JTable:
    def __init__(self, name, props=None, cls="org.apache.iceberg.spark.source.SparkTable", version=None):
        self._name, self._props, self._cls, self._ver = name, props, cls, version

    def name(self):
        return self._name

    def properties(self):
        if self._props is None:
            raise RuntimeError("no properties()")
        return _JMap(self._props)

    def version(self):
        if self._ver is None:
            raise RuntimeError("no version()")
        return self._ver

    def getClass(self):
        return _JClass(self._cls, self._cls.rsplit(".", 1)[-1])


class _JLeaf:
    def __init__(self, table, simple="DataSourceV2Relation"):
        self._t, self._s = table, simple

    def getClass(self):
        return _JClass(f"org.apache.spark.fake.{self._s}", self._s)

    def table(self):
        return self._t


class _JLeaves:
    def __init__(self, leaves):
        self._l = leaves

    def size(self):
        return len(self._l)

    def apply(self, i):
        return self._l[i]


def _fake_df(*leaves):
    class _QE:
        def analyzed(self):
            class _Plan:
                def collectLeaves(self):
                    return _JLeaves(list(leaves))

            return _Plan()

    class _JDF:
        def queryExecution(self):
            return _QE()

    class _DF:
        _jdf = _JDF()

    return _DF()


def test_catalog_leaf_tokens_iceberg_snapshot():
    """A DataSourceV2Relation whose table properties carry Iceberg's
    current-snapshot-id yields the O(1) snapshot token; a new snapshot
    id invalidates; shape is one token per leaf."""
    from bern_spark.pipeline import _catalog_leaf_tokens

    df1 = _fake_df(_JLeaf(_JTable("cat.db.turns", {"current-snapshot-id": "123"})))
    assert _catalog_leaf_tokens(df1) == ["table:cat.db.turns:snap:123"]
    # commit -> new snapshot id -> different token (exact invalidation)
    df2 = _fake_df(_JLeaf(_JTable("cat.db.turns", {"current-snapshot-id": "124"})))
    assert _catalog_leaf_tokens(df2) != _catalog_leaf_tokens(df1)
    # multi-leaf: one token per leaf, order-stable
    df3 = _fake_df(
        _JLeaf(_JTable("cat.db.turns", {"current-snapshot-id": "123"})),
        _JLeaf(_JTable("cat.db.lex", {"current-snapshot-id": "9"})),
    )
    assert _catalog_leaf_tokens(df3) == [
        "table:cat.db.turns:snap:123",
        "table:cat.db.lex:snap:9",
    ]


def test_catalog_leaf_tokens_delta_version_gate():
    """No snapshot property: the version() accessor is trusted ONLY for
    Delta table classes — an unrelated version() method on another
    connector must NOT mint a token (stale-resume risk beats O(1))."""
    from bern_spark.pipeline import _catalog_leaf_tokens

    delta = _JTable(
        "d.t", props={}, cls="org.apache.spark.sql.delta.catalog.DeltaTableV2",
        version=7,
    )
    assert _catalog_leaf_tokens(_fake_df(_JLeaf(delta))) == ["table:d.t:v:7"]
    assert _catalog_leaf_tokens(
        _fake_df(_JLeaf(_JTable(
            "d.t", props={},
            cls="org.apache.spark.sql.delta.catalog.DeltaTableV2", version=8,
        )))
    ) != ["table:d.t:v:7"]
    # same shape, non-Delta class: version() must be ignored -> None
    other = _JTable("o.t", props={}, cls="com.example.OtherTable", version=7)
    assert _catalog_leaf_tokens(_fake_df(_JLeaf(other))) is None


def test_catalog_leaf_tokens_unprovable_branches_fall_back():
    """Every branch that cannot PROVE identity returns None (file-walk
    fallback): properties() raising, snapshot absent without a Delta
    version, an unknown leaf class, and a mixed provable/unprovable
    plan (ANY unprovable leaf voids the whole token list)."""
    from bern_spark.pipeline import _catalog_leaf_tokens

    no_props = _JTable("x.t", props=None, cls="com.example.T")
    assert _catalog_leaf_tokens(_fake_df(_JLeaf(no_props))) is None
    unknown_leaf = _JLeaf(_JTable("x.t", {"current-snapshot-id": "1"}), simple="Project")
    assert _catalog_leaf_tokens(_fake_df(unknown_leaf)) is None
    iceberg = _JLeaf(_JTable("i.t", {"current-snapshot-id": "5"}))
    bad = _JLeaf(_JTable("x.t", props=None, cls="com.example.T"))
    assert _catalog_leaf_tokens(_fake_df(iceberg, bad)) is None


# ---------------------------------------------------------------------------
# VERDICT r5 item 8: adversarial MP4 box fuzzing (hypothesis)
# ---------------------------------------------------------------------------

hyp = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_BOX_TYPES = [b"moov", b"mvhd", b"trak", b"tkhd", b"free", b"mdat", b"ftyp"]


@st.composite
def _box_bytes(draw, depth=0):
    """One ISO-BMFF box with an adversarial size field: correct,
    0 (to-end), 1+largesize (correct or lying), or a random lie —
    payload either random bytes or (shallowly) nested boxes."""
    btype = draw(st.sampled_from(_BOX_TYPES))
    if depth < 2 and draw(st.booleans()):
        kids = draw(st.lists(_box_bytes(depth=depth + 1), min_size=0, max_size=3))
        payload = b"".join(kids)
    else:
        payload = draw(st.binary(min_size=0, max_size=120))
    mode = draw(st.sampled_from(["ok", "zero", "large_ok", "large_lie", "lie"]))
    if mode == "ok":
        return struct.pack(">I", 8 + len(payload)) + btype + payload
    if mode == "zero":
        return struct.pack(">I", 0) + btype + payload
    if mode == "large_ok":
        return struct.pack(">I", 1) + btype + struct.pack(">Q", 16 + len(payload)) + payload
    if mode == "large_lie":
        lie = draw(st.integers(min_value=0, max_value=2**63 - 1))
        return struct.pack(">I", 1) + btype + struct.pack(">Q", lie) + payload
    lie = draw(st.integers(min_value=2, max_value=2**32 - 1))
    return struct.pack(">I", lie) + btype + payload


@given(
    boxes=st.lists(_box_bytes(), min_size=0, max_size=5),
    prefix_ftyp=st.booleans(),
    trailing=st.binary(max_size=20),
)
@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_mp4_walker_parses_or_raises_never_hangs(boxes, prefix_ftyp, trailing):
    """Adversarial box streams (sizes 0/1-largesize/overflowing/random):
    _decode_mp4 must return a dict or raise ValueError — never hang,
    loop, over-read (IndexError/struct.error), or return garbage types
    (same fuzz discipline the JPEG/WAV parsers got in r4)."""
    from bern_spark.operators.multimodal import _decode_mp4

    data = b"".join(boxes) + trailing
    if prefix_ftyp:
        data = struct.pack(">I", 16) + b"ftypisom" + b"\x00" * 4 + data
    try:
        out = _decode_mp4(data)
    except ValueError:
        return
    assert isinstance(out, dict)
    assert set(out) == {"width", "height", "duration_ms"}
    assert out["duration_ms"] is not None


# ---------------------------------------------------------------------------
# VERDICT r5 item 3: the ner_framing relational skeleton, DuckDB-oracled
# ---------------------------------------------------------------------------


def test_frame_turns_n_words_tiles_conll_tokens(spark):
    """sum(n_words) over all framed windows == whole-text CoNLL token
    count: sentence spans tile the text and windows tile each sentence's
    tokens, even when framing itself truncates (max_seq_length=32 forces
    wordpiece truncation; n_words counts pre-framing W2 words)."""
    from bern_spark.functions.pytext import conll_tokens
    from bern_spark.jobs.export_tfrecords import build_vocab, frame_turns

    text = (
        "Aspirin helps. But EGFR mutations resist! "
        + " ".join(f"w{i}" for i in range(75))
        + "."
    )
    turns = spark.createDataFrame(
        [("c1", 0, "user", text, None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    f = frame_turns(
        turns, build_vocab(turns), window_tokens=30, max_seq_length=32
    ).collect()
    assert sum(r["n_words"] for r in f) == len(conll_tokens(text))
    assert all(1 <= r["n_words"] <= 30 for r in f)
    assert any(r["win_idx"] > 0 for r in f)  # the long sentence windowed


def test_ner_framing_shape_matches_oracle(spark):
    """The driver-facing shape query hash-matches its DuckDB oracle at
    sf0.001 (same compare the driver runs at sf0.01)."""
    from bern_spark.oracle_check import run_all

    res = run_all(spark, "/root/testdata/sf0.001", names=["ner_framing_shape"])
    assert res[0]["ok"], res[0]
    assert res[0]["rows"] > 0


# ---------------------------------------------------------------------------
# Round-6 flagship: er_pipeline fully DuckDB-oracled (was rows-only)
# ---------------------------------------------------------------------------


def test_er_pipeline_matches_full_oracle(spark):
    """The REAL resolve_entities run hash-matches SQL_ER_PIPELINE — a
    stage-by-stage relational re-derivation (extract join, J1 normalize,
    both block-key families, score blend with tmChem short-circuit, star
    edges, recursive-CC min labels, cluster/norm_ids attach) — at
    sf0.001, the same compare the driver runs at sf0.01."""
    from bern_spark.oracle_check import run_all

    res = run_all(spark, "/root/testdata/sf0.001", names=["er_pipeline"])
    assert res[0]["ok"], res[0]
    assert res[0]["rows"] > 0


def test_tmchem_sql_class_matches_spark_kernel(spark):
    """The RE2-safe SQL char class strips exactly what keys.tmchem_key
    strips — every string.punctuation char, whitespace, case — so the
    oracle's J1/blocking keys cannot drift from the engine's."""
    import string

    import duckdb

    from bern_spark.entry_queries import _tmk_sql

    fixtures = [
        "Aspirin  B-12",
        string.punctuation,
        "a'b\"c\\d]e[f-g",
        "  spaced\tout\nsurface  ",
        "UPPER_lower.123",
        "no-op",
    ]
    sdf = spark.createDataFrame([(s,) for s in fixtures], ["name"])
    from bern_spark.functions.keys import tmchem_key

    spark_keys = [r["k"] for r in sdf.select(tmchem_key("name").alias("k")).collect()]
    con = duckdb.connect()
    duck_keys = [
        con.execute(f"SELECT {_tmk_sql('?')}", [s]).fetchone()[0] for s in fixtures
    ]
    assert spark_keys == duck_keys


_SURFACE_ALPHA = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 -.'()/,+"
)


@given(
    a=st.text(alphabet=_SURFACE_ALPHA, min_size=1, max_size=18),
    b=st.text(alphabet=_SURFACE_ALPHA, min_size=1, max_size=18),
)
@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_pair_score_blend_cross_engine_parity(a, b):
    """_pair_score_sql (the shared fragment both SQL oracles embed)
    agrees with the Python kernel blend on arbitrary realistic surfaces
    — whitespace, punctuation, mixed case — not just the [a-z]+ vocab
    the er_score_pairs fixture covers. Guards the full-pipeline oracle
    against silent cross-engine drift in JW/Levenshtein/Jaccard."""
    import math

    import duckdb

    from bern_spark.entry_queries import _CONLL_RE, _pair_score_sql
    from bern_spark.functions.pytext import (
        jaro_winkler,
        levenshtein_sim,
        token_jaccard,
    )

    a, b = a.strip() or "x", b.strip() or "x"
    xa, xb = a.lower(), b.lower()
    if a == b:
        k = 1.0
    elif xa == xb:
        k = 0.99
    else:
        k = (
            0.5 * jaro_winkler(xa, xb)
            + 0.35 * levenshtein_sim(xa, xb)
            + 0.15 * token_jaccard(xa, xb)
        )
    expr = _pair_score_sql("a", "b", "xa", "xb", "ta", "tb")
    q = f"""SELECT {expr} FROM (
        SELECT ? AS a, ? AS b, lower(?) AS xa, lower(?) AS xb,
               list_distinct(regexp_extract_all(lower(?), '{_CONLL_RE}')) AS ta,
               list_distinct(regexp_extract_all(lower(?), '{_CONLL_RE}')) AS tb)"""
    d = duckdb.connect().execute(q, [a, b, a, b, a, b]).fetchone()[0]
    assert math.isclose(k, d, rel_tol=0, abs_tol=5e-5), (a, b, k, d)


# ---------------------------------------------------------------------------
# Deterministic sampling operators (splits + sequence packing)
# ---------------------------------------------------------------------------


def test_assign_splits_deterministic_and_growth_stable(spark):
    from bern_spark.operators.sampling import assign_splits

    full = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in assign_splits(full, salt="s").collect()}
    # re-partitioned input -> identical assignment (content-keyed)
    b = {
        r["doc_id"]: r["split"]
        for r in assign_splits(full.repartition(13), salt="s").collect()
    }
    assert a == b
    # corpus growth never moves existing keys between splits
    sub = {
        r["doc_id"]: r["split"]
        for r in assign_splits(
            spark.range(0, 500).withColumnRenamed("id", "doc_id"), salt="s"
        ).collect()
    }
    assert all(a[k] == v for k, v in sub.items())
    # weights roughly honored at n=2000 (98/1/1; generous bounds)
    from collections import Counter

    c = Counter(a.values())
    assert c["train"] > 1900 and 0 < c["val"] < 80 and 0 < c["test"] < 80
    # different salt -> different assignment somewhere
    d = {r["doc_id"]: r["split"] for r in assign_splits(full, salt="t").collect()}
    assert a != d
    with pytest.raises(ValueError):
        assign_splits(full, weights={"a": 0.0})


def test_pack_documents_bins_are_shardwise_cumsum(spark):
    from bern_spark.operators.sampling import pack_documents

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(1 + (i * 7) % 40))) for i in range(200)]
        + [(999, "   ")],  # whitespace-only doc: dropped
        "doc_id long, text string",
    )
    rows = pack_documents(docs, budget_tokens=64, n_shards=4, salt="s").collect()
    assert len(rows) == 200  # the empty doc is gone
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) > 1  # actually sharded
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in shard_rows:
            # (bin_id, offset) is exactly the cumsum of prior docs
            assert r["bin_id"] * 64 + r["offset_tokens"] == cum
            assert 0 <= r["offset_tokens"] < 64
            cum += r["n_tokens"]
    with pytest.raises(ValueError):
        pack_documents(docs, budget_tokens=0)


def test_sampling_queries_match_oracle(spark):
    """split_assign and pack_sequences hash-match their DuckDB oracles
    at sf0.001 — the same compare the driver runs at sf0.01."""
    from bern_spark.oracle_check import run_all

    for r in run_all(
        spark, "/root/testdata/sf0.001", names=["split_assign", "pack_sequences"]
    ):
        assert r["ok"], r
        assert r["rows"] > 0


def test_md5_bucket_cross_engine_parity(spark):
    """The Spark conv(md5-prefix) hash equals DuckDB's '0x'-cast
    re-derivation for every key — the one expression in the sampling
    oracles most likely to drift across engines."""
    import duckdb

    from bern_spark.operators.sampling import _md5_hash32

    keys = [str(i) for i in range(200)] + ["", "a b", "UPPER", "0", "ключ"]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    s = {
        r["k"]: r["h"]
        for r in df.select("k", _md5_hash32(F.col("k"), "salt").alias("h")).collect()
    }
    con = duckdb.connect()
    for k in keys:
        d = con.execute(
            "SELECT ('0x' || substr(md5(? || ':salt'), 1, 8))::BIGINT", [k]
        ).fetchone()[0]
        assert s[k] == d, (k, s[k], d)


def test_assign_splits_rejects_unreachable_and_negative(spark):
    from bern_spark.operators.sampling import assign_splits

    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):  # val rounds to zero buckets
        assign_splits(df, weights={"train": 0.99997, "val": 0.00003})
    with pytest.raises(ValueError):  # negative weight with positive total
        assign_splits(df, weights={"a": 2.0, "b": -1.0})
    with pytest.raises(ValueError):  # earlier weights consume everything
        assign_splits(df, weights={"a": 1.0, "b": 0.0})


def test_pack_documents_single_exchange(spark):
    """Packing shuffles ONCE (the shard key window) — no global sort, no
    extra exchange from the bucket derivation."""
    from bern_spark.operators.sampling import pack_documents

    docs = spark.range(0, 100).selectExpr("id AS doc_id", "'a b c' AS text")
    plan = pack_documents(docs, budget_tokens=8, n_shards=4)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


# ---------------------------------------------------------------------------
# PIPELINE_VERSION invalidation
# ---------------------------------------------------------------------------


def test_pipeline_version_bumped_for_minhash_seed_fix():
    """The r5 MinHash seed-capture fix changed blocking-stage outputs; a
    v5 lineage store must not resume into post-fix code (ADVICE r5)."""
    from bern_spark.pipeline import PIPELINE_VERSION

    assert int(PIPELINE_VERSION) >= 6
