"""Round-3 additions: W6 feature framing, real PNG decode, scoring-kernel
cross-engine parity."""

import struct
import zlib

import pytest


# ---------------------------------------------------------------------------
# W6 feature framing (reference run_ner.py:785-847)
# ---------------------------------------------------------------------------

W6_VOCAB = {
    "[CLS]": 101, "[SEP]": 102, "[UNK]": 100,
    "br": 5, "##ca": 6, "##1": 7, "is": 8, "mut": 9, "##ated": 10,
    "x": 11,
}


def test_frame_features_golden():
    from bern_spark.functions.pytext import frame_features

    f = frame_features(
        ["brca1", "is", "mutated"], ["B", "O", "O"], W6_VOCAB, max_seq_length=12
    )
    # WordPiece: brca1 -> br ##ca ##1 (labels B X X), is -> is (O),
    # mutated -> mut ##ated (O X); then [CLS]/[SEP] wrap + pad to 12
    assert f["ntokens"] == [
        "[CLS]", "br", "##ca", "##1", "is", "mut", "##ated", "[SEP]",
        "**NULL**", "**NULL**", "**NULL**", "**NULL**",
    ]
    # label ids are 1-based over [B, I, O, X, [CLS], [SEP]] (run_ner.py:225)
    assert f["label_ids"] == [5, 1, 4, 4, 3, 3, 4, 6, 0, 0, 0, 0]
    assert f["input_ids"] == [101, 5, 6, 7, 8, 9, 10, 102, 0, 0, 0, 0]
    assert f["input_mask"] == [1] * 8 + [0] * 4
    assert f["segment_ids"] == [0] * 12
    assert all(len(f[k]) == 12 for k in f)


def test_frame_features_truncates_to_max_seq():
    from bern_spark.functions.pytext import frame_features

    words = ["x"] * 300
    f = frame_features(words, ["O"] * 300, W6_VOCAB, max_seq_length=256)
    assert len(f["input_ids"]) == 256
    assert f["ntokens"][0] == "[CLS]" and f["ntokens"][255] == "[SEP]"
    assert f["input_mask"] == [1] * 256  # 254 tokens + CLS + SEP, no pad
    assert f["label_ids"][0] == 5 and f["label_ids"][255] == 6


def test_frame_features_unk_token():
    from bern_spark.functions.pytext import frame_features

    f = frame_features(["zzz"], ["B"], W6_VOCAB, max_seq_length=8)
    assert f["ntokens"][1] == "[UNK]" and f["input_ids"][1] == 100
    assert f["label_ids"][1] == 1  # the word's own label survives UNK


# ---------------------------------------------------------------------------
# Real PNG decode (multimodal.py — the stub made real for one format)
# ---------------------------------------------------------------------------


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def make_png(width: int, height: int, rgba=(10, 20, 30, 255)) -> bytes:
    """A real, spec-valid RGBA8 PNG built with stdlib only."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 6, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(rgba) * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def test_decode_png_header():
    from bern_spark.operators.multimodal import _decode_png

    meta = _decode_png(make_png(7, 3))
    assert meta == {"width": 7, "height": 3, "bit_depth": 8, "color_type": 6}


def test_decode_png_rejects_corrupt_crc():
    from bern_spark.operators.multimodal import _decode_png

    data = bytearray(make_png(2, 2))
    data[20] ^= 0xFF  # flip a width byte: CRC must catch it
    with pytest.raises(ValueError, match="CRC"):
        _decode_png(bytes(data))


def test_extract_features_real_png(spark):
    from bern_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    png = make_png(4, 2)
    media = spark.createDataFrame(
        [("p1", "image", png, ("image/png", None, None, None))], MEDIA_SCHEMA
    )
    row = extract_features(media, fake=False).collect()[0]
    assert (row.width, row.height) == (4, 2)
    assert row.n_bytes == len(png)
    assert len(row.feature) == 16
    assert abs(sum(row.feature) - 1.0) < 1e-6  # mass-normalized histogram
    # determinism of the real feature
    row2 = extract_features(media, fake=False).collect()[0]
    assert row2.feature == row.feature


def test_extract_features_real_truncated_video_raises(spark):
    # JPEG/WAV decode landed in round 4, MP4 in round 5 (test_round5.py
    # has the happy path); a truncated MP4 (ftyp box claims 24 bytes, 16
    # present) must fail loudly through the Arrow path, not yield nulls
    from bern_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    media = spark.createDataFrame(
        [("v1", "video", b"\x00\x00\x00\x18ftypmp42", ("video/mp4", None, None, 1000))],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception) as ei:
        extract_features(media, fake=False).collect()
    assert "claims" in str(ei.value)


# ---------------------------------------------------------------------------
# Scoring-kernel cross-engine parity (the er_score_pairs oracle, unit form)
# ---------------------------------------------------------------------------

PARITY_WORDS = [
    "aspirin", "asprin", "acetylsalicylic acid", "BRCA1", "brca-1", "p53",
    "tp53 gene", "diabetes mellitus", "diabetes", "c.1847G>T", "c.1847G>A",
    "a", "ab", "ba", "martha", "marhta", "dixon", "dicksonx", "duane",
    "dwayne", "jellyfish", "smellyfish", "alpha-2-macroglobulin",
    "alpha 2 macroglobulin", "x" * 30, "x" * 29 + "y",
]


def test_jw_lev_bit_parity_with_duckdb():
    """pytext.jaro_winkler / levenshtein_sim match DuckDB's native
    functions bit-for-bit on a nonempty cross set — the foundation of the
    er_score_pairs cross-engine oracle (floor'd half-transpositions)."""
    import duckdb

    from bern_spark.functions.pytext import jaro_winkler, levenshtein_sim

    con = duckdb.connect()
    for a in PARITY_WORDS:
        for b in PARITY_WORDS:
            jw_d, lev_d = con.execute(
                "select jaro_winkler_similarity(?, ?), levenshtein(?, ?)",
                [a, b, a, b],
            ).fetchone()
            assert abs(jw_d - jaro_winkler(a, b)) < 1e-12, (a, b)
            lev_norm = 1.0 - lev_d / max(len(a), len(b))
            assert abs(lev_norm - levenshtein_sim(a, b)) < 1e-12, (a, b)
    con.close()


def test_jaro_winkler_literature_goldens():
    from bern_spark.functions.pytext import jaro_winkler

    # Winkler (1990) canonical examples
    assert abs(jaro_winkler("martha", "marhta") - 0.9611111111111111) < 1e-12
    assert abs(jaro_winkler("dixon", "dicksonx") - 0.8133333333333332) < 1e-12
    assert abs(jaro_winkler("duane", "dwayne") - 0.84) < 1e-12


# ---------------------------------------------------------------------------
# W7 detokenize + S9 TFRecord sink
# ---------------------------------------------------------------------------


def test_detokenize_inverts_framing():
    from bern_spark.functions.pytext import detokenize, frame_features

    f = frame_features(
        ["brca1", "is", "mutated"], ["B", "O", "O"], W6_VOCAB, max_seq_length=12
    )
    n = sum(f["input_mask"])  # strip padding like a real consumer
    toks = f["ntokens"][:n]
    labels = ["[CLS]", "B", "X", "X", "O", "O", "X", "[SEP]"]
    logits = [0.0, 0.9, 0.1, 0.1, 0.8, 0.7, 0.2, 0.0]
    words, wlabels, wlogits = detokenize(toks, labels, logits)
    assert words == [["brca1", "is", "mutated"]]
    assert wlabels == [["B", "O", "O"]]  # X continuations dropped
    assert wlogits == [[0.9, 0.8, 0.7]]  # first piece represents the word


def test_detokenize_multi_sentence():
    from bern_spark.functions.pytext import detokenize

    toks = ["[CLS]", "a", "[SEP]", "[CLS]", "b", "##c", "[SEP]"]
    labels = ["[CLS]", "B", "[SEP]", "[CLS]", "O", "X", "[SEP]"]
    words, wlabels, _ = detokenize(toks, labels, [0.0] * 7)
    assert words == [["a"], ["bc"]]
    assert wlabels == [["B"], ["O"]]


def test_crc32c_known_vectors():
    from bern_spark.sources.tfrecord import crc32c

    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283  # canonical CRC-32C check value


def test_tfrecord_file_roundtrip(tmp_path):
    from bern_spark.sources.tfrecord import (
        decode_example,
        encode_example,
        read_tfrecord_file,
        write_record,
    )

    exs = [
        {"input_ids": [101, 5, 300, 102], "input_mask": [1, 1, 1, 1],
         "segment_ids": [0, 0, 0, 0], "label_ids": [5, 1, 3, 6]},
        {"input_ids": [101, 128, 16384, 102], "input_mask": [1, 1, 1, 0],
         "segment_ids": [0, 0, 0, 0], "label_ids": [5, 2, 3, 6]},
    ]
    p = str(tmp_path / "t.tfrecord")
    with open(p, "wb") as fh:
        for ex in exs:
            write_record(fh, encode_example(ex))
    back = [decode_example(r) for r in read_tfrecord_file(p)]
    assert back == exs  # multi-byte varints (300, 16384) survive

    # corruption must fail the CRC, not decode garbage
    data = bytearray(open(p, "rb").read())
    data[20] ^= 0xFF
    p2 = str(tmp_path / "bad.tfrecord")
    open(p2, "wb").write(bytes(data))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CRC"):
        read_tfrecord_file(p2)


def test_tfrecord_mixed_feature_kinds(tmp_path):
    from bern_spark.sources.tfrecord import decode_example, encode_example

    ex = {"ids": [1, 2, 3], "scores": [0.5, 1.5], "doc": [b"hello"]}
    back = decode_example(encode_example(ex))
    assert back["ids"] == [1, 2, 3]
    assert back["doc"] == [b"hello"]
    assert [round(x, 4) for x in back["scores"]] == [0.5, 1.5]


def test_write_examples_spark_sink(spark, tmp_path):
    """S9 end-to-end: frame W6 features in Spark, sink to TFRecord shards
    via mapInPandas, read every shard back with CRC validation and check
    record-level equality (the reference's filed_based_convert_examples_
    to_features run_ner.py:662-698, minus the TF dependency)."""
    import glob

    from pyspark.sql import functions as F

    from bern_spark.functions.pytext import frame_features
    from bern_spark.sources.tfrecord import (
        decode_example,
        read_tfrecord_file,
        write_examples,
    )

    vocab = {"[CLS]": 101, "[SEP]": 102, "[UNK]": 100, "a": 1, "b": 2}
    rows = []
    for i, (words, labs) in enumerate(
        [(["a", "b"], ["B", "O"]), (["b"], ["B"]), (["a", "a", "b"], ["O", "O", "B"])]
    ):
        f = frame_features(words, labs, vocab, max_seq_length=8)
        rows.append((i, f["input_ids"], f["input_mask"], f["segment_ids"], f["label_ids"]))
    df = spark.createDataFrame(
        rows, "ex_id int, input_ids array<int>, input_mask array<int>, "
        "segment_ids array<int>, label_ids array<int>"
    ).repartition(2)
    out = str(tmp_path / "shards")
    manifest = write_examples(df, out).collect()
    assert sum(m.n_records for m in manifest) == 3
    got = []
    for shard in sorted(glob.glob(f"{out}/part-*.tfrecord")):
        got += [decode_example(r) for r in read_tfrecord_file(shard)]
    want = {tuple(r[1]) for r in rows}
    assert {tuple(g["input_ids"]) for g in got} == want
    assert all(len(g["label_ids"]) == 8 for g in got)


def test_tfrecord_numpy_scalars_classify_correctly():
    """Arrow batches hand numpy scalars to the sink; np.float32 must
    encode as FloatList (not varint-truncated) and np.int32 as Int64List."""
    import numpy as np

    from bern_spark.sources.tfrecord import decode_example, encode_example

    ex = {
        "f": list(np.array([0.25, 1.75], dtype=np.float32)),
        "i": list(np.array([7, 300], dtype=np.int32)),
    }
    back = decode_example(encode_example(ex))
    assert back["f"] == [0.25, 1.75]
    assert back["i"] == [7, 300]


def test_varint_negative_int64_is_ten_byte_twos_complement():
    """Negative int64 features must encode as protobuf two's complement
    (10-byte varint), not hang the shift loop (review finding)."""
    from bern_spark.sources.tfrecord import decode_example, encode_example

    back = decode_example(encode_example({"lbl": [-1, -100, 5]}))
    # decoder yields unsigned; map back to signed int64 for comparison
    signed = [v - (1 << 64) if v >= 1 << 63 else v for v in back["lbl"]]
    assert signed == [-1, -100, 5]


def test_frame_features_skips_empty_words():
    """A word yielding zero WordPiece pieces (empty string) contributes
    no label (reference run_ner.py:796-801); arrays stay aligned and
    fixed-length (review finding: labels were one longer than tokens)."""
    from bern_spark.functions.pytext import frame_features

    f = frame_features(["a", "", "b"], ["B", "O", "O"], {
        "[CLS]": 1, "[SEP]": 2, "[UNK]": 3, "a": 4, "b": 5,
    }, max_seq_length=8)
    assert all(len(f[k]) == 8 for k in f)
    # tokens: [CLS] a b [SEP]; labels: [CLS] B O [SEP] — 'b' keeps ITS label
    assert f["ntokens"][:4] == ["[CLS]", "a", "b", "[SEP]"]
    assert f["label_ids"][:4] == [5, 1, 3, 6]


def test_write_examples_refuses_nonempty_dir(spark, tmp_path):
    from bern_spark.sources.tfrecord import write_examples

    out = tmp_path / "shards"
    out.mkdir()
    (out / "part-00099.tfrecord").write_bytes(b"stale")
    df = spark.createDataFrame(
        [([1], [1], [0], [3])],
        "input_ids array<int>, input_mask array<int>, "
        "segment_ids array<int>, label_ids array<int>",
    )
    with pytest.raises(ValueError, match="not empty"):
        write_examples(df, str(out))
