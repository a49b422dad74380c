"""Round-5 tests, one section per VERDICT r4 / ADVICE r4 item: bench
artifact shape guard (items 1/2/9), MP4 decode (6), composed TFRecord
export job (5), driver-contract queries for its building blocks,
catalog-table fingerprints (4), the minhash plan-construction
determinism regression the bucketed extract exposed, remote-fetch exactly-once
hardening and politeness knobs (8 + ADVICE), and WAV truncation
(ADVICE)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.test_round4 import _DOC, make_wav


# ---------------------------------------------------------------------------
# Bench artifact shape (VERDICT r4 item 1/9): the official stdout line
# must stay machine-readable — round 4's line outgrew the driver's tail
# capture and BENCH_r04.json landed with "parsed": null.
# ---------------------------------------------------------------------------


def test_bench_official_line_parses_and_is_compact(tmp_path):
    """Run the REAL bench.py main() (subprocess, fresh interpreter) on a
    two-query subset at sf0.001 and assert the contract the driver
    depends on: last stdout line is valid JSON under 4096 bytes, and the
    full stats (samples, calibration, normalized medians) live in the
    side file it points to."""
    stats_path = str(tmp_path / "stats.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_QUERIES="dedup_exact,text_quality",
        SPARK_GRAFT_BENCH_WARMUP="0",
        SPARK_GRAFT_BENCH_REPEATS="1",
        SPARK_GRAFT_BENCH_STREAMING="0",
        SPARK_GRAFT_BENCH_STATS=stats_path,
    )
    proc = subprocess.run(
        [sys.executable, "/root/repo/bench.py"],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    assert len(line) < 4096, f"official line {len(line)}B — driver capture risk"
    result = json.loads(line)
    assert result["metric"] == "headline_query_wall_sec"
    assert set(result["queries"]) == {"dedup_exact", "text_quality"}
    assert result["value"] == round(sum(result["queries"].values()), 3)
    # no bulky keys on the official line — they live in the side file
    assert "queries_stats" not in result
    assert result["stats_file"] == stats_path
    with open(stats_path) as f:
        stats = json.load(f)
    assert stats["queries"] == result["queries"]
    for q in result["queries"]:
        s = stats["queries_stats"][q]
        assert s["median"] == result["queries"][q]
        assert {"mean", "min", "max", "std", "n", "samples"} <= set(s)
    # calibration-normalized medians (VERDICT r4 item 2): wall divided by
    # the fixed-work spark probe, the cross-round comparable series
    cal = stats["calibration"]["spark_xxhash_200m_sec"]
    assert cal > 0
    for q, v in result["queries"].items():
        assert stats["queries_normalized"][q] == pytest.approx(v / cal, abs=0.002)


# ---------------------------------------------------------------------------
# WAV truncated data chunk (ADVICE r4): header-claimed size beyond the
# payload must raise, not overstate duration_ms.
# ---------------------------------------------------------------------------


def test_decode_wav_truncated_data_chunk_raises():
    from bern_spark.operators.multimodal import _decode_wav

    full = make_wav(16000)  # 1 s at 8 kHz mono 16-bit
    assert _decode_wav(full)["duration_ms"] == 1000
    truncated = full[:-8000]  # payload cut; header still claims 16000
    with pytest.raises(ValueError, match="truncated data chunk"):
        _decode_wav(truncated)


def test_decode_wav_data_chunk_not_last_still_requires_full_payload():
    """Truncation detection must not depend on the data chunk being the
    final chunk."""
    import struct

    from bern_spark.operators.multimodal import _decode_wav

    full = make_wav(8000)
    trailer = b"LIST" + struct.pack("<I", 4) + b"INFO"
    ok = full[:4] + struct.pack("<I", len(full) + len(trailer) - 8) + full[8:] + trailer
    assert _decode_wav(ok)["duration_ms"] == 500
    # claim more data bytes than remain in the ENTIRE buffer (trailer
    # included): must raise even though data is not the final chunk
    bad = bytearray(ok)
    data_off = ok.index(b"data")
    bad[data_off + 4 : data_off + 8] = struct.pack("<I", 8000 + len(trailer) + 1)
    with pytest.raises(ValueError, match="truncated data chunk"):
        _decode_wav(bytes(bad))


# ---------------------------------------------------------------------------
# MP4 decode kernel (VERDICT r4 item 6): the last NotImplementedError is
# gone — ISO-BMFF ftyp/moov/mvhd/tkhd box walk, pure struct.
# ---------------------------------------------------------------------------


def _box(btype: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + btype + payload


def make_mp4(
    width: int,
    height: int,
    duration_ms: int,
    timescale: int = 1000,
    version: int = 0,
    audio_track_first: bool = False,
) -> bytes:
    """Minimal spec-shaped MP4: ftyp + moov(mvhd, [audio trak,] video
    trak). Dimensions are 16.16 fixed point in tkhd; duration is mvhd
    ticks at ``timescale``."""
    import struct

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    dur = duration_ms * timescale // 1000
    if version == 1:
        mvhd_p = struct.pack(">B3x", 1) + struct.pack(">QQIQ", 0, 0, timescale, dur)
    else:
        mvhd_p = struct.pack(">B3x", 0) + struct.pack(">IIII", 0, 0, timescale, dur)
    mvhd_p += struct.pack(">i", 0x00010000) + struct.pack(">h", 0x0100) + b"\x00" * 10
    mvhd_p += struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd_p += b"\x00" * 24 + struct.pack(">I", 3)

    def tkhd(w: int, h: int) -> bytes:
        if version == 1:
            p = struct.pack(">B3x", 1) + struct.pack(">QQII", 0, 0, 1, 0)
            p += struct.pack(">Q", dur)
        else:
            p = struct.pack(">B3x", 0) + struct.pack(">IIII", 0, 0, 1, 0)
            p += struct.pack(">I", dur)
        p += b"\x00" * 8 + struct.pack(">hhh", 0, 0, 0x0100) + b"\x00" * 2
        p += struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        p += struct.pack(">II", w << 16, h << 16)
        return _box(b"trak", _box(b"tkhd", p))

    traks = tkhd(width, height)
    if audio_track_first:
        traks = tkhd(0, 0) + traks
    return ftyp + _box(b"moov", _box(b"mvhd", mvhd_p) + traks)


@pytest.mark.parametrize("version", [0, 1])
def test_decode_mp4_dimensions_and_duration(version):
    from bern_spark.operators.multimodal import _decode_mp4

    meta = _decode_mp4(make_mp4(1920, 1080, 2500, version=version))
    assert meta == {"width": 1920, "height": 1080, "duration_ms": 2500}


def test_decode_mp4_skips_zero_dim_audio_track():
    from bern_spark.operators.multimodal import _decode_mp4

    meta = _decode_mp4(make_mp4(640, 360, 900, audio_track_first=True))
    assert (meta["width"], meta["height"]) == (640, 360)


def test_decode_mp4_rejects_truncation_and_non_mp4():
    from bern_spark.operators.multimodal import _decode_mp4

    full = make_mp4(320, 240, 1000)
    with pytest.raises(ValueError, match="claims"):
        _decode_mp4(full[:-10])  # moov box claims past the buffer
    with pytest.raises(ValueError, match="ftyp"):
        _decode_mp4(b"\x00" * 32)
    with pytest.raises(ValueError, match="timescale"):
        _decode_mp4(make_mp4(320, 240, 1000, timescale=1000).replace(
            __import__("struct").pack(">II", 1000, 1000),
            __import__("struct").pack(">II", 0, 1000), 1,
        ))


def test_extract_features_real_decodes_video(spark):
    """fake=False over an MP4 payload populates width/height/duration_ms
    through the Arrow mapInPandas path — no kind raises anymore."""
    from bern_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    rows = [("v1", "video", bytearray(make_mp4(854, 480, 3000)), ("video/mp4", None, None, None))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_features(media, fake=False).collect()[0]
    assert (out["width"], out["height"], out["duration_ms"]) == (854, 480, 3000)
    assert out["n_bytes"] == len(make_mp4(854, 480, 3000))


# ---------------------------------------------------------------------------
# Remote fetch: cache handle + exactly-once lineage truncation (ADVICE r4)
# ---------------------------------------------------------------------------


def test_fetch_return_raw_gives_release_handle(spark, tmp_path):
    """cache=True + return_raw=True: GETs run once at call time (lineage
    truncated), and the caller gets the raw relation to release the
    response bodies."""
    from bern_spark.sources.remote import fetch_pubtator

    marker = str(tmp_path / "gets")

    def counting(url, _m=marker):
        with open(_m, "a") as f:
            f.write("x")
        return _DOC

    pmids = spark.createDataFrame([("1001",)], ["pmid"]).coalesce(1)
    docs, errors, raw = fetch_pubtator(
        pmids, transport=counting, cache=True, return_raw=True
    )
    # eager checkpoint: the GET already happened, before any caller action
    with open(marker) as f:
        assert len(f.read()) == 1
    assert docs.count() == 1 and errors.count() == 0
    raw.unpersist()
    # post-release reads still never re-issue GETs in this JVM run
    assert docs.count() == 1
    with open(marker) as f:
        assert len(f.read()) == 1


def test_crawl_rounds_truncate_http_lineage(spark, tmp_path):
    """Each crawl round checkpoints the RAW relation itself: re-acting on
    the returned docs/errors (or anything derived) can never re-issue a
    GET — the fetch lineage no longer exists (ADVICE r4 eviction hole)."""
    from bern_spark.sources.remote import crawl_pubtator

    marker = str(tmp_path / "gets")

    def counting(url, _m=marker):
        with open(_m, "a") as f:
            f.write("x")
        return _DOC

    pmids = spark.createDataFrame([("1001",)], ["pmid"]).coalesce(1)
    docs, errors = crawl_pubtator(pmids, transport=counting, rounds=3)
    for _ in range(3):  # repeated actions: count, collect, count
        assert docs.count() == 1
    assert errors.isEmpty()
    with open(marker) as f:
        assert len(f.read()) == 1  # exactly one GET ever


# ---------------------------------------------------------------------------
# Composed training-data export job (VERDICT r4 item 5): W1-W3 → W4 →
# W5/W6 → S9 in one program, mirroring the reference's offline batch
# path (run_ner.py:864-885 + 663-700).
# ---------------------------------------------------------------------------


def _export_turns(spark):
    rows = [
        ("c1", 0, "user", "BRCA1 is mutated. Aspirin helps sometimes.", None, None),
        ("c1", 1, "agent", "The flu spreads fast here.", None, None),
        ("c2", 0, "user", "Aspirin and BRCA1 again today.", None, None),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def test_export_tfrecords_job_end_to_end(spark, tmp_path):
    """The composed job writes CRC-valid shards whose decoded Examples
    match the frame_turns golden output row-for-row."""
    from bern_spark.jobs.export_tfrecords import (
        build_vocab,
        export_tfrecords,
        frame_turns,
    )
    from bern_spark.sources.tfrecord import decode_example, read_tfrecord_file

    turns = _export_turns(spark)
    vocab = build_vocab(turns)
    assert vocab["[PAD]"] == 0 and "[UNK]" in vocab and "[CLS]" in vocab

    out_dir = str(tmp_path / "shards")
    manifest = export_tfrecords(
        turns, vocab, out_dir, max_seq_length=32, shards=2
    ).collect()
    assert len(manifest) == 2
    framed = frame_turns(turns, vocab, max_seq_length=32).collect()
    assert sum(m["n_records"] for m in manifest) == len(framed)

    # read every shard back: CRC validation is inherent to the reader
    decoded = []
    for m in manifest:
        decoded.extend(decode_example(r) for r in read_tfrecord_file(m["shard"]))
    want = sorted(
        (tuple(r["input_ids"]), tuple(r["input_mask"]), tuple(r["segment_ids"]), tuple(r["label_ids"]))
        for r in framed
    )
    got = sorted(
        (tuple(d["input_ids"]), tuple(d["input_mask"]), tuple(d["segment_ids"]), tuple(d["label_ids"]))
        for d in decoded
    )
    assert got == want
    # framing invariants: every example is padded to max_seq_length and
    # starts with [CLS]
    for d in decoded:
        assert len(d["input_ids"]) == 32
        assert d["input_ids"][0] == vocab["[CLS]"]


def test_frame_turns_bio_labels_from_mentions(spark):
    """Mention char spans label window tokens B/I by overlap; tokens
    outside spans stay O. Offsets are turn-absolute through the
    sentence → window chain."""
    from bern_spark.functions.pytext import NER_LABELS
    from bern_spark.jobs.export_tfrecords import build_vocab, frame_turns

    label_of = {i: l for i, l in enumerate(NER_LABELS, 1)}
    turns = _export_turns(spark)
    # "BRCA1 is mutated." — span over "BRCA1" (0..5); second sentence
    # "Aspirin helps sometimes." — span over "Aspirin" (18..25)
    mentions = spark.createDataFrame(
        [("c1", 0, 0, 5), ("c1", 0, 18, 25)],
        "conv_id string, turn_idx int, start int, end int",
    )
    vocab = build_vocab(turns)
    framed = {
        (r["conv_id"], r["turn_idx"], r["sent_idx"], r["win_idx"]): r
        for r in frame_turns(turns, vocab, mentions=mentions, max_seq_length=32).collect()
    }
    s0 = framed[("c1", 0, 0, 0)]
    # mask off padding, decode label ids back to tag names
    n = sum(s0["input_mask"])
    tags = [label_of[i] for i in s0["label_ids"][:n]]
    toks = s0["ntokens"][:n]
    assert tags[0] == "[CLS]" and tags[-1] == "[SEP]"
    by_tok = list(zip(toks, tags))
    assert ("brca1", "B") in by_tok or ("BRCA1", "B") in by_tok
    # non-mention words in the same sentence are O
    assert any(t == "is" and g == "O" for t, g in by_tok)
    s1 = framed[("c1", 0, 1, 0)]
    n1 = sum(s1["input_mask"])
    tags1 = [label_of[i] for i in s1["label_ids"][:n1]]
    assert "B" in tags1  # Aspirin span re-anchored into sentence 2
    # unlabeled turn: all O between [CLS]/[SEP]
    s2 = framed[("c1", 1, 0, 0)]
    n2 = sum(s2["input_mask"])
    assert set(label_of[i] for i in s2["label_ids"][1 : n2 - 1]) == {"O"}


def test_bio_labels_multi_token_span():
    from bern_spark.jobs.export_tfrecords import bio_labels

    # "acute lymphoblastic leukemia" as one span over three tokens
    toks = [("acute", 0, 5), ("lymphoblastic", 6, 19), ("leukemia", 20, 28), ("is", 29, 31)]
    assert bio_labels(toks, 0, [(0, 28)]) == ["B", "I", "I", "O"]
    # window base shifts token offsets into span coordinates
    assert bio_labels([("leukemia", 0, 8)], 20, [(0, 28)]) == ["B"]
    assert bio_labels(toks, 0, []) == ["O", "O", "O", "O"]


def test_export_job_spark_submit(spark, tmp_path):
    """The export job runs via spark-submit --py-files (the north-rule
    submission contract, same as jobs/resolve.py), reading a vocab.txt in
    the public BERT one-token-per-line format and leaving decodable
    shards plus a shard\\tcount manifest on stdout."""
    import shutil
    import subprocess

    from bern_spark.jobs.export_tfrecords import build_vocab, load_vocab
    from bern_spark.sources.tfrecord import read_tfrecord_file
    from tests.test_spark_submit_job import REPO, _zip_package

    turns = _export_turns(spark)
    base = str(tmp_path)
    turns.write.parquet(f"{base}/turns")
    vocab = build_vocab(turns)
    vocab_path = f"{base}/vocab.txt"
    with open(vocab_path, "w") as f:
        for tok in sorted(vocab, key=vocab.get):
            f.write(tok + "\n")
    assert load_vocab(vocab_path) == vocab

    zpath = _zip_package(base)
    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY package source
    r = subprocess.run(
        [
            spark_submit, "--master", "local[4]", "--py-files", zpath,
            os.path.join(REPO, "bern_spark", "jobs", "export_tfrecords.py"),
            "--input", f"{base}/turns", "--vocab", vocab_path,
            "--out", f"{base}/out", "--max-seq-length", "32",
            "--shards", "1", "--shuffle-partitions", "8",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    import glob

    shards = glob.glob(f"{base}/out/part-*.tfrecord")
    assert len(shards) == 1
    n = len(read_tfrecord_file(shards[0]))
    assert n > 0
    assert f"{shards[0]}\t{n}" in r.stdout


# ---------------------------------------------------------------------------
# New driver-contract queries: word_windows (oracled) + ner_framing
# (rows-only, determinism pinned)
# ---------------------------------------------------------------------------


def test_word_windows_query_matches_oracle(spark):
    from bern_spark.oracle_check import run_all

    res = run_all(spark, "/root/testdata/sf0.001", names=["word_windows"])
    assert res[0]["ok"], res[0]
    assert res[0]["rows"] > 0


def test_ner_framing_query_deterministic(spark):
    from bern_spark.entry_queries import QUERIES

    a = QUERIES["ner_framing"](spark, "/root/testdata/sf0.001").collect()
    b = QUERIES["ner_framing"](spark, "/root/testdata/sf0.001").collect()
    assert len(a) == len(b) > 0
    assert {tuple(r) for r in a} == {tuple(r) for r in b}
    assert all(r["n_real_tokens"] >= 3 for r in a)  # [CLS] + >=1 + [SEP]


# ---------------------------------------------------------------------------
# Catalog-table fingerprint path (VERDICT r4 item 4): O(1) identity for
# table inputs, invalidating on table change, no inputFiles() listing.
# ---------------------------------------------------------------------------


def test_input_token_catalog_table_o1_and_invalidation(spark, tmp_path):
    from bern_spark.pipeline import _input_token

    loc = str(tmp_path / "ttbl")
    spark.sql("DROP TABLE IF EXISTS r5_ttbl")
    spark.sql(
        f"CREATE TABLE r5_ttbl (id BIGINT, v STRING) USING parquet LOCATION '{loc}'"
    )
    spark.sql("INSERT INTO r5_ttbl VALUES (1, 'a'), (2, 'b')")
    try:
        df = spark.table("r5_ttbl")
        t1 = _input_token(df)
        assert t1.startswith("cat:table:")
        # O(1): the token must come from catalog metadata + one dir stat,
        # never the O(files) listing
        df2 = spark.table("r5_ttbl")
        df2.inputFiles = lambda: (_ for _ in ()).throw(AssertionError("listed files"))
        t1b = _input_token(df2)
        assert t1b == t1  # stable while the table is unchanged
        # table change -> invalidation
        spark.sql("INSERT INTO r5_ttbl VALUES (3, 'c')")
        t2 = _input_token(spark.table("r5_ttbl"))
        assert t2 != t1
        # a different PLAN over the same table also invalidates (the
        # combined plan hash, same contract as the file-walk path)
        t3 = _input_token(spark.table("r5_ttbl").where("id > 1"))
        assert t3 != t2
    finally:
        spark.sql("DROP TABLE IF EXISTS r5_ttbl")


def test_input_token_partitioned_table_falls_back_to_files(spark, tmp_path):
    """Partitioned V1 tables write into partition subdirs the root stat
    cannot see — the token must NOT claim O(1) identity there; it falls
    back to the exact file walk (wrong-token risk beats listing cost)."""
    from bern_spark.pipeline import _input_token

    loc = str(tmp_path / "ptbl")
    spark.sql("DROP TABLE IF EXISTS r5_ptbl")
    spark.sql(
        "CREATE TABLE r5_ptbl (id BIGINT, part STRING) USING parquet "
        f"PARTITIONED BY (part) LOCATION '{loc}'"
    )
    spark.sql("INSERT INTO r5_ptbl VALUES (1, 'x')")
    try:
        t1 = _input_token(spark.table("r5_ptbl"))
        assert t1.startswith("files:")
        # file-walk identity still invalidates on new data
        spark.sql("INSERT INTO r5_ptbl VALUES (2, 'x')")
        assert _input_token(spark.table("r5_ptbl")) != t1
    finally:
        spark.sql("DROP TABLE IF EXISTS r5_ptbl")


def test_input_token_plain_reads_unchanged(spark, tmp_path):
    """Non-catalog inputs keep the round-4 contract: file-walk token for
    path reads, semanticHash for in-memory relations."""
    from bern_spark.pipeline import _input_token

    p = str(tmp_path / "plain")
    spark.range(10).write.parquet(p)
    assert _input_token(spark.read.parquet(p)).startswith("files:")
    assert _input_token(spark.range(5)).startswith("plan:")


def test_minhash_signature_stable_across_plan_constructions(spark):
    """Regression (round-5 find): ``lambda g, p=p`` in minhash_signature
    was a TWO-parameter lambda, which F.transform treats as
    (element, index) — the permutation seed silently became the repr of
    the index Column, whose auto-generated lambda-variable id changes per
    plan construction. Signatures were stable within a plan but differed
    across plans, breaking run-to-run determinism (and with it resume
    parity and any cross-run LSH comparison)."""
    from bern_spark.operators.blocking import minhash_signature
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("drug", "zobruvvor17ine")], ["etype", "surface"])
    sigs = [
        df.select(minhash_signature(F.col("surface")).alias("s")).collect()[0]["s"]
        for _ in range(3)
    ]
    assert sigs[0] == sigs[1] == sigs[2]
    assert len(set(sigs[0])) > 1  # permutations genuinely differ


# ---------------------------------------------------------------------------
# Crawl politeness knobs (VERDICT r4 item 8)
# ---------------------------------------------------------------------------


def test_crawl_max_inflight_caps_request_streams(spark, tmp_path):
    """max_inflight=1 coalesces the pmid relation to one partition: all
    GETs run serially in a single stream (observable as one mapInPandas
    task), with results identical to the unconstrained crawl."""
    from bern_spark.sources.remote import crawl_pubtator

    marker = str(tmp_path / "tasks")

    def tagging(url, _m=marker):
        import os as _os

        with open(f"{_m}_{_os.getpid()}_{id(tagging)}", "a") as f:
            f.write(url + "\n")
        return _DOC.replace("1001", url.rsplit("=", 1)[1])

    pmids = spark.createDataFrame(
        [(str(p),) for p in range(2001, 2009)], ["pmid"]
    ).repartition(8)
    docs, errors = crawl_pubtator(
        pmids, transport=tagging, batch_size=1, max_inflight=1,
        request_delay_sec=0.0,
    )
    assert errors.isEmpty()
    assert docs.count() == 8
    import glob

    files = glob.glob(f"{marker}_*")
    # one partition -> one Python worker wrote every URL
    assert len(files) == 1
    with open(files[0]) as f:
        assert len(f.read().strip().splitlines()) == 8


def test_request_delay_spaces_chunk_gets(spark):
    """request_delay_sec sleeps between chunk GETs within a partition —
    wall >= (chunks-1) * delay — and not before the first chunk."""
    import time

    from bern_spark.sources.remote import fetch_pubtator_raw

    pmids = spark.createDataFrame(
        [(str(p),) for p in range(3001, 3005)], ["pmid"]
    ).coalesce(1)
    t0 = time.time()
    rows = fetch_pubtator_raw(
        pmids, transport=lambda u: _DOC, batch_size=1, request_delay_sec=0.2
    ).collect()
    wall = time.time() - t0
    assert len(rows) == 4
    assert wall >= 0.6  # 3 inter-chunk sleeps of 0.2s
