"""Unit tests for the pure-SQL operator layer, on literal fixtures that
mirror the reference's deterministic tests (SURVEY.md §5.1, FIXTURES.md §4-6)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_tokens_to_grid_canonical_fixture(spark):
    """The reference's 6-token clustering fixture
    (/root/reference/tests/test_enhanced_table_ocr.py:132-157):
    2 rows x 3 cells, x-sorted within rows."""
    from ocr_text_recognition_spark.operators.sessionize import tokens_to_grid

    toks = spark.createDataFrame(
        [
            ("d", "Subject", 50, 100),
            ("d", "HK1", 200, 102),
            ("d", "HK2", 350, 98),
            ("d", "Math", 52, 150),
            ("d", "8.5", 202, 148),
            ("d", "9.0", 348, 152),
        ],
        "doc_id string, text string, left long, top long",
    )
    out = tokens_to_grid(toks, y_gap=20).orderBy("row_idx", "col_idx").collect()
    grid = [(r["row_idx"], r["col_idx"], r["text"]) for r in out]
    assert grid == [
        (0, 0, "Subject"),
        (0, 1, "HK1"),
        (0, 2, "HK2"),
        (1, 0, "Math"),
        (1, 1, "8.5"),
        (1, 2, "9.0"),
    ]


def test_is_numeric_truth_table(spark):
    """The reference's _is_numeric truth table incl. '8,5' and '85%'
    (/root/reference/tests/test_enhanced_table_ocr.py:221-232)."""
    from ocr_text_recognition_spark.operators.textops import is_numeric, is_numeric_vi

    df = spark.createDataFrame(
        [("8.5",), ("8,5",), ("85%",), ("abc",), ("",), (" 7 ",), ("1,234.5",)],
        "v string",
    )
    rows = df.select(
        "v", is_numeric(F.col("v")).alias("n"), is_numeric_vi(F.col("v")).alias("nvi")
    ).collect()
    got = {r["v"]: (r["n"], r["nvi"]) for r in rows}
    assert got["8.5"] == (True, True)
    assert got["8,5"] == (True, True)  # ',' stripped -> 85; vi: 8.5
    assert got["85%"] == (True, True)
    assert got["abc"] == (False, False)
    assert got[""] == (False, False)
    assert got[" 7 "] == (True, True)
    assert got["1,234.5"] == (True, False)  # vi: '1.234.5' unparsable


def test_grade_cast_vietnamese_decimal(spark):
    from ocr_text_recognition_spark.operators.textops import grade_cast

    df = spark.createDataFrame([("8,5",), ("9.0",), ("abc",)], "v string")
    got = [r[0] for r in df.select(grade_cast(F.col("v"))).collect()]
    assert got == [8.5, 9.0, None]


def test_metadata_extraction(spark):
    from ocr_text_recognition_spark.operators.textops import extract_metadata

    df = spark.createDataFrame(
        [
            ("Name: Alice Tran\nClass: 10A\nYear: 2025-2026",),
            ("nothing relevant here",),
        ],
        "text string",
    )
    rows = df.select(extract_metadata(F.col("text")).alias("m")).collect()
    m0, m1 = rows[0]["m"], rows[1]["m"]
    assert m0["student_name"] == "Alice Tran"
    assert m0["class_name"] == "10A"
    assert m0["year"] == "2025-2026"
    assert m0["school"] is None
    assert all(v is None for v in m1.asDict().values())


def test_header_inference_majority_rule(spark):
    from ocr_text_recognition_spark.operators.tableops import header_score

    cells = spark.createDataFrame(
        [
            # doc 'h': first row 2/3 text -> header
            ("h", 0, 0, "Subject"), ("h", 0, 1, "HK1"), ("h", 0, 2, "Score"),
            # doc 'n': first row 2/3 numeric -> no header
            ("n", 0, 0, "1.5"), ("n", 0, 1, "2,5"), ("n", 0, 2, "x"),
        ],
        "doc_id string, row_idx int, col_idx int, value string",
    )
    got = {r["doc_id"]: r["has_header"] for r in header_score(cells).collect()}
    # 'HK1' strips to 'HK1' -> non-numeric; 'Score' non-numeric; 'Subject' non-numeric
    assert got == {"h": True, "n": False}


def test_pad_rows(spark):
    from ocr_text_recognition_spark.operators.tableops import pad_rows

    rows = spark.createDataFrame(
        [("d", 0, ["a", "b", "c"]), ("d", 1, ["x"])],
        "doc_id string, row_idx int, cells array<string>",
    )
    got = {r["row_idx"]: r["cells"] for r in pad_rows(rows).collect()}
    assert got[0] == ["a", "b", "c"]
    assert got[1] == ["x", "", ""]


def test_exact_dedup(spark):
    from ocr_text_recognition_spark.operators.dedup import exact_dup_groups

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "unique text")],
        "id long, text string",
    )
    (g,) = exact_dup_groups(df, "id", "text").collect()
    assert g["dup_count"] == 2 and g["keep_id"] == 1


def test_minhash_identical_docs_match(spark):
    from ocr_text_recognition_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different content about spark engines here"),
        ],
        "id long, text string",
    )
    sigs = minhash_signatures(df, "id", "text", num_perm=8)
    pairs = lsh_candidate_pairs(sigs, num_perm=8, bands=4).collect()
    assert [(p["id_a"], p["id_b"], p["est_jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_ngram_jaccard_exact(spark):
    from ocr_text_recognition_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z z z z z")],
        "id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, "id", "text", n=3, threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_simhash_similar_docs_close(spark):
    from ocr_text_recognition_spark.operators.dedup import simhash16

    base = "spark engine query plan optimizer shuffle partition stage task executor " * 4
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " one extra token"),
            (3, "cooking recipes with tomato basil olive oil pasta garlic onion " * 4),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["simhash"] for r in simhash16(df, "id", "text").collect()}
    ham12 = bin(got[1] ^ got[2]).count("1")
    ham13 = bin(got[1] ^ got[3]).count("1")
    assert ham12 < ham13


def test_brute_force_topk_finds_self(spark):
    from ocr_text_recognition_spark.operators.similarity import brute_force_topk

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(0, [1.0, 0.05, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    out = brute_force_topk(emb, q, k=2).orderBy("rank").collect()
    assert out[0]["vec_id"] == 0 and out[0]["rank"] == 1
    assert out[1]["vec_id"] == 1


def test_lang_id_and_quality(spark):
    from ocr_text_recognition_spark.operators.textanalysis import lang_id, quality_score

    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it was there for sale that day"),
            (2, "der hund ist nicht mit der katze und von zu hause"),
            (3, "xyzzy plugh"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["lang"] for r in df.select("id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}
    q = {r["id"]: r["q"] for r in df.select("id", quality_score(F.col("text")).alias("q")).collect()}
    assert q[1] == 1.0  # long enough, alpha, word len, stopwords
    assert q[3] < 0.75


def test_image_metadata_multimodal(spark):
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark
    from ocr_text_recognition_spark.kernel import render
    from ocr_text_recognition_spark.kernel.imgcodec import encode_image
    from ocr_text_recognition_spark.operators.multimodal import image_metadata, resize_images
    import pandas as pd

    img = render.render_text_image(["HELLO"])
    media_pd = pd.DataFrame(
        [
            {"media_ref": "ok", "content": encode_image(img)},
            {"media_ref": "bad", "content": b"corrupt"},
        ]
    )
    media = pandas_to_spark(spark, media_pd, "media")
    meta = {r["media_ref"]: r for r in image_metadata(media).collect()}
    assert meta["ok"]["valid"] and meta["ok"]["height"] == img.shape[0]
    assert not meta["bad"]["valid"] and meta["bad"]["height"] is None
    rs = {r["media_ref"]: r["content"] for r in resize_images(media, max_side=16).collect()}
    assert rs["bad"] is None
    from ocr_text_recognition_spark.kernel.imgcodec import decode_image

    small = decode_image(bytes(rs["ok"]))
    assert max(small.shape) <= 32  # block-mean factor rounding keeps it near max_side


def test_audio_metadata_wav_parse(spark):
    """audio_metadata fully decodes PCM WAV (codec-free format): the
    recovered rate/channels/duration/RMS must equal the CONSTRUCTION
    parameters of the synthetic payload (not a round-trip through the
    parser), and corrupt / compressed-format payloads surface as
    valid=false rows."""
    import pandas as pd

    from ocr_text_recognition_spark.avsynth import make_wav_bytes, square_wave_pcm16
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark
    from ocr_text_recognition_spark.operators.multimodal import audio_metadata

    # 8000 samples at 16 kHz mono -> exactly 0.5 s; ±4096 square -> RMS 4096
    wav = make_wav_bytes(square_wave_pcm16(8000, amplitude=4096), sample_rate=16000)
    # stereo: 4000 frames at 8 kHz -> 0.5 s
    import numpy as np

    stereo = np.repeat(square_wave_pcm16(4000, amplitude=100), 2)
    wav2 = make_wav_bytes(stereo, sample_rate=8000, channels=2)
    media_pd = pd.DataFrame(
        [
            {"media_ref": "mono", "content": wav},
            {"media_ref": "stereo", "content": wav2},
            {"media_ref": "bad", "content": b"ID3\x04not-a-wav"},
        ]
    )
    meta = {
        r["media_ref"]: r
        for r in audio_metadata(pandas_to_spark(spark, media_pd, "media")).collect()
    }
    m = meta["mono"]
    assert m["valid"] and m["sample_rate"] == 16000 and m["channels"] == 1
    assert m["bits"] == 16 and m["duration_s"] == 0.5 and m["rms"] == 4096.0
    s = meta["stereo"]
    assert s["valid"] and s["channels"] == 2 and s["duration_s"] == 0.5
    assert s["rms"] == 100.0
    assert not meta["bad"]["valid"] and meta["bad"]["duration_s"] is None


def test_video_metadata_mp4_atom_walk(spark):
    """video_metadata recovers brand/duration/dimensions/track-count from
    the MP4 box structure alone — values pinned to the builder's
    parameters; a 64-bit-size (v1 mvhd) variant and a truncated payload
    exercise the parser's edge paths."""
    import struct

    import pandas as pd

    from ocr_text_recognition_spark.avsynth import _box, make_mp4_bytes
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark
    from ocr_text_recognition_spark.operators.multimodal import parse_mp4, video_metadata

    mp4 = make_mp4_bytes(3000, timescale=600, width=640, height=360, n_tracks=2)
    media_pd = pd.DataFrame(
        [
            {"media_ref": "vid", "content": mp4},
            {"media_ref": "trunc", "content": mp4[:20]},
        ]
    )
    meta = {
        r["media_ref"]: r
        for r in video_metadata(pandas_to_spark(spark, media_pd, "media")).collect()
    }
    v = meta["vid"]
    assert v["valid"] and v["major_brand"] == "isom"
    assert v["duration_s"] == 5.0 and v["width"] == 640 and v["height"] == 360
    assert v["n_tracks"] == 2
    assert not meta["trunc"]["valid"]

    # mvhd VERSION 1 (64-bit duration): hand-built box, parsed directly
    mvhd_v1 = _box(
        b"mvhd",
        struct.pack(">B3xQQIQ", 1, 0, 0, 1000, 2500) + b"\x00" * 80,
    )
    v1 = parse_mp4(_box(b"moov", mvhd_v1))
    assert v1["duration_s"] == 2.5 and v1["n_tracks"] == 0


def test_ivf_topk_matches_brute_force_on_probed_lists(spark):
    """IVF with enough probes to cover every centroid must equal brute
    force exactly; with n_probe=1 results are a subset of brute force."""
    import numpy as np

    from ocr_text_recognition_spark.operators.similarity import (
        brute_force_topk,
        ivf_centroids,
        ivf_topk,
    )

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(8).round(3).tolist()) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = emb.filter("vec_id >= 2")
    queries = emb.filter("vec_id < 2").selectExpr("vec_id as query_id", "embedding")
    cents = ivf_centroids(emb, mod=10)  # 4 centroids: 0,10,20,30

    exact = {
        (r.query_id, r.rank): r.vec_id
        for r in brute_force_topk(corpus, queries, k=3).collect()
    }
    full = {
        (r.query_id, r.rank): r.vec_id
        for r in ivf_topk(corpus, queries, cents, k=3, n_probe=len(cents)).collect()
    }
    assert full == exact  # probing all lists == brute force

    approx = ivf_topk(corpus, queries, cents, k=3, n_probe=1).collect()
    assert len(approx) > 0
    exact_ids = set(exact.values())
    # n_probe=1 results come from real corpus vectors with valid ranks
    for r in approx:
        assert r.rank in (1, 2, 3)
        assert r.vec_id >= 2
    # and at least one of each query's approximate hits is a true top-3 hit
    hits = {r.query_id for r in approx if r.vec_id in exact_ids}
    assert len(hits) >= 1


def test_classify_columns_keyword_and_fallback(spark):
    """Mirror of enhanced_table_ocr_service.py:560-571: last subject
    candidate wins, keyword grades, and the whole-doc positional fallback
    (which overrides keyword-matched grade cols when no subject matched)."""
    from ocr_text_recognition_spark.operators.tableops import classify_columns

    headers = spark.createDataFrame(
        [
            # doc a: subject + two grade keywords
            ("a", 0, "Môn học"), ("a", 1, "HK1"), ("a", 2, "HK2"),
            # doc b: two subject candidates -> last wins, first -> other
            ("b", 0, "Tên môn"), ("b", 1, "Subject"), ("b", 2, "Điểm"),
            # doc c: no keywords -> positional
            ("c", 0, "Name"), ("c", 1, "Score"), ("c", 2, "Notes"),
            # doc d: grade keyword in col 0 but no subject kw -> positional
            ("d", 0, "điểm"), ("d", 1, "Semester"), ("d", 2, "Other stuff"),
        ],
        ["doc_id", "col_idx", "header"],
    )
    roles = {
        (r["doc_id"], r["col_idx"]): r["role"]
        for r in classify_columns(headers).collect()
    }
    assert roles[("a", 0)] == "subject" and roles[("a", 1)] == roles[("a", 2)] == "grade"
    assert roles[("b", 0)] == "other" and roles[("b", 1)] == "subject" and roles[("b", 2)] == "grade"
    assert roles[("c", 0)] == "subject" and roles[("c", 1)] == roles[("c", 2)] == "grade"
    # fallback overrides the grade keyword in col 0 (reference sets
    # subject_col = columns[0], grade_cols = columns[1:])
    assert roles[("d", 0)] == "subject" and roles[("d", 1)] == roles[("d", 2)] == "grade"


def test_grades_rows_keyword_headers(spark):
    from ocr_text_recognition_spark.operators.tableops import grades_rows

    # header row 0: subject in col 1 (keyword), grade in col 0 and 2
    cells = spark.createDataFrame(
        [
            ("t", 0, 0, "HK1"), ("t", 0, 1, "Môn"), ("t", 0, 2, "HK2"),
            ("t", 1, 0, "8,5"), ("t", 1, 1, "Math"), ("t", 1, 2, "9.0"),
        ],
        ["doc_id", "row_idx", "col_idx", "value"],
    )
    rows = grades_rows(cells, keyword_headers=True).collect()
    assert {r["subject"] for r in rows} == {"Math"}
    got = {(r["col_idx"], r["grade_num"]) for r in rows}
    assert got == {(0, 8.5), (2, 9.0)}
    # positional path would have called col 0 the subject instead
    pos = grades_rows(cells).filter(F.col("row_idx") == 1).collect()
    assert {r["subject"] for r in pos} == {"8,5"}


def test_ngram_jaccard_shingle_df_cap(spark):
    """A stop-shingle shared by every doc creates a quadratic hot bucket;
    the document-frequency cap drops it before the self-join, leaving only
    genuinely-near-duplicate pairs (Jaccard over non-ubiquitous shingles)."""
    from ocr_text_recognition_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved copyright example corp terms of service apply now"
    rows = [(i, f"{boiler} unique{i} token{i} word{i}") for i in range(10)]
    rows.append((100, f"{boiler} unique3 token3 word3"))  # near-dup of doc 3
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_shingle_df=5
    )
    # boilerplate dominates: every pair clears 0.5 without the cap
    assert uncapped.count() == 11 * 10 // 2
    got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in capped.collect()}
    assert got == {(3, 100, 1.0)}


def test_lsh_topk_multiprobe_recall(spark):
    """1-bit multi-probe must strictly dominate exact-bucket recall vs the
    brute-force ground truth, and each (query, vec) pair appears once."""
    import numpy as np

    from ocr_text_recognition_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    # clustered corpus: 20 centers x 10 perturbed members, queries near the
    # first 8 centers — true neighbors are close in cosine, so bucket
    # recall is meaningful (i.i.d. gaussian vectors would have no real
    # neighbors and recall would measure noise).
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((20, 64))
    rows, vid = [], 0
    for c in centers:
        for _ in range(10):
            rows.append((vid, np.round(c + 0.25 * rng.standard_normal(64), 4).tolist()))
            vid += 1
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qrows = [
        (10000 + i, np.round(centers[i] + 0.25 * rng.standard_normal(64), 4).tolist())
        for i in range(8)
    ]
    queries = spark.createDataFrame(qrows, ["vec_id", "embedding"]).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    truth = topk_sets(brute_force_topk(corpus, queries, k=5))
    exact = lsh_topk(corpus, queries, dim=64, k=5)
    probe = lsh_topk(corpus, queries, dim=64, k=5, multi_probe=True)
    # no duplicate (query, vec) rows from the probe explosion
    assert probe.count() == probe.select("query_id", "vec_id").distinct().count()

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    r_exact, r_probe = recall(topk_sets(exact)), recall(topk_sets(probe))
    # measured on this fixture: exact-bucket 0.325, multi-probe 0.900
    assert r_probe >= r_exact + 0.3
    assert r_probe >= 0.8, (r_exact, r_probe)


def test_metadata_reference_pattern_table(spark):
    """The reference's verbatim pattern table (table_ocr_service.py:452-479):
    diacritic first alternates, the Học sinh/Khối second alternates, and
    the separator-less [\\s:]* form — expected values spelled out so an
    oracle that is wrong the same way cannot mask a regression."""
    from ocr_text_recognition_spark.fixtures_meta import METADATA_DOCS
    from ocr_text_recognition_spark.operators.textops import extract_metadata

    df = spark.createDataFrame(METADATA_DOCS, "doc_id int, txt string")
    rows = {
        r["doc_id"]: r["m"].asDict()
        for r in df.select("doc_id", extract_metadata(F.col("txt")).alias("m")).collect()
    }
    assert rows[1] == {
        "student_name": "Nguyễn Văn A", "class_name": "10A1",
        "school": "THPT Chu Văn An", "subject": "Toán",
        "semester": "1", "year": "2024-2025",
    }
    # second alternates: Học sinh -> student_name, Khối -> class_name
    assert rows[2] == {
        "student_name": "Trần Thị B", "class_name": "11", "school": None,
        "subject": "Physics", "semester": "2", "year": "2023-2024",
    }
    # bare 'Year:' is NOT a reference pattern; the ASCII fallback catches it
    assert rows[3] == {
        "student_name": "John Smith", "class_name": "12C",
        "school": "Springfield High", "subject": None,
        "semester": None, "year": "2022-2023",
    }
    assert rows[4]["student_name"] == "Lê Văn C"
    assert rows[4]["class_name"] == "9"  # Grade second alternate
    assert rows[4]["subject"] == "Văn"
    # [\s:]* makes the colon optional (reference semantics)
    assert rows[5]["student_name"] == "Pham Van D"
    assert rows[5]["class_name"] == "8"
    assert all(v is None for v in rows[6].values())


def test_assemble_wide_table_reference_semantics(spark):
    """_create_dataframe_from_table_data + _is_header_row end-to-end
    (table_ocr_service.py:284-336): header promotion (majority non-empty
    non-numeric over the PADDED first row), Column_{i} fallback, ''
    padding of holes, and the single-row no-promotion rule."""
    from ocr_text_recognition_spark.operators.tableops import assemble_wide_table

    cells = spark.createDataFrame(
        [
            # doc h: text header row, 2 data rows, a hole at (1,2)
            ("h", 0, 0, "Subject"), ("h", 0, 1, "HK1"), ("h", 0, 2, "HK2"),
            ("h", 1, 0, "Math"), ("h", 1, 1, "8.5"),
            ("h", 2, 0, "Art"), ("h", 2, 1, "7"), ("h", 2, 2, "9"),
            # doc n: numeric first row -> no promotion
            ("n", 0, 0, "1"), ("n", 0, 1, "2"),
            ("n", 1, 0, "3"), ("n", 1, 1, "x"),
            # doc s: single row, text -> still no promotion (>1 row rule)
            ("s", 0, 0, "Alpha"), ("s", 0, 1, "Beta"),
        ],
        "doc_id string, row_idx int, col_idx int, value string",
    )
    out = assemble_wide_table(cells).collect()
    got = {
        (r["doc_id"], r["row_out"], r["col_idx"]): (r["col_name"], r["value"], r["has_header"])
        for r in out
    }
    # doc h: promoted; hole at (1,2) padded to ''
    assert got[("h", 0, 0)] == ("Subject", "Math", True)
    assert got[("h", 0, 2)] == ("HK2", "", True)
    assert got[("h", 1, 1)] == ("HK1", "7", True)
    assert len([k for k in got if k[0] == "h"]) == 6  # 2 data rows x 3 cols
    # doc n: row 0 numeric-majority -> kept as data under Column_{i}
    assert got[("n", 0, 0)] == ("Column_1", "1", False)
    assert got[("n", 1, 1)] == ("Column_2", "x", False)
    # doc s: single text row -> no promotion
    assert got[("s", 0, 1)] == ("Column_2", "Beta", False)
    assert len(got) == 6 + 4 + 2


def test_assemble_wide_table_randomized_vs_reference_python(spark):
    """assemble_wide_table vs a direct Python transliteration of the
    reference's pandas code (_create_dataframe_from_table_data +
    _is_header_row) over 30 seeded random sparse grids — padding, the
    padded-row majority test, promotion, and Column_{i} fallback all
    re-derived independently."""
    import random
    import re

    from ocr_text_recognition_spark.operators.tableops import assemble_wide_table

    def is_num(v):
        s = re.sub(r"[,%]", "", v.strip())
        if not s:
            return False
        try:
            float(s)
            return True
        except ValueError:
            return False

    pool = ["8,5", "12.3", "45%", "abc", "Subject", "x1", "7", "note text", "9.0"]
    rng = random.Random(7)
    cells = []
    for d in range(30):
        n_rows = rng.randint(1, 5)
        n_cols = rng.randint(1, 4)
        for r in range(n_rows):
            for c in range(n_cols):
                if rng.random() < 0.8:  # ~20% holes
                    cells.append((d, r, c, rng.choice(pool)))
    # guarantee every doc has at least one cell
    docs_present = {c[0] for c in cells}
    cells += [(d, 0, 0, "seed") for d in range(30) if d not in docs_present]

    from collections import defaultdict

    grids = defaultdict(dict)
    for d, r, c, v in cells:
        grids[d][(r, c)] = v
    want = set()
    for d, grid in grids.items():
        n_rows = max(r for r, _ in grid) + 1
        max_cols = max(c for _, c in grid) + 1
        padded = [
            [grid.get((r, c), "") for c in range(max_cols)] for r in range(n_rows)
        ]
        text_count = sum(1 for v in padded[0] if v != "" and not is_num(v))
        has_header = n_rows > 1 and text_count * 2 > max_cols
        data = padded[1:] if has_header else padded
        names = (
            padded[0]
            if has_header
            else [f"Column_{i + 1}" for i in range(max_cols)]
        )
        for ri, row in enumerate(data):
            for ci, v in enumerate(row):
                want.add((d, ri, ci, names[ci], v, has_header))

    df = spark.createDataFrame(
        cells, "doc_id int, row_idx int, col_idx int, value string"
    )
    got = {
        (r["doc_id"], r["row_out"], r["col_idx"], r["col_name"], r["value"], r["has_header"])
        for r in assemble_wide_table(df).collect()
    }
    assert got == want


def test_dup_clusters_chain_and_components(spark):
    """Min-label propagation: a 6-node chain (needs multiple rounds to
    converge), a separate triangle, and an isolated pair — every node
    labeled with its component's min id."""
    from ocr_text_recognition_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),    # chain
         (10, 11), (11, 12), (10, 12),              # triangle
         (20, 21)],                                  # pair
        "id_a int, id_b int",
    )
    got = {(r["id"], r["cluster_id"]) for r in dup_clusters(pairs).collect()}
    want = {(i, 1) for i in range(1, 7)} | {(i, 10) for i in (10, 11, 12)} | {
        (20, 20), (21, 20),
    }
    assert got == want


def test_contamination_overlap_counts_shared_shingles(spark):
    """Eval doc 'a b c d' has 3-gram shingles {a b c, b c d}; a train doc
    containing both overlaps with count 2, a disjoint doc is absent."""
    from ocr_text_recognition_spark.operators.curation import contamination_overlap

    ev = spark.createDataFrame([(0, "a b c d")], "doc_id int, text string")
    tr = spark.createDataFrame(
        [(1, "x a b c d y"), (2, "p q r s t u")], "doc_id int, text string"
    )
    rows = {r["doc_id"]: r["n_overlap"] for r in
            contamination_overlap(tr, ev, n=3).collect()}
    assert rows == {1: 2}


def test_repetition_signals_known_fractions(spark):
    """'x y x y x y' -> 5 bigrams, 2 distinct, top count 3; 'a b c' -> no
    repetition; a 1-token doc falls back to one whole-text ngram."""
    from ocr_text_recognition_spark.operators.curation import repetition_signals

    docs = spark.createDataFrame(
        [(1, "x y x y x y"), (2, "a b c"), (3, "z")], "doc_id int, text string"
    )
    got = {r["doc_id"]: (r["n_ngrams"], r["dup_frac"], r["top_frac"])
           for r in repetition_signals(docs).collect()}
    assert got[1] == (5, 0.6, 0.6)
    assert got[2] == (2, 0.0, 0.5)
    assert got[3] == (1, 0.0, 1.0)


def test_redact_rare_tokens_replaces_below_threshold(spark):
    """'secret' appears in 1 of 5 docs (20%); at min_df_frac=0.5 it is
    redacted, common tokens survive, token order is preserved."""
    from ocr_text_recognition_spark.operators.curation import redact_rare_tokens

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(4)]
        + [(4, "alpha secret beta")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: (r["redacted"], r["n_redacted"])
           for r in redact_rare_tokens(docs, min_df_frac=0.5).collect()}
    assert out[4] == ("alpha <unk> beta", 1)
    assert out[0] == ("alpha beta gamma", 0)
    # gamma: df 4/5 = 0.8 >= 0.5 -> kept everywhere
    assert all(n == 0 for d, (_, n) in out.items() if d != 4)


def test_pack_chunks_exclusive_prefix_sum(spark):
    """Token counts [3,3,3] at budget 5, one shard: exclusive cumsums
    [0,3,6] -> docs 0,1 start in chunk 0 and doc 2 in chunk 1."""
    from ocr_text_recognition_spark.operators.curation import pack_chunks

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f"), (2, "g h i")], "doc_id int, text string"
    )
    rows = {(r["shard"], r["chunk_id"]):
            (r["n_docs"], r["n_tokens"], r["first_doc"], r["last_doc"])
            for r in pack_chunks(docs, budget=5, n_shards=1).collect()}
    assert rows == {(0, 0): (2, 6, 0, 1), (0, 1): (1, 3, 2, 2)}


def test_top_k_per_group_equals_single_window(spark):
    """The two-level salted top-K must be byte-identical to the plain
    single-window form, including on a skewed group."""
    from pyspark.sql import Window

    from ocr_text_recognition_spark.operators.curation import top_k_per_group

    # skew: group 'hot' has 900 rows, the others 50 each
    df = spark.range(0, 1000).select(
        F.col("id"),
        F.when(F.col("id") < 900, F.lit("hot"))
        .otherwise(F.concat(F.lit("g"), F.pmod("id", F.lit(2)))).alias("grp"),
        F.pmod(F.col("id") * 7919, F.lit(1000)).alias("score"),
    )
    order = [F.col("score").desc(), F.col("id").asc()]
    got = top_k_per_group(df, ["grp"], order, k=7, salt_on="id")
    w = Window.partitionBy("grp").orderBy(*order)
    want = (
        df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 7)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_tfidf_top_terms_known_corpus(spark):
    """3-doc corpus with hand-computed tf/df: doc 1's top term is the
    doc-unique 'apple' (tf 2, df 1), score 2*ln(3)."""
    import math

    from ocr_text_recognition_spark.operators.curation import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry cherry cherry")],
        "doc_id int, text string",
    )
    rows = tfidf_top_terms(docs, k=3).collect()
    top = {r["doc_id"]: r for r in rows if r["rn"] == 1}
    assert top[1]["term"] == "apple" and top[1]["tf"] == 2 and top[1]["df_docs"] == 1
    assert top[1]["score"] == round(2 * math.log(3.0), 4)
    assert top[3]["term"] == "cherry" and top[3]["tf"] == 3
    # doc 2: banana and cherry tie on tf=1, df=2 -> term asc breaks it
    assert top[2]["term"] == "banana"


def test_asof_join_semantics(spark):
    """Hand-built fixture covering every as-of edge: match-most-recent,
    equal-timestamp visibility, no-preceding-right null, key isolation."""
    from ocr_text_recognition_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("p1", "u1", 10), ("p2", "u1", 25), ("p3", "u1", 5), ("p4", "u2", 50)],
        "pid string, user_id string, ts long",
    )
    right = spark.createDataFrame(
        [("c1", "u1", 8), ("c2", "u1", 10), ("c3", "u1", 20), ("c9", "u3", 1)],
        "cid string, user_id string, ts long",
    )
    out = {
        r["pid"]: (r["asof_cid"], r["asof_ts"])
        for r in asof_join(left, right, key="user_id").collect()
    }
    assert out["p1"] == ("c2", 10)  # equal ts: right row visible
    assert out["p2"] == ("c3", 20)  # most recent, not just any earlier
    assert out["p3"] == (None, None)  # nothing at-or-before -> LEFT nulls
    assert out["p4"] == (None, None)  # u3's clicks invisible to u2


def test_exact_percentiles_matches_numpy(spark):
    """Histogram-method percentiles equal numpy's linear interpolation on
    a duplicate-heavy fixture (ties are the method's whole point)."""
    import numpy as np

    from ocr_text_recognition_spark.operators.stats import exact_percentiles

    vals_a = [1, 1, 1, 2, 5, 5, 9, 100]
    vals_b = [7]
    rows = [("a", v) for v in vals_a] + [("b", v) for v in vals_b]
    df = spark.createDataFrame(rows, "grp string, x long")
    got = {
        r["grp"]: r
        for r in exact_percentiles(
            df, "grp", "x", {"p50": 0.5, "p90": 0.9}
        ).collect()
    }
    for grp, vals in (("a", vals_a), ("b", vals_b)):
        assert got[grp]["n"] == len(vals)
        assert got[grp]["p50"] == round(float(np.percentile(vals, 50)), 2)
        assert got[grp]["p90"] == round(float(np.percentile(vals, 90)), 2)


def test_scrub_pii_patterns(spark):
    """Each pattern type replaced, non-PII untouched, counts exact."""
    from ocr_text_recognition_spark.operators.curation import pii_count, scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c%d@sub.example.org now"),
            (2, "host 192.168.0.1 and 10.0.0.255 up"),
            (3, "call 555-123-4567 please"),
            (4, "version 1.2 build 34 no pii here"),
        ],
        "id int, t string",
    )
    out = {
        r["id"]: (r["s"], r["n"])
        for r in df.select(
            "id", F.col("t").alias("t0"),
            scrub_pii(F.col("t")).alias("s"),
            pii_count(F.col("t")).alias("n"),
        ).collect()
    }
    assert out[1] == ("mail <EMAIL> now", 1)
    assert out[2] == ("host <IP> and <IP> up", 2)
    assert out[3] == ("call <PHONE> please", 1)
    assert out[4] == ("version 1.2 build 34 no pii here", 0)


def test_dedup_lines_first_occurrence_wins(spark):
    """Global dedup keeps the (doc_id, line_idx)-first copy of each line;
    a doc made entirely of later-duplicate lines vanishes."""
    from ocr_text_recognition_spark.operators.curation import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),      # lines: "a b c d", "e f g h"
            (2, "e f g h x y z w"),      # "e f g h" dups doc 1 line 1
            (3, "a b c d e f g h"),      # both lines are dups -> dropped
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs, line_words=4).collect()}
    assert set(out) == {1, 2}
    assert out[1]["clean_text"] == "a b c d e f g h"
    assert (out[1]["n_kept"], out[1]["n_lines"]) == (2, 2)
    assert out[2]["clean_text"] == "x y z w"
    assert (out[2]["n_kept"], out[2]["n_lines"]) == (1, 2)


def test_point_in_interval_join_edges(spark):
    """Inclusive boundaries, bin-crossing intervals, exactly-one-pair per
    match (the no-dedup-needed property), empty when disjoint."""
    from ocr_text_recognition_spark.operators.rangejoin import point_in_interval_join

    intervals = spark.createDataFrame(
        [("i1", 10, 20), ("i2", 95, 205), ("i3", 500, 510)],
        "iid string, s long, e long",
    )
    points = spark.createDataFrame(
        [("p1", 10), ("p2", 20), ("p3", 100), ("p4", 200), ("p5", 400)],
        "pid string, x long",
    )
    got = sorted(
        (r["iid"], r["pid"])
        for r in point_in_interval_join(
            points, intervals, "x", "s", "e", bin_width=100
        ).collect()
    )
    # i2 spans bins 0,1,2 and catches p3 (bin 1) and p4 (bin 2) ONCE each
    assert got == [("i1", "p1"), ("i1", "p2"), ("i2", "p3"), ("i2", "p4")]


def test_weighted_sample_skews_toward_heavy_weights(spark):
    """A-ES property: with weights 100 vs 1, the heavy half dominates the
    sample; output is the exact per-group top-k (deterministic)."""
    from ocr_text_recognition_spark.operators.curation import weighted_sample

    rows = [(i, "g", 100 if i < 100 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, w long")
    out = weighted_sample(df, "doc_id", "w", k=30, group_cols=["grp"]).collect()
    assert len(out) == 30
    heavy = sum(1 for r in out if r["doc_id"] < 100)
    assert heavy >= 25
    # deterministic: a second run draws the identical sample
    again = weighted_sample(df, "doc_id", "w", k=30, group_cols=["grp"]).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in again)


def test_global_rank_equals_single_window(spark):
    """Histogram-offset global rank is byte-identical to the single-window
    ROW_NUMBER, including empty buckets, ties on value, and a bucket
    holding most rows."""
    from pyspark.sql import Window

    from ocr_text_recognition_spark.operators.stats import global_rank

    rows = [(i, float((i * 37) % 90)) for i in range(300)]
    rows += [(1000 + i, 5.0) for i in range(20)]  # heavy tie block
    df = spark.createDataFrame(rows, "id long, v double")
    got = {
        r["id"]: r["rank"]
        for r in global_rank(df, "v", "id", bin_width=10.0).collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def test_quota_sample_respects_quotas_and_underfill(spark):
    from ocr_text_recognition_spark.operators.curation import quota_sample

    rows = [(i, "a" if i < 50 else ("b" if i < 60 else "c")) for i in range(70)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = quota_sample(df, "doc_id", "src", {"a": 7, "b": 30}).collect()
    by = {}
    for r in out:
        by.setdefault(r["src"], []).append(r["doc_id"])
    assert len(by["a"]) == 7          # quota honored
    assert len(by["b"]) == 10         # under-fill: whole group
    assert "c" not in by              # unlisted source excluded
    # deterministic across runs
    again = quota_sample(df, "doc_id", "src", {"a": 7, "b": 30}).collect()
    assert sorted((r["src"], r["doc_id"]) for r in out) == sorted(
        (r["src"], r["doc_id"]) for r in again
    )


def test_hashed_linear_score_hand_computed(spark):
    """Two-token doc against a two-bucket-hit weight table: score equals
    sigmoid of the hand-computed mean; unknown-bucket tokens drop via the
    inner model join (zero-weight semantics would use a left join)."""
    import math

    from ocr_text_recognition_spark.operators.textanalysis import (
        hashed_linear_score,
    )

    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    # compute the buckets the operator will derive, then weight them
    import hashlib

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % 1024

    w = spark.createDataFrame(
        [(bucket("alpha"), 1.0), (bucket("beta"), 2.0)], "bucket long, weight double"
    )
    row = hashed_linear_score(docs, w).collect()[0]
    want = round(1.0 / (1.0 + math.exp(-1.5)), 4)
    assert (row["n_tok"], row["score"]) == (2, want)


def test_funnel_strict_order_and_partials(spark):
    """Steps must be strictly ordered in time: a click at-or-before the
    first view doesn't count; users stall at their last completed step."""
    from datetime import datetime

    from ocr_text_recognition_spark.operators.funnel import funnel

    t = lambda m: datetime(2026, 1, 1, 10, m)
    rows = [
        # u1 completes: view@1, click@5 (the @0 click is too early), buy@9
        (1, "click", t(0)), (1, "view", t(1)), (1, "click", t(5)), (1, "purchase", t(9)),
        # u2: view@2, click@2 (tie -> NOT after) -> stalls at step 1
        (2, "view", t(2)), (2, "click", t(2)),
        # u3: never views -> absent even though they purchase
        (3, "purchase", t(3)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {r["user_id"]: r for r in funnel(ev, ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2}
    assert out[1]["reached"] == 3
    assert (out[1]["t2"] - out[1]["t1"], out[1]["t3"] - out[1]["t2"]) == (240, 240)
    assert out[2]["reached"] == 1 and out[2]["t2"] is None and out[2]["t3"] is None


def test_group_centroids_hand_computed(spark):
    from ocr_text_recognition_spark.operators.similarity import group_centroids

    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 6.0]), ("b", [5.0, 5.0])],
        "g string, embedding array<double>",
    )
    out = {r["g"]: r for r in group_centroids(df, "g").collect()}
    assert out["a"]["n"] == 2 and out["a"]["centroid"] == [2.0, 4.0]
    assert out["b"]["n"] == 1 and out["b"]["centroid"] == [5.0, 5.0]


def test_inverted_index_postings_and_df_band(spark):
    from ocr_text_recognition_spark.operators.index import inverted_index

    docs = spark.createDataFrame(
        [
            (10, "apple banana  apple"),   # apple deduped within doc
            (2, "banana cherry"),
            (1, "apple cherry"),
            (3, "unique banana"),
        ],
        "doc_id long, text string",
    )
    out = {r["token"]: r for r in
           inverted_index(docs, "doc_id", "text", min_df=2).collect()}
    # hapax dropped
    assert "unique" not in out
    assert out["apple"]["df"] == 2
    # numeric sort: 1 before 10
    assert out["apple"]["postings"] == "1,10"
    assert out["banana"]["postings"] == "2,3,10"
    # max_df cap drops the hot token
    capped = {r["token"] for r in
              inverted_index(docs, "doc_id", "text", min_df=2, max_df=2).collect()}
    assert capped == {"apple", "cherry"}


def test_key_skew_profile_bands(spark):
    from pyspark.sql import functions as F

    from ocr_text_recognition_spark.operators.stats import key_skew_profile

    # key 'a' x1 (band 0), 'b' x2, 'c' x3 (band 1), 'd' x8 (band 3: 2^k
    # lands exactly on its own band, the float-log2 trap)
    rows = [("a",)] + [("b",)] * 2 + [("c",)] * 3 + [("d",)] * 8
    df = spark.createDataFrame(rows, "k string")
    out = {r["band"]: r for r in key_skew_profile(df, "k").collect()}
    assert set(out) == {0, 1, 3}
    assert out[0]["n_keys"] == 1 and out[0]["n_rows"] == 1
    assert out[1]["n_keys"] == 2 and out[1]["n_rows"] == 5
    assert out[1]["min_cnt"] == 2 and out[1]["max_cnt"] == 3
    assert out[3]["n_keys"] == 1 and out[3]["n_rows"] == 8


def test_canonical_url_rules(spark):
    from pyspark.sql import functions as F

    from ocr_text_recognition_spark.operators.urls import canonical_url

    cases = [
        # scheme/host case, www., default port, fragment, utm, param sort
        ("HTTPS://WWW.Ex.COM:443/A/b/?utm_source=x&b=2&a=1#frag",
         "https://ex.com/A/b?a=1&b=2"),
        # non-default port kept; path case preserved
        ("http://ex.com:8080/Path", "http://ex.com:8080/Path"),
        # :80 is default for http but NOT for https
        ("https://ex.com:80/x", "https://ex.com:80/x"),
        # empty path -> '/', empty query dropped
        ("http://Ex.Com", "http://ex.com/"),
        # root slash survives; all-utm query vanishes
        ("http://ex.com/?utm_a=1&utm_b=2", "http://ex.com/"),
        # multiple trailing slashes
        ("http://ex.com/a///", "http://ex.com/a"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    assert got == [want for _, want in cases]


def test_url_dedup_collapses_spellings(spark):
    from ocr_text_recognition_spark.operators.urls import url_dedup

    df = spark.createDataFrame(
        [
            (1, "http://WWW.a.com/x?b=2&a=1"),
            (2, "HTTP://a.com:80/x/?a=1&b=2&utm_c=3#f"),
            (3, "http://a.com/y"),
        ],
        "id long, url string",
    )
    out = {r["canonical"]: r for r in url_dedup(df, "url", "id").collect()}
    assert out["http://a.com/x?a=1&b=2"]["n_raw"] == 2
    assert out["http://a.com/x?a=1&b=2"]["canonical_id"] == 1
    assert out["http://a.com/y"]["n_raw"] == 1


def test_interval_overlap_join_dedup_and_edges(spark):
    from ocr_text_recognition_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    # [0, 5000] x [4900, 20000]: overlap spans many shared 100-wide
    # bins -> must emit the pair exactly ONCE (later-start dedup rule)
    a = spark.createDataFrame(
        [(1, 0, 5000), (2, 100, 200), (3, 300, 400)],
        "a_id long, s long, e long",
    )
    b = spark.createDataFrame(
        [(10, 4900, 20000), (11, 200, 300), (12, 401, 500)],
        "b_id long, bs long, be long",
    )
    out = interval_overlap_join(a, b, "s", "e", "bs", "be", 100).collect()
    pairs = sorted((r["a_id"], r["b_id"]) for r in out)
    # (1,10): wide overlap emitted once; (1,11),(1,12): contained;
    # (2,11) and (3,11): closed endpoints touch at a single point
    # (200 and 300); (3,12): 401 > 400 -> no pair.
    assert pairs == [(1, 10), (1, 11), (1, 12), (2, 11), (3, 11)]
    assert len(pairs) == len(set(pairs))  # no bin-duplicated pairs


def test_bigram_lm_score_hand_computed(spark):
    import math

    from ocr_text_recognition_spark.operators.lm import bigram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           bigram_lm_score(docs, "doc_id", "text").collect()}
    # corpus bigrams: (a,b)x3, (b,a)x1; contexts a=3, b=1; V=3 (a,b,solo)
    lp_ab = math.floor(math.log2((3 + 1.0) / (3 + 3)) * 1_000_000)
    lp_ba = math.floor(math.log2((1 + 1.0) / (1 + 3)) * 1_000_000)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["sum_lp_scaled"] == 2 * lp_ab + lp_ba
    assert out[1]["avg_log2p"] == round((2 * lp_ab + lp_ba) / 1e6 / 3, 4)
    assert out[2]["sum_lp_scaled"] == lp_ab
    # a 1-token doc has no bigrams and drops out
    assert 3 not in out


def test_pagerank_integer_hand_computed(spark):
    from ocr_text_recognition_spark.operators.graph import pagerank

    # a->b, a->c, b->c, c->a (plus a duplicate edge that must collapse)
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (0, 1)], "src long, dst long"
    )
    r1 = {r["node"]: r["rank_ppm"] for r in pagerank(edges, iterations=1).collect()}
    assert r1 == {0: 1_000_000, 1: 575_000, 2: 1_425_000}
    r2 = {r["node"]: r["rank_ppm"] for r in pagerank(edges, iterations=2).collect()}
    assert r2 == {0: 1_361_250, 1: 575_000, 2: 1_063_750}


def test_collocations_pmi_hand_computed(spark):
    from ocr_text_recognition_spark.operators.lm import collocations

    docs = spark.createDataFrame(
        [(1, "a b a b a b c")], "doc_id long, text string"
    )
    # bigrams: (a,b) x3, (b,a) x2, (b,c) x1; N=6; c1(a)=3, c2(b)=3
    out = collocations(docs, "doc_id", "text", min_count=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["w1"], r["w2"], r["c12"]) == ("a", "b", 3)
    assert r["pmi"] == 1.0  # log2(3*6 / (3*3))


def test_kmeans_lloyd_step_assignment_and_update(spark):
    from ocr_text_recognition_spark.operators.similarity import kmeans_lloyd_step

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),   # seed for cluster 0
            (1, [10.0, 0.0]),  # seed for cluster 1
            (2, [1.0, 1.0]),
            (3, [9.0, 1.0]),
            (4, [5.0, 0.0]),   # equidistant -> lowest cluster id wins
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["cluster"]: r for r in
           kmeans_lloyd_step(emb, emb.filter("vec_id < 2")).collect()}
    assert out[0]["n"] == 3 and out[0]["centroid"] == [2.0, 0.3333]
    assert out[1]["n"] == 2 and out[1]["centroid"] == [9.5, 0.5]


def test_snapshot_diff_statuses(spark):
    from ocr_text_recognition_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")],
        "id long, t string, u string",
    )
    new = spark.createDataFrame(
        [(2, "b", "y"), (3, "c", "CHANGED"), (4, "d", "w")],
        "id long, t string, u string",
    )
    out = {r["id"]: r["status"] for r in
           snapshot_diff(old, new, "id", ["t", "u"]).collect()}
    # 2 is unchanged -> absent; multi-column payload feeds the hash
    assert out == {1: "removed", 3: "changed", 4: "added"}


def test_snapshot_diff_null_payloads_distinguishable(spark):
    """concat_ws silently SKIPS NULLs, so without the coalesce-sentinel a
    payload differing only in NULL vs '' — or in WHICH column is NULL,
    (NULL,'a') vs ('a',NULL) — hashed identically and was misreported as
    unchanged. Pin all three shapes: NULL->'' (changed), column-swap
    (changed), and NULL->NULL (genuinely unchanged, must stay absent)."""
    from ocr_text_recognition_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, None, "a"), (2, "a", None), (3, None, "q")],
        "id long, t string, u string",
    )
    new = spark.createDataFrame(
        [(1, "", "a"), (2, None, "a"), (3, None, "q")],
        "id long, t string, u string",
    )
    out = {r["id"]: r["status"] for r in
           snapshot_diff(old, new, "id", ["t", "u"]).collect()}
    assert out == {1: "changed", 2: "changed"}


def test_triangle_counts_k4_plus_pendant(spark):
    from ocr_text_recognition_spark.operators.graph import triangle_counts

    # K4 on {0,1,2,3} (4 triangles, each node in 3) with noise:
    # duplicate edge, reversed edge, self-loop, and a pendant node 9
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges += [(1, 0), (2, 3), (2, 2), (3, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}  # pendant 9 absent


def test_trailing_window_exact(spark):
    from ocr_text_recognition_spark.operators.stats import trailing_window

    rows = [
        ("u", 1, 0, 10), ("u", 2, 50, 20), ("u", 3, 100, 30),
        ("u", 4, 161, 40),   # window [101, 161] excludes t=100
        ("v", 5, 0, 5),
    ]
    df = spark.createDataFrame(rows, "g string, id long, t long, v long")
    out = {r["id"]: (r["n_trailing"], r["sum_trailing"]) for r in
           trailing_window(df, "g", "t", "v", 60).collect()}
    # closed window [t-60, t]: id2 sees t=0 (50-60=-10 <= 0), id3 sees
    # 50,100 plus t=40? no, 100-60=40 -> 50 and 100; id4 sees 101..161
    assert out[1] == (1, 10)
    assert out[2] == (2, 30)
    assert out[3] == (2, 50)
    assert out[4] == (1, 40)
    assert out[5] == (1, 5)


def test_group_ols_slope_hand_computed(spark):
    from ocr_text_recognition_spark.operators.stats import group_ols_slope

    rows = [
        ("a", 1000, 10), ("a", 1001, 12), ("a", 1002, 14),  # slope 2
        ("b", 5, 7), ("b", 15, 2),                           # slope -0.5
        ("c", 9, 1),                                         # n=1 -> out
        ("d", 4, 3), ("d", 4, 9),                            # no x-var
    ]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r["g"]: (r["n"], r["slope"]) for r in
           group_ols_slope(df, "g", "x", "y").collect()}
    assert out == {"a": (3, 2.0), "b": (2, -0.5)}


def test_kmv_distinct_exact_below_k_and_estimator(spark):
    from ocr_text_recognition_spark.operators.stats import KMV_SPACE, kmv_distinct

    # Group "small" has 3 distinct values (< k): exact count reported.
    # Group "big" has 200 distinct: estimator path, hand-recomputed.
    rows = [("small", v) for v in [1, 2, 3, 2, 1]] + [
        ("big", v) for v in range(1000, 1200)
    ]
    df = spark.createDataFrame(rows, ["grp", "val"])
    out = {
        r["grp"]: r
        for r in kmv_distinct(df, "grp", "val", k=16).collect()
    }
    assert out["small"]["k_used"] == 3
    assert out["small"]["est_distinct"] == 3

    import hashlib

    hashes = sorted(
        int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
        for v in range(1000, 1200)
    )
    kth = hashes[15]
    assert out["big"]["k_used"] == 16
    assert out["big"]["kth_min_hash"] == kth
    assert out["big"]["est_distinct"] == (15 * KMV_SPACE) // kth


def test_resample_ffill_gaps_and_same_day_tiebreak(spark):
    import datetime as dt

    from ocr_text_recognition_spark.operators.timeseries import (
        resample_daily_ffill,
    )

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: events on day 1 and day 4 -> days 2,3 forward-filled
        (1, t, 10, 10.0),
        (1, t + dt.timedelta(days=3), 11, 40.0),
        # user 1, day 1: same timestamp, higher event_id wins
        (1, t, 12, 99.0),
        # user 2: single day
        (2, t + dt.timedelta(days=1), 20, 7.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    out = {
        (r["user_id"], str(r["day"])): r["value_ffill"]
        for r in resample_daily_ffill(
            df, "user_id", "ts", "value", "event_id"
        ).collect()
    }
    assert out[(1, "2024-01-01")] == 99.0  # tiebreak: event_id 12 > 10
    assert out[(1, "2024-01-02")] == 99.0  # gap filled
    assert out[(1, "2024-01-03")] == 99.0
    assert out[(1, "2024-01-04")] == 40.0
    assert out[(2, "2024-01-02")] == 7.0
    assert len(out) == 5  # dense per-user calendars, nothing more


def test_prefix_filter_jaccard_matches_brute_force(spark):
    from ocr_text_recognition_spark.operators.dedup import (
        prefix_filter_jaccard_join,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),  # J(1,2) = 4/6 = 0.667
        (3, "alpha beta gamma delta epsilon"),  # J(1,3) = 1.0
        (4, "one two three four five"),  # disjoint from 1-3
        (5, "one two three four five six"),  # J(4,5) = 5/6 = 0.833
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    def brute(threshold_pct):
        toks = {i: set(t.split()) for i, t in docs}
        out = set()
        for a in toks:
            for b in toks:
                if a < b:
                    inter = len(toks[a] & toks[b])
                    uni = len(toks[a] | toks[b])
                    if 100 * inter >= threshold_pct * uni:
                        out.add((a, b, inter, uni))
        return out

    for t in (60, 80, 100):
        got = {
            (r["doc_a"], r["doc_b"], r["inter"], r["uni"])
            for r in prefix_filter_jaccard_join(
                df, "doc_id", "text", threshold_pct=t
            ).collect()
        }
        assert got == brute(t), f"threshold {t}"


def test_bfs_distances_hand_computed(spark):
    from ocr_text_recognition_spark.operators.graph import bfs_distances

    # 0 -> 1 -> 2 -> 3 -> 4 (chain), plus shortcut 0 -> 3, plus an
    # unreachable island 10 -> 11.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (10, 11)],
        ["src", "dst"],
    )
    out = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, [0], max_hops=3).collect()
    }
    # shortcut wins for 3; 4 is reachable via 0->3->4 in 2 hops
    assert out == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}

    # max_hops bound: with 1 hop only direct neighbors appear
    out1 = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, [0], max_hops=1).collect()
    }
    assert out1 == {0: 0, 1: 1, 3: 1}


def test_sorted_neighborhood_pairs_hand_computed(spark):
    from ocr_text_recognition_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    # keys 10,11,12,50,51 with ids A..E -> rank order A,B,C,D,E
    df = spark.createDataFrame(
        [(1, 10), (2, 11), (3, 12), (4, 50), (5, 51)], ["doc_id", "k"]
    )
    got = {
        (r["doc_a"], r["doc_b"], r["gap"])
        for r in sorted_neighborhood_pairs(df, "doc_id", "k", window=2).collect()
    }
    # every pair within 2 positions of the global order, exactly once
    assert got == {
        (1, 2, 1), (1, 3, 2), (2, 3, 1), (2, 4, 2),
        (3, 4, 1), (3, 5, 2), (4, 5, 1),
    }


def test_apply_changelog_roundtrip(spark):
    from ocr_text_recognition_spark.operators.snapshot import (
        apply_changelog,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], ["doc_id", "text"]
    )  # 2 changed, 3 removed, 4 added
    changes = snapshot_diff(old, new, "doc_id", ["text"])
    rebuilt = {
        (r["doc_id"], r["text"])
        for r in apply_changelog(old, changes, new, "doc_id").collect()
    }
    assert rebuilt == {(1, "a"), (2, "B2"), (4, "d")}


def test_bm25_topk_hand_scores(spark):
    """BM25 against hand-computed scores on a 4-doc corpus (N=4,
    avgdl=3, both query terms df=2 -> idf=ln 2 exactly)."""
    import math

    from ocr_text_recognition_spark.operators.index import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple cherry"),
            (3, "banana banana banana banana"),
            (4, "cherry date date"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["bm25"] for r in
           bm25_topk(docs, ["apple", "banana"], "doc_id", "text", k=3).collect()}

    def term(tf, dl):
        return math.log(2.0) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))

    want = {
        1: round(term(2, 3) + term(1, 3), 4),    # apple x2 + banana x1
        2: round(term(1, 2), 4),                  # apple x1, short doc
        3: round(term(4, 4), 4),                  # banana x4, long doc
    }
    assert out == want
    # doc 4 matches no term and must be absent even with k=3 slots free
    assert 4 not in out


def test_hard_negative_topk_excludes_same_label(spark):
    from ocr_text_recognition_spark.operators.similarity import hard_negative_topk

    emb = spark.createDataFrame(
        [
            (10, [1.0, 0.0], 0),   # same label as the query: never emitted
            (11, [0.9, 0.1], 1),
            (12, [0.0, 1.0], 1),
            (13, [1.0, 0.0], 2),   # identical direction, different label
        ],
        "vec_id long, embedding array<double>, label int",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0], 0)], "query_id long, embedding array<double>, label int"
    )
    rows = hard_negative_topk(emb, q, k=2).collect()
    got = [(r["vec_id"], r["rank"]) for r in rows]
    assert got == [(13, 1), (11, 2)]  # cos 1.0, then ~0.9939; 10 excluded
    assert all(r["label"] != 0 for r in rows)


def test_substring_dup_pairs_window_and_cap(spark):
    """Two docs sharing a verbatim 4-token run are flagged with the right
    window count; document-level-dissimilar docs sharing NO window are
    not; a window present in more docs than max_window_df (boilerplate)
    is dropped before the join."""
    from ocr_text_recognition_spark.operators.dedup import substring_dup_pairs

    lifted = "alpha beta gamma delta"          # the shared verbatim run
    boiler = "footer nav terms legal"           # on 3 docs -> df 3 > cap 2
    docs = spark.createDataFrame(
        [
            (1, f"one two {lifted} end {boiler}"),
            (2, f"{lifted} something else here {boiler}"),
            (3, f"totally unrelated words only {boiler}"),
            (4, "short"),                        # < window tokens: skipped
        ],
        "doc_id long, text string",
    )
    out = {(r["doc_a"], r["doc_b"]): r["n_shared_windows"] for r in
           substring_dup_pairs(docs, "doc_id", "text", window=4,
                               max_window_df=2).collect()}
    # docs 1 and 2 share exactly the one 4-token window "alpha beta gamma
    # delta" (their other windows differ because the surrounding words
    # differ); the boilerplate window is df=3 -> capped out, so (1,3) and
    # (2,3) must NOT appear.
    assert out == {(1, 2): 1}


def test_substring_dup_spans_cut_intervals(spark):
    """Cut locations: overlapping duplicated windows merge into ONE
    interval; a second duplicated run separated by a gap is its own
    interval; hot (boilerplate) windows past max_window_df contribute
    no cut at all."""
    from ocr_text_recognition_spark.operators.dedup import substring_dup_spans

    lifted = "alpha beta gamma delta epsilon"   # 5 tokens -> 2 overlapping
    lifted2 = "one two three four"              # a second shared run
    boiler = "footer nav terms legal"           # df 3 > cap 2 -> no cut
    docs = spark.createDataFrame(
        [
            # doc 1: lifted at tokens 2-6, lifted2 at tokens 9-12 (gap of
            # two non-duplicated tokens between the runs), boiler at end
            (1, f"pre {lifted} gap xx {lifted2} tail {boiler}"),
            (2, f"{lifted} other words entirely {lifted2} {boiler}"),
            (3, f"unrelated filler words here only {boiler}"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["cut_start"], r["cut_end"]): r["n_windows"]
        for r in substring_dup_spans(
            docs, "doc_id", "text", window=4, max_window_df=2
        ).collect()
    }
    # doc 1: "alpha beta gamma delta" starts at 2, "beta gamma delta
    # epsilon" at 3 -> one merged interval [2, 6] of 2 windows; lifted2
    # starts at 9 -> [9, 12]. doc 2: starts 1 and 2 -> [1, 5]; lifted2 at
    # 9 -> wait, doc 2's lifted2 starts at token 9 ("other words
    # entirely" = 3 tokens after 5) -> [9, 12]. doc 3: boiler only -> no
    # rows (df-capped).
    assert out == {
        (1, 2, 6): 2, (1, 9, 12): 1,
        (2, 1, 5): 2, (2, 9, 12): 1,
    }
    assert not any(d == 3 for d, _, _ in out)


def test_substring_dedup_apply_rewrites_corpus(spark):
    """Removal step: every token covered by a duplicated window is
    dropped from EVERY document carrying it (the released
    deduplicate-text-datasets semantics), survivors re-join with single
    spaces on the normalized form, short/untouched docs pass through
    with n_removed = 0, and n_tokens counts the normalized tokens."""
    from ocr_text_recognition_spark.operators.dedup import substring_dedup_apply

    lifted = "alpha beta gamma delta epsilon"  # shared 5-token run
    docs = spark.createDataFrame(
        [
            (1, f"pre {lifted} tail"),       # cut [2,6] -> "pre tail"
            (2, f"{lifted} other Words"),    # cut [1,5] -> "other words"
            (3, "short doc"),                # < window tokens: untouched
            (4, lifted),                     # fully cut -> ""
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in substring_dedup_apply(
            docs, "doc_id", "text", window=4, max_window_df=100
        ).collect()
    }
    assert out == {
        1: ("pre tail", 7, 5),
        2: ("other words", 7, 5),
        3: ("short doc", 2, 0),
        4: ("", 5, 5),
    }


def test_substring_dedup_apply_matches_oracle_with_null_text(spark):
    """q113 against its DuckDB oracle on one tiny table: a shared
    40-token run cut from two docs, a short doc, and a NULL-text doc. The
    NULL doc comes back with clean_text '' and NULL token counts on both
    engines."""
    import duckdb
    import pandas as pd

    from ocr_text_recognition_spark.operators.dedup import substring_dedup_apply
    from ocr_text_recognition_spark.oracles import ORACLES

    run = " ".join(f"w{i}" for i in range(40))
    rows = [(1, f"head {run} tail"), (2, f"{run} Other words"), (3, "short doc"), (4, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in substring_dedup_apply(
            docs, "doc_id", "text", window=32, max_window_df=100
        ).collect()
    )

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    rel = con.sql(ORACLES["q113_substring_dedup_apply"])
    assert [d[0] for d in rel.description] == ["doc_id", "clean_text", "n_tokens", "n_removed"]
    want = sorted(rel.fetchall())

    assert got == want
    assert want[3] == (4, "", None, None)


def test_bpe_train_matches_python_twin(spark):
    """BPE merge training at batch_size=1 (q108) vs an independent
    plain-Python implementation of sequential Sennrich et al. 2016 BPE
    (frequency-weighted distinct words, greedy leftmost non-overlapping
    merge, (count desc, pair asc) tie-break): the full merge sequence must
    be identical, i.e. one merge per batch degenerates to exact
    one-at-a-time BPE. Also pins the canonical low/lower/newest/widest
    example's first merges (es, est, est</w>)."""
    from collections import Counter

    from ocr_text_recognition_spark.operators.lm import bpe_train_batched

    text = ("low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3).strip()

    def python_bpe(text_, n_merges):
        words = Counter(text_.lower().split())
        vocab = {tuple(w) + ("</w>",): f for w, f in words.items()}
        merges = []
        for rank in range(1, n_merges + 1):
            pc = Counter()
            for sym, f in vocab.items():
                for i in range(len(sym) - 1):
                    pc[(sym[i], sym[i + 1])] += f
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            (l, r), c = best
            merges.append((rank, l, r, c))
            new_vocab = {}
            for sym, f in vocab.items():
                out, i = [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
            vocab = new_vocab
        return merges

    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [
        tuple(r)
        for r in bpe_train_batched(docs, "doc_id", "text", n_merges=8, batch_size=1).collect()
    ]
    assert got == python_bpe(text, 8)
    assert [(r[1], r[2]) for r in got[:3]] == [("e", "s"), ("es", "t"), ("est", "</w>")]


def _python_bpe_batched(text_, n_merges, batch_size, candidate_factor=8):
    """Plain-Python twin of lm.bpe_train_batched: same distinct-word
    frequency table, same (count desc, pair asc) candidate order, same
    top-k candidate window, and the SAME select_disjoint_batch function
    (imported, not re-implemented) so the selection rule cannot drift."""
    from collections import Counter

    from ocr_text_recognition_spark.operators.lm import select_disjoint_batch

    words = Counter(text_.lower().split())
    vocab = {tuple(w) + ("</w>",): f for w, f in words.items()}
    merges = []
    while len(merges) < n_merges:
        pc = Counter()
        for sym, f in vocab.items():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += f
        if not pc:
            break
        top = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        top = [(l, r, c) for (l, r), c in top[: batch_size * candidate_factor]]
        batch = select_disjoint_batch(top, min(batch_size, n_merges - len(merges)))
        for l, r, c in batch:
            merges.append((len(merges) + 1, l, r, c))
        pairs = {(l, r): l + r for l, r, _ in batch}
        new_vocab = {}
        for sym, f in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) in pairs:
                    out.append(pairs[(sym[i], sym[i + 1])])
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_batched_matches_python_twin(spark):
    """Batched BPE (top-M symbol-disjoint merges per driver round-trip)
    vs its plain-Python twin: full merge table identical at M=4 over a
    vocabulary rich enough that batches actually contain >1 pair AND
    conflicts occur (shared symbols force skips)."""
    from ocr_text_recognition_spark.operators.lm import bpe_train_batched

    text = (
        "low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3
        + "running " * 4 + "runner " * 2 + "jumped " * 3 + "jumper " * 2
    ).strip()
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [
        tuple(r)
        for r in bpe_train_batched(
            docs, "doc_id", "text", n_merges=16, batch_size=4
        ).collect()
    ]
    assert got == _python_bpe_batched(text, 16, 4)
    assert len(got) == 16
